"""Streaming perceptual-hash admission gate for media.

The multimodal counterpart of the text near-dup gate
(streaming/dedup_gate.py): media rows arrive as micro-batches and each
item is ADMITTED only if no EARLIER item (previous batch, or smaller id
in the same batch) sits within ``max_hamming`` of its perceptual hash.
This is the ingestion-time image/audio dedup a continuously-delivered
multimodal corpus needs — global re-dedup after every delivery is the
thing this avoids.

State is ONE parquet store of (id, simhash) rows — the signature is all
the probe needs, so state is 16 bytes/item regardless of payload size
and the decode cost is paid exactly once, at admission time. Candidates
come from the same pigeonhole banding as the batch pair operators
(max_hamming+1 bit-bands; any pair within the radius matches >= 1 band
exactly), so probing is O(batch x matching buckets), never
O(batch x corpus). Exact ``bit_count(xor)`` verifies every candidate.

With id-ordered arrival the admitted set equals the corpus-level rule
"rejected iff some within-radius pair has a smaller partner id" — the
property the driver query's DuckDB oracle checks value-exact across a
real multi-batch run. Same checkpoint-loss recovery contract as the
text gate (dedup_gate.py module docstring): wipe the whole work_dir and
re-ingest.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rat_strain_loader_pipeline_spark.streaming import (
    read_batches,
    run_available_now,
    stream_parquet,
    write_batch,
)


def _band_rows(sigs: DataFrame, id_col: str, n_bits: int, bands: int) -> DataFrame:
    """Explode each signature into (id, band, val) pigeonhole rows —
    identical band layout to operators/dedup.simhash_near_dup_pairs."""
    width = n_bits // bands
    exprs = []
    for bi in range(bands):
        lo = bi * width
        w = n_bits - lo if bi == bands - 1 else width
        exprs.append(
            F.struct(
                F.lit(bi).alias("band"),
                F.shiftright(F.col("simhash"), lo)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("val"),
            )
        )
    return sigs.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*exprs)).alias("bv")
    ).select(id_col, "simhash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))


def phash_gate_available_now(
    spark: SparkSession,
    src_dir: str,
    work_dir: str,
    sig_fn: Callable[[DataFrame], DataFrame],
    n_bits: int,
    max_hamming: int = 4,
    id_col: str = "media_id",
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run the perceptual-hash gate as an AvailableNow stream over a
    media directory. ``sig_fn`` maps a micro-batch DataFrame to
    (id_col, simhash) — e.g. multimodal.image_dhash_sigs or
    audio_spectral_sigs. Returns (id_col, admitted) for every item."""
    sig_store = os.path.join(work_dir, "sigs")
    out_path = os.path.join(work_dir, "out")
    bands = max_hamming + 1

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        # state-first write; the store copy is the staged input for the
        # probe (same idempotence/retry argument as dedup_gate.py)
        cur = spark.read.parquet(write_batch(sig_fn(batch_df), sig_store, batch_id))
        prev = (
            spark.read.parquet(sig_store)
            .filter(F.col("batch") < batch_id)
            .drop("batch")
        )
        bb = _band_rows(cur, id_col, n_bits, bands)
        prev_bands = _band_rows(prev, id_col, n_bits, bands)
        all_bands = prev_bands.withColumn("__earlier", F.lit(True)).unionByName(
            bb.withColumn("__earlier", F.lit(False))
        )
        rejected = (
            all_bands.alias("a")
            .join(
                bb.alias("b"),
                on=[
                    F.col("a.band") == F.col("b.band"),
                    F.col("a.val") == F.col("b.val"),
                    F.col("a.__earlier") | (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
                ],
            )
            .filter(
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                <= max_hamming
            )
            .select(F.col(f"b.{id_col}").alias(id_col))
            .dropDuplicates()
        )
        # ONE left join flags every batch id (rejected ⊆ batch ids, so
        # this emits the same rows the anti-join∪rejected union did) —
        # the banded simhash probe behind `rejected` evaluates once per
        # batch, not once per branch (same fix as dedup_gate.py)
        decisions = (
            cur.select(id_col)
            .join(rejected.withColumn("__rej", F.lit(True)), id_col, "left")
            .select(id_col, F.col("__rej").isNull().alias("admitted"))
        )
        write_batch(decisions, out_path, batch_id)

    run_available_now(
        stream_parquet(spark, src_dir, schema, max_files_per_trigger),
        gate_batch,
        os.path.join(work_dir, "checkpoint"),
    )
    return read_batches(
        spark, out_path,
        lambda: spark.createDataFrame([], f"{id_col} long, admitted boolean"),
    )
