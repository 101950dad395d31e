"""Streaming near-duplicate admission gate.

The ingestion-time counterpart of the batch dedup suite: documents
arrive as micro-batches, and each doc is ADMITTED only if it is not a
verified near-duplicate (exact Jaccard over shingle hashes >= the
threshold) of any EARLIER document — earlier meaning previous batches,
or a smaller id inside the same batch. This is how a training-data
pipeline keeps a continuously-ingested corpus deduped without
re-running global dedup after every delivery.

State across batches is ONE parquet signature store holding every seen
document's shingle-hash array AND its minhash signature; the LSH band
rows the probe joins on are derived from the stored signatures
JVM-side at read time (``band_signatures`` is pure md5 column
expressions — whole-stage codegen). Storing 1 row/doc and recomputing
16 band hashes on read beats storing the 16x-exploded band table:
less state I/O per batch for a few vectorized hashes of CPU. Candidate
generation stays O(batch x matching buckets), never O(batch x corpus),
and state grows by O(batch) per trigger.

With id-ordered arrival (the natural case: deliveries are appended with
monotonically-increasing ids), "earlier" coincides with "smaller id",
so the admitted set equals the batch rule "reject iff a verified
near-dup with smaller doc_id exists anywhere in the corpus" — the
property the driver query's DuckDB oracle checks value-exact across a
real multi-batch run. Note this nearest-neighbor rule is deliberately
NOT connected-components survivorship: a doc with no smaller-id
near-dup NEIGHBOR is admitted even if a transitive chain links it to a
smaller doc (that policy lives in dedup_survivors).

Recovery note (lost checkpoint): the write-state-first ordering makes a
RETRIED batch idempotent, but if the streaming CHECKPOINT itself is lost
the restarted query re-assigns batch ids from 0 while the signature
store still holds the old run's higher-numbered partitions — probes
would then see "future" state and admit/reject nondeterministically. A
manual restart after checkpoint loss must therefore delete the whole
``work_dir`` (signature store, output, and checkpoint together) and
re-ingest from the source; the source directory is the system of record.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rat_strain_loader_pipeline_spark.streaming import (
    read_batches,
    run_available_now,
    stream_parquet,
    write_batch,
)


def dedup_gate_available_now(
    spark: SparkSession,
    src_dir: str,
    work_dir: str,
    jaccard_threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    hash_fn: str = "md5_oracle",
    schema=None,
    max_files_per_trigger: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Run the admission gate as an AvailableNow stream over a document
    directory; returns (id_col, admitted) for every streamed doc."""
    from rat_strain_loader_pipeline_spark.operators.dedup import (
        _hashes_and_sig_udf,
        _verify_jaccard,
        band_signatures,
        minhash_signatures,
        shingle_hashes,
    )

    sig_store = os.path.join(work_dir, "sigs")
    out_path = os.path.join(work_dir, "out")

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        # The batch's (id, hashes, sig) rows land in the state store
        # FIRST, and the store copy doubles as the staged
        # (lineage-truncated) input for every join below — one write
        # serves both staging and state. Safe because the probe reads
        # STRICTLY EARLIER batches only: the current batch's partition
        # is invisible to its own probe, a retried batch just
        # overwrites its partition (idempotent), and a restart over a
        # lost checkpoint (batch ids reassigned from 0) can never
        # probe a LATER batch's leftover state.
        if hash_fn == "md5_oracle":
            from rat_strain_loader_pipeline_spark.ship import ensure_shipped

            ensure_shipped(spark)
            # fused UDF: shingle hashes + minhash signature in ONE
            # Arrow pass (two separate UDF stages double the fixed
            # Python-worker round trip per micro-batch)
            combo = _hashes_and_sig_udf(shingle_n, num_hashes, seed)
            sigs = batch_df.select(
                F.col(id_col), combo(F.col(text_col)).alias("hs")
            ).select(
                id_col,
                F.col("hs.hashes").alias("hashes"),
                F.col("hs.sig").alias("sig"),
            )
        else:
            bh = shingle_hashes(
                batch_df, text_col, id_col, shingle_n, stage=False, hash_fn=hash_fn
            )
            bs = minhash_signatures(
                batch_df, text_col, id_col, num_hashes, shingle_n, seed,
                hashes=bh, hash_fn=hash_fn,
            )
            sigs = bh.join(bs, id_col)
        cur = spark.read.parquet(write_batch(sigs, sig_store, batch_id))

        bh = cur.select(id_col, "hashes")
        bb = band_signatures(cur.select(id_col, "sig"), id_col, num_hashes, bands)
        prev = (
            spark.read.parquet(sig_store)
            .filter(F.col("batch") < batch_id)
            .drop("batch")
        )
        prev_hashes = prev.select(id_col, "hashes")
        prev_bands = band_signatures(prev.select(id_col, "sig"), id_col, num_hashes, bands)

        # earlier-doc candidates in ONE banded equi-join: the "earlier"
        # side is previous-batch bands (candidates unconditionally —
        # an earlier BATCH wins regardless of id) unioned with the
        # current batch's own bands (candidates only against larger
        # in-batch ids). The earlier/in-batch distinction rides a
        # post-join filter on the same shuffle, replacing two separate
        # join stages over the identical bucket keys.
        all_bands = prev_bands.withColumn("__earlier", F.lit(True)).unionByName(
            bb.withColumn("__earlier", F.lit(False))
        )
        candidates = (
            all_bands.alias("a")
            .join(
                bb.alias("b"),
                on=[
                    F.col("a.band") == F.col("b.band"),
                    F.col("a.band_sig") == F.col("b.band_sig"),
                    F.col("a.__earlier") | (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
                ],
            )
            .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
            .dropDuplicates()
        )
        all_hashes = prev_hashes.unionByName(bh)
        rejected = (
            _verify_jaccard(candidates, all_hashes, id_col, jaccard_threshold)
            .select(F.col("id_b").alias(id_col))
            .dropDuplicates()
        )
        # decision ids come from the staged store copy, not batch_df —
        # re-deriving from the micro-batch source would rescan it.
        # ONE left join flags every batch id (rejected ⊆ batch ids, so
        # this emits exactly the anti-join∪rejected row set the previous
        # two-branch union did) — the banded-join + exact-verify
        # pipeline behind `rejected` evaluates once per batch, not once
        # per branch.
        decisions = (
            bh.select(id_col)
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


def cc_ingest_available_now(
    spark: SparkSession,
    src_dir: str,
    work_dir: str,
    jaccard_threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    schema=None,
    max_files_per_trigger: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming dedup-at-ingest, survivorship edition: maintain the
    near-duplicate COMPONENT TABLE across micro-batches (the gate above
    answers admit/reject per doc; this maintains the transitive-group
    labels dedup_survivors and dedup_loss_weights consume).

    Per batch: one fused Arrow pass lands (id, hashes, sig) in the
    signature store (write-state-first, same idempotence argument as
    the gate); the batch bands against the ACCUMULATED store — one
    banded equi-join, candidates are in-batch (id_a < id_b) or
    cross-to-earlier, never old×old — verifies by exact Jaccard, and
    folds the verified delta pairs into the stored component table with
    ``connected_components_incremental`` (contract: bit-identical to
    scratch CC over the union edge set, so by induction the final table
    equals scratch CC over the whole corpus — the property the driver
    oracle checks value-exact). Per-batch cost is delta-bounded: the
    old corpus is touched only through band-bucket collisions and the
    component-table relabel join.

    Returns the final (node_id, component_id) table."""
    from rat_strain_loader_pipeline_spark.operators.dedup import (
        _hashes_and_sig_udf,
        _verify_jaccard,
        band_signatures,
        connected_components,
        connected_components_incremental,
    )
    from rat_strain_loader_pipeline_spark.ship import ensure_shipped

    ensure_shipped(spark)
    sig_store = os.path.join(work_dir, "sigs")
    comp_store = os.path.join(work_dir, "components")

    def _max_comp_batch(below: int | None = None) -> int | None:
        """Largest completed component-table batch id on DISK (strictly
        below ``below`` when given). Deriving lineage from the store
        instead of an in-memory dict makes checkpoint resume correct: a
        driver restart with an existing work_dir picks up the stored
        component table from all pre-restart batches rather than
        silently re-running scratch CC over one batch's delta."""
        if not os.path.isdir(comp_store):
            return None
        best: int | None = None
        for name in os.listdir(comp_store):
            if not name.startswith("batch="):
                continue
            try:
                b = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if below is not None and b >= below:
                continue
            if not os.path.exists(os.path.join(comp_store, name, "_SUCCESS")):
                continue
            if best is None or b > best:
                best = b
        return best

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        combo = _hashes_and_sig_udf(shingle_n, num_hashes, seed)
        sigs = batch_df.select(
            F.col(id_col), combo(F.col(text_col)).alias("hs")
        ).select(
            id_col,
            F.col("hs.hashes").alias("hashes"),
            F.col("hs.sig").alias("sig"),
        )
        cur = spark.read.parquet(write_batch(sigs, sig_store, batch_id))

        bh = cur.select(id_col, "hashes")
        bb = band_signatures(cur.select(id_col, "sig"), id_col, num_hashes, bands)
        prev = (
            spark.read.parquet(sig_store)
            .filter(F.col("batch") < batch_id)
            .drop("batch")
        )
        prev_bands = band_signatures(
            prev.select(id_col, "sig"), id_col, num_hashes, bands
        )
        all_bands = prev_bands.withColumn(
            "__earlier", F.lit(True)
        ).unionByName(bb.withColumn("__earlier", F.lit(False)))
        candidates = (
            all_bands.alias("a")
            .join(
                bb.alias("b"),
                on=[
                    F.col("a.band") == F.col("b.band"),
                    F.col("a.band_sig") == F.col("b.band_sig"),
                    F.col("a.__earlier")
                    | (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
                ],
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .dropDuplicates()
        )
        all_hashes = prev.select(id_col, "hashes").unionByName(bh)
        pairs = _verify_jaccard(
            candidates, all_hashes, id_col, jaccard_threshold
        ).select("id_a", "id_b")

        prev_batch = _max_comp_batch(below=batch_id)
        if prev_batch is None:
            merged = connected_components(pairs)
        else:
            prev_comp = spark.read.parquet(
                os.path.join(comp_store, f"batch={prev_batch}")
            )
            merged = connected_components_incremental(prev_comp, pairs)
        write_batch(merged, comp_store, batch_id)

    run_available_now(
        stream_parquet(spark, src_dir, schema, max_files_per_trigger),
        ingest_batch,
        os.path.join(work_dir, "checkpoint"),
    )
    last = _max_comp_batch()
    if last is None:
        return spark.createDataFrame([], "node_id long, component_id long")
    return spark.read.parquet(os.path.join(comp_store, f"batch={last}"))
