"""Streaming CF2 ingest — SURVEY.md §2.8's stated extension surface:
CF2 micro-batch file ingest with ``Trigger.AvailableNow`` and the load
stage expressed as a ``foreachBatch`` upsert against the parquet store.

The reference's load is a cron/shell batch loop (one OS process per
(sample, chr)); under Structured Streaming the SAME load pipeline
(pipelines.load.derive_variants + operators.upsert.upsert_variants)
runs incrementally: each micro-batch derives its rows, probes the
current store for existing natural keys, appends only new variants,
and emits its processed rows. Because the upsert is keyed on the
natural variant key, the final store content (modulo rgd_id
allocation order) is IDENTICAL however the input is split into
batches — the property the driver query's oracle checks value-exact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from rat_strain_loader_pipeline_spark.schemas import CF2_SCHEMA
from rat_strain_loader_pipeline_spark.streaming import (
    read_batches,
    run_available_now,
    write_batch,
)

_EXISTING_SCHEMA = (
    "rgd_id long, chromosome string, start_pos long, end_pos long, "
    "ref_nuc string, var_nuc string, variant_type string"
)


def _read_store_or_empty(spark: SparkSession, store_path: str) -> DataFrame:
    """Read back the incremental store; ONLY a missing store (first batch,
    nothing appended yet) maps to empty. Any other read failure — corrupt
    footer from an interrupted append, transient FS error — propagates:
    treating it as "empty" would re-allocate ids for keys the store already
    holds and append duplicate natural keys, breaking the batch-split
    invariance this module promises."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(store_path)
    except AnalysisException as exc:
        err = exc.getCondition() or ""
        if err == "PATH_NOT_FOUND" or "Path does not exist" in str(exc):
            return spark.createDataFrame([], _EXISTING_SCHEMA)
        raise


def stream_cf2(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a CF2 TSV directory; one micro-batch per
    ``max_files_per_trigger`` files (the incremental-ingest unit)."""
    return (
        spark.readStream.schema(CF2_SCHEMA)
        .options(
            sep="\t",
            comment="#",
            header="false",
            emptyValue=None,
            nullValue="",
            maxFilesPerTrigger=str(max_files_per_trigger),
        )
        .csv(path)
    )


def ingest_cf2_available_now(
    spark: SparkSession,
    cf2_dir: str,
    work_dir: str,
    sample_id: int,
    gender: str,
    map_key: int,
    genes: DataFrame | None = None,
    genic_bin_size: int = 1_000_000,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Run the CF2 load as an AvailableNow streaming query; returns the
    processed-rows DataFrame (one row per ingested CF2 row, with ids).

    ``work_dir`` holds the incremental variant store (``variant/``),
    the per-batch processed output (``out/``), and the checkpoint. The
    store probe reads back what earlier batches appended, so duplicate
    natural keys across batches reuse their first id — the J4 upsert,
    incrementally.
    """
    from rat_strain_loader_pipeline_spark.operators.upsert import upsert_variants
    from rat_strain_loader_pipeline_spark.pipelines.load import derive_variants

    store_path = os.path.join(work_dir, "variant")
    out_path = os.path.join(work_dir, "out")

    def derive(cf2: DataFrame) -> DataFrame:
        # no derive stage barrier: the batch lands exactly once into its
        # out partition below, so the derive plan has ONE consumer and a
        # stage write+read round would be pure overhead per batch
        return derive_variants(
            cf2, sample_id, gender, map_key,
            genes=genes, genic_bin_size=genic_bin_size, stage_cache=False,
        )

    def load_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        with_ids = upsert_variants(
            derive(batch_df), _read_store_or_empty(spark, store_path)
        )
        # land the batch ONCE into its own out partition, then append
        # that batch's NEW keys to the store probe table — both steps
        # are O(batch), never O(store); the one-pipeline-pass land also
        # means the derive/upsert plan executes exactly once per batch
        batch_out = write_batch(with_ids, out_path, batch_id)
        (
            spark.read.parquet(batch_out)
            .filter(F.col("is_new"))
            .select(
                "rgd_id", "chromosome", "start_pos", "end_pos",
                "ref_nuc", "var_nuc", "variant_type",
            )
            .dropDuplicates(["rgd_id"])
            .write.mode("append")
            .parquet(store_path)
        )

    run_available_now(
        stream_cf2(spark, cf2_dir, max_files_per_trigger),
        load_batch,
        os.path.join(work_dir, "checkpoint"),
    )
    # zero batches landed (empty input directory): derive+upsert over
    # empty inputs builds the batch-output plan lazily, no action
    return read_batches(
        spark,
        out_path,
        lambda: upsert_variants(
            derive(spark.createDataFrame([], CF2_SCHEMA)),
            spark.createDataFrame([], _EXISTING_SCHEMA),
        ),
    )
