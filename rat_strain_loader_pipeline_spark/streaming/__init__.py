"""Structured Streaming surface (SURVEY.md §2.8 extension territory).

This module owns the availableNow lifecycle every streaming driver
shares: the parquet file-source reader, the foreachBatch runner, the
memory-sink drain, and the per-batch output partitions. The drivers in
the submodules supply only their batch function and their merge.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def stream_state_partitions(spark: SparkSession) -> int:
    """Shuffle/state partition count for micro-batch streaming queries.

    Streaming plans pin ``spark.sql.shuffle.partitions`` at query start
    (no AQE coalescing), and every stateful partition carries fixed
    per-batch overhead — a state-store open/commit, and for the
    applyInPandasWithState operators an Arrow round trip that iterates
    the partition's state even in the empty timeout-finalization batch.
    With partitions = total cores, that fixed cost dominates whenever
    per-batch state is far below memory bounds (the measured case: the
    same stateful query at the same volume ran 40% faster at cores/4
    than at cores, identical output).

    ``defaultParallelism // 4`` scales with the cluster (250 state
    partitions on a 1000-core cluster) instead of hard-coding a local
    value, and keeps per-partition state ~4x larger so the fixed
    per-partition cost amortizes.
    """
    return max(1, spark.sparkContext.defaultParallelism // 4)


@contextmanager
def stream_partition_scope(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` to the streaming value for
    the duration of one micro-batch query (start + awaitTermination),
    restoring the session default afterwards. Partitioning never
    changes values — grouping is exact and the sketch/state operators
    are merge-exact — only where the fixed per-partition costs land."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(stream_state_partitions(spark)))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def stream_parquet(
    spark: SparkSession,
    path: str,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a parquet directory (or glob). The schema
    is read from the files already there when not given; a falsy
    ``max_files_per_trigger`` leaves the whole backlog to one batch."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def run_available_now(
    stream: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> None:
    """Drain everything available now through ``batch_fn`` (foreachBatch)
    and return once the last micro-batch has committed."""
    with stream_partition_scope(stream.sparkSession):
        (
            stream.writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def drain_to_memory(
    stream: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drain everything available now into the memory sink table
    ``name`` (``append`` or ``complete`` output mode) and return it."""
    from rat_strain_loader_pipeline_spark.staging import _stage_root

    spark = stream.sparkSession
    with stream_partition_scope(spark):
        (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", os.path.join(_stage_root(), f"ckpt-{name}"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(name)


def write_batch(df: DataFrame, root: str, batch_id: int) -> str:
    """Land one micro-batch's output at its own deterministic
    ``batch=<id>`` partition, overwriting: foreachBatch is
    at-least-once, so a replayed batch rewrites the same rows instead of
    duplicating them. Returns the partition path."""
    part = os.path.join(root, f"batch={batch_id}")
    df.write.mode("overwrite").parquet(part)
    return part


def read_batches(
    spark: SparkSession, root: str, empty: Callable[[], DataFrame]
) -> DataFrame:
    """Every landed batch partition under ``root``, ``batch`` dropped;
    ``empty()`` (the driver's typed zero-row frame) when zero batches
    landed."""
    if not os.path.exists(root):
        return empty()
    return spark.read.parquet(root).drop("batch")


def land_available_now(
    stream: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    out_dir: str,
    checkpoint: str,
) -> DataFrame:
    """The per-batch map every stateless driver runs: land
    ``transform(batch)`` per micro-batch under ``out_dir`` and return
    all of it. With zero batches the result is ``transform`` of an
    empty batch, so it still has the non-empty schema."""
    spark = stream.sparkSession
    run_available_now(
        stream,
        lambda batch_df, batch_id: write_batch(transform(batch_df), out_dir, batch_id),
        checkpoint,
    )
    return read_batches(
        spark, out_dir, lambda: transform(spark.createDataFrame([], stream.schema))
    )
