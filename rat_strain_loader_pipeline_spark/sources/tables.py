"""Parquet table loading with schema quirks handled.

``read_table`` is the engine's canonical parquet scan. One quirk in the
driver testdata: ``events.ts`` is TIMESTAMP(NANOS), which Spark's
vectorized parquet reader rejects by default. We flip the session conf
``spark.sql.legacy.parquet.nanosAsLong`` and convert nanos → micros
timestamp ourselves, so callers always see a proper TimestampType.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from rat_strain_loader_pipeline_spark.staging import build_once

# Tables whose single-file scan is worth spreading (see read_table).
_SPREAD_MIN_BYTES = 512 * 1024


def _spread(spark: SparkSession, path: str, name: str, df: DataFrame) -> DataFrame:
    """Restage a dense single-split parquet file into a multi-file copy.

    A single parquet file under spark.sql.files.maxPartitionBytes scans
    as ONE task, so every narrow pipeline downstream (expressions,
    Python stages, stage writes) runs on one core. A per-query
    ``repartition()`` fixes parallelism but pays a sorted round-robin
    exchange on EVERY query; restaging pays one shuffle+write per
    process and every later scan is natively parallel with no exchange.
    Genuinely large multi-split datasets keep their native splits.
    """
    try:
        size = os.path.getsize(path)
    except OSError:
        return df
    max_split = int(
        str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")).rstrip("b")
    )
    target = spark.sparkContext.defaultParallelism
    if size < _SPREAD_MIN_BYTES or max(1, -(-size // max_split)) >= target:
        return df
    return build_once(
        spark,
        f"spread-{name}",
        (spark.sparkContext.applicationId, os.path.dirname(path)),
        lambda: df.repartition(target),
    )


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # events.ts is TIMESTAMP(NANOS); set proactively so the first read
        # attempt doesn't fail a task (works on any session, incl. the
        # driver's default-configured one)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    df = _spread(spark, path, name, df)

    if name == "events":
        ts_field = df.schema["ts"] if "ts" in df.columns else None
        if ts_field is not None and isinstance(ts_field.dataType, LongType):
            # nanos-as-long → microsecond timestamp. MUST be integer
            # division: floor(ts / 1000) routes through a double whose
            # 53-bit mantissa loses sub-µs precision at ~1.7e18 nanos
            # (off-by-one µs vs DuckDB's exact truncation).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
