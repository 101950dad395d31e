"""Streaming ANN index maintenance.

A trained IVF index (operators/similarity.py: sampled k-means
centroids + inverted posting lists) must keep ingesting new vectors
long after training — retraining or globally rebuilding the index per
delivery does not scale. Here the posting store grows incrementally:
each micro-batch assigns its vectors to the FIXED trained centroids and
appends to the parquet posting store, O(batch) work per trigger.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from rat_strain_loader_pipeline_spark.streaming import (
    land_available_now,
    stream_parquet,
)


def ivf_ingest_available_now(
    spark: SparkSession,
    src_dir: str,
    centroids,
    work_dir: str,
    schema=None,
    max_files_per_trigger: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental ANN index maintenance: embeddings stream in as
    micro-batches and each batch is assigned to its nearest centroid
    list (operators/similarity.py ivf_assign against the FIXED trained
    centroids) and appended to the posting store — how a vector index
    ingests a continuously-growing corpus without retraining or global
    rebuilds. Assignment is per-row against static centroids, so the
    posting store is batch-split-invariant; queries over it (ivf_topk)
    return exactly what a batch-built index returns — the property the
    driver query checks value-exact via the brute-force oracle at
    nprobe = n_lists.

    Returns the posting store DataFrame (id, vec, list_id).
    """
    from rat_strain_loader_pipeline_spark.operators.similarity import ivf_assign

    return land_available_now(
        stream_parquet(spark, src_dir, schema, max_files_per_trigger),
        lambda df: ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col),
        os.path.join(work_dir, "postings"),
        os.path.join(work_dir, "checkpoint"),
    )


def ivf_pq_encode_ingest_available_now(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    work_dir: str,
    dims: int,
    m: int = 2,
    schema=None,
    max_files_per_trigger: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming PQ-coded ingest against a persisted RESIDUAL IVF-PQ
    artifact — the compressed-representation twin of
    ``ivf_ingest_available_now``: each micro-batch routes + encodes its
    vectors with the FROZEN stored model (operators/quantize.py
    ivf_pq_encode_batch — 1 routing bigint + m code bigints per vector,
    never the raw vector) and lands at a deterministic ``batch=<id>``
    partition (overwrite — at-least-once replay rewrites, never
    duplicates). Encode is per-vector against static model state, so
    the merged store is bit-identical to the one-shot encode of the
    same rows at ANY batch split — the mergeability contract the
    driver oracle checks value-exact.

    Returns the merged (id_col, jc, g, j) code store."""
    from rat_strain_loader_pipeline_spark.operators.quantize import (
        ivf_pq_encode_batch,
    )

    return land_available_now(
        stream_parquet(spark, src_dir, schema, max_files_per_trigger),
        lambda df: ivf_pq_encode_batch(
            spark, index_path, df, dims, m=m, id_col=id_col, vec_col=vec_col
        ),
        os.path.join(work_dir, "pq-codes"),
        os.path.join(work_dir, "checkpoint"),
    )
