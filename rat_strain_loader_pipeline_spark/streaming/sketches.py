"""Streaming sketch maintenance: mergeability under micro-batches.

The property that makes sketches THE streaming statistic: a Count-Min
grid is a linear function of its input counts, so the grid of a union
is the cell-wise sum of the grids — per micro-batch, sketch the batch
and land the (i, b, cell) delta rows in the state store; the current
grid at any moment is one group-by-sum over the store. Every
maintainer writes its delta to a DETERMINISTIC per-batch partition
(``batch=<batch_id>``, mode overwrite — the dedup-gate signature-store
idiom), so the at-least-once replay ``foreachBatch`` permits rewrites
the SAME rows instead of appending a duplicate delta: retry-safe for
the linear sketches (CMS, histogram) and for the non-idempotent
max-merge reservoirs alike, not just for HLL's idempotent max. The
store never rewrites history across batches and is bounded by
batches x state-size rows, compactable at leisure with
store.compact_table.

At 100 TB/day this is the ingest-side frequency monitor: each executor
sketches its slice map-side, deltas are tiny, and the merged grid
answers heavy-hitter/degree probes without any key-cardinality state.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from rat_strain_loader_pipeline_spark.streaming import (
    land_available_now,
    stream_parquet,
)


def _maintain(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    work_dir: str,
    state_name: str,
    delta: Callable[[DataFrame], DataFrame],
    max_files_per_trigger: int,
) -> DataFrame:
    """The pass every maintainer below shares: land ``delta(batch)`` per
    micro-batch under ``work_dir/state_name`` and return every landed
    delta for the maintainer's merge. A delta is bounded by the sketch
    size at ANY batch size, so it lands as one file, not one per
    shuffle partition."""
    return land_available_now(
        stream_parquet(spark, src_dir, schema, max_files_per_trigger),
        lambda df: delta(df).coalesce(1),
        os.path.join(work_dir, state_name),
        os.path.join(work_dir, "ckpt"),
    )


def _cms_batch_grid(df: DataFrame, key_col: str, depth: int, width: int) -> DataFrame:
    """Per-MICRO-BATCH grid builder: the depth dimension as ``depth``
    unioned projections of the (in-memory, single-file) batch instead of
    the inline explode ``operators.sketch.count_min_sketch`` uses.

    Identical (i, b, cell) rows — same md5 cell hash per (row, i), same
    groupBy-count — but measured ~0.25-0.3 s/batch FASTER inside a tiny
    micro-batch (interleaved A/B, 6 batches x 16.7k rows: union
    0.5-0.6 s/batch vs explode 0.8-0.9 s/batch vs 0.1 s floor): at
    micro-batch volume the job is fixed-cost-bound and the Generate
    (explode) operator plans/executes slower than three scans of a
    one-partition in-memory batch. The one-pass explode stays the right
    shape for the BATCH builders, whose input is a full-corpus scan
    worth reading once (operators/sketch.py) — this was the round-12
    cms_stream_merge regression (4.7 -> 7.5 s)."""
    from pyspark.sql import functions as F

    from rat_strain_loader_pipeline_spark.operators.sketch import _cms_cell

    rows = None
    for i in range(depth):
        r = df.select(
            F.lit(i).alias("i"),
            _cms_cell(F.col(key_col), i, width).alias("b"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows.groupBy("i", "b").agg(F.count(F.lit(1)).alias("cell"))


def maintain_cms_available_now(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    work_dir: str,
    key_col: str,
    depth: int,
    width: int,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Run an availableNow pass over the parquet source, appending one
    CMS delta grid per micro-batch, and return the MERGED grid
    (i, b, cell) — bit-identical to the single-pass sketch of the same
    rows, by linearity."""
    from pyspark.sql import functions as F

    def delta(df: DataFrame) -> DataFrame:
        return _cms_batch_grid(df, key_col, depth, width)

    state = _maintain(spark, src_dir, schema, work_dir, "cms-state", delta,
                      max_files_per_trigger)
    return state.groupBy("i", "b").agg(F.sum("cell").alias("cell"))


def maintain_weighted_sample_available_now(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    work_dir: str,
    weight_col: str,
    n: int,
    id_col: str = "doc_id",
    salt: str = "v1",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming weighted-reservoir maintenance — the third mergeable
    sketch after the CMS grid and the fixed-domain histogram, under the
    MAX-MERGE identity instead of linearity: A-ES priorities
    ``-ln(u)/w`` are content-only, so the n smallest priorities of a
    union equal the n smallest of the union of per-batch n-smallest
    candidate sets. Per micro-batch the batch's top-n candidate rows
    (exact double priority kept) APPEND to the state store; the current
    weighted sample at any moment is one top-n over the store —
    bit-identical to the single-pass ``operators.sampling
    .weighted_sample`` of the same rows. State lands at a
    deterministic ``batch=<id>`` partition (overwrite), so an
    at-least-once replay rewrites the same candidate rows instead of
    duplicating them — the merge is NOT idempotent (a doubled
    candidate could fill two of the n slots), so replay safety comes
    from the deterministic write, not from the algebra. Bounded by
    batches x n rows, compactable to n rows at leisure (a compaction
    is itself just ``aes_select`` kept in priority units).

    At 100 TB/day this is the ingest-side sample maintainer: each
    executor heaps its slice map-side (TakeOrdered, n rows per batch to
    the store), and no key-cardinality state ever exists. Returns the
    final (id_col, weight_col, priority_micros) selection."""
    from rat_strain_loader_pipeline_spark.operators.sampling import (
        aes_candidates,
        aes_select,
    )

    def delta(df: DataFrame) -> DataFrame:
        return aes_candidates(df, weight_col, n, id_col, salt)

    state = _maintain(spark, src_dir, schema, work_dir, "wsample-state", delta,
                      max_files_per_trigger)
    return aes_select(state, n, id_col)


def maintain_hist_available_now(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    work_dir: str,
    value_expr: str,
    n_bins: int,
    lo_q: int,
    hi_q: int,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming quantile-state maintenance — the percentile twin of
    ``maintain_cms_available_now``: a fixed-domain equal-width
    histogram is linear in its input counts exactly like a CMS grid,
    so per micro-batch the batch's (bin, n) delta rows append to the
    state store and the merged grid (one group-by-sum) is bit-identical
    to the single-pass histogram. ``value_expr`` is a SQL expression
    producing the integer micro-unit value (rows where it is NULL are
    excluded). Returns the merged (bin, n) grid; feed it to
    ``operators.sketch.histogram_quantiles`` for rank answers."""
    from pyspark.sql import functions as F

    from rat_strain_loader_pipeline_spark.operators.sketch import fixed_histogram

    def delta(df: DataFrame) -> DataFrame:
        vq = F.expr(value_expr)
        return fixed_histogram(df.filter(vq.isNotNull()), vq, n_bins, lo_q, hi_q)

    state = _maintain(spark, src_dir, schema, work_dir, "hist-state", delta,
                      max_files_per_trigger)
    return state.groupBy("bin").agg(F.sum("n").cast("long").alias("n"))


def maintain_hll_available_now(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    work_dir: str,
    key_col: str,
    p: int = 8,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming HyperLogLog maintenance — the fourth mergeable sketch
    (CMS: linear, histogram: linear, weighted reservoir: max-merge,
    HLL: max-merge): per micro-batch the batch's sparse (i, reg)
    register table appends to the state store, and the current
    registers at any moment are one group-by-MAX over the store —
    bit-identical to the single-pass registers because max is
    associative, commutative, and idempotent (replays are harmless
    even without the checkpoint). State is bounded by batches x 2^p
    rows — never by key cardinality, which is the entire reason a
    100 TB distinct-count monitor carries an HLL and not a dedup
    state store. Returns the merged (i, reg) registers; feed them to
    ``operators.sketch.hll_estimate``."""
    from pyspark.sql import functions as F

    from rat_strain_loader_pipeline_spark.operators.sketch import hll_registers

    def delta(df: DataFrame) -> DataFrame:
        return hll_registers(df, key_col, p)

    state = _maintain(spark, src_dir, schema, work_dir, "hll-state", delta,
                      max_files_per_trigger)
    return state.groupBy("i").agg(F.max("reg").alias("reg"))


def maintain_group_reservoir_available_now(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    work_dir: str,
    group_col: str,
    weight_col: str,
    n_per_group: int,
    id_col: str = "doc_id",
    salt: str = "v1",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Stratified streaming reservoir — the per-group twin of
    ``maintain_weighted_sample_available_now`` under the same max-merge
    identity applied within each group: per micro-batch each group's
    top-n candidate rows land at a deterministic ``batch=<id>``
    partition (overwrite — replay rewrites, never duplicates; state
    bounded by batches × groups × n, never by corpus size), and the
    final per-group selection over the store is bit-identical to the
    single-pass stratified sample."""
    from rat_strain_loader_pipeline_spark.operators.sampling import (
        aes_group_candidates,
        aes_group_select,
    )

    def delta(df: DataFrame) -> DataFrame:
        return aes_group_candidates(df, group_col, weight_col, n_per_group, id_col, salt)

    state = _maintain(spark, src_dir, schema, work_dir, "gres-state", delta,
                      max_files_per_trigger)
    return aes_group_select(state, group_col, n_per_group, id_col)
