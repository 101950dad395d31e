"""Build-once stores (staging.build_once) and the read_table spread copy
that rides on them."""

from __future__ import annotations

import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from rat_strain_loader_pipeline_spark.sources.tables import read_table
from rat_strain_loader_pipeline_spark.staging import build_once


def _staged_dir(df) -> str:
    return df.inputFiles()[0].rsplit("/", 1)[0].removeprefix("file:")


def test_build_once_memo_key_and_rebuild(spark):
    builds = []

    def build(n):
        def run():
            builds.append(n)
            return spark.range(n)

        return run

    first = build_once(spark, "t-build-once", 3, build(3))
    again = build_once(spark, "t-build-once", 3, build(3))
    assert builds == [3]
    assert _staged_dir(first) == _staged_dir(again)
    assert again.count() == 3

    other = build_once(spark, "t-build-once", 5, build(5))
    assert builds == [3, 5]
    assert other.count() == 5

    shutil.rmtree(_staged_dir(first))
    rebuilt = build_once(spark, "t-build-once", 3, build(3))
    assert builds == [3, 5, 3]
    assert _staged_dir(rebuilt) != _staged_dir(first)
    assert rebuilt.count() == 3

    # a non-DataFrame part of the result is kept in memory, not staged
    model = np.arange(4)
    df, got = build_once(spark, "t-build-once", 7, lambda: (spark.range(7), model))
    assert got is model
    assert build_once(spark, "t-build-once", 7, None)[1] is model
    assert df.count() == 7


def test_read_table_rebuilds_removed_spread_copy(spark, tmp_path):
    # one dense single-file table over the spread threshold (512 KiB)
    # that fits one split, so read_table restages it into a spread copy
    rng = np.random.default_rng(7)
    n = 100_000
    pq.write_table(
        pa.table({"k": np.arange(n), "v": rng.integers(0, 2**62, n)}),
        tmp_path / "dense.parquet",
    )
    assert (tmp_path / "dense.parquet").stat().st_size > 512 * 1024

    df = read_table(spark, str(tmp_path), "dense")
    spread_dir = _staged_dir(df)
    assert spread_dir != str(tmp_path)
    assert df.count() == n

    shutil.rmtree(spread_dir)
    again = read_table(spark, str(tmp_path), "dense")
    assert again.count() == n
    assert _staged_dir(again) != spread_dir
