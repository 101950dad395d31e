"""Parquet staging barriers and build-once stores.

A pipeline stage barrier must (a) stop Catalyst alias-substitution and
predicate pushdown from composing giant expressions across stages, and
(b) let multiple consumers read the stage output without recomputing it.

Measured on 592k rows x 35 cols (local[32], sf0.1):
- ``persist()``          → ~30 s  (row-at-a-time columnar cache build)
- ``localCheckpoint()``  → ~28 s  (boxing rows into deserialized blocks)
- parquet write + read   → ~2 s   (vectorized writer/reader)

So the engine stages through parquet — which is also the honest design
at cluster scale: the reference pipeline lands every stage in staging
tables, and a 100 TB Spark deployment would land them in parquet/Delta.

Lifetime: every stage, and every ``build_once`` store, is written under
one per-process root, ``<tmpdir>/rat_strain_loader_pipeline_spark-stage-
<pid>-*``. Nothing in the engine removes it, and the process exit does
not either: it stays on disk until deleted by hand or by the host's own
temp-dir cleaning.

``build_once`` is the one owner of the build-once policy: a store is
keyed by ``(label, key)`` in a per-process memo, checked by its
``_SUCCESS`` marker on every call, and rebuilt when that check fails.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from typing import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession

_STAGE_ROOT: str | None = None
# (label, key) -> (build returned a tuple, its parts with each DataFrame
# replaced by its staged directory)
_BUILT: dict[tuple[str, Hashable], tuple[bool, tuple]] = {}


def _stage_root() -> str:
    global _STAGE_ROOT
    if _STAGE_ROOT is None:
        _STAGE_ROOT = tempfile.mkdtemp(prefix=f"rat_strain_loader_pipeline_spark-stage-{os.getpid()}-")
    return _STAGE_ROOT


def _write_stage(df: DataFrame, label: str) -> str:
    path = os.path.join(_stage_root(), f"{label}-{uuid.uuid4().hex[:12]}")
    df.write.mode("overwrite").parquet(path)
    return path


def stage_to_parquet(df: DataFrame, label: str = "stage") -> DataFrame:
    """Materialize ``df`` to a temp parquet dir and read it back.

    Full lineage truncation: downstream plans see a plain parquet scan.
    """
    return df.sparkSession.read.parquet(_write_stage(df, label))


class _Staged(str):
    """A staged parquet directory inside a ``build_once`` memo entry."""


def build_once(
    spark: SparkSession, label: str, key: Hashable, build: Callable[[], object]
):
    """Per-process build-once store for ``(label, key)``.

    ``build()`` runs on the first call, and again whenever a staged
    directory of the last build has lost its ``_SUCCESS`` marker. It
    returns a DataFrame or a tuple; each DataFrame part is landed under
    the stage root, and any other part (an in-process model such as a
    numpy array) is kept in memory as it is. Every call returns the same
    shape with each DataFrame part read from its staged directory, so
    later plans see a plain parquet scan and a hit runs no Spark job but
    the parquet schema reads."""
    is_tuple, parts = _BUILT.get((label, key), (False, None))
    if parts is None or not all(
        os.path.exists(os.path.join(p, "_SUCCESS"))
        for p in parts
        if isinstance(p, _Staged)
    ):
        out = build()
        is_tuple = isinstance(out, tuple)
        parts = tuple(
            _Staged(_write_stage(p, label)) if isinstance(p, DataFrame) else p
            for p in (out if is_tuple else (out,))
        )
        _BUILT[(label, key)] = (is_tuple, parts)
    got = tuple(spark.read.parquet(p) if isinstance(p, _Staged) else p for p in parts)
    return got if is_tuple else got[0]
