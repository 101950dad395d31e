"""Structured Streaming tests: incremental hourly agg matches batch,
the streaming upsert is exactly-once on replayed input, and every
availableNow driver survives an empty source."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rat_strain_loader_pipeline_spark.sources.tables import read_table
from rat_strain_loader_pipeline_spark.streaming import drain_to_memory
from rat_strain_loader_pipeline_spark.streaming.events import (
    dedup_within_watermark,
    hourly_event_counts,
    stream_events,
)


def _events_dir(spark, tmp_path, sf_dir):
    # materialize the testdata events as a proper timestamp parquet dir
    src = read_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_in")
    src.write.mode("overwrite").parquet(out)
    return out, src


def test_streaming_hourly_matches_batch(spark, tmp_path, sf_dir):
    path, batch_src = _events_dir(spark, tmp_path, sf_dir)
    stream = stream_events(spark, path)
    agg = hourly_event_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("hourly_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from hourly_test").collect()
    }
    expected = {
        (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in (
            batch_src.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            )
            .collect()
        )
    }
    assert got == expected


def _cf2_dir(tmp_path):
    """Two CF2 files of 16-col rows (CF2_SCHEMA order), one micro-batch
    each; file b repeats file a's first variant and adds one new key."""
    def line(pos, ref, var):
        return f"1\t{pos}\t{ref}\t{var}\trs1\t30\t30\t0\t0\t60\t\t\t30\t2\t30\t"

    cf2_dir = tmp_path / "cf2"
    cf2_dir.mkdir()
    (cf2_dir / "a.txt").write_text("\n".join([line(10, "A", "C"), line(20, "A", "C")]) + "\n")
    (cf2_dir / "b.txt").write_text("\n".join([line(10, "A", "C"), line(30, "C", "A")]) + "\n")
    return str(cf2_dir)


def test_streaming_dedup_and_upsert(spark, tmp_path, sf_dir):
    """Watermark dedup keeps every distinct event once, and the streaming
    CF2 upsert replayed with a FRESH checkpoint leaves the variant store
    exactly as it was: the store probe marks every replayed key as
    already stored, so nothing is appended twice."""
    import shutil

    from rat_strain_loader_pipeline_spark.streaming.ingest import (
        ingest_cf2_available_now,
    )

    path, batch_src = _events_dir(spark, tmp_path, sf_dir)
    deduped = drain_to_memory(
        dedup_within_watermark(stream_events(spark, path), ["event_id"]),
        "dedup_test",
    )
    assert deduped.count() == batch_src.count()

    cf2_dir = _cf2_dir(tmp_path)
    work = tmp_path / "work"

    def store_rows():
        return sorted(
            tuple(r) for r in spark.read.parquet(str(work / "variant")).select(
                "chromosome", "start_pos", "end_pos", "ref_nuc", "var_nuc"
            ).collect()
        )

    def ingest():
        ingest_cf2_available_now(
            spark, cf2_dir, str(work), sample_id=7, gender="F", map_key=360,
        )

    ingest()
    first = store_rows()
    assert [r[1] for r in first] == [10, 20, 30]
    shutil.rmtree(str(work / "checkpoint"))  # replay everything
    ingest()
    assert store_rows() == first


def test_stateful_sessionize(spark, tmp_path):
    """applyInPandasWithState sessionizer: a >gap event closes and emits
    the previous session within the batch; open sessions stay in state."""
    import datetime as dt

    from rat_strain_loader_pipeline_spark.streaming.events import sessionize_stateful

    t0 = dt.datetime(2026, 1, 1, 8, 0, 0)

    def ev(eid, uid, minutes):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, "click", 1.0, "{}")

    rows = [
        ev(1, 1, 0),       # user 1 session A
        ev(2, 1, 10),      # still session A
        ev(3, 1, 120),     # > 30 min gap → closes A (2 events), opens B
        ev(4, 1, 125),     # session B
        ev(5, 2, 0),       # user 2: single open session, never closes
    ]
    src = str(tmp_path / "events-src")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).parquet(src)
    out = sessionize_stateful(stream, gap_seconds=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from sessions_test").collect()
    assert len(got) == 1
    s = got[0]
    assert s["user_id"] == 1
    assert s["n_events"] == 2
    assert s["session_start"] == t0
    assert s["session_end"] == t0 + dt.timedelta(minutes=10)


def test_cf2_ingest_incremental_upsert(spark, tmp_path):
    """CF2 AvailableNow ingest: one file per micro-batch; a natural key
    seen again in a LATER batch must reuse the id its first batch
    allocated (the J4 upsert, incrementally), and new keys must not
    collide with earlier ids."""
    from rat_strain_loader_pipeline_spark.streaming.ingest import (
        ingest_cf2_available_now,
    )

    out = ingest_cf2_available_now(
        spark, _cf2_dir(tmp_path), str(tmp_path / "work"),
        sample_id=7, gender="F", map_key=360,
    )
    rows = out.select("rgd_id", "start_pos", "is_new").collect()
    by_pos = {}
    for r in rows:
        by_pos.setdefault(r["start_pos"], []).append((r["rgd_id"], r["is_new"]))
    # pos 10 ingested twice: same id both times, only one is_new
    ids_10 = {i for i, _ in by_pos[10]}
    assert len(by_pos[10]) == 2 and len(ids_10) == 1
    assert sorted(n for _, n in by_pos[10]) == [False, True]
    # three distinct ids total, no collisions
    all_ids = {i for pairs in by_pos.values() for i, _ in pairs}
    assert len(all_ids) == 3


def test_cf2_ingest_corrupt_store_propagates(spark, tmp_path):
    """A store path that EXISTS but fails to read (corrupt footer from an
    interrupted append) must raise, not be silently treated as an empty
    store — the empty-store fallback is only for the missing-path first
    batch. Re-allocating ids over a real-but-unreadable store would append
    duplicate natural keys on restart."""
    import pytest

    from rat_strain_loader_pipeline_spark.streaming.ingest import (
        _read_store_or_empty,
    )

    store = tmp_path / "variant"
    store.mkdir()
    (store / "part-00000.parquet").write_bytes(b"PAR1 this is not parquet")
    with pytest.raises(Exception) as exc_info:
        _read_store_or_empty(spark, str(store)).collect()
    assert "PATH_NOT_FOUND" not in str(exc_info.value)

    # and the missing-path case still maps to the empty probe frame
    empty = _read_store_or_empty(spark, str(tmp_path / "does-not-exist"))
    assert empty.count() == 0 and "rgd_id" in empty.columns


def test_stream_asof_batch_split_invariance(spark, tmp_path):
    """Stream-static as-of enrichment: one-file-per-trigger micro-batches
    must produce exactly the batch asof_join's row set (matches depend
    only on the row + the static right side)."""
    import datetime

    from rat_strain_loader_pipeline_spark.operators.asof import asof_join
    from rat_strain_loader_pipeline_spark.streaming.events import (
        asof_enrich_available_now,
    )

    base = datetime.datetime(2024, 1, 1)
    views = spark.createDataFrame(
        [(i, i % 3, base + datetime.timedelta(minutes=i)) for i in range(30)],
        "event_id long, user_id long, ts timestamp",
    )
    clicks = spark.createDataFrame(
        [(100 + i, i % 3, base + datetime.timedelta(minutes=2 * i), float(i))
         for i in range(10)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    src = str(tmp_path / "src")
    views.repartition(5).write.parquet(src)

    streamed = asof_enrich_available_now(
        spark, src, clicks, on=["user_id"], ts_col="ts",
        payload={"event_id": "m_id", "value": "m_value"}, tiebreak="event_id",
        work_dir=str(tmp_path / "work"), max_files_per_trigger=1,
    )
    batch = asof_join(
        views, clicks, on=["user_id"], ts_col="ts",
        payload={"event_id": "m_id", "value": "m_value"}, tiebreak="event_id",
    )
    key = lambda r: (r["event_id"], r["m_id"], r["m_value"])  # noqa: E731
    assert sorted(map(key, streamed.collect())) == sorted(map(key, batch.collect()))


def test_dedup_gate_cross_batch(spark, tmp_path):
    """Admission gate: a doc whose near-dup arrived in an EARLIER batch
    is rejected; a rejected doc still blocks later near-dups (seen !=
    admitted); unrelated docs pass. One file per batch, id-ordered."""
    from rat_strain_loader_pipeline_spark.streaming.dedup_gate import (
        dedup_gate_available_now,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = a + " lambda"              # near-dup of A
    c = b + " mu"                  # near-dup of B (and of A)
    other = "one two three four five six seven eight nine ten"
    batches = [[(1, a), (2, other)], [(3, b)], [(4, c)]]
    src = tmp_path / "src"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    out = dedup_gate_available_now(
        spark, str(src / "b*"), str(tmp_path / "work"),
        jaccard_threshold=0.5, max_files_per_trigger=1,
    )
    got = {r["doc_id"]: r["admitted"] for r in out.collect()}
    assert got == {1: True, 2: True, 3: False, 4: False}


def test_ivf_ingest_batch_split_invariance(spark, tmp_path):
    """Posting store built one-file-per-trigger equals the batch-built
    index: same (vec_id, list_id) assignment set."""
    import numpy as np

    from rat_strain_loader_pipeline_spark.operators.similarity import (
        ivf_assign,
        ivf_train_centroids,
    )
    from rat_strain_loader_pipeline_spark.streaming.ann import (
        ivf_ingest_available_now,
    )

    rng = np.random.RandomState(7)
    emb = spark.createDataFrame(
        [(i, rng.randn(8).astype(float).tolist()) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    cent = ivf_train_centroids(emb, n_lists=4, sample_size=128, iters=3)
    src = tmp_path / "src"
    emb.repartition(4).write.parquet(str(src))
    streamed = ivf_ingest_available_now(
        spark, str(src), cent, str(tmp_path / "work"), max_files_per_trigger=1
    )
    batch = ivf_assign(emb, cent)
    key = lambda r: (r["vec_id"], r["list_id"])  # noqa: E731
    assert sorted(map(key, streamed.collect())) == sorted(map(key, batch.collect()))


def test_dedup_gate_rerun_is_idempotent(spark, tmp_path):
    """Re-running the whole gate into the SAME work dir with a fresh
    checkpoint (checkpoint loss / full replay) reproduces identical
    decisions — per-batch overwrite + strictly-earlier state probe means
    leftover state from the first run can neither duplicate output rows
    nor leak later-batch signatures into earlier batches."""
    import shutil

    from rat_strain_loader_pipeline_spark.streaming.dedup_gate import (
        dedup_gate_available_now,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    batches = [[(1, a), (2, "one two three four five six seven")], [(3, a + " lambda")]]
    src = tmp_path / "src"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    work = tmp_path / "work"
    first = sorted(
        map(tuple, dedup_gate_available_now(
            spark, str(src / "b*"), str(work), max_files_per_trigger=1
        ).collect())
    )
    shutil.rmtree(str(work / "checkpoint"))  # lose the checkpoint, keep state/out
    second = sorted(
        map(tuple, dedup_gate_available_now(
            spark, str(src / "b*"), str(work), max_files_per_trigger=1
        ).collect())
    )
    assert first == second
    assert dict(first)[3] is False  # cross-batch rejection intact on replay


def test_dedup_gate_xxhash_path_equivalence(spark, tmp_path):
    """The gate's production hash path (hash_fn='xxhash64', JVM-side
    shingling) admits exactly the same docs as the md5-oracle path on a
    planted near-dup corpus (pair sets are hash-family-invariant absent
    collisions)."""
    from rat_strain_loader_pipeline_spark.streaming.dedup_gate import (
        dedup_gate_available_now,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    batches = [[(1, a), (2, "one two three four five six seven")],
               [(3, a + " lambda"), (4, "eight nine ten eleven twelve thirteen")]]
    src = tmp_path / "src"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    results = {}
    for fam in ("md5_oracle", "xxhash64"):
        out = dedup_gate_available_now(
            spark, str(src / "b*"), str(tmp_path / f"work-{fam}"),
            hash_fn=fam, max_files_per_trigger=1,
        )
        results[fam] = sorted(map(tuple, out.collect()))
    assert results["md5_oracle"] == results["xxhash64"]
    assert dict(results["md5_oracle"])[3] is False


def test_stream_stream_interval_join_multi_batch_equals_batch(spark, tmp_path):
    """Cross-batch buffering: with maxFilesPerTrigger=1 the left/right
    events of a pair often arrive in different micro-batches; the inner
    interval join must still emit exactly the batch-join pairs."""
    import datetime as dt

    from rat_strain_loader_pipeline_spark.streaming.events import (
        interval_join_streams,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(6):
        for j in range(8):
            ts = t0 + dt.timedelta(minutes=7 * j + u)
            rows.append((eid, ts, u, "click" if j % 2 == 0 else "purchase"))
            eid += 1
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    ev = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    # many small files so pairs straddle micro-batches
    ev.repartition(6).write.parquet(src)

    clicks = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src).filter(F.col("event_type") == "click")
    )
    purchases = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src).filter(F.col("event_type") == "purchase")
    )
    out = interval_join_streams(clicks, purchases, max_lag_minutes=15)
    q = (
        out.writeStream.format("memory").queryName("ssj_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(tuple(r) for r in spark.table("ssj_test").collect())

    want = sorted(
        tuple(r)
        for r in interval_join_streams(
            ev.filter("event_type = 'click'"),
            ev.filter("event_type = 'purchase'"),
            max_lag_minutes=15,
        ).collect()
    )
    assert got == want
    assert len(got) > 0
    # every lag respects the interval
    assert all(0 <= t[3] <= 15 * 60 for t in got)


def test_streaming_cms_merge_equals_single_pass(spark, tmp_path, sf_dir):
    """Per-batch delta grids summed cell-wise must be bit-identical to
    the single-pass sketch (linearity) — across a real multi-batch
    availableNow replay."""
    from rat_strain_loader_pipeline_spark.operators.sketch import count_min_sketch
    from rat_strain_loader_pipeline_spark.streaming.sketches import (
        maintain_cms_available_now,
    )

    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id")
    src = str(tmp_path / "src")
    ev.repartition(5).write.parquet(src)
    grid = maintain_cms_available_now(
        spark, src, "event_id long, user_id long", str(tmp_path / "work"),
        "user_id", depth=3, width=32,
    )
    got = sorted(tuple(r) for r in grid.collect())
    want = sorted(
        tuple(r) for r in count_min_sketch(ev, "user_id", 3, 32).collect()
    )
    assert got == want


def test_streaming_hist_merge_equals_single_pass(spark, tmp_path, sf_dir):
    """Fixed-domain histogram deltas summed bin-wise must be
    bit-identical to the single-pass histogram (linearity), and the
    quantiles answered from the merged grid must match the single-pass
    grid's — across a real multi-batch availableNow replay."""
    from pyspark.sql import functions as F

    from rat_strain_loader_pipeline_spark.operators.sketch import (
        fixed_histogram,
        histogram_quantiles,
    )
    from rat_strain_loader_pipeline_spark.streaming.sketches import (
        maintain_hist_available_now,
    )

    ev = read_table(spark, sf_dir, "events").select("event_id", "value")
    src = str(tmp_path / "src")
    ev.repartition(5).write.parquet(src)
    vexpr = (
        "CASE WHEN value IS NOT NULL AND NOT isnan(value)"
        " THEN CAST(floor(value * 1000000) AS BIGINT) END"
    )
    grid = maintain_hist_available_now(
        spark, src, "event_id long, value double", str(tmp_path / "work"),
        vexpr, n_bins=16, lo_q=0, hi_q=1_600_000_000,
    )
    vq = F.expr(vexpr)
    single = fixed_histogram(
        ev.filter(vq.isNotNull()), vq, 16, 0, 1_600_000_000
    )
    assert sorted(tuple(r) for r in grid.collect()) == sorted(
        tuple(r) for r in single.collect()
    )
    got_q = sorted(
        tuple(r)
        for r in histogram_quantiles(
            grid, [500_000, 990_000], 16, 0, 1_600_000_000
        ).collect()
    )
    want_q = sorted(
        tuple(r)
        for r in histogram_quantiles(
            single, [500_000, 990_000], 16, 0, 1_600_000_000
        ).collect()
    )
    assert got_q == want_q
    assert len(got_q) == 2


def test_rate_limit_stateful_multi_batch_hour_quota(spark, tmp_path):
    """Quota must hold ACROSS micro-batches: a user whose hour quota is
    consumed in batch 1 gets rejected in batch 2 for the same hour."""
    import datetime as dt

    from rat_strain_loader_pipeline_spark.streaming.events import (
        rate_limit_stateful,
    )

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    # batch file 1: user 1 fills hour 10 (2 events, quota 2)
    b1 = [(1, t0 + dt.timedelta(minutes=1), 1), (2, t0 + dt.timedelta(minutes=2), 1)]
    # batch file 2 (later ts): 2 more user-1 events in hour 10 (must be
    # rejected) and 1 in hour 11 (admitted); user 2 unaffected
    b2 = [
        (3, t0 + dt.timedelta(minutes=10), 1),
        (4, t0 + dt.timedelta(minutes=11), 1),
        (5, t0 + dt.timedelta(minutes=65), 1),
        (6, t0 + dt.timedelta(minutes=12), 2),
    ]
    schema = "event_id long, ts timestamp, user_id long"
    src = str(tmp_path / "src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = rate_limit_stateful(stream, per_hour=2)
    q = (
        out.writeStream.format("memory").queryName("rate_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {r["event_id"]: r["admit_rank"] for r in spark.table("rate_test").collect()}
    # NOTE: file order vs batch order — whichever file arrives first,
    # hour-10 admits exactly 2 user-1 events total, and events 5/6 pass
    u1_hour10 = [e for e in got if e in (1, 2, 3, 4)]
    assert len(u1_hour10) == 2
    assert got[5] == 1 and got[6] == 1
    assert all(r <= 2 for r in got.values())


def test_media_phash_gate_matches_batch_rule(spark, tmp_path):
    """Streamed 3-batch phash gate == the batch rule 'rejected iff a
    within-radius partner with smaller id exists', regardless of how
    items split across micro-batches."""
    from rat_strain_loader_pipeline_spark.operators.multimodal import (
        PHASH_BITS,
        dhash56,
        image_dhash_sigs,
        synth_bmp_textured,
    )
    from rat_strain_loader_pipeline_spark.streaming.media_gate import (
        phash_gate_available_now,
    )

    rows = []
    for mid in range(24):
        g, v = mid // 3, mid % 3
        w, h, s = 12 + (g % 8), 10 + (g % 5), (g * 53) % 256
        hot = ((3 * v) % w, (5 * v) % h) if v > 0 else (None, None)
        rows.append((mid, synth_bmp_textured(w, h, s, hot[0], hot[1])))

    src = str(tmp_path / "src")
    media = spark.createDataFrame(rows, "media_id long, content binary")
    for lo, hi, name in [(0, 8, "p0"), (8, 16, "p1"), (16, 24, "p2")]:
        media.filter(
            (F.col("media_id") >= lo) & (F.col("media_id") < hi)
        ).coalesce(1).write.parquet(f"{src}/{name}")

    got = {
        r["media_id"]: r["admitted"]
        for r in phash_gate_available_now(
            spark, src + "/p*", str(tmp_path / "work"),
            sig_fn=image_dhash_sigs, n_bits=PHASH_BITS, max_hamming=4,
        ).collect()
    }
    sigs = {mid: dhash56(c) for mid, c in rows}
    want = {
        mid: not any(
            bin(sigs[mid] ^ sigs[o]).count("1") <= 4 for o in sigs if o < mid
        )
        for mid in sigs
    }
    assert got == want
    assert sum(1 for v in want.values() if not v) >= 8  # gate actually rejects


def test_streaming_weighted_sample_equals_batch(spark, tmp_path, sf_dir):
    """Per-batch A-ES candidate sets merged by top-n must be
    bit-identical to the single-pass batch weighted sample (max-merge
    identity: priorities are content-only) — across a real multi-batch
    availableNow replay."""
    from rat_strain_loader_pipeline_spark.operators.sampling import weighted_sample
    from rat_strain_loader_pipeline_spark.streaming.sketches import (
        maintain_weighted_sample_available_now,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    src = str(tmp_path / "src")
    docs.repartition(5).write.parquet(src)
    got = maintain_weighted_sample_available_now(
        spark, src, "doc_id long, n_chars long", str(tmp_path / "work"),
        weight_col="n_chars", n=25, id_col="doc_id", salt="v1",
    )
    want = weighted_sample(docs, "n_chars", 25, id_col="doc_id", salt="v1")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    assert got.count() == 25


def test_cc_stream_ingest_equals_scratch(spark, tmp_path, sf_dir):
    """The component table maintained across micro-batches must equal
    scratch CC over the whole corpus after the replay."""
    from rat_strain_loader_pipeline_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from rat_strain_loader_pipeline_spark.streaming.dedup_gate import (
        cc_ingest_available_now,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    got = cc_ingest_available_now(
        spark, src, str(tmp_path / "work"), jaccard_threshold=0.5,
        max_files_per_trigger=1,
    )
    want = connected_components(minhash_lsh_pairs(docs, jaccard_threshold=0.5))
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )


def test_streaming_group_reservoir_equals_batch(spark, tmp_path, sf_dir):
    """Per-batch per-group A-ES candidates merged by per-group top-n
    must be bit-identical to the single-pass stratified sample."""
    from rat_strain_loader_pipeline_spark.operators.sampling import (
        group_weighted_sample,
    )
    from rat_strain_loader_pipeline_spark.streaming.sketches import (
        maintain_group_reservoir_available_now,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    src = str(tmp_path / "src")
    docs.repartition(5).write.parquet(src)
    got = maintain_group_reservoir_available_now(
        spark, src, "source string, doc_id long, n_chars long",
        str(tmp_path / "work"), group_col="source", weight_col="n_chars",
        n_per_group=5, id_col="doc_id", salt="v1",
    )
    want = group_weighted_sample(
        docs, "source", "n_chars", n_per_group=5, id_col="doc_id", salt="v1"
    )
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )


def test_ivf_pq_encode_ingest_batch_split_invariant(spark, sf_dir, tmp_path):
    """Streaming PQ-coded ingest: the merged code store is bit-identical
    to the one-shot frozen-model encode of the same rows at ANY batch
    split (encode is per-vector against static model state), and a
    second split produces the same store."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F
    from rat_strain_loader_pipeline_spark.operators.quantize import (
        ivf_pq_encode_batch,
    )
    from rat_strain_loader_pipeline_spark.sources.tables import read_table
    from rat_strain_loader_pipeline_spark.streaming.ann import (
        ivf_pq_encode_ingest_available_now,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    index_path = em._ivf_residual_even_index_path(spark, sf_dir)
    src = str(tmp_path / "src")
    odd.repartition(3).write.parquet(src)

    oneshot = sorted(
        tuple(r)
        for r in ivf_pq_encode_batch(
            spark, index_path, odd, dims=64, m=2
        ).collect()
    )
    for trig, name in ((1, "w1"), (2, "w2")):
        merged = ivf_pq_encode_ingest_available_now(
            spark, src, index_path, str(tmp_path / name),
            dims=64, m=2, max_files_per_trigger=trig,
        )
        got = sorted(tuple(r) for r in merged.collect())
        assert got == oneshot, f"split {trig}"
    assert len(oneshot) == odd.count() * 3  # 1 route + m=2 code rows


# -- every availableNow driver on an empty source ---------------------------


def _ts(minute):
    import datetime as dt

    return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minute)


def _run_driver(driver, spark, sf_dir, src, schema, work):
    """One call of the named driver over ``src`` (the cf2 driver streams
    CSV and takes no schema)."""
    import numpy as np

    import __spark_entry__ as em
    from rat_strain_loader_pipeline_spark.streaming import (
        ann,
        dedup_gate,
        events,
        ingest,
        media_gate,
        sketches,
    )

    if driver == "cms":
        return sketches.maintain_cms_available_now(spark, src, schema, work, "k", depth=2, width=8)
    if driver == "weighted_sample":
        return sketches.maintain_weighted_sample_available_now(
            spark, src, schema, work, weight_col="n_chars", n=1
        )
    if driver == "hist":
        return sketches.maintain_hist_available_now(
            spark, src, schema, work, "CAST(value AS BIGINT)", n_bins=4, lo_q=0, hi_q=8
        )
    if driver == "hll":
        return sketches.maintain_hll_available_now(spark, src, schema, work, "k", p=4)
    if driver == "group_reservoir":
        return sketches.maintain_group_reservoir_available_now(
            spark, src, schema, work, group_col="source", weight_col="n_chars", n_per_group=1
        )
    if driver == "ivf":
        return ann.ivf_ingest_available_now(spark, src, np.eye(2), work, schema=schema)
    if driver == "ivf_pq":
        return ann.ivf_pq_encode_ingest_available_now(
            spark, src, em._ivf_residual_even_index_path(spark, sf_dir), work,
            dims=64, m=2, schema=schema,
        )
    if driver == "dedup_gate":
        return dedup_gate.dedup_gate_available_now(spark, src, work, schema=schema)
    if driver == "cc":
        return dedup_gate.cc_ingest_available_now(spark, src, work, schema=schema)
    if driver == "phash":
        return media_gate.phash_gate_available_now(
            spark, src, work, sig_fn=lambda df: df.withColumnRenamed("h", "simhash"),
            n_bits=16, max_hamming=2, schema=schema,
        )
    if driver == "cf2":
        return ingest.ingest_cf2_available_now(
            spark, src, work, sample_id=7, gender="F", map_key=360
        )
    assert driver == "asof"
    clicks = spark.createDataFrame(
        [(100, 1, _ts(0), 1.0)], "event_id long, user_id long, ts timestamp, value double"
    )
    return events.asof_enrich_available_now(
        spark, src, clicks, on=["user_id"], ts_col="ts",
        payload={"event_id": "m_id", "value": "m_value"}, tiebreak="event_id",
        work_dir=work, schema=schema,
    )


_DOCS = [(1, "alpha beta gamma delta epsilon"), (2, "alpha beta gamma delta zeta")]
_VECS = [(1, [1.0, 0.0]), (2, [0.0, 1.0])]
# driver -> (source schema, a few source rows); the cf2 and ivf_pq sources
# are built in the test instead
_DRIVER_SOURCES = {
    "cms": ("k string", [("a",), ("b",)]),
    "weighted_sample": ("doc_id long, n_chars long", [(1, 5), (2, 7)]),
    "hist": ("value double", [(1.0,), (5.0,)]),
    "hll": ("k string", [("a",), ("b",)]),
    "group_reservoir": ("source string, doc_id long, n_chars long", [("x", 1, 5), ("y", 2, 7)]),
    "ivf": ("vec_id long, embedding array<double>", _VECS),
    "ivf_pq": ("vec_id long, embedding array<double>", None),
    "dedup_gate": ("doc_id long, text string", _DOCS),
    "cc": ("doc_id long, text string", _DOCS),
    "phash": ("media_id long, h long", [(1, 3), (2, 7)]),
    "cf2": (None, None),
    "asof": ("event_id long, user_id long, ts timestamp", [(1, 1, _ts(5))]),
}


@pytest.mark.parametrize("driver", sorted(_DRIVER_SOURCES))
def test_available_now_driver_empty_source(spark, tmp_path, sf_dir, driver):
    """Zero files in the source directory means zero micro-batches; every
    driver must still return a zero-row frame typed like its result on
    a non-empty source, never a missing-path error."""
    schema, rows = _DRIVER_SOURCES[driver]
    empty_src = tmp_path / "empty"
    empty_src.mkdir()
    empty = _run_driver(driver, spark, sf_dir, str(empty_src), schema, str(tmp_path / "w0"))

    if driver == "cf2":
        src = _cf2_dir(tmp_path)
    elif driver == "ivf_pq":
        src = str(tmp_path / "src")
        read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 4).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        ).write.parquet(src)
    else:
        src = str(tmp_path / "src")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    full = _run_driver(driver, spark, sf_dir, src, schema, str(tmp_path / "w1"))

    assert empty.count() == 0
    assert full.count() > 0
    assert empty.dtypes == full.dtypes
