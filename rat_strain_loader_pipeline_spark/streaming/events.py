"""Structured Streaming ingest (SURVEY.md §2.8).

The reference is batch-only (cron + shell loops); the natural streaming
surface for this engine is micro-batch ingest with:
- hourly tumbling-window aggregation with a watermark for late data
  (the streaming twin of __spark_entry__.q_events_hourly);
- dedup via dropDuplicatesWithinWatermark on the variant natural key —
  the streaming twin of the J4 upsert's in-batch dedup;
- stateful sessionizing and rate limiting, a stream-stream interval
  join, and stream-static as-of enrichment.

All transformations are identical DataFrame expressions to the batch
path — the queries compile to incremental plans under readStream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rat_strain_loader_pipeline_spark.streaming import (
    land_available_now,
    stream_parquet,
)


def stream_events(
    spark: SparkSession,
    path: str,
    schema: str = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ),
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of parquet event files."""
    return stream_parquet(spark, path, schema, max_files_per_trigger)


def hourly_event_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1h window per event_type with late-data watermark.

    Identical semantics to the batch q_events_hourly; under readStream
    Spark maintains incremental state and emits on watermark advance.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour"), "event_type", "n_events", "sum_value")
    )


def hourly_distinct_users(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """EXACT distinct users per tumbling hour, streaming. Structured
    Streaming forbids COUNT(DISTINCT), so the exact form is the
    two-stage identity the engine uses everywhere for exact distincts:
    dropDuplicates on (window, user) — keyed dedup state bounded by the
    watermark — then a plain count per window. Converges to the batch
    count(DISTINCT user_id) answer over a static replay (the oracle),
    unlike the approx_count_distinct shortcut the built-in suggests."""
    return (
        events.withWatermark("ts", watermark)
        .select(F.window("ts", "1 hour").alias("w"), "user_id")
        .dropDuplicates(["w", "user_id"])
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.col("w.start").alias("hour"), "n_users")
    )


def dedup_within_watermark(events: DataFrame, keys: list[str], watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup on a natural key — the streaming J4 analog."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


SESSION_STATE_SCHEMA = "start_us long, last_us long, n long"
SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)


def sessionize_stateful(
    events: DataFrame, gap_seconds: int = 1800, watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based session windows as a CUSTOM stateful streaming operator
    (applyInPandasWithState — the §2.8 extension surface beyond built-in
    windowed aggs).

    State per user = the one open session (start_ms, last_ms, n).
    A session closes as soon as an event arrives more than
    ``gap_seconds`` after the previous one (emitted immediately); idle
    sessions emit on EVENT-TIME TIMEOUT once the watermark passes
    last_event + gap, so state size stays bounded by active users, not
    history. Semantics match the batch sessionizer
    (__spark_entry__.q_events_sessionize): same gap rule, sessions
    counted per user.
    """
    import pandas as pd

    gap_us = int(gap_seconds) * 1_000_000

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                }
            )
            return
        ts: list = []
        for pdf in pdfs:
            ts.extend(pdf["ts"].tolist())
        ts.sort()
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = None, None, 0
        closed: list[tuple[int, int, int]] = []
        for t in ts:
            t_us = int(t.value // 1_000)  # keep microseconds — event
            # timestamps carry sub-millisecond precision
            if last_us is not None and t_us - last_us > gap_us:
                closed.append((start_us, last_us, n))
                start_us, n = None, 0
            if start_us is None:
                start_us = t_us
            last_us = t_us
            n += 1
        state.update((start_us, last_us, n))
        # timeout must sit beyond the current watermark (timeout API is ms)
        state.setTimeoutTimestamp(
            max((last_us + gap_us) // 1000, state.getCurrentWatermarkMs() + 1)
        )
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": key[0],
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                    "n_events": [c for _, _, c in closed],
                }
            )

    # the stateful fn reads only ts per user: prune BEFORE the state
    # shuffle so the exchange and the per-batch Arrow round trips carry
    # 2 columns, not the full event row (guide §4 — an opaque grouped
    # map defeats automatic pruning; measured interleaved: never
    # slower, up to 2.4 s faster per availableNow pass at sf0.1)
    return (
        events.select("user_id", "ts")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            SESSION_OUTPUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            "EventTimeTimeout",
        )
    )


def asof_enrich_available_now(
    spark: SparkSession,
    src_dir: str,
    right: DataFrame,
    on: list[str],
    ts_col: str,
    payload: dict[str, str],
    tiebreak: str,
    work_dir: str,
    schema: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream-static as-of enrichment: an AvailableNow file stream of
    left rows, each micro-batch point-in-time joined (operators/asof.py)
    against the STATIC right dimension via foreachBatch, appended to a
    parquet out dir.

    Because a row's match depends only on that row and the static right
    side, the output is batch-split-invariant — any maxFilesPerTrigger
    produces the same row set as the batch as-of join (the property the
    driver query's oracle checks value-exact across real multi-batch
    runs). This is the streaming twin of q_asof_join, the standard
    "attach latest dimension snapshot to each event" enrichment.
    """
    import os

    from rat_strain_loader_pipeline_spark.operators.asof import asof_join

    return land_available_now(
        stream_parquet(spark, src_dir, schema, max_files_per_trigger),
        lambda df: asof_join(
            df, right, on=on, ts_col=ts_col, payload=payload, tiebreak=tiebreak
        ),
        os.path.join(work_dir, "out"),
        os.path.join(work_dir, "checkpoint"),
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    max_lag_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner interval join: each left event pairs with
    the same key's right events arriving in [left.ts, left.ts + lag].
    Both sides are watermarked and the join carries the event-time
    range condition, so Spark bounds BOTH state stores: a buffered left
    row is dropped once the right watermark passes its ts + lag, and a
    right row once the left watermark passes its ts — the
    state-cleanup contract that makes the join runnable forever at
    100 TB/day (an unconstrained stream-stream join would buffer both
    streams in full).

    Inner-join results are independent of the watermark (it governs
    state eviction, not emission), so under an availableNow replay the
    output equals the batch interval join — the property the DuckDB
    oracle checks value-exact.

    Returns (a_id, b_id, key, lag_s) with lag_s in whole seconds.
    """
    a = left.select(
        F.col("event_id").alias("a_id"),
        F.col(key).alias("k"),
        F.col("ts").alias("a_ts"),
    ).withWatermark("a_ts", watermark)
    b = right.select(
        F.col("event_id").alias("b_id"),
        F.col(key).alias("k"),
        F.col("ts").alias("b_ts"),
    ).withWatermark("b_ts", watermark)
    joined = a.join(
        b,
        (a["k"] == b["k"])
        & (F.col("b_ts") >= F.col("a_ts"))
        & (
            F.col("b_ts")
            <= F.col("a_ts") + F.expr(f"INTERVAL {int(max_lag_minutes)} MINUTES")
        ),
        "inner",
    )
    return joined.select(
        "a_id",
        "b_id",
        a["k"].alias("key"),
        # integer div: operands non-negative, so truncation == floor in
        # both engines (DuckDB oracle uses //)
        F.expr(
            "(unix_micros(b_ts) - unix_micros(a_ts)) div 1000000"
        ).alias("lag_s"),
    )


RATE_OUTPUT_SCHEMA = (
    "user_id long, event_id long, ts timestamp, hour long, admit_rank long"
)
RATE_STATE_SCHEMA = "hours array<long>, counts array<long>"


def rate_limit_stateful(
    events: DataFrame,
    per_hour: int = 5,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-key event-time rate limiting as the second CUSTOM stateful
    operator (applyInPandasWithState): admit at most ``per_hour``
    events per user per tumbling event-time hour — the quota gate an
    ingest runs against scrapers/hot keys. State per user = the
    (hour, admitted_count) pairs still above the watermark, pruned on
    every invocation and dropped entirely by event-time timeout one
    hour past the newest state — bounded by active keys x active
    hours, never history.

    Within an invocation events sort by (ts, event_id), so with the
    per-hour arrival ordered across batches (or a single availableNow
    batch — the driver query's setup, same as the sessionizer) the
    admitted set equals the batch rule: row_number over (user, hour
    ordered by ts, event_id) <= per_hour, which is what the DuckDB
    oracle checks value-exact. Emits admitted events only.
    """
    import pandas as pd

    hour_us = 3_600_000_000

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        rows: list[tuple[int, int]] = []  # (ts_us, event_id)
        for pdf in pdfs:
            for t, eid in zip(pdf["ts"].tolist(), pdf["event_id"].tolist()):
                rows.append((int(t.value // 1_000), int(eid)))
        rows.sort()
        if state.exists:
            hours, counts = state.get
            quota = dict(zip(hours, counts))
        else:
            quota = {}
        out_u, out_e, out_t, out_h, out_r = [], [], [], [], []
        for ts_us, eid in rows:
            h = ts_us // hour_us
            c = quota.get(h, 0)
            if c < per_hour:
                quota[h] = c + 1
                out_u.append(key[0])
                out_e.append(eid)
                out_t.append(pd.Timestamp(ts_us, unit="us"))
                out_h.append(h)
                out_r.append(c + 1)
            else:
                quota[h] = c  # hour stays tracked even when saturated
        # prune hours fully below the watermark — they can never admit
        # or reject a future in-order event
        wm_hour = state.getCurrentWatermarkMs() * 1000 // hour_us
        quota = {h: c for h, c in quota.items() if h >= wm_hour}
        hs = sorted(quota)
        state.update((hs, [quota[h] for h in hs]))
        state.setTimeoutTimestamp(
            max(
                ((hs[-1] + 2) * hour_us) // 1000 if hs else 0,
                state.getCurrentWatermarkMs() + 1,
            )
        )
        if out_e:
            yield pd.DataFrame(
                {
                    "user_id": out_u,
                    "event_id": out_e,
                    "ts": out_t,
                    "hour": out_h,
                    "admit_rank": out_r,
                }
            )

    # prune to the columns the quota fn reads (same rationale as
    # sessionize_stateful; a wash at sf0.1 — the output side dominates
    # its Arrow volume — but strictly fewer bytes through the state
    # exchange at any scale)
    return (
        events.select("user_id", "ts", "event_id")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            RATE_OUTPUT_SCHEMA,
            RATE_STATE_SCHEMA,
            "append",
            "EventTimeTimeout",
        )
    )
