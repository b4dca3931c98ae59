"""Streaming queries for the driver inventory — each runs a REAL
Structured Streaming query (readStream -> stateful op -> memory sink,
availableNow trigger) over the fixture events table and returns the
drained result.

Oracle-gated (round 2): over a bounded single-file input the drained
result is deterministic, so each query's final state IS expressible as
batch SQL — append-mode windows are those finalized by the terminal
watermark (window_end <= max(ts) - delay), session windows are
gaps-and-islands with the half-open `diff >= gap` break, dedup over
unique keys is COUNT(DISTINCT), and the custom stateful totals
degenerate to per-key aggregates.  The *incremental* semantics the
oracle can't see (multi-batch state carry, late-row drops, eviction)
are exact-value-asserted on hand-built timelines in
tests/test_streaming.py.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import functions as F

from eventbridge_etl_spark.operators.rounding import (
    decimal_sum,
    half_up_div,
    half_up_div_sql,
)
from eventbridge_etl_spark.queries import query
from eventbridge_etl_spark.queries._sqlfrag import ROLLUP_RECOMPUTE_ORACLE
from eventbridge_etl_spark.sources.tables import load_tables
from eventbridge_etl_spark.streaming.file_pipeline import (
    dedup_within_watermark,
    sessionize,
    windowed_counts,
)


def _event_stream(spark, sf_dir):
    """events.parquet as a bounded stream (ns->us ts conversion as in
    sources.tables)."""
    batch = load_tables(spark, sf_dir, ("events",))["events"]
    from eventbridge_etl_spark.sources.tables import _read_parquet

    raw_schema = _read_parquet(spark, f"{sf_dir}/events.parquet").schema
    # the fixture table is a single file; the streaming file source wants
    # a directory, so scope the parent dir with a glob filter
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_dt = dict(stream.dtypes).get("ts")
    if ts_dt == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_dt == "timestamp_ntz":
        # watermarks require LTZ; UTC session zone keeps values identical
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    assert stream.schema == batch.schema
    return stream


def _drain(df, mode="append"):
    import shutil

    name = "q_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="ssq_ckpt_")
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        # awaitTermination returns False on timeout — proceeding would
        # silently read a PARTIAL memory sink while the query races on
        # (review finding r6); fail loudly instead
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                f"streaming drain {name!r} did not finish within 300s"
            )
    finally:
        # the memory sink lives in the driver; the checkpoint is only
        # needed while the query runs — reclaim it (review r6: each
        # drain leaked a state-store dir per invocation)
        shutil.rmtree(ckpt, ignore_errors=True)
    return df.sparkSession.sql(f"select * from {name}")


@query(
    "streaming_hourly_windows",
    oracle="""
    WITH w AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             COUNT(*) AS n_events,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
               AS sum_value
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
           event_type, n_events, sum_value
    FROM w
    WHERE window_start + INTERVAL 1 HOUR
          <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
    """,
)
def streaming_hourly_windows(spark, sf_dir):
    """Watermarked tumbling-window rollup executed as a streaming query
    (state-store aggregation, append-mode finalized windows).  The
    oracle states the append contract over bounded input: exactly the
    windows whose end precedes the terminal watermark (max event time -
    2 h) are emitted — the trailing windows stay in state and must NOT
    appear."""
    agg = windowed_counts(
        _event_stream(spark, sf_dir), window_duration="1 hour", watermark="2 hours"
    )
    return _drain(agg)


@query(
    "streaming_dedup",
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_events
    FROM events GROUP BY event_type
    """,
)
def streaming_dedup(spark, sf_dir):
    """dropDuplicatesWithinWatermark over the event stream (bounded
    dedup state), counted per event_type after drain.  Oracle: the
    fixture's event_ids are unique and any replays would land within the
    watermark, so the survivor count per type equals
    COUNT(DISTINCT event_id); the watermark-expiry behavior itself
    (dups beyond the horizon passing through) is timeline-asserted in
    tests/test_streaming.py."""
    dd = dedup_within_watermark(
        _event_stream(spark, sf_dir), ["event_id"], watermark="1 hour"
    )
    out = _drain(dd)
    return out.groupBy("event_type").agg(F.count("*").alias("n_events"))


@query(
    "streaming_sessionize",
    oracle="""
    WITH t AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      -- an event without a time belongs to no session window (Spark's
      -- session_window generates zero rows for a NULL ts)
      FROM events WHERE ts IS NOT NULL
    ),
    s AS (
      SELECT user_id,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM t
    ),
    g AS (SELECT user_id, sid, COUNT(*) AS n_events FROM s GROUP BY 1, 2)
    SELECT user_id, COUNT(*) AS n_sessions,
           -- exact 4dp integer-ratio mean (HALF_UP in 1e-4 units): the
           -- native ROUND(AVG(int), 4) is the measured divergent class
           -- (operators/rounding.py; review finding, round 8)
           CAST(CAST({avg4} AS DECIMAL(32,0)) * 0.0001::DECIMAL(5,4)
                AS DOUBLE) AS avg_events_per_session
    FROM g GROUP BY user_id
    """.format(avg4=half_up_div_sql("SUM(n_events) * 10000", "COUNT(*)")),
)
def streaming_sessionize(spark, sf_dir):
    """Session-window aggregation (30 min gap) as a streaming query;
    returns per-user session count + mean session size.  Oracle: the
    batch gaps-and-islands equivalent — a session breaks when the gap
    reaches 30 min (session windows are half-open [start, last+gap),
    hence >=)."""
    sess = sessionize(_event_stream(spark, sf_dir), gap="30 minutes", watermark="4 hours")
    out = _drain(sess, mode="complete")
    # exact 4dp integer-ratio mean — see the oracle note (review, r8)
    avg4 = half_up_div(F.sum("n_events") * F.lit(10_000), F.count(F.lit(1)))
    return out.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        (avg4.cast("decimal(32,0)") * F.lit("0.0001").cast("decimal(5,4)"))
        .cast("double")
        .alias("avg_events_per_session"),
    )


@query(
    "streaming_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, COUNT(*) AS n_clicks
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
)
def streaming_interval_join(spark, sf_dir):
    """Stream-stream event-time interval join (streaming/join.py): each
    purchase matched to the same user's clicks within a 30-minute
    lookback, both sides watermarked so join state stays bounded by the
    interval.  Over bounded input the inner join's match set is
    deterministic (watermarks govern state eviction, not inner-match
    emission), so the oracle is the batch interval join with the
    identical inclusive bounds; multi-batch eviction behavior is
    timeline-asserted in tests/test_streaming.py."""
    from eventbridge_etl_spark.streaming.join import interval_join_streams

    ev = _event_stream(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    clicks = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts"))
    )
    joined = interval_join_streams(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="p_ts",
        right_ts="c_ts",
        lookback="30 minutes",
        left_watermark="2 hours",
        right_watermark="2 hours",
    )
    out = _drain(joined)
    return out.groupBy("purchase_id").agg(F.count("*").alias("n_clicks"))


@query(
    "streaming_running_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           -- decimal-sum then round: the raw-double ROUND(SUM(value),2)
           -- violated the suite's decimal_sum contract (accumulation
           -- order + shortest-string HALF_UP vs scaled-binary at x.xx5
           -- edges; review finding, round 8)
           CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
             AS sum_value,
           COALESCE(MAX(epoch_us(ts)), 0) AS max_ts_us,
           TRUE AS state_sum_ok
    -- null keys are excluded by contract (applyInPandasWithState
    -- drops the null group; the operator filters them explicitly)
    FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    """,
)
def streaming_running_totals(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user
    running (count, sum, max-event-time) state carried across
    micro-batches; returns the final update per user.  Oracle parity:
    n_events / max_ts_us are exact integers; sum_value is the ENGINE
    batch sum at 2 dp (same contract every other float agg in the suite
    uses); the Python-float state accumulation — whose ordering differs
    from any SQL engine — is asserted via the epsilon-banded boolean
    ``state_sum_ok`` (the agg_approx_percentile pattern) instead of a
    rounding-boundary-flaky value compare.  Cross-batch state carry is
    exact-asserted on hand-built timelines in tests/test_streaming.py."""
    from eventbridge_etl_spark.streaming.stateful import running_totals

    ev = _event_stream(spark, sf_dir).select(
        "user_id",
        "value",
        (F.unix_micros(F.col("ts"))).alias("ts_us"),
    )
    out = _drain(running_totals(ev), mode="update")
    # final update per user (largest n_events wins; dedup via max_by)
    final = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_value", "n_events").alias("_state_sum"),
        F.max("max_ts_us").alias("max_ts_us"),
    )
    exact = (
        load_tables(spark, sf_dir, ("events",))["events"]
        .groupBy("user_id")
        .agg(
            F.sum("value").alias("_batch_sum"),
            # published 2dp value rides the decimal_sum contract (order-
            # free, exact HALF_UP) — see the oracle note (review, r8)
            F.round(F.sum(F.col("value").cast("decimal(28,6)")), 2)
            .cast("double")
            .alias("_pub_sum"),
        )
    )
    tol = F.greatest(F.lit(1.0), F.abs(F.col("_batch_sum"))) * 1e-9
    return final.join(exact, "user_id").select(
        "user_id",
        "n_events",
        F.col("_pub_sum").alias("sum_value"),
        "max_ts_us",
        (F.abs(F.col("_state_sum") - F.col("_batch_sum")) <= tol).alias("state_sum_ok"),
    )


@query("streaming_rollup_merge", oracle=ROLLUP_RECOMPUTE_ORACLE)
def streaming_rollup_merge(spark, sf_dir):
    """The continuous aggregate (streaming/rollup.py) driver-gated: the
    events table lands as TWO files, each processed in its own
    micro-batch (maxFilesPerTrigger=1), so the second epoch genuinely
    MERGES into the first's state — and the terminal state must equal
    the batch full recompute, which is exactly the oracle.  The
    decimal-state design makes the result independent of how the input
    was split into epochs."""
    import os

    from eventbridge_etl_spark.operators.incremental import publish_rollup
    from eventbridge_etl_spark.streaming.rollup import (
        make_rollup_sink,
        read_rollup_state,
    )

    ev = load_tables(spark, sf_dir, ("events",))["events"].select(
        "ts", "event_type", "value"
    )
    work = tempfile.mkdtemp(prefix="roll_")
    landing = os.path.join(work, "landing")
    # split on a stable expression of the projected columns so the two
    # halves are deterministic regardless of row order; coalesce both
    # terms — a NULL event_type or ts would NULL the whole expression,
    # fail BOTH half-predicates, and silently drop the row from the
    # landing zone (r7 adversarial finding: 44 null-type groups vanished)
    half = F.crc32(F.coalesce(F.col("event_type"), F.lit("\x00")).cast("string")) + F.coalesce(
        F.unix_micros("ts"), F.lit(0)
    )
    # pmod, not %: Spark's % takes the dividend's sign, so a negative
    # half (pre-epoch unix_micros outweighs crc32) gave -1 — matching
    # NEITHER predicate and silently dropping the row from the landing
    # zone, the same vanish class as the null-coalesce above (review
    # finding, round 8; fired on the timeshift surface's 1969 rows)
    ev.filter(F.pmod(half, F.lit(2)) == 0).coalesce(1).write.parquet(
        os.path.join(landing, "a")
    )
    ev.filter(F.pmod(half, F.lit(2)) == 1).coalesce(1).write.parquet(
        os.path.join(landing, "b")
    )
    state_dir = os.path.join(work, "state")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(landing)
    )
    q = (
        stream.writeStream.foreachBatch(make_rollup_sink(state_dir))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("rollup drain did not finish within 300s")
    state = read_rollup_state(spark, state_dir)
    if state is None:
        raise RuntimeError(
            f"no committed rollup epoch in {state_dir!r} — the "
            "foreachBatch sink never reached its first _SUCCESS"
        )
    # NB: state is a LAZY reader over state_dir — the work dir must
    # outlive the returned frame, so no cleanup here
    return publish_rollup(state)


@query(
    "streaming_ewma_smoothing",
    oracle="""
    WITH RECURSIVE ordered AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             CAST(floor(COALESCE(value, 0) * 100 + 0.5) AS BIGINT) AS x
      -- null keys dropped by the stateful-operator contract; a null
      -- event time (or event_id — half the ordering contract) has no
      -- position in the order-dependent recurrence
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                    AND event_id IS NOT NULL
    ),
    rec AS (
      SELECT user_id, rn, x AS ew FROM ordered WHERE rn = 1
      UNION ALL
      -- exact integer FLOOR division (DuckDB // truncates toward
      -- zero, so correct for the negative numerator): matches the
      -- engine's Python // at any magnitude, where the previous
      -- floor(double/4.0) form lost integer exactness above 2^53
      SELECT o.user_id, o.rn,
             CAST((o.x + 3 * r.ew) // 4
                  - CASE WHEN (o.x + 3 * r.ew) % 4 <> 0
                          AND (o.x + 3 * r.ew) < 0
                         THEN 1 ELSE 0 END AS BIGINT)
      FROM rec r JOIN ordered o
        ON o.user_id = r.user_id AND o.rn = r.rn + 1
    ),
    fin AS (SELECT user_id, MAX(rn) AS n FROM ordered GROUP BY user_id)
    SELECT r.user_id, f.n AS n_events, r.ew AS ewma_scaled
    FROM rec r JOIN fin f ON f.user_id = r.user_id AND r.rn = f.n
    """,
)
def streaming_ewma_smoothing(spark, sf_dir):
    """Custom stateful EWMA (alpha=1/4) per user over the event stream
    (streaming/stateful.py:ewma_smoothing): the recursion runs on
    scaled integers with floor division, so the drained terminal state
    matches a recursive-CTE replay of the same (ts, event_id)-ordered
    recurrence BIT-FOR-BIT — a value-exact oracle for a custom
    stateful streaming operator, not an epsilon band."""
    from eventbridge_etl_spark.streaming.stateful import ewma_smoothing

    ev = _event_stream(spark, sf_dir).select(
        "user_id",
        "value",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
    )
    out = _drain(ewma_smoothing(ev), mode="update")
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("ewma_scaled", "n_events").alias("ewma_scaled"),
    )


@query(
    "streaming_enriched_windows",
    oracle="""
    WITH e AS (
      SELECT ev.ts, c.c_mktsegment AS segment, ev.value
      FROM events ev LEFT JOIN customer c ON c.c_custkey = ev.user_id
    ),
    w AS (
      SELECT date_trunc('hour', ts) AS window_start, segment,
             COUNT(*) AS n_events,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
               AS sum_value
      FROM e GROUP BY 1, 2
    )
    SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
           segment, n_events, sum_value
    FROM w
    WHERE window_start + INTERVAL 1 HOUR
          <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
    """,
)
def streaming_enriched_windows(spark, sf_dir):
    """Stream-static broadcast enrichment (streaming/enrich.py) feeding
    a watermarked tumbling-window rollup: the event stream left-joins
    the customer dimension per micro-batch (map-only broadcast — no
    stream shuffle before the window agg), then counts per (hour,
    market segment) in append mode.  Oracle: the batch join plus the
    finalized-window contract (window_end <= max(ts) - 2 h); unmatched
    users keep their events with a null segment."""
    from eventbridge_etl_spark.streaming.enrich import enrich_with_dimension

    dim = load_tables(spark, sf_dir, ("customer",))["customer"].select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment")
    )
    enriched = enrich_with_dimension(_event_stream(spark, sf_dir), dim, ["user_id"])
    agg = (
        enriched.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            decimal_sum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "segment",
            "n_events",
            "sum_value",
        )
    )
    return _drain(agg)
