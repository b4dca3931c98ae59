"""Time-series and product-analytics queries over the events table:
hourly gap-fill resampling, rolling z-score anomalies, OHLC bars,
counter increase, ordered funnel, cohort retention, path trigrams,
incremental rollup merging, Z-order clustering keys, and IQR outlier
screening.

Oracles replicate the exact algorithms (decimal running sums, max_by
last-observation semantics, integer period arithmetic, generated
bitwise SQL) so both engines hash-match; see operators/timeseries.py,
operators/funnel.py, operators/incremental.py, and operators/zorder.py
for the scale rationale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from eventbridge_etl_spark.operators.funnel import funnel_counts, retention_cohorts
from eventbridge_etl_spark.operators.rounding import decimal_sum, half_up_div_sql
from eventbridge_etl_spark.operators.timeseries import (
    counter_increase,
    gap_fill_hourly,
    ohlc_bars,
    rolling_zscore,
    sessionize,
)
from eventbridge_etl_spark.queries import query
from eventbridge_etl_spark.queries._sqlfrag import ROLLUP_RECOMPUTE_ORACLE
from eventbridge_etl_spark.sources.tables import load_tables


def _events(spark, sf_dir):
    return load_tables(spark, sf_dir, ("events",))["events"]


def _sum2(col: str):
    """Shared cross-engine 2dp sum (operators/rounding.py::decimal_sum)
    under this module's standard output name."""
    return decimal_sum(col).alias("sum_value")


@query(
    "events_gap_fill",
    oracle="""
    WITH bounds AS (
      SELECT user_id,
             date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1
      FROM events GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM bounds
    ),
    obs AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             COUNT(*) AS n_events,
             -- struct-wrapped arg_max: bare arg_max SKIPS rows whose
             -- value is NULL, silently substituting an older
             -- observation; the engine's max_by faithfully reports the
             -- latest observation's NULL (r7 adversarial finding)
             arg_max(struct_pack(v := value),
                     lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                     || lpad(CAST(event_id AS VARCHAR), 20, '0')).v
               AS last_value
      FROM events GROUP BY 1, 2
    )
    SELECT g.user_id, g.hour,
           COALESCE(o.n_events, 0) AS n_events,
           o.last_value AS last_value,
           last_value(o.last_value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM grid g LEFT JOIN obs o USING (user_id, hour)
    """,
)
def events_gap_fill(spark, sf_dir):
    """Hourly resample + forward-fill per user.  No arithmetic touches
    the carried value (``max_by`` passes the stored double through), so
    the fill is bit-identical across engines."""
    return gap_fill_hourly(_events(spark, sf_dir))


@query(
    "events_anomaly_zscore",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, value,
             COUNT(value) OVER w AS n,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS s1,
             CAST(SUM(CAST(value * value AS DECIMAL(38,6))) OVER w AS DOUBLE)
               AS s2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ),
    m AS (
      SELECT user_id, ts, value, n,
             s1 / n AS mean,
             sqrt(greatest((s2 - s1 * s1 / n) / greatest(n - 1, 1), 0)) AS std
      FROM s
    )
    SELECT user_id, ts, value,
           CASE WHEN n >= 10 AND std > 0
                THEN ROUND((value - mean) / std, 4) END AS zscore,
           COALESCE(n >= 10 AND std > 0
                    AND abs((value - mean) / std) > 3.0, FALSE) AS is_anomaly
    FROM m
    """,
)
def events_anomaly_zscore(spark, sf_dir):
    """Trailing-20-row z-score anomaly flags per user.  The oracle
    replicates the decimal-sum trick: windowed DOUBLE summation is
    engine-order-dependent (DuckDB segment tree vs Spark streaming
    frame), decimal summation is exact either way."""
    return rolling_zscore(_events(spark, sf_dir))


@query(
    "events_ohlc_hourly",
    oracle="""
    WITH k AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket, value,
             lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
               || lpad(CAST(event_id AS VARCHAR), 20, '0') AS ok
      FROM events
    )
    SELECT event_type, bucket,
           -- struct-wrapped arg_min/arg_max: the bare forms SKIP rows
           -- with a NULL value, substituting a neighboring observation
           -- for open/close; the engine's min_by/max_by report the
           -- true chronological endpoints, null value and all
           arg_min(struct_pack(v := value), ok).v AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(struct_pack(v := value), ok).v AS close,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
             AS volume
    FROM k GROUP BY event_type, bucket
    """,
)
def events_ohlc_hourly(spark, sf_dir):
    """Hourly OHLC downsampling per event type — open/close picked by
    the portable fixed-width (epoch_micros, id) string key
    (operators/timeseries.ohlc_bars)."""
    return ohlc_bars(_events(spark, sf_dir))


@query(
    "events_counter_increase",
    oracle="""
    WITH d AS (
      -- PromQL increase() skips missing samples: deltas over
      -- consecutive NON-NULL observations (operator contract, r7)
      SELECT user_id,
             value - lag(value) OVER (PARTITION BY user_id
                                      ORDER BY ts NULLS FIRST, event_id) AS d
      FROM events WHERE value IS NOT NULL
    )
    SELECT user_id,
           COUNT(*) AS n_obs,
           CAST(ROUND(SUM(CAST(CASE WHEN d > 0 THEN d ELSE 0.0 END
                               AS DECIMAL(28,6))), 4) AS DOUBLE)
             AS total_increase,
           COUNT(CASE WHEN d < 0 THEN 1 END) AS n_resets
    FROM d GROUP BY user_id
    """,
)
def events_counter_increase(spark, sf_dir):
    """PromQL-style increase(): per-user positive-delta sum with reset
    handling (operators/timeseries.counter_increase)."""
    return counter_increase(_events(spark, sf_dir))


@query(
    "events_sessionize",
    oracle="""
    WITH t AS (
      SELECT user_id, ts, value, event_id,
             epoch_us(ts) // 1000000 AS ep
      FROM events
    ),
    g AS (
      SELECT *, CASE WHEN ep - lag(ep) OVER w IS NULL
                       OR ep - lag(ep) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
    ),
    s AS (
      SELECT *, CAST(SUM(is_new) OVER (
        PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS session_seq
      FROM g
    )
    SELECT user_id, session_seq,
           min(ts) AS session_start,
           max(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(max(ep) - min(ep) AS BIGINT) AS duration_secs,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 4) AS DOUBLE)
             AS sum_value
    FROM s GROUP BY user_id, session_seq
    """,
)
def events_sessionize(spark, sf_dir):
    """Batch gap-based sessionization, 30-minute inactivity gap —
    single-shuffle lag/cumsum/aggregate chain
    (operators/timeseries.sessionize); whole-second epoch arithmetic on
    both engines (Spark unix_timestamp truncation == epoch_us div 1e6)."""
    return sessionize(_events(spark, sf_dir), gap_seconds=1800)


@query(
    "events_funnel_conversion",
    oracle="""
    WITH s1 AS (
      -- a funnel requires an identity: null-user rows excluded (the
      -- operator filters them; one anonymous pseudo-user is not a
      -- user).  ts IS NOT NULL: a user whose EVERY view has a null
      -- timestamp has no step-1 time — the engine's
      -- step_1_ts IS NOT NULL filter drops them, while a bare
      -- min(ts)=NULL row would still be counted here (review, r8)
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' AND user_id IS NOT NULL
        AND ts IS NOT NULL
      GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT 1 AS step, 'view' AS step_name, (SELECT COUNT(*) FROM s1) AS n_users
    UNION ALL
    SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
    UNION ALL
    SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
    """,
)
def events_funnel_conversion(spark, sf_dir):
    """Ordered view -> click -> purchase funnel: users sequentially
    reaching each step (operators/funnel.funnel_counts)."""
    return funnel_counts(_events(spark, sf_dir))


@query(
    "events_retention_cohorts",
    oracle="""
    WITH f AS (
      SELECT user_id,
             ((epoch_us(min(ts)) // 1000000) // 604800) * 604800 AS cohort_epoch
      FROM events GROUP BY user_id
    )
    SELECT make_timestamp(f.cohort_epoch * 1000000) AS cohort_start,
           ((epoch_us(e.ts) // 1000000) - f.cohort_epoch) // 604800 AS period_offset,
           COUNT(DISTINCT e.user_id) AS n_active
    FROM events e JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark, sf_dir):
    """Weekly cohort retention matrix, epoch-aligned period arithmetic
    (operators/funnel.retention_cohorts)."""
    return retention_cohorts(_events(spark, sf_dir))


@query(
    "events_path_trigrams",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lag(event_type, 1) OVER w AS p1,
             lag(event_type, 2) OVER w AS p2
      FROM events
      -- null labels dropped pre-lag on both sides (same contract as
      -- transition_edges): Spark's null-skipping concat_ws would
      -- otherwise fabricate 2-part "trigrams" where the oracle's
      -- null-propagating || yields NULL paths
      WHERE event_type IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
    )
    SELECT p2 || '>' || p1 || '>' || event_type AS path, COUNT(*) AS n
    FROM s WHERE p2 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT 25
    """,
)
def events_path_trigrams(spark, sf_dir):
    """Most common 3-step event sequences (path analysis): one lag
    window per user (single shuffle on the key), map-side-combined
    count, TakeOrderedAndProject top-k with a deterministic
    (count desc, path asc) tie-break."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).filter(F.col("event_type").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type"),
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    ).filter(F.col("p2").isNotNull())
    return (
        s.select(
            F.concat_ws(">", "p2", "p1", "event_type").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(25)
    )


@query("rollup_incremental_merge", oracle=ROLLUP_RECOMPUTE_ORACLE)
def rollup_incremental_merge(spark, sf_dir):
    """Incremental-maintenance correctness gate: the rollup built from
    the first 20 days MERGED with the last 10 days' raw delta must
    equal the full recompute bitwise (decimal-state sums make merge
    order irrelevant) — the oracle IS the full recompute
    (operators/incremental)."""
    from eventbridge_etl_spark.operators.incremental import (
        hourly_rollup_state,
        merge_rollup_state,
        publish_rollup,
    )

    ev = _events(spark, sf_dir)
    split = F.lit("2024-01-21").cast("timestamp")
    prev = hourly_rollup_state(ev.filter(F.col("ts") < split))
    merged = merge_rollup_state(prev, ev.filter(F.col("ts") >= split))
    return publish_rollup(merged)


def _morton_sql(a: str, b: str, bits: int = 8) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@query(
    "zorder_events_cluster",
    oracle=f"""
    WITH k AS (
      SELECT event_id,
             user_id AS a,
             CAST(least(greatest(floor(value), 0), 255) AS BIGINT) AS b
      FROM events
    )
    SELECT event_id, a, b, {_morton_sql('a', 'b')} AS zv
    FROM k
    -- NULLS FIRST: a null user_id makes zv null; Spark's ASC default
    -- sorts nulls first, so they must make the top-200 cut here too
    ORDER BY zv NULLS FIRST, event_id
    LIMIT 200
    """,
)
def zorder_events_cluster(spark, sf_dir):
    """Morton (Z-order) clustering key over (user_id, value-bucket) —
    the bit-interleave is pure JVM bitwise expressions
    (operators/zorder.interleave_bits); the write-side payoff (footer
    min/max pruning on BOTH dimensions) is measured from real parquet
    statistics in tests/test_zorder.py."""
    from eventbridge_etl_spark.operators.zorder import interleave_bits

    ev = _events(spark, sf_dir)
    a = F.col("user_id")
    b = F.least(
        F.greatest(F.floor("value").cast("long"), F.lit(0)), F.lit(255)
    )
    return (
        ev.select(
            "event_id", a.alias("a"), b.alias("b"),
            interleave_bits(a, b, 8).alias("zv"),
        )
        .orderBy("zv", "event_id")
        .limit(200)
    )


@query(
    "events_outlier_iqr",
    oracle="""
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY event_type
    ),
    f AS (
      SELECT event_type, q1, q3,
             q1 - 1.5 * (q3 - q1) AS lo,
             q3 + 1.5 * (q3 - q1) AS hi
      FROM q
    )
    SELECT e.event_type,
           ROUND(f.q1, 4) AS q1,
           ROUND(f.q3, 4) AS q3,
           COUNT(*) AS n_events,
           COUNT(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 END)
             AS n_outliers,
           MIN(CASE WHEN e.value < f.lo OR e.value > f.hi THEN e.value END)
             AS min_outlier,
           MAX(CASE WHEN e.value < f.lo OR e.value > f.hi THEN e.value END)
             AS max_outlier
    FROM events e JOIN f USING (event_type)
    GROUP BY e.event_type, f.q1, f.q3
    """,
)
def events_outlier_iqr(spark, sf_dir):
    """Tukey-fence outlier screen per event type: exact interpolated
    quartiles (type-cardinality agg, broadcast back), fences at
    1.5×IQR, outlier counts + extremes in one second pass.  The fence
    arithmetic is pure double ops on identical quartile values, so
    both engines agree bitwise; at 100 TB swap the exact percentile
    for approx_percentile (mergeable t-digest) per the agg_percentiles
    note."""
    ev = _events(spark, sf_dir)
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    f = q.select(
        "event_type", "q1", "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    is_out = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    return (
        ev.join(F.broadcast(f), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(is_out, 1)).alias("n_outliers"),
            F.min(F.when(is_out, F.col("value"))).alias("min_outlier"),
            F.max(F.when(is_out, F.col("value"))).alias("max_outlier"),
        )
        .select(
            "event_type",
            F.round("q1", 4).alias("q1"),
            F.round("q3", 4).alias("q3"),
            "n_events", "n_outliers", "min_outlier", "max_outlier",
        )
    )


@query(
    "agg_correlation",
    oracle="""
    WITH p AS (
      -- json_valid + TRY_CAST: malformed props must degrade to NULL k
      -- exactly like Spark's get_json_object + try-ish cast, never
      -- crash the oracle (r7 adversarial fixture)
      SELECT event_type, value,
             TRY_CAST(CASE WHEN json_valid(props)
                           THEN json_extract_string(props, '$.k') END
                      AS INTEGER) AS k
      FROM events
    ),
    t AS (
      -- NULLS FIRST: Spark ranks nulls first on ASC (its default);
      -- DuckDB defaults NULLS LAST — alignment matters once null
      -- values/k exist
      SELECT event_type, value, k,
             rank() OVER (PARTITION BY event_type
                          ORDER BY value NULLS FIRST) AS rv,
             rank() OVER (PARTITION BY event_type
                          ORDER BY k NULLS FIRST) AS rk
      FROM p
    )
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(corr(value, k), 6) AS pearson,
           ROUND(corr(rv, rk), 6) AS spearman_minrank
    FROM t GROUP BY event_type
    """,
)
def agg_correlation(spark, sf_dir):
    """Correlation surface per event type: Pearson on the raw pair
    (rounded — float summation order differs across engines) and a
    rank correlation on min-ranks (Spearman's formula with rank() tie
    handling — rank sums are integer-valued doubles below 2^53, so the
    rank statistic is EXACT cross-engine).  One window family + one
    aggregate, both on the same type partitioning."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    wv = Window.partitionBy("event_type").orderBy("value")
    wk = Window.partitionBy("event_type").orderBy(k)
    t = ev.select(
        "event_type", "value", k.alias("k"),
        F.rank().over(wv).alias("rv"),
        F.rank().over(wk).alias("rk"),
    )
    return t.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.corr("value", "k"), 6).alias("pearson"),
        F.round(F.corr("rv", "rk"), 6).alias("spearman_minrank"),
    )


@query(
    "events_hopping_windows",
    oracle="""
    WITH w AS (
      SELECT event_type, value,
             unnest([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start
      -- an event without a time belongs to no time window (Spark's
      -- window() generates zero rows for a NULL ts; bare date_trunc
      -- would fabricate a NULL-window group here)
      FROM events WHERE ts IS NOT NULL
    )
    SELECT event_type, win_start,
           win_start + INTERVAL 2 HOUR AS win_end,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
             AS sum_value
    FROM w GROUP BY event_type, win_start
    """,
)
def events_hopping_windows(spark, sf_dir):
    """Hopping (sliding) event-time windows — 2-hour duration, 1-hour
    slide, so every event lands in exactly two overlapping windows.
    Spark's native `window()` generator expands the assignment
    JVM-side; the oracle unnests the same two window starts.  Batch
    twin of the streaming tumbling-window gate, covering the
    overlapping case."""
    ev = _events(spark, sf_dir)
    win = F.window("ts", "2 hours", "1 hour")
    return (
        ev.groupBy("event_type", win.alias("_w"))
        .agg(
            F.count("*").alias("n_events"),
            _sum2("value"),
        )
        .select(
            "event_type",
            F.col("_w.start").alias("win_start"),
            F.col("_w.end").alias("win_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "events_time_hierarchy_rollup",
    oracle="""
    SELECT date_trunc('day', ts) AS day,
           date_trunc('hour', ts) AS hour,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
             AS sum_value
    FROM events
    GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
    HAVING COUNT(*) > 0  -- see agg_cube: empty-input Spark parity
    """,
)
def events_time_hierarchy_rollup(spark, sf_dir):
    """Time-hierarchy rollup (grand total -> day -> hour) in one
    aggregate: subtotal rows carry NULL at the finer grain in both
    engines.  The time twin of agg_rollup's dimension hierarchy."""
    ev = _events(spark, sf_dir)
    return ev.rollup(
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("hour", "ts").alias("hour"),
    ).agg(
        F.count("*").alias("n_events"),
        _sum2("value"),
    )


@query(
    "events_value_histogram",
    oracle="""
    SELECT event_type,
           CAST(least(greatest(floor(value / 10), -2), 12) AS BIGINT) AS bin,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def events_value_histogram(spark, sf_dir):
    """Fixed-width value histogram per event type (width-bucket
    semantics: floor(v/width) clamped to edge bins) — one map-side
    combined aggregate; bin cardinality is constant, so the exchange
    moves ~nothing at any scale."""
    ev = _events(spark, sf_dir)
    bin_ = F.least(
        F.greatest(F.floor(F.col("value") / 10), F.lit(-2)), F.lit(12)
    ).cast("long")
    return ev.groupBy("event_type", bin_.alias("bin")).agg(
        F.count("*").alias("n")
    )


@query(
    "events_dow_seasonality",
    oracle="""
    SELECT isodow(ts) AS dow,
           EXTRACT(hour FROM ts) AS hour,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
             AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_dow_seasonality(spark, sf_dir):
    """Day-of-week x hour-of-day seasonality heatmap.  Weekday
    numbering differs across engines (Spark dayofweek is
    Sunday-first), so the query standardizes on ISO (Monday=1) —
    Spark's Monday-0 `weekday()+1` equals DuckDB's `isodow`.
    Constant output cardinality (7x24): the exchange moves nothing."""
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        (F.weekday("ts") + 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(
        F.count("*").alias("n_events"),
        _sum2("value"),
    )


@query(
    "events_rfm_segments",
    oracle="""
    WITH anchor AS (SELECT max(ts) AS t FROM events),
    base AS (
      SELECT e.user_id,
             CAST((epoch_us(a.t) - epoch_us(max(e.ts))) // 86400000000 AS BIGINT)
               AS recency_days,
             COUNT(CASE WHEN e.event_type = 'purchase' THEN 1 END) AS frequency,
             CAST(ROUND(SUM(CASE WHEN e.event_type = 'purchase'
                                 THEN CAST(e.value AS DECIMAL(18,6))
                                 ELSE 0 END), 2) AS DOUBLE) AS monetary
      FROM events e CROSS JOIN anchor a
      GROUP BY e.user_id, a.t
    )
    SELECT user_id, recency_days, frequency, monetary,
           CASE WHEN frequency = 0 THEN 'prospect'
                WHEN recency_days <= 3 AND frequency >= 15 THEN 'champion'
                WHEN recency_days <= 7 THEN 'active'
                ELSE 'at_risk' END AS segment
    FROM base
    """,
)
def events_rfm_segments(spark, sf_dir):
    """RFM (recency / frequency / monetary) segmentation anchored to the
    corpus max timestamp (no wall clock — deterministic).  Whole-day
    recency via integer microsecond arithmetic; monetary decimal-summed;
    one aggregate plus a broadcast scalar anchor."""
    ev = _events(spark, sf_dir)
    anchor = ev.agg(F.max("ts").alias("_t"))
    purch = F.col("event_type") == "purchase"
    base = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id", "_t")
        .agg(
            F.expr("CAST((unix_micros(_t) - unix_micros(max(ts))) div 86400000000 AS BIGINT)")
            .alias("recency_days"),
            F.count(F.when(purch, 1)).alias("frequency"),
            F.round(
                F.sum(
                    F.when(purch, F.col("value").cast("decimal(18,6)")).otherwise(
                        F.lit(0).cast("decimal(18,6)")
                    )
                ),
                2,
            ).cast("double").alias("monetary"),
        )
        .drop("_t")
    )
    seg = (
        F.when(F.col("frequency") == 0, "prospect")
        .when((F.col("recency_days") <= 3) & (F.col("frequency") >= 15), "champion")
        .when(F.col("recency_days") <= 7, "active")
        .otherwise("at_risk")
    )
    return base.select(
        "user_id", "recency_days", "frequency", "monetary", seg.alias("segment")
    )
