"""Time-series operators over event streams: grid resampling with
gap-fill and rolling-window anomaly scoring.

The reference has no time-series surface (its events are processed
"whenever they arrive, unordered" — reference README.md:42); these
extend the events-table family the same way the E1-E4 operators extend
the corpus family.

Scale shape:

- ``gap_fill_hourly`` is two hash aggregates over the fact (bounds +
  per-hour last-value), a ``sequence``/``explode`` grid generated FROM
  the bounds agg (never a driver-side range), one shuffle join on
  (user, hour), and one partition-local window.  Everything partitions
  by user_id; grid size is bounded by span/granularity, not event
  count, so a 100 TB events table with a 1-year span still yields only
  8.8k grid rows per user.
- ``rolling_zscore`` is a single partition-local window pass.  The
  rolling mean/variance are computed from *decimal* running sums
  (exact, order-independent) and only converted to double at the end —
  windowed double summation differs between engines (segment-tree vs
  streaming), decimal summation cannot.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eventbridge_etl_spark.operators.rounding import decimal_sum, half_up_div


def require_tiebreak(df: DataFrame, col: str) -> None:
    """Raise unless ``col`` — the unique column that totals the order
    when timestamps tie — is in ``df``: every event-stream operator
    promises a deterministic (ts, tiebreak) order."""
    if col not in df.columns:
        raise ValueError(
            f"tiebreak column {col!r} not in input; pass a unique "
            "column that breaks timestamp ties (determinism requires a "
            "total order)"
        )


def _ts_id_order_key(ts_col: str, id_col: str) -> Column:
    """Fixed-width ``(epoch_micros, id)`` string whose order is the
    numeric (ts, id) order: both fields zero-padded to 20 chars (see
    ``gap_fill_hourly`` for the width and epoch >= 0 preconditions)."""
    return F.concat(
        F.lpad(F.unix_micros(F.col(ts_col)).cast("string"), 20, "0"),
        F.lpad(F.col(id_col).cast("string"), 20, "0"),
    )


def gap_fill_hourly(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Resample each key's series onto an hourly grid and forward-fill.

    Returns one row per (key, hour) in the key's [min, max] hour span:
    ``n_events`` in that hour (0 for gaps), ``last_value`` = the most
    recent observation in the hour, and ``filled_value`` =
    carry-forward of ``last_value`` across gaps (null until the key's
    first observation — leading edges are not back-filled).

    ``last_value`` is picked by ``max_by`` on the same fixed-width
    ``(epoch_micros, id)`` string key as ``ohlc_bars`` — two events on
    the same timestamp would otherwise make the pick (and the oracle
    hash-compare) nondeterministic.  The id field is 20 chars wide
    (every non-negative int64 fits — ``lpad`` TRUNCATES overlong
    strings, which would silently re-break determinism); timestamps
    must be epoch >= 0 (a '-' sign inside the zero-padded field breaks
    string order), which ``events`` fixtures and any modern event
    stream satisfy.
    """
    require_tiebreak(events, id_col)
    k, ts, v = F.col(key_col), F.col(ts_col), F.col(value_col)
    hour = F.date_trunc("hour", ts)
    order_key = _ts_id_order_key(ts_col, id_col)

    bounds = events.groupBy(k.alias(key_col)).agg(
        F.date_trunc("hour", F.min(ts)).alias("h0"),
        F.date_trunc("hour", F.max(ts)).alias("h1"),
    )
    grid = bounds.select(
        key_col,
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour"),
    )
    observed = (
        events.withColumn("_ok", order_key)
        .groupBy(k.alias(key_col), hour.alias("hour"))
        .agg(
            F.count("*").alias("n_events"),
            F.expr(f"max_by(`{value_col}`, _ok)").alias("last_value"),
        )
    )
    joined = grid.join(observed, [key_col, "hour"], "left").withColumn(
        "n_events", F.coalesce("n_events", F.lit(0))
    )
    carry = (
        Window.partitionBy(key_col)
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.withColumn(
        "filled_value", F.last("last_value", ignorenulls=True).over(carry)
    )


def ohlc_bars(
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    granularity: str = "hour",
) -> DataFrame:
    """Downsample to OHLC bars per (group, bucket): open/close = value
    of the chronologically first/last event, high/low = extremes,
    plus event count and summed volume.

    Open/close use ``min_by``/``max_by`` on a FIXED-WIDTH zero-padded
    ``(epoch_micros, id)`` string — string order equals numeric order,
    so ties on the timestamp break deterministically by id in any
    engine (struct-ordered arg_min is not portable; a (ts*K + id)
    bigint encoding overflows).  Both fields are 20 chars wide so every
    non-negative int64 fits without ``lpad`` truncation; epoch must be
    >= 0 (see ``gap_fill_hourly``).

    One hash aggregate with map-side partial combine — min_by/max_by
    partials carry one (value, key) pair per group per partition.
    Output cardinality is groups × buckets, bounded by span/granularity
    regardless of event volume.
    """
    require_tiebreak(events, id_col)
    order_key = _ts_id_order_key(ts_col, id_col)
    v = F.col(value_col)
    return (
        events.withColumn("_ok", order_key)
        .groupBy(
            F.col(group_col),
            F.date_trunc(granularity, F.col(ts_col)).alias("bucket"),
        )
        .agg(
            F.expr(f"min_by(`{value_col}`, _ok)").alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.expr(f"max_by(`{value_col}`, _ok)").alias("close"),
            F.count("*").alias("n_events"),
            # decimal-summed like every other cross-engine sum in this
            # module, and rounded IN DECIMAL (exact HALF_UP on both
            # engines) before the double cast: rounding the double
            # image flips on true .xx5 sums (signmag sweep, round 7)
            decimal_sum(v, 2).alias("volume"),
        )
    )


def counter_increase(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Counter-delta aggregation with reset handling (the PromQL
    ``increase()`` rule): per key, sum the positive deltas between
    consecutive observations — a drop means the counter reset, so the
    drop itself contributes zero rather than a negative.

    Returns ``(key, n_obs, total_increase, n_resets)``.

    ``tiebreak_col`` must be a unique column that totals the order when
    timestamps tie; it is an error for it to be absent (a silent
    ts-only order would make the lag deltas nondeterministic on tied
    timestamps, breaking the determinism this operator promises).

    Deltas of IEEE doubles are deterministic; each per-step delta is
    cast to DECIMAL(28,6) before summation so the per-key total is
    order-independent across engines (exact for |delta| < 1e22; larger
    magnitudes raise under the engine's ANSI default — probed — and
    degrade to NULL only if a deployment disables ANSI).  One
    partition-local lag window + one hash aggregate on the same key —
    a single shuffle.
    """
    require_tiebreak(events, tiebreak_col)
    v = F.col(value_col)
    # PromQL increase() SKIPS missing samples: deltas are computed over
    # consecutive NON-NULL observations.  Unfiltered, one null value
    # poisoned BOTH adjacent deltas (v - lag(v) is null either way), so
    # a single sensor gap silently zeroed real counter growth and hid
    # resets (review r7).  n_obs therefore counts real observations.
    events = events.filter(v.isNotNull())
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    delta = v - F.lag(v).over(w)
    stepped = events.select(
        F.col(key_col),
        delta.alias("_d"),
    )
    return (
        stepped.groupBy(key_col)
        .agg(
            F.count("*").alias("n_obs"),
            decimal_sum(
                F.when(F.col("_d") > 0, F.col("_d")).otherwise(F.lit(0.0)), 4
            ).alias("total_increase"),
            F.count(F.when(F.col("_d") < 0, 1)).alias("n_resets"),
        )
    )


def _dec(col: Column) -> Column:
    """Exact decimal image of a double for order-independent summation.

    DECIMAL(28,6) holds |x| < 1e22 exactly at 6 fractional digits;
    beyond that the cast raises under the engine's ANSI default
    (loud, like DuckDB) and yields NULL only with ANSI disabled —
    callers' docstrings carry the bound.
    """
    return col.cast("decimal(28,6)")


def rolling_zscore(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    lookback: int = 20,
    min_obs: int = 10,
    threshold: float = 3.0,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Flag observations whose value deviates > ``threshold`` sigma from
    the trailing ``lookback``-row mean (current row excluded).

    Mean/variance come from exact decimal sums over the frame
    (sum x, sum x²), converted to double only for the final
    sqrt/divide, so Spark and any replicating engine agree bitwise.
    The squared term multiplies in IEEE double (deterministic) and
    casts the product to DECIMAL(38,6) for order-independent summation
    — exact for |value| <= 1e16, which already exceeds the range where
    a double holds integers exactly (2^53).  Rows with fewer than
    ``min_obs`` trailing observations or zero variance get ``zscore``
    null / ``is_anomaly`` false.  Null observations get a null zscore
    and ``is_anomaly`` FALSE (never null), and do not count into any
    frame's statistics.  The frame order is (ts, tiebreak) — the same
    explicit-tiebreak determinism contract as every sibling here: a
    ts-only order would make frame contents (and therefore zscores)
    depend on arbitrary row order whenever timestamps tie.

    ``tiebreak_col=None`` (the default) auto-resolves: use
    ``"event_id"`` when the frame has it (the engine's standard
    tiebreak), else fall back to ts-only ordering with a
    ``RuntimeWarning`` — results are then engine-order-dependent on
    tied timestamps, but pre-existing callers keep working instead of
    hitting a raise hidden behind a default argument.  Passing a name
    explicitly enforces its presence.
    """
    if tiebreak_col is not None:
        require_tiebreak(events, tiebreak_col)
        order = [ts_col, tiebreak_col]
    elif "event_id" in events.columns:
        order = [ts_col, "event_id"]
    else:
        import warnings

        warnings.warn(
            "rolling_zscore: no tiebreak column — frame contents (and "
            "zscores) are ambiguous wherever timestamps tie within a "
            "key; pass tiebreak_col for deterministic output",
            RuntimeWarning,
            stacklevel=2,
        )
        order = [ts_col]
    v = F.col(value_col)
    frame = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(-lookback, -1)
    )
    n = F.count(value_col).over(frame)
    s1 = F.sum(_dec(v)).over(frame).cast("double")
    s2 = F.sum((v * v).cast("decimal(38,6)")).over(frame).cast("double")
    nn = n.cast("double")
    mean = s1 / nn
    # sample variance; guard the n=1 divide and negative rounding noise
    var = F.greatest((s2 - s1 * s1 / nn) / F.greatest(nn - 1.0, F.lit(1.0)), F.lit(0.0))
    std = F.sqrt(var)
    z = (v - mean) / std
    ok = (n >= min_obs) & (std > 0)
    return events.select(
        key_col,
        ts_col,
        value_col,
        F.when(ok, F.round(z, 4)).alias("zscore"),
        # coalesce, not otherwise: a NULL value with a valid frame makes
        # the when-branch itself NULL (when(true, NULL)), which
        # .otherwise() would NOT catch — the oracle's COALESCE(.., FALSE)
        # semantics require it here too
        F.coalesce(F.when(ok, F.abs(z) > threshold), F.lit(False)).alias(
            "is_anomaly"
        ),
    )


def sessionize(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Batch gap-based sessionization (the batch analog of Structured
    Streaming's ``session_window``): consecutive events of one key
    belong to one session while the gap between them stays <=
    ``gap_seconds``; a larger gap starts the next session.

    Returns one row per (key, session): ``session_seq`` (1-based, in
    time order), ``session_start``/``session_end``, ``n_events``,
    ``duration_secs`` (integer epoch diff), and ``sum_value`` (decimal
    summed, rounded to 4 — order-independent across engines).

    Deterministic: ordering is (ts, tiebreak) with the same
    explicit-tiebreak contract as :func:`counter_increase`; the gap
    compares integer epoch seconds, so engines cannot disagree on
    boundary rows.

    Scale shape: a lag window and a running-sum window over ONE key
    partitioning, then a hash aggregate on (key, session_seq) — the
    aggregate's clustering keys start with the window partition key, so
    Catalyst reuses the exchange: the whole operator is a single
    shuffle (asserted in tests).  Session state is never materialized
    driver-side; output cardinality is the session count.
    """
    require_tiebreak(events, tiebreak_col)
    epoch = F.unix_timestamp(F.col(ts_col))
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = epoch - F.lag(epoch).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    tagged = events.withColumn("_new", is_new).withColumn(
        "_sess", F.sum("_new").over(run)
    )
    return (
        tagged.groupBy(F.col(key_col), F.col("_sess").alias("session_seq"))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
            (
                F.unix_timestamp(F.max(ts_col)) - F.unix_timestamp(F.min(ts_col))
            ).alias("duration_secs"),
            decimal_sum(F.col(value_col), 4).alias("sum_value"),
        )
    )


def prorate_intervals(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    type_col: str = "event_type",
    max_dur_s: int = 7200,
) -> DataFrame:
    """Prorate an interval's amount across the hour buckets it spans —
    the usage-metering / billing-allocation primitive (an event worth
    ``amount`` running from ``start`` for ``dur`` seconds contributes to
    each overlapped hour proportionally to the overlap).

    Interval synthesis from the events fixture: duration =
    ``round(|value| * 60)`` seconds capped at ``max_dur_s`` (so the
    generator fan-out is bounded at ``max_dur_s/3600 + 1`` rows per
    event — NEVER unbounded), amount = ``round(value, 2)``.

    All boundary arithmetic is integer epoch-MICROseconds: hour index =
    ``us div 3.6e9``, hour list = ``sequence(h_first, h_last)`` exploded
    (a generator, not a driver range — the plan stays fully distributed
    and the explode runs inside the same stage as the scan).  The
    per-(bucket,interval) share is an exact integer HALF_UP division in
    micro-units — ``HALF_UP(cents × overlap_us × 1e4, dur_us)`` via
    :func:`~eventbridge_etl_spark.operators.rounding.half_up_div`, with
    the numerator built in DECIMAL(38,0) — a long product exceeds int64
    for ``|value|`` above ~2,561 at a full-hour overlap, raising under
    the engine's ANSI default (wrapping silently only with ANSI
    disabled) — then summed
    as exact integer micro-units per bucket, so neither rounding mode
    nor accumulation order can diverge across engines.

    One explode (map-side, bounded ×3 here) + one hash aggregate on
    (type, hour): a single shuffle carrying one row per group.
    """
    us = F.unix_micros(F.col(ts_col))
    # duration/amount synthesis in pure-IEEE half-up (floor(x+0.5) on
    # the non-negative magnitude, sign reapplied), NOT F.round: native
    # double round is Spark BigDecimal-HALF_UP vs DuckDB nearbyint and
    # diverges at true halves (the rounding.py class; review r7).  The
    # fixtures' 2dp values never land on x*60 or x*100 halves, so this
    # is value-identical there — but synthetic inputs like 0.875*60 =
    # 52.5 flipped a whole bucket before.
    dur_s = F.least(
        F.floor(F.abs(F.col(value_col)) * 60 + F.lit(0.5)), F.lit(max_dur_s)
    ).cast("long")
    sign = F.when(F.col(value_col) < 0, -1).otherwise(1)
    cents = (sign * F.floor(F.abs(F.col(value_col)) * 100 + F.lit(0.5))).cast(
        "long"
    )
    hour_us = 3_600_000_000
    base = (
        events.select(
            F.col(type_col).alias("etype"),
            us.alias("s_us"),
            (us + dur_s * 1_000_000).alias("e_us"),
            (dur_s * 1_000_000).alias("dur_us"),
            cents.alias("_cents"),
        )
        .where(F.col("dur_us") > 0)
    )
    h = F.col("h")
    overlap = F.least(F.col("e_us"), (h + 1) * hour_us) - F.greatest(
        F.col("s_us"), h * hour_us
    )
    return (
        base.select(
            "etype",
            "s_us",
            "e_us",
            "dur_us",
            "_cents",
            F.explode(
                F.sequence(
                    F.expr(f"s_us div {hour_us}"), F.expr(f"e_us div {hour_us}")
                )
            ).alias("h"),
        )
        .withColumn("overlap_us", overlap)
        .where(F.col("overlap_us") > 0)
        # exact integer share: round(amount * overlap/dur, 6) computed
        # as HALF_UP(cents * overlap_us * 1e4, dur_us) micro-units —
        # round(double, 6) diverged from DuckDB's scaled nearbyint on a
        # genuine half edge at sf0.1 (operators/rounding.py)
        .withColumn(
            "share_u6",
            # the numerator can reach cents × 3.6e9 × 1e4 ≈ 3.6e23 —
            # far past int64; build it in decimal so it never wraps
            half_up_div(
                F.col("_cents").cast("decimal(38,0)")
                * F.col("overlap_us")
                * 10000,
                F.col("dur_us"),
            ),
        )
        .groupBy(
            F.col("etype").alias("event_type"),
            F.timestamp_micros(h * hour_us).alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            # integer micro-unit sum: exact, order-free, identical
            # cross-engine; the /1e6 double image is exact below 2^53
            (F.sum("share_u6").cast("double") / 1e6).alias("prorated_value"),
        )
    )


def locf_fill(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    out_col: str = "filled_value",
) -> DataFrame:
    """Last-observation-carried-forward: null values take the most
    recent non-null value for the same key (the sensor-readout /
    sparse-metric densification primitive).  Leading nulls (no prior
    observation) stay null.

    One partition-local running window per key — a single shuffle on
    the key, no join, no grid generation (``gap_fill_hourly`` is the
    sibling that DOES materialize a grid).  The explicit tiebreak
    contract is shared with the other event-stream operators: ts ties
    without a total order would make "last" nondeterministic.
    """
    require_tiebreak(events, tiebreak_col)
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.withColumn(
        out_col, F.last(F.col(value_col), ignorenulls=True).over(w)
    )


def interpolate_fill(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    out_col: str = "filled_value",
) -> DataFrame:
    """Linear time-interpolation of null values between the nearest
    non-null neighbors per key — the companion to ``locf_fill`` when
    the series is a sampled continuous signal rather than a stepwise
    state.  Edges degrade gracefully: no prior observation → backfill
    from the next, no next → carry the previous, neither → null.

    Two partition-local windows over ONE key shuffle (the preceding
    and following frames share the sort); the interpolation itself is
    an IEEE expression on integer epoch-µs distances, rounded to 6 —
    no join, no grid, row count unchanged.
    """
    require_tiebreak(events, tiebreak_col)
    us = F.unix_micros(F.col(ts_col))
    v = F.col(value_col)
    base = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    back = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fwd = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    obs_ts = F.when(v.isNotNull(), us)
    prev_v = F.last(v, ignorenulls=True).over(back)
    prev_t = F.last(obs_ts, ignorenulls=True).over(back)
    next_v = F.first(v, ignorenulls=True).over(fwd)
    next_t = F.first(obs_ts, ignorenulls=True).over(fwd)
    span = (next_t - prev_t).cast("double")
    frac = (us - prev_t).cast("double") / F.nullif(span, F.lit(0.0))
    interp = F.round(prev_v + (next_v - prev_v) * frac, 6)
    filled = (
        F.when(v.isNotNull(), v)
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .when(span == 0, prev_v)
        .otherwise(interp)
    )
    return events.withColumn(out_col, filled)
