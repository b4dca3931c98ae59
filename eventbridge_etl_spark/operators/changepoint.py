"""Sequential changepoint detection: one-sided CUSUM alarms per key.

The CUSUM recursion S_i = max(0, S_{i-1} + (x_i - target - slack)) is a
clamped recurrence — NOT expressible as a window running sum (the max
resets break linearity), so this is the batch showcase of the custom-
stateful surface: grouped ``applyInPandas`` over Arrow batches, the
same per-key sequential semantics the streaming twin
(`streaming/stateful.py`) runs with ``applyInPandasWithState``.

Determinism: the recursion runs on SCALED INTEGERS (x = round(value *
scale), the EWMA convention), so the alarm counts and statistics match
a recursive-CTE replay of the same (ts, tiebreak)-ordered recurrence
bit-for-bit — a value-exact oracle for a Python-side operator.

Scale shape: one shuffle keyed by the entity; within a key the
recursion is inherently sequential (that's the algorithm, not the
implementation), so parallelism = number of keys — exactly how a
100 TB metrics store shards.  Arrow moves each group once; per-row
Python cost is a few integer ops.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eventbridge_etl_spark.operators.timeseries import require_tiebreak


def cusum_alarms(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    target_scaled: int = 5000,
    slack_scaled: int = 500,
    threshold_scaled: int = 20000,
    scale: int = 100,
) -> DataFrame:
    """Per-key one-sided CUSUM: returns ``(key, n_events, n_alarms,
    max_stat, final_stat)`` where the statistic S accumulates scaled
    deviations above ``target + slack`` and an alarm is each step with
    ``S > threshold`` (no reset on alarm — the alarm COUNT measures
    dwell time above the decision bound).  Null observations are
    skipped without advancing the recursion (they still count in
    ``n_events``)."""
    require_tiebreak(df, tiebreak_col)
    drift = target_scaled + slack_scaled
    h = threshold_scaled

    prepared = df.select(
        F.col(key_col).alias("_k"),
        F.unix_micros(F.col(ts_col)).alias("_us"),
        F.col(tiebreak_col).alias("_tb"),
        # backticked: an unquoted 'a-b' column name parses as
        # subtraction (review r7)
        F.expr(f"CAST(floor(`{value_col}` * {scale} + 0.5) AS BIGINT)").alias("_x"),
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        # na_position='first': a NULL event time sorts BEFORE all
        # values (the suite-wide Spark ASC NULLS FIRST contract);
        # pandas' default puts NaN last, silently reordering the fold
        # (r7 adversarial-fixture finding)
        # Exactness domain: a group containing any NULL arrives with _x
        # as float64 (Arrow nullable), so int(x) is exact only for
        # |value*scale| < 2^53 — |value| <= 9e13 at the default scale,
        # far past the documented 1e9 events.value domain (review r7).
        pdf = pdf.sort_values(["_us", "_tb"], na_position="first")
        s = mx = alarms = 0
        for x in pdf["_x"]:
            if x != x:  # null value -> NaN through Arrow; skip, don't advance
                continue
            s = s + int(x) - drift
            if s < 0:
                s = 0
            if s > h:
                alarms += 1
            if s > mx:
                mx = s
        return pd.DataFrame(
            [[pdf["_k"].iloc[0], len(pdf), alarms, mx, s]],
            columns=["_k", "n_events", "n_alarms", "max_stat", "final_stat"],
        )

    key_type = df.schema[key_col].dataType.simpleString()
    out_schema = (
        f"_k {key_type}, n_events long, n_alarms long, "
        f"max_stat long, final_stat long"
    )
    return (
        prepared.groupBy("_k")
        .applyInPandas(run, out_schema)
        .withColumnRenamed("_k", key_col)
    )
