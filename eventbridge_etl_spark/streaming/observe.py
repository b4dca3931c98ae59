"""Observability (reference O17-O19, O22): the wildcard observe tap and
pipeline tracing, Spark-native.

The reference logs every envelope via a catch-all EventBridge rule and
annotates spans with X-Ray.  Here:

- ``audit_union``       — the materialized observe tap: one appendable
  stream/table of every stage's envelopes (exactly what the observe
  Lambda saw, minus the per-event Lambda invocation).
- ``with_observe``      — ``df.observe``: named accumulator metrics
  evaluated inside the running plan, surfaced per micro-batch in
  ``QueryProgress.observedMetrics`` — counters without a second scan."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def audit_union(*stages: tuple[str, DataFrame]) -> DataFrame:
    """Union stage outputs into one observe stream.

    Each (stage_name, df) contributes its rows wrapped as envelopes with
    ``detail_type = stage_name`` — schema-normalized via to_json so
    heterogeneous stages union cleanly."""
    from eventbridge_etl_spark.sources.envelope import to_envelope

    out = None
    for name, df in stages:
        env = to_envelope(df, detail_type=name)
        out = env if out is None else out.unionByName(env)
    if out is None:
        raise ValueError("no stages given")
    return out


def with_observe(
    df: DataFrame, name: str = "audit", null_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Attach in-plan metrics (visible in QueryProgress): the row count
    always, plus a ``n_null_<col>`` counter per requested column — the
    reconciliation inputs for extracted-vs-loaded-vs-dropped checks."""
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    metrics += [
        F.count(F.when(F.col(c).isNull(), 1)).alias(f"n_null_{c}")
        for c in null_cols
    ]
    return df.observe(name, *metrics)
