"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline at sf0.001; ``queries()`` /
``oracle_sql()`` expose the full operator inventory (SURVEY.md §2) for
the driver's DuckDB-oracle correctness harness.  Implementation lives in
the ``eventbridge_etl_spark`` package; this module is a thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventbridge_etl_spark.queries import ORACLES, QUERIES, load_all

load_all()

_SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference pipeline re-expressed on the events
    stream table — content-based route (O11), JSON detail projection
    (O4), validity filter (O5), keyed last-writer-wins upsert (O16),
    event-time hourly rollup — one declarative plan, one shuffle per
    aggregation, all stages inside whole-stage codegen."""
    from pyspark.sql import functions as F

    from eventbridge_etl_spark.operators.routing import route
    from eventbridge_etl_spark.operators.upsert import upsert_by_key
    from eventbridge_etl_spark.sources.tables import load_tables

    ev = load_tables(spark, _SF0001, ("events",))["events"]
    routed = route(
        ev,
        {
            "event_type": ["click", "purchase", "view", "signup", "error"],
            "props": {"k": [{"exists": True}]},
        },
    )
    typed = routed.withColumn(
        "k_value", F.get_json_object(F.col("props"), "$.k").cast("int")
    ).filter(F.col("user_id").isNotNull())
    latest = upsert_by_key(
        typed.withColumn("_v", F.struct("ts", "event_id")), ["user_id"], version_col="_v"
    ).drop("_v")
    return (
        latest.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("k_value"), 4).alias("avg_k"),
        )
        .orderBy("hour", "event_type")
    )


def _fresh_cache(fn: Callable[[SparkSession, str], DataFrame]):
    """Release the PREVIOUS query's engine-persisted blocks before
    building the next plan.  Several operators persist an intermediate
    consumed twice within one action tree (tfidf weights, attribution
    paths, n-gram tables); across a full-registry sweep in one
    long-lived session those blocks would otherwise accumulate until
    LRU eviction.

    Scoped, not ``clearCache()``: only frames the engine itself
    persisted (tracked in ``eventbridge_etl_spark.cache``) are
    released, so a caller's own cached frames and harness-cached tables
    survive — safe for build-all-then-evaluate callers too, EXCEPT that
    a registry query built earlier but evaluated after a later build
    loses its internal persist (it recomputes, correctly, just without
    the cache).  The release happens at plan-BUILD time — nothing is in
    flight between sweep iterations, and unpersisting never changes
    results."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from eventbridge_etl_spark.cache import release_tracked

        release_tracked()
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _fresh_cache(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted for
    non-SQL-expressible ops — driver then runs a rows-only check)."""
    return dict(ORACLES)
