"""One plan-audit gate per query family (VERDICT r6 item 3).

``plans.audit.plan_audit`` is the repo's CI hook against 100×-scale
plan regressions, but until r7 only hand-picked queries asserted with
it.  This file pins the scale-relevant plan shape of a representative
gate from EVERY family, so a regression — a CartesianProduct sneaking
in, a broadcast falling back to a shuffle join, an extra exchange, a
rank filter losing its WindowGroupLimit — fails CI even when values
still match.

Bounds are invariants of the intended plan (observed at local[4]/sf0.001,
the suite's own environment), with no slack that would let a regression
hide: e.g. ``shuffles <= 1`` on a single-aggregation query fails the
moment someone adds an unnecessary repartition.
"""

from __future__ import annotations

import pytest

from eventbridge_etl_spark import cache
from eventbridge_etl_spark.plans.audit import plan_audit
from eventbridge_etl_spark.queries import QUERIES, load_all

from .conftest import SF_DIR

load_all()

#: family -> (query, assertion) table.  Each assertion receives the
#: post-action PlanAudit dict and raises AssertionError on regression.
FAMILY_RULES: dict[str, tuple[str, ...]] = {
    # family: (query name, *rule names) — rules checked in _check below
    "relational-scan": ("scan_projection_filter", "no_shuffle", "no_cartesian"),
    "relational-join": ("join_broadcast_chain", "broadcasts>=2", "shuffles<=1", "no_cartesian"),
    "relational-agg": ("q1_pricing_summary", "shuffles<=1", "pushed_filters", "no_cartesian"),
    "tpch-topk": ("q3_shipping_priority", "top_k_pushed", "broadcasts>=1", "shuffles<=2"),
    "window": ("window_topk_per_group", "window_group_limit", "shuffles<=1"),
    "sort": ("sort_multi_key_topk", "top_k_pushed", "no_shuffle"),
    "dedup-minhash": ("dedup_minhash_lsh", "no_cartesian", "no_bnl", "shuffles<=5"),
    # the composed 100 TB recipe (round 9): LSH banding candidates ->
    # exact tf-idf verify on candidates only.  The one BNL is the
    # broadcast of the 1-row corpus-count frame into the idf map (same
    # as the dedup_tfidf_cosine parent), so no "no_bnl" pin here.
    # The quiet-box pin is shuffles<=6; "composed_pressure_variant"
    # additionally allows EXACTLY the one adaptive demotion observed
    # under suite-wide memory pressure (r10: a persisted banding frame
    # evicts and one of the plan's five broadcast joins demotes to a
    # shuffle join, +1 exchange) — 7 shuffles pass ONLY when >=4
    # broadcasts remain, so a real +1-exchange plan regression on a
    # quiet box still fails (ADVICE r10: a flat <=7 widened the gate).
    "dedup-composed": ("dedup_tfidf_on_candidates", "no_cartesian",
                       "composed_pressure_variant"),
    "dedup-embedding": ("dedup_embedding_lsh", "no_cartesian", "shuffles<=5"),
    "similarity": ("similarity_topk_ivf", "no_cartesian", "broadcasts>=1", "window_group_limit"),
    "text": ("text_token_stats", "no_shuffle", "no_cartesian"),
    "timeseries-window": ("events_anomaly_zscore", "shuffles<=1", "no_cartesian"),
    "sessionization": ("events_sessionize", "shuffles<=1"),
    "graph": ("graph_pagerank_transitions", "no_cartesian", "shuffles<=5"),
    "mining-classify": ("text_nb_confusion", "no_cartesian", "broadcasts>=1"),
    "sampling": ("sample_stratified", "shuffles<=1"),
    "multimodal": ("multimodal_byte_histogram", "shuffles<=1", "no_cartesian"),
    "analytics-attribution": ("events_attribution_linear", "no_cartesian", "shuffles<=2", "broadcasts>=1"),
    "approx-agg": ("agg_approx_distinct", "shuffles<=2", "no_cartesian"),
}

_CHECKS = {
    "no_shuffle": lambda a: a["shuffles"] == 0,
    "shuffles<=1": lambda a: a["shuffles"] <= 1,
    "shuffles<=2": lambda a: a["shuffles"] <= 2,
    "shuffles<=5": lambda a: a["shuffles"] <= 5,
    "shuffles<=6": lambda a: a["shuffles"] <= 6,
    "shuffles<=7": lambda a: a["shuffles"] <= 7,
    "broadcasts>=1": lambda a: a["broadcasts"] >= 1,
    "broadcasts>=2": lambda a: a["broadcasts"] >= 2,
    "no_cartesian": lambda a: not a["has_cartesian"],
    "no_bnl": lambda a: not a["has_bnl_join"],
    "pushed_filters": lambda a: len(a["pushed_filters"]) > 0,
    "top_k_pushed": lambda a: a["top_k_pushed"],
    "window_group_limit": lambda a: a["window_group_limit"],
    "composed_pressure_variant": lambda a: a["shuffles"] <= 6
    or (a["shuffles"] == 7 and a["broadcasts"] >= 4),
}


@pytest.mark.parametrize("family", sorted(FAMILY_RULES))
def test_family_plan_shape(spark, family):
    name, *rules = FAMILY_RULES[family]
    # the step __spark_entry__ runs before every gate: frames earlier
    # tests persisted through scoped_persist would otherwise stay cached
    # in the shared session and press on this plan's broadcasts
    cache.release_tracked()
    df = QUERIES[name](spark, SF_DIR)
    df.collect()  # finalize the adaptive plan before auditing
    audit = plan_audit(df)
    failed = [r for r in rules if not _CHECKS[r](audit)]
    assert not failed, (
        f"{family} ({name}): plan regressed on {failed}; audit={audit}"
    )


# ------------------------------------------------- streaming family
# Streaming gates drain to a memory sink, so the registry frame's plan
# is just a memory scan — audit the streaming PLAN itself instead: the
# stateful operator must be present pre-start.


def _event_stream(spark):
    from eventbridge_etl_spark.queries.streaming_q import _event_stream

    return _event_stream(spark, SF_DIR)


def test_streaming_windowed_counts_plan_is_stateful(spark):
    from eventbridge_etl_spark.streaming.file_pipeline import windowed_counts

    plan = (
        windowed_counts(_event_stream(spark))
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "EventTimeWatermark" in plan, plan
    assert "Aggregate" in plan, plan


def test_streaming_ewma_plan_is_stateful(spark):
    from pyspark.sql import functions as F

    from eventbridge_etl_spark.streaming.stateful import ewma_smoothing

    ev = _event_stream(spark).select(
        "user_id", "value", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    plan = ewma_smoothing(ev)._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" in plan, plan
