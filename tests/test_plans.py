"""Physical-plan regression tests.

Correctness tests prove the right ANSWER; these prove the right PLAN —
the properties the 100 TB story depends on.  A future edit that silently
turns a broadcast join into a shuffled one, or detaches a predicate from
the parquet scan, fails here long before it fails a cluster budget.
"""

from __future__ import annotations

import re

from eventbridge_etl_spark.queries import QUERIES, load_all

from .conftest import SF_DIR

load_all()


def _plan(spark, name: str) -> str:
    return QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    """Count shuffle exchanges (hash/range/single), excluding broadcasts."""
    return len(re.findall(r"Exchange (?:hash|range)partitioning|Exchange SinglePartition", plan))


def test_scan_pushes_filters_and_prunes_columns(spark):
    plan = _plan(spark, "scan_projection_filter")
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan
    # projection reaches the reader: ReadSchema carries only the 4 columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"}
    assert _shuffles(plan) == 0


def test_q6_is_single_shuffle_scan_agg(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan
    # partial agg -> single-partition exchange -> final agg, nothing else
    assert _shuffles(plan) == 1


def test_q1_aggregate_has_one_shuffle(spark):
    assert _shuffles(_plan(spark, "q1_pricing_summary")) == 1


def test_global_topk_never_sorts_fully(spark):
    plan = _plan(spark, "sort_multi_key_topk")
    assert "TakeOrderedAndProject" in plan
    assert _shuffles(plan) == 0  # per-partition heaps + driver merge


def test_window_topk_uses_group_limit(spark):
    """row_number() <= k must push into the sort as WindowGroupLimit —
    each partition keeps k rows per group before the exchange."""
    plan = _plan(spark, "window_topk_per_group")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan  # dim stays broadcast


def test_broadcast_chain_has_no_join_shuffle(spark):
    """Fact->dim snowflake: every dim broadcast, so the only shuffle is
    the final 25-group aggregate."""
    plan = _plan(spark, "join_broadcast_chain")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    assert _shuffles(plan) == 1


def test_q3_broadcasts_dims_and_takes_topk(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_semi_and_anti_joins_stay_semi(spark):
    """Semi/anti joins must not degenerate into inner joins + dedup."""
    assert re.search(r"LeftSemi", _plan(spark, "join_semi"))
    assert re.search(r"LeftAnti", _plan(spark, "join_anti"))


def test_scalar_subquery_is_planned_not_collected(spark):
    plan = _plan(spark, "subquery_scalar_above_avg")
    assert "Subquery" in plan or "subquery" in plan


def test_embedding_lsh_dedup_never_crossjoins(spark):
    """The gated embedding-dedup scale path must generate candidates via
    the LSH bucket self-join — never an all-pairs product of the corpus.
    (The O(n^2) crossJoin verifier exists only as the within-bucket /
    verification-grade companion, dedup_embedding_cosine.)"""
    plan = _plan(spark, "dedup_embedding_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_simhash_has_one_band_self_join(spark):
    """SimHash candidates come from ONE band_candidates self-join over
    all four bands — not four per-band self-joins unioned — and the
    fingerprints ride through it, so the Hamming verify needs no join
    back to the fingerprint table."""
    plan = _plan(spark, "dedup_simhash")
    joins = re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[([^\]]*)\]", plan
    )
    assert len([keys for keys in joins if keys.startswith("_band#")]) == 1, plan
    assert len(joins) == 1, plan


def test_ivf_broadcasts_centroids(spark):
    """Both IVF centroid passes (assignment + probing) must broadcast the
    centroid table, never shuffle the corpus against it."""
    plan = _plan(spark, "similarity_topk_ivf")
    assert plan.count("BroadcastNestedLoopJoin") + plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def _final_plan_after_run(spark, name: str) -> str:
    """Execute the query so AQE finalizes, then return only the final
    adaptive plan (the section before '== Initial Plan ==')."""
    df = QUERIES[name](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_shared_subplan_queries_scan_fact_once(spark):
    """q11/q15/q20 reference an expensive aggregate from two branches
    (ranking scan + in-plan scalar).  ReuseExchange must collapse the
    duplicated subtree so lineitem is scanned and shuffled ONCE — this
    breaks silently if a branch-specific inferred constraint (e.g.
    isnotnull from a later join) leaks into only one branch's scan."""
    for name in (
        "q11_important_parts",
        "q15_top_supplier",
        "q20_dominant_suppliers",
    ):
        final = _final_plan_after_run(spark, name)
        assert "ReusedExchange" in final, name
        assert final.count("lineitem.parquet") == 1, (
            f"{name}: fact scanned {final.count('lineitem.parquet')}x"
        )


def test_runtime_bloom_filter_fires_on_fact_to_fact_join(spark):
    """At 100 TB, orders><lineitem can't broadcast; Spark's runtime
    Bloom-filter rewrite builds a filter from the selective (filtered)
    side and injects might_contain into the fact scan, pruning shuffle
    input.  It's threshold-gated (application side >= 10 GB by
    default), so sf0.1 never triggers it naturally — simulate the
    at-scale conditions (no broadcast, lowered scan threshold) and pin
    that the rewrite stays available under ENGINE_CONF."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_contamination_broadcasts_benchmark_side(spark):
    """The benchmark n-gram set must broadcast — the corpus side never
    shuffles for the join (its only exchange is the final per-doc agg)."""
    plan = _plan(spark, "dedup_contamination_flag")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_source_cap_uses_window_group_limit(spark):
    """The per-source cap's rank<=n filter must push map-side as
    WindowGroupLimit: hot sources contribute at most n rows per map
    partition to the exchange."""
    plan = _plan(spark, "sample_source_cap")
    assert "WindowGroupLimit" in plan
    assert _shuffles(plan) == 1  # the window partitioning, nothing else


def test_pii_redact_is_map_only(spark):
    plan = _plan(spark, "text_pii_redact")
    assert _shuffles(plan) == 0


def test_training_mix_composes_without_extra_exchanges(spark):
    """The five-stage curation pipeline must stay at two shuffles (dedup
    groupBy + per-source window; AQE broadcasts the join back at this
    size), with the window's rank filter pushed map-side."""
    plan = _plan(spark, "pipeline_training_mix")
    assert _shuffles(plan) <= 3
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan


def test_kmeans_assignment_is_map_only(spark):
    """Plan-literal centroids: assignment must be a pure projection —
    no join, no exchange, nothing but scan + project."""
    from pyspark.sql import functions as F

    from eventbridge_etl_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = S.kmeans_fit(emb, k=4, iters=0)
    plan = (
        S.kmeans_assign(emb, cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert _shuffles(plan) == 0
    assert "Join" not in plan and "BroadcastExchange" not in plan


def test_pack_and_shuffle_are_single_exchange(spark):
    """Assembly ops move data exactly once — one hash partition by
    shard, then window math inside the shard."""
    for name in ("pack_token_sequences", "sample_global_shuffle"):
        plan = _plan(spark, name)
        assert _shuffles(plan) == 1, name
        assert "CartesianProduct" not in plan, name


def test_unigram_lm_broadcasts_totals_and_model(spark):
    """The 1-row (N,V) total and the token->logprob model join must not
    add full-corpus exchanges beyond the two token aggregations."""
    plan = _plan(spark, "text_unigram_logprob")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_parquet_aggregate_pushdown_answers_from_footers(spark):
    """The engine ships spark.sql.parquet.aggregatePushdown=true; it
    only engages on the DSv2 read path (V1, the default file source,
    ignores it — which is also why the conf cannot have caused the r4
    bench regression).  Under a V2 read, a no-filter COUNT/MIN/MAX
    must show PushedAggregation on the scan and still agree with the
    V1 answer."""
    from pyspark.sql import functions as F

    path = f"{SF_DIR}/orders.parquet"

    def agg(df):
        return df.agg(
            F.count("*").alias("n"),
            F.min("o_orderkey").alias("mn"),
            F.max("o_orderkey").alias("mx"),
        )

    v1 = agg(spark.read.parquet(path))
    assert "PushedAggregation" not in v1._jdf.queryExecution().executedPlan().toString()
    expect = v1.collect()[0]

    old = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        v2 = agg(spark.read.parquet(path))
        plan = v2._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation: [COUNT(*), MIN(o_orderkey), MAX(o_orderkey)]" in plan
        assert v2.collect()[0] == expect
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", old)


def test_profile_approx_avoids_expand(spark):
    """Exact multi-column distinct profiles plan through Expand (rows
    replicated once per profiled column before the shuffle); the HLL
    variant must profile the same columns with NO Expand and a single
    ordinary partial-agg shuffle."""
    from eventbridge_etl_spark.operators.profile import (
        profile_columns,
        profile_columns_approx,
    )

    df = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_custkey", "o_orderstatus", "o_totalprice"
    )
    exact_plan = profile_columns(df)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in exact_plan
    approx_plan = (
        profile_columns_approx(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" not in approx_plan
    assert _shuffles(approx_plan) == 1


def test_fn_url_surface_pushes_the_key_filter(spark):
    """The URL surface is map-only over a pruned scan: the o_orderkey
    filter reaches the parquet reader and nothing shuffles."""
    plan = _plan(spark, "fn_url_surface")
    assert "PushedFilters: [" in plan and "o_orderkey" in plan.split("PushedFilters")[1][:120]
    assert _shuffles(plan) == 0


def test_bm25_topk_is_take_ordered(spark):
    """The retrieval top-k must be a distributed TakeOrderedAndProject;
    the rank window runs after the limit, over k rows only."""
    plan = _plan(spark, "text_bm25_retrieval")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_naive_bayes_no_cartesian(spark):
    """docs x classes rides broadcast nested-loop (|classes| rows), the
    LM join is a hash join on token — never a CartesianProduct."""
    plan = _plan(spark, "text_naive_bayes_lang")
    assert "CartesianProduct" not in plan


def test_triangle_census_hash_joins_only(spark):
    plan = _plan(spark, "graph_triangle_census")
    assert "CartesianProduct" not in plan


def test_phash_pairs_no_cartesian(spark):
    """Banded candidate generation must be equi-joins on (band, value),
    never an all-pairs product."""
    plan = _plan(spark, "multimodal_phash_near_dup")
    assert "CartesianProduct" not in plan


def test_heavy_hitters_recount_is_broadcast(spark):
    """The exact pass joins the stream against the ≤k-per-partition
    candidate set as a BROADCAST hash join — the corpus never shuffles
    on value for the recount."""
    plan = _plan(spark, "agg_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_containment_no_cartesian(spark):
    plan = _plan(spark, "dedup_containment_pairs")
    assert "CartesianProduct" not in plan


def test_incremental_dedup_is_anti_join(spark):
    """History rejection must plan as an anti join (broadcast or
    shuffled), never an outer-join + filter."""
    plan = _plan(spark, "dedup_incremental_admission")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_compaction_plan_single_window(spark):
    """One running-sum window + one aggregate, both keyed on the
    partition column — bin assignment adds no extra exchanges."""
    plan = _plan(spark, "compaction_plan_events")
    assert plan.count("Window") == 1


def test_snapshot_diff_single_join(spark):
    plan = _plan(spark, "scd_snapshot_diff")
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan


def test_session3_gates_have_sane_plans(spark):
    """Session-3 additions: no cartesian products anywhere; the
    single-pass operators stay at their contracted shuffle counts."""
    for name in (
        "agg_ols_trend",
        "events_latency_percentiles",
        "events_prorate_hourly",
        "skew_key_report",
        "dedup_tfidf_cosine",
        "pipeline_json_quarantine",
        "dedup_minhash_admission",
        "graph_bfs_hops",
        "events_attribution_linear",
        "events_locf_fill",
        "text_unigram_kl_drift",
        "events_dau_wau",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
    # contracted single-shuffle shapes
    assert _shuffles(_plan(spark, "agg_ols_trend")) == 1
    assert _shuffles(_plan(spark, "events_prorate_hourly")) == 1
    assert _shuffles(_plan(spark, "events_locf_fill")) == 1
    # KL: token agg + final agg only; the totals join must broadcast
    kl = _plan(spark, "text_unigram_kl_drift")
    assert "BroadcastNestedLoopJoin" in kl or "BroadcastExchange" in kl


def test_plan_audit_api(spark):
    """plans/audit.py::plan_audit — the packaged form of this file's
    ad-hoc checks — reports the facts we assert elsewhere."""
    from pyspark.sql import functions as F

    from eventbridge_etl_spark.plans.audit import plan_audit

    small = spark.range(10).select(F.col("id").alias("k"), F.lit("d").alias("name"))
    big = spark.range(1000).select((F.col("id") % 10).alias("k"), F.col("id"))
    joined = big.join(F.broadcast(small), "k").groupBy("name").count()
    joined.collect()  # finalize the adaptive plan so codegen spans show
    a = plan_audit(joined)
    assert a["broadcasts"] == 1
    assert a["shuffles"] == 1           # just the groupBy agg
    assert not a["has_cartesian"] and not a["has_bnl_join"]
    assert a["whole_stage_codegen_spans"] >= 1

    topk = big.orderBy(F.col("id").desc()).limit(5)
    assert plan_audit(topk)["top_k_pushed"]

    cross = spark.range(3).crossJoin(spark.range(3).select(F.col("id").alias("j")))
    assert plan_audit(cross)["has_cartesian"] or plan_audit(cross)["has_bnl_join"]


def test_plan_audit_scan_facts(spark, tmp_path):
    from pyspark.sql import functions as F

    from eventbridge_etl_spark.plans.audit import plan_audit

    p = str(tmp_path / "t")
    spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("k"), F.lit("x").alias("s")
    ).write.parquet(p)
    q = spark.read.parquet(p).where(F.col("k") == 2).select("id")
    a = plan_audit(q)
    assert any("EqualTo(k,2" in f for f in a["pushed_filters"])
    assert all("s:" not in rs for rs in a["read_schemas"])  # pruned

    # an IN-list filter contains `]` inside the bracket — the capture
    # must run to end-of-line, not stop at the first `]` (ADVICE r5)
    q_in = spark.read.parquet(p).where(F.col("k").isin(1, 2, 3)).select("id")
    a_in = plan_audit(q_in)
    assert any("In(k, [1,2,3])" in f for f in a_in["pushed_filters"]), a_in[
        "pushed_filters"
    ]
