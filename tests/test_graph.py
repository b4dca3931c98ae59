"""PageRank and transition-edge extraction: hand-computed ranks on a
tiny graph, the documented dangling-mass behavior, and plan shape."""

from __future__ import annotations

import datetime as dt

import pytest

from eventbridge_etl_spark.operators.graph import pagerank, transition_edges


def _py_pagerank(edges, damping=0.85, iterations=4):
    """Independent reference: same simplified variant (no dangling
    redistribution), plain float arithmetic."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = len(nodes)
    out_w = {}
    for s, _, w in edges:
        out_w[s] = out_w.get(s, 0.0) + w
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        acc = {v: 0.0 for v in nodes}
        for s, d, w in edges:
            acc[d] += (rank[s] * damping) * (w / out_w[s])
        rank = {v: (1.0 - damping) / n + acc[v] for v in nodes}
    return rank


def test_pagerank_matches_reference(spark):
    edges = [("a", "b", 2), ("b", "a", 1), ("a", "c", 1), ("c", "a", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, n long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, "src", "dst", weight_col="n").collect()
    }
    want = _py_pagerank(edges)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-7)
    # ranks are a probability-ish distribution here (no dangling nodes)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)


def test_pagerank_dangling_mass_leaks_as_documented(spark):
    # c has no out-edges: its rank is never redistributed (simplified
    # variant) so total mass drops below 1 — the documented behavior
    edges = [("a", "b", 1), ("b", "c", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, n long")
    got = {r["node"]: r["rank"] for r in pagerank(df, "src", "dst").collect()}
    want = _py_pagerank([(s, d, float(w)) for s, d, w in edges])
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-7)
    assert sum(got.values()) < 1.0


def test_transition_edges_counts_and_tiebreak(spark):
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0), 1, "view", 0.0, None),
        (2, dt.datetime(2024, 1, 1, 0, 1), 1, "click", 0.0, None),
        (3, dt.datetime(2024, 1, 1, 0, 2), 1, "view", 0.0, None),
        (4, dt.datetime(2024, 1, 1, 0, 3), 1, "click", 0.0, None),
        (5, dt.datetime(2024, 1, 1, 0, 0), 2, "view", 0.0, None),
        (6, dt.datetime(2024, 1, 1, 0, 5), 2, "click", 0.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    got = {(r["src"], r["dst"]): r["n"] for r in transition_edges(df).collect()}
    assert got == {("view", "click"): 3, ("click", "view"): 1}

    with pytest.raises(ValueError, match="tiebreak"):
        transition_edges(df.drop("event_id"))


def test_pagerank_no_driver_loop_plan(spark):
    """The unrolled plan must stay declarative: no cartesian products
    beyond the broadcast count scalars, no Python UDFs."""
    edges = [("a", "b", 1), ("b", "a", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, n long")
    plan = (
        pagerank(df, "src", "dst", weight_col="n")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan


def test_pagerank_matches_reference_on_random_graphs(spark):
    """Hypothesis sweep: arbitrary small weighted digraphs (self-loops,
    parallel-edge collapse, dangling nodes, disconnected pieces) must
    match the independent float reference within rounding."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    edge = st.tuples(
        st.sampled_from("abcde"),
        st.sampled_from("abcde"),
        st.integers(min_value=1, max_value=9),
    )
    graphs = st.lists(edge, min_size=1, max_size=12)

    @settings(max_examples=10, deadline=None)
    @given(graphs)
    def _check(edges):
        # collapse parallel edges (sum weights) like an aggregated edge list
        agg = {}
        for s, d, w in edges:
            agg[(s, d)] = agg.get((s, d), 0) + w
        rows = [(s, d, w) for (s, d), w in sorted(agg.items())]
        df = spark.createDataFrame(rows, "src string, dst string, n long")
        got = {
            r["node"]: r["rank"]
            for r in pagerank(df, "src", "dst", weight_col="n").collect()
        }
        want = _py_pagerank([(s, d, float(w)) for s, d, w in rows])
        assert set(got) == set(want)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-7)

    _check()


class TestBfsHops:
    def test_chain_and_unreachable(self, spark):
        from eventbridge_etl_spark.operators.graph import bfs_hops

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
            "src string, dst string",
        )
        src = spark.createDataFrame([("a",)], "node string")
        out = {r["node"]: r["hops"] for r in bfs_hops(edges, src, 3).collect()}
        assert out == {"a": 0, "b": 1, "c": 2, "d": 3}  # x, y unreachable

    def test_min_hop_wins_on_cycle(self, spark):
        from eventbridge_etl_spark.operators.graph import bfs_hops

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "a"), ("b", "c"), ("a", "c")],
            "src string, dst string",
        )
        src = spark.createDataFrame([("a",)], "node string")
        out = {r["node"]: r["hops"] for r in bfs_hops(edges, src, 3).collect()}
        assert out == {"a": 0, "b": 1, "c": 1}

    def test_multi_source(self, spark):
        from eventbridge_etl_spark.operators.graph import bfs_hops

        edges = spark.createDataFrame([("a", "b"), ("z", "b")], "src string, dst string")
        src = spark.createDataFrame([("a",), ("z",)], "node string")
        out = {r["node"]: r["hops"] for r in bfs_hops(edges, src, 2).collect()}
        assert out == {"a": 0, "z": 0, "b": 1}


class TestEntropyRate:
    def test_deterministic_chain_zero_entropy(self, spark):
        # a->b->a->b...: every transition is certain -> H = 0
        import datetime as dt
        rows = []
        t0 = dt.datetime(2024, 1, 1)
        for i in range(20):
            rows.append((i, t0 + dt.timedelta(minutes=i), 1,
                         "a" if i % 2 == 0 else "b", 1.0))
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
            "event_type string, value double"
        )
        from eventbridge_etl_spark.queries import graph_q  # noqa: F401
        from eventbridge_etl_spark.operators.graph import transition_edges
        from pyspark.sql import functions as F
        e = transition_edges(df)
        # all mass on a->b and b->a, each conditional prob 1 -> ln 1 = 0
        assert e.count() == 2
        assert e.agg(F.sum("n")).collect()[0][0] == 19


def test_transition_edges_skip_null_labels(spark):
    """[A, NULL, B] must yield the true A->B transition, not a phantom
    (A, NULL) edge plus a lost successor (r6 review finding)."""
    import datetime as dt

    from eventbridge_etl_spark.operators.graph import transition_edges

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "A", 1.0),
        (2, t0 + dt.timedelta(minutes=1), 1, None, 1.0),
        (3, t0 + dt.timedelta(minutes=2), 1, "B", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    got = {(r["src"], r["dst"]): r["n"] for r in transition_edges(df).collect()}
    assert got == {("A", "B"): 1}


def test_pagerank_drops_nonpositive_weights(spark):
    """A source whose out-weights sum to zero must not inject NaN into
    the rank mass (r6 review finding): zero-weight edges drop, the
    node dangles, and every rank stays finite and non-null."""
    from eventbridge_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 0.0), ("a", "c", 0.0), ("b", "c", 1.0)],
        "src string, dst string, w double",
    )
    out = {r["node"]: r["rank"] for r in
           pagerank(edges, weight_col="w", iterations=2).collect()}
    # the node set is defined by the POSITIVE-weight graph: a's only
    # edges are zero-weight, so a leaves the graph entirely
    assert set(out) == {"b", "c"}
    assert all(v is not None and v == v for v in out.values())
    assert out["c"] > out["b"]


def test_bfs_frontier_prunes_visited(spark):
    """On a cycle the pruned frontier must empty once everything is
    visited — the level-3 expansion joins zero rows instead of
    re-expanding the whole component (r6 review finding); results
    unchanged."""
    from eventbridge_etl_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    src = spark.createDataFrame([("a",)], "node string")
    out = {r["node"]: r["hops"] for r in bfs_hops(edges, src, 5).collect()}
    assert out == {"a": 0, "b": 1, "c": 2}


def test_deep_unroll_checkpointing_is_result_identical(spark):
    """The r13 lazy-localCheckpoint plan truncation (bfs, adaptive:
    every 4 levels once max_hops > 8) must not change results at
    depths where it triggers.  Checked against an exact Python BFS
    rather than an untruncated unroll — at depth 10 the
    UNTRUNCATED plan is the >1M-line / minutes-of-planning pathology
    the truncation exists to remove, far too slow for CI."""
    import collections

    from eventbridge_etl_spark.operators.graph import bfs_hops

    # a 12-deep chain with a shortcut branch, so hops 1..10 populate
    # and one node's min-hop differs from its chain position
    chain = [(f"n{i}", f"n{i+1}") for i in range(12)] + [("n2", "x"), ("x", "n5")]
    edges = spark.createDataFrame(chain, "src string, dst string")
    src = spark.createDataFrame([("n0",)], "node string")
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, src, max_hops=10).collect()}

    adj = collections.defaultdict(list)
    for s, d in chain:
        adj[s].append(d)
    expected, frontier = {"n0": 0}, ["n0"]
    for h in range(1, 11):
        frontier = [
            d for s in frontier for d in adj[s] if d not in expected
        ]
        frontier = sorted(set(frontier))
        for d in frontier:
            expected[d] = h
    assert got == expected
