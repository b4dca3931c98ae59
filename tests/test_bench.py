"""bench.py's protocol at sf0.001 on the shared session: the per-run
build/plan/exec split, the headline as the min of build + exec, the
plan dump, and the JSON line's keys.  bench imports its box probes from
perfbench, so a rename there fails here too."""

from __future__ import annotations

import json
import os

import pytest

import bench
from eventbridge_etl_spark.queries import load_all

from .conftest import SF_DIR

Q1 = "q1_pricing_summary"

#: Keys of BENCH_r13.json's parsed line: the series stays readable.
R13_KEYS = {
    "metric", "value", "unit", "queries", "cold_value", "cold_queries",
    "canary_sec", "canary_runs", "canary_ref_sec", "canary_shuffle_sec",
    "canary_shuffle_runs", "canary_shuffle_ref_sec", "query_runs",
    "query_steal_pct", "query_t_start", "canary_post_sec", "canary_post_runs",
    "canary_shuffle_post_sec", "canary_shuffle_post_runs", "tmpfs_shuffle",
    "pretouch_heap", "sf",
}


@pytest.fixture(scope="module")
def q1_line(spark, tmp_path_factory):
    plans = str(tmp_path_factory.mktemp("plans"))
    line = bench.measure(spark, SF_DIR, names=[Q1], plans_dir=plans)
    line.update(tmpfs_shuffle=False, pretouch_heap=False)
    return json.loads(json.dumps(line)), plans


def test_time_query_splits_five_runs_into_layers(spark):
    load_all()
    runs, df = bench.time_query(spark, Q1, SF_DIR)
    assert len(runs) == bench.RUNS == 5
    for run in runs:
        assert set(run) == {"build_s", "plan_s", "exec_s"}
        assert all(v >= 0 for v in run.values())
    assert df.columns  # the frame the last noop write ran


def test_headline_is_min_of_build_plus_exec(q1_line):
    line, _ = q1_line
    totals = line["query_runs"][Q1]
    assert len(totals) == bench.RUNS
    layer = line["layers"][Q1]
    assert set(layer) == {"build_s", "plan_s", "exec_s"}
    assert line["queries"][Q1] == min(totals) == round(layer["build_s"] + layer["exec_s"], 3)
    assert line["value"] == line["queries"][Q1]
    assert line["cold_queries"][Q1] == totals[0]


def test_plan_dump_keeps_q1_aggregates(q1_line):
    _, plans = q1_line
    assert os.listdir(plans) == [f"{Q1}.txt"]
    with open(os.path.join(plans, f"{Q1}.txt")) as fh:
        plan = fh.read()
    # the noop write computes every output column: none is pruned
    assert plan.count("sum(") >= 4 and "avg(" in plan, plan[:2000]


def test_json_line_keys(q1_line):
    line, _ = q1_line
    assert R13_KEYS | {"layers", "count_value", "count_queries"} <= set(line)
    assert line["count_queries"][Q1] > 0 and line["count_value"] == line["count_queries"][Q1]
    assert len(line["canary_runs"]) == 5 and len(line["canary_post_runs"]) == 3
    assert line["canary_sec"] == min(line["canary_runs"])
    assert line["sf"] == 0.001
