"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import verify  # noqa: E402
import workloads  # noqa: E402


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def _generate(root: str, seed: int) -> dict[str, bytes]:
    gen.write_tables(os.path.join(root, "tables"), seed, 0.001, 60)
    gen.write_address_files(os.path.join(root, "inputs"), seed, 500, 4, 20)
    return _files(root)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    first = _generate(str(tmp_path / "a"), 7)
    second = _generate(str(tmp_path / "b"), 7)
    assert len(first) == 10 + 5
    assert first == second


def test_other_seed_gives_other_inputs(tmp_path):
    first = _generate(str(tmp_path / "a"), 7)
    other = _generate(str(tmp_path / "b"), 8)
    assert first.keys() == other.keys()
    assert first["inputs/update-00000.csv"] != other["inputs/update-00000.csv"]
    assert first["tables/lineitem.parquet"] != other["tables/lineitem.parquet"]


def test_update_files_hold_distinct_existing_keys(tmp_path):
    seed_csv, files = gen.write_address_files(str(tmp_path), 3, 200, 5, 50)
    keys = {row[0] for row in verify.read_csv_rows(seed_csv)}
    assert keys == set(range(200))
    for path in files:
        ids = [row[0] for row in verify.read_csv_rows(path)]
        assert len(ids) == len(set(ids)) == 50
        assert set(ids) <= keys


def test_median_geomean():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.median(values) == 3.0
    assert stats.median([1.0, 2.0, 3.0, 10.0]) == 2.5
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.median([])


def test_summarize_ops_reports_sample_counts():
    ops = [("a", 1.0), ("b", 4.0), ("a", 3.0), ("a", 2.0), ("b", 16.0)]
    summary = stats.summarize_ops(ops)
    assert summary["samples"] == {"a": 3, "b": 2}
    assert summary["op_p50_s"] == {"a": 2.0, "b": 10.0}
    assert summary["op_p50_geomean_s"] == pytest.approx((2.0 * 10.0) ** 0.5)


def test_fail_frac_counts_each_op_once():
    assert stats.fail_frac(10, set()) == 0.0
    assert stats.fail_frac(10, {0, 3}) == 0.2
    assert stats.fail_frac(4, {0, 1, 2, 3}) == 1.0
    with pytest.raises(ValueError):
        stats.fail_frac(4, {4})
    with pytest.raises(ValueError):
        stats.fail_frac(0, set())


def test_steal_sums_only_user_to_steal(tmp_path):
    stat = tmp_path / "stat"
    # user nice system idle iowait irq softirq steal guest guest_nice
    stat.write_text("cpu  100 0 50 800 0 0 0 50 100 0\ncpu0 1 2 3\n")
    assert stats.cpu_ticks(str(stat)) == (1000, 50)
    assert stats.steal_pct((1000, 50), (2000, 150)) == 10.0
    assert stats.steal_pct((1000, 50), (1000, 50)) == 0.0


def _replay():
    seed_rows = [(k, 0, "s", "t", "z") for k in range(4)]
    landed = [[(1, 1, "s1", "t", "z")], [(2, 2, "s2", "t", "z"), (1, 2, "s3", "t", "z")]]
    return verify.replay_lww(seed_rows, landed)


def test_replay_is_last_writer_wins():
    expected, last_writer = _replay()
    assert expected[1] == (1, 2, "s3", "t", "z")
    assert expected[0] == (0, 0, "s", "t", "z")
    assert last_writer == {0: verify.SEED, 1: 1, 2: 1, 3: verify.SEED}


def test_correct_store_has_no_failures():
    expected, last_writer = _replay()
    actual = list(expected.values())
    assert verify.store_failures(actual, expected, last_writer) == (set(), False)


def test_planted_wrong_store_row_is_pinned_on_its_file():
    expected, last_writer = _replay()
    actual = [row if row[0] != 2 else (2, 2, "WRONG", "t", "z") for row in expected.values()]
    assert verify.store_failures(actual, expected, last_writer) == ({1}, False)


def test_stale_row_missing_key_and_duplicates_are_failures():
    expected, last_writer = _replay()
    stale = [row if row[0] != 1 else (1, 1, "s1", "t", "z") for row in expected.values()]
    assert verify.store_failures(stale, expected, last_writer) == ({1}, False)
    missing = [row for row in expected.values() if row[0] != 2]
    assert verify.store_failures(missing, expected, last_writer) == ({1}, False)
    wrong_seed = [row if row[0] != 0 else (0, 9, "s", "t", "z") for row in expected.values()]
    assert verify.store_failures(wrong_seed, expected, last_writer) == (set(), True)
    dup = list(expected.values()) + [expected[3]]
    assert verify.store_failures(dup, expected, last_writer) == (set(), True)
    extra = list(expected.values()) + [(99, 0, "s", "t", "z")]
    assert verify.store_failures(extra, expected, last_writer) == (set(), True)


def test_planted_wrong_result_digest_is_a_failure():
    got = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    assert verify.frames_match(got, got.iloc[::-1].reset_index(drop=True))
    wrong = got.copy()
    wrong.loc[1, "v"] = 1.26
    assert not verify.frames_match(got, wrong)
    assert not verify.frames_match(got, got.rename(columns={"v": "w"}))
    arrays = pd.DataFrame({"k": [1], "a": [[1.0, 2.0]]})
    assert verify.frames_match(arrays, arrays.copy())
    assert not verify.frames_match(arrays, pd.DataFrame({"k": [1], "a": [[1.0, 2.5]]}))


def test_query_schedule_is_seeded_rounds():
    def order(seed):
        wl = workloads.QueryWorkload(workloads.RELATIONAL, 0.01, 10, "/nonexistent",
                                     seed, None)
        return [wl._name(k) for k in range(3 * len(workloads.RELATIONAL))]

    a = order(5)
    assert a == order(5)
    assert a != order(6)
    n = len(workloads.RELATIONAL)
    for r in range(3):
        assert sorted(a[r * n:(r + 1) * n]) == sorted(workloads.RELATIONAL)


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == workloads.per_layer_names()
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".*"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_upsert",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout == ""
