"""Contracts of ``scripts/verify.py`` that need no Spark run.

- **Portability:** the old-vs-new value check copies ``verify.py`` into a
  worktree of an older commit, so its module-level imports are limited to
  what every such commit has, and importing it starts nothing.
- **One builder:** no other script builds its own SparkSession or DuckDB
  spill setup; they import ``session``/``duck``.
- **SWEEP_ONLY** is validated before any JVM starts.
- **The battery's ok-rule** on synthetic sweep output.
- **The sf1 plan** is computed from the registry: every gate is in its
  module's chunk or ``ROUTED``, and every step is judged by ``verdict``.
- **The float-sum audit** lists registered gates and reaches its DONE line.
"""

from __future__ import annotations

import ast
import importlib
import os
import subprocess
import sys
from pathlib import Path

import pytest

from .conftest import SF_DIR

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = REPO / "scripts"
VERIFY = SCRIPTS / "verify.py"

#: module-level imports allowed besides the stdlib
ALLOWED = {"duckdb", "pyspark", "__spark_entry__", "eventbridge_etl_spark.compare"}


def _verify():
    sys.path.insert(0, str(SCRIPTS))
    return importlib.import_module("verify")


def _module_imports(tree):
    for node in tree.body:
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            yield node.module


def test_module_imports_stay_portable():
    tree = ast.parse(VERIFY.read_text())
    bad = [
        mod for mod in _module_imports(tree)
        if mod.split(".")[0] not in sys.stdlib_module_names
        and mod not in ALLOWED
        and mod.split(".")[0] != "pyspark"
    ]
    assert not bad, f"verify.py imports beyond the portable set: {bad}"
    # the rotation and ledger live in queries, which older commits lack
    # in this form: close imports them lazily
    funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    lazy = {
        (n.module, a.name)
        for n in ast.walk(funcs["close"]) if isinstance(n, ast.ImportFrom)
        for a in n.names
    }
    assert ("eventbridge_etl_spark", "queries") in lazy, (
        "close must import the queries package lazily"
    )


def test_import_starts_no_jvm():
    code = (
        f"import sys; sys.path.insert(0, {str(SCRIPTS)!r})\n"
        "import verify\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._gateway is None, 'import started a JVM'\n"
        "assert SparkContext._active_spark_context is None\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd="/tmp", capture_output=True, text=True
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # nothing at module level calls a builder either (DuckDB included)
    tree = ast.parse(VERIFY.read_text())
    starters = {"connect", "session", "duck", "getOrCreate", "entry"}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.If):  # the __main__ guard
            continue
        for call in ast.walk(node):
            if isinstance(call, ast.Call):
                fn = call.func
                name = getattr(fn, "attr", None) or getattr(fn, "id", None)
                assert name not in starters, (
                    f"module-level call to {name} at line {node.lineno}"
                )


def test_one_session_and_spill_setup_in_scripts():
    for path in sorted(SCRIPTS.iterdir()):
        if path.name == "verify.py" or path.suffix not in (".py", ".sh"):
            continue
        src = path.read_text()
        for needle in ("SparkSession.builder", "temp_directory", "memory_limit"):
            assert needle not in src, (
                f"{path.name} carries its own {needle}; import "
                f"verify.session / verify.duck instead"
            )


def test_sweep_only_typo_exits_before_any_jvm(monkeypatch):
    verify = _verify()
    monkeypatch.setenv("SWEEP_ONLY", "q1_pricing_summary,q1_pricing_sumary")

    def no_session(*a, **k):
        raise AssertionError("a session started before SWEEP_ONLY was checked")

    monkeypatch.setattr(verify, "session", no_session)
    for cmd in ("sweep", "hash"):
        with pytest.raises(SystemExit) as exc:
            verify.main([cmd])
        assert "q1_pricing_sumary" in str(exc.value)
        assert "q1_pricing_summary'" not in str(exc.value)

    monkeypatch.setenv("SWEEP_ONLY", "q1_pricing_summary,join_anti")
    assert verify.selected() == ["join_anti", "q1_pricing_summary"]


def test_report_lines_parse_back(capsys):
    verify = _verify()
    verify.report("q1_pricing_summary", "MISMATCH", "cols=True rows=4|4 first=[]")
    verify.report("join_anti", "ERROR", "Py4JJavaError('boom')")
    verify.report("join_semi", "ORACLE-ERROR", "CatalogException()")
    verify.report("join_semi", "MATCH", "1.0s")
    print(verify.DONE.format(3, 2))
    out = capsys.readouterr().out.splitlines()
    hits = [verify.GATE_LINE.match(line) for line in out]
    assert [h.groups() for h in hits if h] == [
        ("q1_pricing_summary", "MISMATCH"),
        ("join_anti", "ERROR"),
        ("join_semi", "ORACLE-ERROR"),
    ]
    assert verify.DONE_LINE.search(out[-1]).groups() == ("3", "2")


WAIVED_GATE = "streaming_dedup"


@pytest.mark.parametrize(
    "surface, out, rc, ok",
    [
        # a waived MISMATCH passes, on its own surface only
        ("timeshift", f"{WAIVED_GATE} MISMATCH cols=True rows=5|6 first=[]\n"
                      "SWEEP DONE checked=200 bad=1\n", 1, True),
        ("adv", f"{WAIVED_GATE} MISMATCH cols=True rows=5|6 first=[]\n"
                "SWEEP DONE checked=200 bad=1\n", 1, False),
        # an ERROR on a waived gate fails
        ("timeshift", f"{WAIVED_GATE} ERROR Py4JJavaError('x')\n"
                      "SWEEP DONE checked=199 bad=1\n", 1, False),
        # a crash after a clean DONE fails
        ("clean", "SWEEP DONE checked=200 bad=0\nTraceback ...\n", 1, False),
        # no DONE line fails, even with exit 0
        ("clean", "q1_pricing_summary MATCH 1.0s\n", 0, False),
        # log4j noise containing ERROR is not a gate line
        ("clean", "26/10/18 06:01:02 ERROR Executor: Exception in task 0.0\n"
                  "ERROR: lost executor\n"
                  "SWEEP DONE checked=200 bad=0\n", 0, True),
        # bad gates not accounted for by waivers fail
        ("timeshift", "SWEEP DONE checked=200 bad=1\n", 1, False),
    ],
)
def test_battery_verdict_rule(surface, out, rc, ok):
    verify = _verify()
    assert WAIVED_GATE in verify.WAIVED["timeshift"]
    r = verify.verdict(surface, out, rc)
    assert r["ok"] is ok, r
    if surface == "clean" and ok:
        assert r["mismatches"] == [] and r["checked"] == 200


def test_timeshift_waivers_are_the_derived_set():
    verify = _verify()
    assert verify.WAIVED == {"timeshift": frozenset(verify.DERIVED)}
    assert set(verify.DERIVED) <= set(verify.m.oracle_sql())


@pytest.mark.parametrize("waivers_rc, verdict", [(0, "PASS"), (1, "FAIL")])
def test_battery_runs_isolated_sweeps(monkeypatch, tmp_path, capsys,
                                      waivers_rc, verdict):
    """Each surface is a fresh ``verify.py sweep`` from /tmp without an
    inherited SWEEP_ONLY; the timeshift waivers count only when
    ``verify.py waivers`` derives them."""
    verify = _verify()
    calls = []

    def fake_run(cmd, env=None, cwd=None, **kw):
        calls.append((cmd[1:], env, cwd))
        if cmd[2] == "waivers":
            return subprocess.CompletedProcess(cmd, waivers_rc, "", "")
        if env["SWEEP_SF"].endswith("timeshift"):
            out = (f"{WAIVED_GATE} MISMATCH cols=True rows=5|6 first=[]\n"
                   "SWEEP DONE checked=200 bad=1\n")
            return subprocess.CompletedProcess(cmd, 1, out, "")
        return subprocess.CompletedProcess(cmd, 0, "SWEEP DONE checked=200 bad=0\n", "")

    monkeypatch.setattr(verify.subprocess, "run", fake_run)
    monkeypatch.setenv("SWEEP_ONLY", "join_anti")
    monkeypatch.setenv("SWEEP_PINNED_SKIP", "1")
    rc = verify.main(["battery", "--no-gen", "--no-suite", "--src", str(tmp_path),
                      "--out", str(tmp_path), "--surfaces", "clean,timeshift"])
    assert capsys.readouterr().out.rstrip().endswith(f"BATTERY {verdict}")
    assert rc == (verdict == "FAIL")

    script = os.path.abspath(verify.__file__)
    (clean, clean_env, clean_cwd), (ts, ts_env, _), (wv, _, wv_cwd) = calls
    assert clean == [script, "sweep"] and ts == [script, "sweep"]
    assert wv == [script, "waivers", str(tmp_path / "timeshift")]
    assert clean_cwd == wv_cwd == "/tmp"
    assert clean_env["SWEEP_SF"] == str(tmp_path)
    assert ts_env["SWEEP_PINNED_SKIP"] == "1"
    for env in (clean_env, ts_env):
        assert "SWEEP_ONLY" not in env
    assert "SWEEP_PINNED_SKIP" not in clean_env


def test_scale_plan_routes_every_gate_once():
    verify = _verify()
    chunks = verify.chunks()
    chunked = [g for gates in chunks.values() for g in gates]
    assert len(chunked) == len(set(chunked)), "a gate sits in two chunks"
    assert set(chunked).isdisjoint(verify.ROUTED)
    assert set(chunked) | set(verify.ROUTED) == set(verify.m.QUERIES)
    unknown = set(verify.ROUTED) - set(verify.m.QUERIES)
    assert not unknown, f"ROUTED names unregistered gates: {sorted(unknown)}"
    for mod, gates in chunks.items():
        assert {verify.m.QUERIES[g].__module__.rsplit(".", 1)[-1] for g in gates} == {mod}
    steps = [s for s, *_ in verify.scale_plan("sf1", "sf05", "sf02", "work")]
    assert len(steps) == len(set(steps))
    for gate, via in verify.ROUTED.items():
        assert set(via) <= set(steps), f"{gate} routed to a step the plan lacks"


def test_new_gate_lands_in_its_modules_chunk(monkeypatch):
    verify = _verify()

    def zz_new_gate(spark, sf):
        raise AssertionError("never run")

    zz_new_gate.__module__ = "eventbridge_etl_spark.queries.graph_q"
    monkeypatch.setitem(verify.m.QUERIES, "zz_new_gate", zz_new_gate)
    chunks = verify.chunks()
    assert "zz_new_gate" in chunks["graph_q"]
    assert sum("zz_new_gate" in gates for gates in chunks.values()) == 1


def _scale(verify, monkeypatch, tmp_path, output):
    """Run ``scale`` with every child faked by ``output(step argv, env)``;
    returns the exit code and the ``(argv, env, cwd)`` of each child."""
    calls = []

    def fake_run(cmd, env=None, cwd=None, **kw):
        calls.append((cmd[1:], env, cwd))
        return subprocess.CompletedProcess(cmd, *output(cmd[1:], env))

    monkeypatch.setattr(verify.subprocess, "run", fake_run)
    for var in ("SWEEP_SF", "SWEEP_SF05", "SWEEP_SF02"):
        monkeypatch.setenv(var, str(tmp_path))
    monkeypatch.setenv("SWEEP_ONLY", "join_anti")
    return verify.main(["scale", str(tmp_path / "logs")]), calls


def test_scale_runs_each_chunk_as_a_digest_sweep(monkeypatch, tmp_path, capsys):
    verify = _verify()
    rc, calls = _scale(verify, monkeypatch, tmp_path,
                       lambda argv, env: (0, "SWEEP DONE checked=1 bad=0\n", ""))
    assert rc == 0
    assert capsys.readouterr().out.rstrip().endswith("SCALE PASS")
    chunks = verify.chunks()
    script = os.path.abspath(verify.__file__)
    sweeps = [(env, cwd) for argv, env, cwd in calls if argv == [script, "sweep"]]
    assert [env["SWEEP_ONLY"] for env, _ in sweeps] == [",".join(g) for g in chunks.values()]
    for env, cwd in sweeps:
        assert env["SWEEP_HASH"] == "1" and env["SWEEP_PINNED_SKIP"] == "1"
        assert env["SWEEP_SF"] == str(tmp_path) and cwd == "/tmp"
    # every step ran once, and the ladders never see the exported SWEEP_ONLY
    assert len(calls) == len(verify.scale_plan("", "", "", ""))
    assert all("SWEEP_ONLY" not in env for argv, env, _ in calls if argv != [script, "sweep"])
    assert len(list((tmp_path / "logs").glob("*.log"))) == len(calls)


@pytest.mark.parametrize("out", [
    "graph_triangle_census MISMATCH (chunked oracle, K=16)\nSWEEP DONE checked=1 bad=1\n",
    "SWEEP DONE checked=1 bad=1\n",
    "graph_triangle_census MATCH (chunked oracle, K=16)\n",  # no DONE line
    None,  # killed at its timeout
])
def test_scale_fails_on_one_bad_step(monkeypatch, tmp_path, capsys, out):
    verify = _verify()

    def output(argv, env):
        if argv[0].endswith("census_ladder_sf1.py"):
            if out is None:
                raise subprocess.TimeoutExpired(argv, 3600, output=b"chunk 0/16 ...\n")
            return (1 if "bad=1" in out else 0), out, ""
        return 0, "SWEEP DONE checked=1 bad=0\n", ""

    rc, _ = _scale(verify, monkeypatch, tmp_path, output)
    assert rc == 1
    printed = capsys.readouterr().out
    assert printed.rstrip().endswith("SCALE FAIL")
    assert "[scale] census_sf1: FAIL" in printed


def test_float_sum_audit_lists_registered_gates_and_finishes(monkeypatch, capsys):
    sys.path.insert(0, str(SCRIPTS))
    audit = importlib.import_module("float_sum_audit")
    verify = _verify()
    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.01")  # the clean sweep fixture
    rows = audit.audit_sums(verify.duck(sf)) + audit.audit_quotients(verify.duck(sf))
    unknown = {row[0] for row in rows} - set(verify.m.QUERIES)
    assert not unknown, f"audit lists unregistered gates: {sorted(unknown)}"
    assert {g for g, *_ in audit.SUM_GATES} <= {row[0] for row in rows}
    monkeypatch.setenv("SWEEP_SF", sf)
    rc = audit.main()
    done = verify.DONE_LINE.search(capsys.readouterr().out.splitlines()[-1])
    assert done and done.groups() == (str(len(rows)), "0") and rc == 0
