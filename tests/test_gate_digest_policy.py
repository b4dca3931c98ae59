"""CI side of the driver-window rotation and its gate ledger.

The full value check (run every gate, diff digests against
``data/gate_digests.json``) needs a ~15-minute Spark pass and lives in
``scripts/verify.py hash`` / ``close`` — mandatory at round close.  These
tests are the fast invariants that hold the mechanism together between
closes: the ledger must track the registry exactly (a stamped or
``changed`` gate must still exist; an unstamped gate must sit in the
window head), the rotation rule is pinned on synthetic evidence, the
registry at HEAD is checked against the committed artifacts, and the
checker's logic is pinned against synthetic hash files so a regression
in the script can't silently pass everything.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys

from eventbridge_etl_spark import queries
from eventbridge_etl_spark.queries import WINDOW

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE = os.path.join(REPO, "data", "gate_digests.json")

#: Rewrites that only the local engine-hash check backed at the r13
#: close; the ledger keeps them pending until a driver round confirms.
CARRIED_OVER = (
    "q18_large_volume_customer",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_semantic",
    "graph_bfs_hops",
)


def _registry():
    sys.path.insert(0, REPO)
    import __spark_entry__ as m

    return m.queries()  # load_all() has run: rotation order


def _checker():
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    return importlib.import_module("verify")


def _changed():
    return json.load(open(BASELINE)).get("changed", {})


def test_baseline_tracks_registry_exactly():
    doc = json.load(open(BASELINE))
    digests = doc["digests"]
    registry = _registry()
    window = set(list(registry)[:WINDOW])

    # every stamped gate still exists (no orphan digests masking drops)
    orphans = sorted(set(digests) - set(registry))
    assert not orphans, f"baseline stamps gates no longer registered: {orphans}"

    # every registry gate is stamped OR is a new (never-checked, so
    # pending) gate in the window head awaiting its first stamp
    unstamped = sorted(set(registry) - set(digests))
    outside = [g for g in unstamped if g not in window]
    assert not outside, (
        f"gates with no baseline digest outside the window head: "
        f"{outside} — new gates must take a window slot and be stamped "
        f"at round close (scripts/verify.py close --stamp)"
    )

    # digest values look like md5 hex — a truncated/garbled stamp file
    # would otherwise flag every gate as changed at the next close
    assert all(
        isinstance(h, str) and len(h) == 32 for h in digests.values()
    ), "malformed digest in baseline"


def test_changed_ledger_is_valid():
    changed = _changed()
    orphans = sorted(set(changed) - set(_registry()))
    assert not orphans, f"`changed` names gates no longer registered: {orphans}"
    next_round, _ = queries.evidence()
    bad = {
        g: r for g, r in changed.items()
        if type(r) is not int or not 1 <= r <= next_round
    }
    assert not bad, (
        f"`changed` rounds must be ints in 1..{next_round} (the next "
        f"round): {bad}"
    )


def _artifact(root, rnd, rows):
    """A CORRECTNESS_r<rnd>.json with ``{gate: matched}`` rows."""
    doc = {
        g: {"rows_match": True, "schema_match": ok, "hash_match": ok}
        for g, ok in rows.items()
    }
    (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(doc))


def test_rotation_rule_on_synthetic_evidence(tmp_path):
    names = ["g", "a", "b", "c", "d", "e", "f"]

    # no artifacts: nothing is evidence, so name order
    assert queries.evidence(tmp_path) == (1, {})
    assert queries.rotation(names, {}, {}) == sorted(names)

    _artifact(tmp_path, 1, {"a": True, "b": True, "c": True, "d": True})
    # a and e fail in r2: a keeps its r1 evidence, e has none
    _artifact(tmp_path, 2, {"g": True, "b": True, "a": False, "e": False})
    # not a round artifact (no bare round number): ignored
    (tmp_path / "CORRECTNESS_r09_c8.json").write_text(
        json.dumps({"c": {"rows_match": True}})
    )
    next_round, last = queries.evidence(tmp_path)
    assert next_round == 3
    assert last == {"g": 2, "a": 1, "b": 2, "c": 1, "d": 1}

    # e, f never checked; b changed after its r2 check; d's change
    # predates its evidence, so it is not pending
    changed = {"b": 3, "d": 1}
    assert [g for g in names if queries.is_pending(g, last, changed)] == [
        "b", "e", "f"
    ]
    # never-checked, then changed-after-check, then stalest first with
    # r1 ties by name; g's fresh r2 evidence goes last
    assert queries.rotation(names, last, changed) == [
        "e", "f", "b", "a", "c", "d", "g"
    ]


def _registry_order(pre_imports):
    """The registry order a fresh process sees after importing
    ``pre_imports`` (query submodules) before ``__spark_entry__``."""
    code = "".join(
        f"import eventbridge_etl_spark.queries.{mod}\n" for mod in pre_imports
    ) + (
        "import __spark_entry__\n"
        "from eventbridge_etl_spark.queries import QUERIES\n"
        "print(','.join(QUERIES))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True,
        text=True, check=True,
    ).stdout
    return out.strip().split(",")


def test_rotation_is_independent_of_import_order():
    fresh = _registry_order(())
    reordered = _registry_order(("tpch_more", "timeseries_q"))
    assert reordered == fresh, (
        f"window differs by import order: "
        f"{sorted(set(fresh[:WINDOW]) ^ set(reordered[:WINDOW]))}"
    )


def test_load_all_is_idempotent():
    queries.load_all()
    first = list(queries.QUERIES)
    queries.load_all()
    assert list(queries.QUERIES) == first
    assert list(queries.ORACLES) == [n for n in first if n in queries.ORACLES]
    _, last = queries.evidence()
    assert first == queries.rotation(first, last, _changed())


def test_carried_over_rewrites_are_in_the_window():
    changed = _changed()
    _, last = queries.evidence()
    window = list(_registry())[:WINDOW]
    for g in CARRIED_OVER:
        assert changed.get(g, 0) >= 13, f"{g}: r13 rewrite not in the ledger"
        assert g in window or not queries.is_pending(g, last, changed), (
            f"{g} is pending but outside the driver window"
        )


def test_window_moves_past_the_latest_round():
    changed = _changed()
    next_round, last = queries.evidence()
    window = list(_registry())[:WINDOW]
    repeat = [
        g for g in window
        if last.get(g) == next_round - 1
        and not queries.is_pending(g, last, changed)
    ]
    assert not repeat, (
        f"gates confirmed in r{next_round - 1} and not changed since "
        f"occupy the next window: {repeat}"
    )


def _base(tmp_path, monkeypatch, changed=None):
    doc = {
        "_meta": {"stamped_round": "test"},
        "changed": changed or {},
        "digests": {"g_a": "a" * 32, "g_b": "b" * 32, "g_c": "c" * 32},
    }
    bp = tmp_path / "base.json"
    bp.write_text(json.dumps(doc))
    monkeypatch.setattr(queries, "LEDGER", bp)
    monkeypatch.setattr(
        queries, "evidence", lambda: (5, {"g_a": 4, "g_b": 4, "g_c": 3})
    )
    return bp


def _hashes(tmp_path, name, lines):
    hf = tmp_path / name
    hf.write_text("".join(f"{g} {h}\n" for g, h in lines.items()))
    return str(hf)


def test_checker_stamp_rewrites_baseline(tmp_path, monkeypatch):
    chk = _checker()
    bp = _base(tmp_path, monkeypatch, changed={"g_c": 2})
    same = {"g_a": "a" * 32, "g_b": "b" * 32, "g_c": "c" * 32}

    # --stamp records changed = next round for the differing gate only
    # and keeps the older ledger entries
    hf = _hashes(tmp_path, "one.txt", {**same, "g_a": "d" * 32})
    assert chk.main(["close", hf, "--stamp"]) == 0
    doc = json.load(open(bp))
    assert doc["changed"] == {"g_a": 5, "g_c": 2}
    assert doc["_meta"]["stamped_round"] == 5
    assert doc["digests"] == {**same, "g_a": "d" * 32}


def test_checker_flags_out_of_window_changes(tmp_path, monkeypatch):
    chk = _checker()
    same = {"g_a": "a" * 32, "g_b": "b" * 32, "g_c": "c" * 32}
    monkeypatch.setattr(queries, "WINDOW", 1)

    # one pending gate fits a one-slot window
    _base(tmp_path, monkeypatch)
    hf = _hashes(tmp_path, "a.txt", {**same, "g_a": "d" * 32})
    assert chk.main(["close", hf]) == 0
    # more pending gates than the window holds: fatal, nothing stamped
    bp = _base(tmp_path, monkeypatch)
    hf = _hashes(tmp_path, "ab.txt", {**same, "g_a": "d" * 32, "g_b": "e" * 32})
    assert chk.main(["close", hf, "--stamp"]) == 1
    assert json.load(open(bp))["changed"] == {}
    # a pending ledger entry or a new (never-checked) gate counts too
    _base(tmp_path, monkeypatch, changed={"g_c": 5})
    hf = _hashes(tmp_path, "l.txt", {**same, "g_a": "d" * 32})
    assert chk.main(["close", hf]) == 1
    _base(tmp_path, monkeypatch)
    hf = _hashes(tmp_path, "n.txt", {**same, "g_new": "f" * 32})
    assert chk.main(["close", hf]) == 0
    hf = _hashes(tmp_path, "an.txt", {**same, "g_a": "d" * 32, "g_new": "f" * 32})
    assert chk.main(["close", hf]) == 1

    # an ERROR line or a vanished gate: fatal even with room in the
    # window (a crash must not read as "no diff")
    monkeypatch.setattr(queries, "WINDOW", WINDOW)
    hf = tmp_path / "err.txt"
    hf.write_text(
        f"g_a ERROR SomeException: boom\ng_b {'b' * 32}\ng_c {'c' * 32}\n"
    )
    assert chk.main(["close", str(hf)]) == 1
    hf = _hashes(tmp_path, "vanish.txt", {"g_a": "a" * 32})
    assert chk.main(["close", hf]) == 1
