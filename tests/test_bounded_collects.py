"""Whitelist pin for driver-side materialization (VERDICT r8 item 7).

The engine's 100 TB contract allows a ``.collect()``/``.toPandas()``, or
a driver read of an ``Observation``'s metrics (``.get[...]``), ONLY when
the collected frame or metric is provably k- or bucket-bounded.  The
three sanctioned sites are pinned here IN BOTH DIRECTIONS, the same way
test_registry_plan_audit pins the one sanctioned cross join:

- a NEW collect anywhere in the package fails (no unbounded driver
  materialization can sneak in), and
- a sanctioned site losing its bounding construct (the ``.limit(k)``,
  the Lloyd step's ``groupBy("_j", "_cluster", "_subpos")``, the
  bucket-id ``collect_set``) fails too,
  so the sanction cannot silently outlive its justification.

Queries modules are exempt from the scan: they only build DataFrames
(the driver/tests do the collecting), and test_registry_plan_audit
already compiles every registered plan.
"""

from __future__ import annotations

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "eventbridge_etl_spark")

#: (relpath, bounding construct that must appear within the 8 lines
#: BEFORE the collect, bound documented)
SANCTIONED = [
    ("operators/upsert.py", r"F\.collect_set\(self\.BUCKET_COL\)",
     "observed set <= n_buckets values (bucket ids of the incoming batch)"),
    ("operators/similarity.py", r"\.limit\(k\)",
     "Lloyd init (kmeans_fit, pq_train): exactly k rows (sliced into m "
     "subspaces driver-side)"),
    ("operators/similarity.py", r'\.groupBy\("_j", "_cluster", "_subpos"\)',
     "Lloyd iteration (kmeans_fit with m = 1, pq_train): <= m*k*subdim "
     "rounded doubles (one per subspace x surviving cluster x position)"),
]

COLLECT_RE = re.compile(r"\.collect\(\)|\.toPandas\(\)|\.get\[")


def _collect_sites() -> list[tuple[str, int, str]]:
    """(relpath, lineno, 8-line-context) of every collect in the
    package source."""
    sites = []
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            with open(path, encoding="utf-8") as fh:
                lines = fh.readlines()
            for i, line in enumerate(lines):
                if COLLECT_RE.search(line):
                    ctx = "".join(lines[max(0, i - 8): i + 1])
                    sites.append((rel, i + 1, ctx))
    return sites


def test_every_collect_is_sanctioned_and_still_bounded():
    sites = _collect_sites()
    # direction 1: no new collects anywhere in the package
    assert len(sites) == len(SANCTIONED), (
        f"expected exactly {len(SANCTIONED)} sanctioned driver collects, "
        f"found {len(sites)}: {[(r, n) for r, n, _ in sites]} — a new "
        "collect needs a documented bound AND a row here, or a rewrite"
    )
    # direction 2: each sanctioned site keeps its bounding construct
    remaining = list(SANCTIONED)
    for rel, lineno, ctx in sites:
        hit = next(
            (s for s in remaining
             if s[0] == rel and re.search(s[1], ctx)),
            None,
        )
        assert hit is not None, (
            f"{rel}:{lineno} collect has no matching sanction (bounding "
            f"construct missing from its context?):\n{ctx}"
        )
        remaining.remove(hit)
    assert not remaining, f"sanctioned sites vanished from source: {remaining}"
