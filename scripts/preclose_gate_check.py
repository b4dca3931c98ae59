"""Round-close check of the gate ledger ``data/gate_digests.json``.

The ledger records, for every registry gate, the md5 of its
canonicalized sf0.01 engine output at the last round close
(``digests``) and the round in which its engine code or values last
changed (``changed``).  ``queries.load_all()`` puts every PENDING gate
— never driver-checked, or changed after its last MATCH in a committed
``CORRECTNESS_r<N>.json`` — at the head of the registry, so the next
driver window checks it.  This script makes a value change pending on
its own: a gate whose HEAD digest differs from the baseline gets
``changed[gate] = next round`` when stamped.

Usage (round close, after the last engine change)::

    python scripts/engine_hash.py > /tmp/hash_head.txt   # ~15 min full
    python scripts/preclose_gate_check.py /tmp/hash_head.txt --stamp
    git add data/gate_digests.json && git commit ...

Checks, each fatal:

1. The pending gates, counting this run's digest changes, fit inside
   the driver window (``queries.WINDOW``); more would leave one
   unchecked next round.
2. No gate hashed ``ERROR`` at HEAD, and no baseline gate vanished
   from the hash file (a crash or a silent registry drop must fail the
   close, not slide by as "no diff").

``--stamp`` rewrites the baseline AFTER the checks pass: ``digests``
from the hash file, ``changed`` for every differing gate, and
``_meta.stamped_round`` = the next round (latest CORRECTNESS round + 1).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from eventbridge_etl_spark.queries import (  # noqa: E402
    LEDGER,
    WINDOW,
    evidence,
    is_pending,
)

BASELINE = str(LEDGER)


def main(argv: list[str]) -> int:
    if not argv or argv[0] in ("-h", "--help"):
        print(__doc__)
        return 2
    hash_file, stamp = argv[0], "--stamp" in argv[1:]
    head: dict[str, str] = {}
    errors: list[str] = []
    with open(hash_file) as fh:
        for line in fh:
            parts = line.split()
            if len(parts) >= 2:
                if parts[1] == "ERROR":
                    errors.append(line.strip())
                else:
                    head[parts[0]] = parts[1]
    doc = json.load(open(BASELINE))
    base = doc["digests"]
    next_round, last = evidence()

    diffs = sorted(g for g in head if head[g] != base.get(g))
    changed = {**doc.get("changed", {}), **{g: next_round for g in diffs}}
    pending = sum(is_pending(g, last, changed) for g in head)
    vanished = sorted(g for g in base if g not in head and not any(
        e.startswith(g + " ") for e in errors
    ))

    violations: list[str] = []
    if pending > WINDOW:
        violations.append(
            f"{pending} pending gates do not fit the {WINDOW}-slot "
            f"driver window — the overflow would go unchecked next round"
        )
    for e in errors:
        violations.append(f"gate ERRORED during hashing: {e}")
    for g in vanished:
        violations.append(
            f"baseline gate missing from the hash file: {g} — registry "
            f"drop or partial hash run; hash the full registry at close"
        )

    print(
        f"gates hashed={len(head)} changed={len(diffs)} "
        f"pending={pending} errors={len(errors)} "
        f"vanished={len(vanished)} next_round={next_round}"
    )
    for g in diffs:
        print(f"  changed: {g} {base.get(g, 'new')[:8]} -> {head[g][:8]}")
    if violations:
        print("\nFAIL:")
        for v in violations:
            print(f"  - {v}")
        return 1
    if stamp:
        doc["digests"] = dict(sorted(head.items()))
        doc["changed"] = changed
        doc["_meta"]["stamped_round"] = next_round
        with open(BASELINE, "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
        print(f"stamped {len(head)} digests into {BASELINE}")
    print(f"OK — all {pending} pending gates fit the {WINDOW}-slot window")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
