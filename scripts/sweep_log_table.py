"""Summarize an sf1_registry_sweep.sh log directory into the SCALE.md
results table: one row per chunk (gates checked / bad / wall seconds /
slowest gate), plus a flat list of any non-MATCH lines so a divergence
is impossible to miss.

Parses every line shape the three sweep scripts actually emit:

- verify.py sweep:       ``name MATCH 12.3s`` / ``name rows-only N 12.3s``
                         / ``name MISMATCH cols=... first=[...]`` (no
                         trailing duration) / ``name ERROR repr(e)`` /
                         ``name ORACLE-ERROR repr(e)`` / ``name
                         pinned-skip (crash-check only) N`` / ``SWEEP
                         DONE checked=N bad=N``
- aggregate_fingerprint_sweep.py: ``name FP-MATCH rows=... spark=1.2s
                         oracle=3.4s`` / ``FP-MISMATCH`` + indented
                         ``!! lbl: spark=... oracle=...`` detail lines /
                         ``FINGERPRINT DONE gates=N bad=N``
- engine_scale_probe.py: ``name ENGINE-OK rows=N 12.3s`` / ``name
                         ENGINE-ERROR repr(e)`` / ``!! INVARIANT FAIL:
                         ...`` / ``ENGINE PROBE DONE gates=N
                         invariant_failures=N``

A status line whose verdict is not MATCH/FP-MATCH/ENGINE-OK/rows-only
lands in PROBLEMS even when it carries no duration (the r9 bug: the old
regex demanded a trailing number, so MISMATCH/ERROR lines silently fell
through and the script exited 0 on a divergent sweep).  A DONE line
reporting bad>0 is itself a PROBLEMS entry, so the exit code can never
disagree with the per-chunk ``bad`` column.

Usage::

    python scripts/sweep_log_table.py /tmp/sf1_sweep
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

#: Status line: gate name + verdict; duration is OPTIONAL (MISMATCH /
#: ERROR lines end in diagnostic text, not a duration).
GATE = re.compile(
    r"^([a-z][a-z0-9_]*)\s+(MATCH|MISMATCH|ERROR|ORACLE-ERROR|FP-MATCH"
    r"|FP-MISMATCH|ENGINE-OK|ENGINE-ERROR|rows-only|pinned-skip)\b"
)
#: Trailing / embedded duration: prefer the LAST ``<num>s`` token so
#: FP lines (``spark=1.2s oracle=3.4s``) charge the oracle wall too.
SECS = re.compile(r"([0-9.]+)s\b")
DONE = re.compile(r"^(?:SWEEP|FINGERPRINT|ENGINE PROBE) DONE\b")
#: every badness counter a DONE line can carry — summed per chunk
DONE_BAD = re.compile(r"\b(?:bad|errors|invariant_failures)=(\d+)")
#: Fingerprint-diff / invariant-failure detail lines.
BANG = re.compile(r"^\s*!!\s*(.+)$")

_OK = ("MATCH", "FP-MATCH", "ENGINE-OK", "rows-only")

#: Gates DELIBERATELY absent from every sf1 chunk (VERDICT r10 #7):
#: the within-bucket quadratic verifiers, excluded by design rather
#: than killed by instruments — their documented scale path IS the
#: LSH-composed gates, and since r11 the contract is mechanical
#: (operators/dedup.py::_quadratic_guard raises above the row budget).
#: Listed in the summary so the table reads complete, not truncated.
BY_DESIGN = {
    "dedup_tfidf_cosine": "all-pairs tf-idf verifier (Σdf² = 45.1B at sf1)",
    "dedup_tfidf_cosine_capped": "df-capped all-pairs verifier (cap empties this corpus at sf1)",
    "dedup_embedding_cosine": "exact cosine self-join (2e10 vector pairs at sf1)",
}


def main() -> int:
    logdir = Path(sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1_sweep")
    rows, problems, grand = [], [], 0
    for log in sorted(logdir.glob("*.log")):
        checked = skipped = 0
        bad = None
        slowest = (0.0, "")
        total = 0.0
        for line in log.read_text().splitlines():
            b = BANG.match(line)
            if b:
                problems.append(f"{log.stem}: !! {b.group(1).strip()}")
                continue
            g = GATE.match(line)
            if g:
                name, status = g.group(1), g.group(2)
                if status == "pinned-skip":
                    skipped += 1
                    continue
                checked += 1
                secs = SECS.findall(line)
                if secs:
                    try:
                        s = float(secs[-1])
                        total += s
                        if s > slowest[0]:
                            slowest = (s, name)
                    except ValueError:
                        pass
                if status not in _OK:
                    problems.append(f"{log.stem}: {line.strip()}")
            if DONE.match(line):
                bad = sum(int(x) for x in DONE_BAD.findall(line))
                if bad > 0:
                    problems.append(
                        f"{log.stem}: DONE line reports bad={bad}"
                    )
        if bad is None:
            problems.append(f"{log.stem}: NO DONE LINE (chunk crashed or timed out)")
        grand += checked
        rows.append(
            f"| {log.stem} | {checked} | {bad if bad is not None else '?'} "
            f"| {total:.0f} | {slowest[1]} {slowest[0]:.0f}s |"
        )
    print("| chunk | gates | bad | wall s | slowest |")
    print("|---|---|---|---|---|")
    for r in rows:
        print(r)
    print(f"\ntotal value-compared gates: {grand}")
    print("\nBY-DESIGN EXCLUSIONS (guard-exempt quadratic verifiers; "
          "scale path = the LSH-composed gates):")
    for name, why in BY_DESIGN.items():
        print(f"  {name}: {why}")
    if problems:
        print("\nPROBLEMS:")
        for p in problems:
            print(" ", p)
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
