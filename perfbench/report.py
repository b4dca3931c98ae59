"""Per-layer table of one traced run per workload, with tracing overhead.

    python3 perfbench/report.py --seed 7 --seconds 15 > perfbench/RESULTS.md

For each workload it runs ``run.py`` twice in fresh processes, untraced
then traced, with the same seed, and prints a markdown table of the
traced run's per-layer metrics for the layers that workload exercises,
followed by the end-to-end metrics of both runs (their difference is the
tracing overhead).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: metric-name prefixes every workload exercises
SHARED = {"session", "jvm", "cache", "box"}
INGEST = {"streaming", "upsert", "sources"}


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    detail, result = (json.loads(line) for line in proc.stdout.splitlines()[-2:])
    return detail, result


def section(workload: str, seed: int, seconds: int) -> list[str]:
    plain_detail, plain = run_once(workload, seed, seconds, 0)
    traced_detail, traced = run_once(workload, seed, seconds, 1)
    lines = [f"## {workload}", "",
             f"Seed {seed}, {seconds} s timed; sizes: `{json.dumps(traced_detail['sizes'])}`; "
             f"correct: untraced {plain['correct']} ({plain['attempted']} ops), "
             f"traced {traced['correct']} ({traced['attempted']} ops).", "",
             "| per-layer metric (traced run) | value | unit |", "| --- | ---: | --- |"]
    sizes = traced_detail["sizes"]
    own = SHARED | set(sizes.get("queries", ())) | (INGEST if "keys" in sizes else set())
    for name, m in traced["metrics"].items():
        if name.split(".")[0] in own:
            lines.append(f"| `{name}` | {m['value']:.4g} | {m['unit']} |")
    lines += ["", "| end-to-end metric | untraced | traced | overhead |",
              "| --- | ---: | ---: | ---: |"]
    for name, plain_v in plain_detail["end_to_end"].items():
        traced_v = traced_detail["end_to_end"][name]
        lines.append(f"| `{name}` | {plain_v:.4g} | {traced_v:.4g} | "
                     f"{(traced_v - plain_v) / plain_v:+.1%} |")
    lines.append("")
    return lines


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--seed", type=int, default=7)
    parser.add_argument("--seconds", type=int, default=15)
    parser.add_argument("--workloads", nargs="+",
                        default=["ingest_upsert", "relational_queries", "corpus_dedup"])
    args = parser.parse_args()
    out = ["# perfbench: traced per-layer results", "",
           f"Regenerate with `python3 perfbench/report.py --seed {args.seed} "
           f"--seconds {args.seconds}` (4-CPU VM, `local[4]`).  Metrics of layers "
           "a workload bypasses read 0 and are left out.  `plan_s` is an extra "
           "planning pass that only traced runs make.  The overhead column compares "
           "one untraced and one traced run, so it carries the box's run-to-run "
           "noise as well as the tracing cost.", ""]
    for workload in args.workloads:
        out += section(workload, args.seed, args.seconds)
    print("\n".join(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
