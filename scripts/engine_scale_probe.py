"""Engine-side scale completion probe (round 9).

For gates whose DuckDB replica oracle is INSTRUMENT-KILLED at a target
scale (the sf1 minhash pair family: the oracle's candidate-pair
materialization needs >100 GiB RAM+spill on this box — measured, see
SCALE.md round 9), this probe supplies the half of the evidence the
sweep cannot: it runs the SPARK side at that scale and records

- the same order-insensitive exact aggregates the fingerprint
  comparator uses (``aggregate_fingerprint_sweep._specs``), so a later
  rerun on a bigger box can complete the comparison without re-running
  the engine, and
- cross-gate internal-consistency invariants that hold by construction
  (cluster sizes sum to the doc count; every doc assigned exactly one
  split side; cluster_sizes histogram equals the clusters gate's
  grouped sizes), so a silent engine wedge at scale cannot hide behind
  "it completed".

This is deliberately NOT a cross-engine correctness check — that
evidence comes from the row-hash sweeps at sf0.01/sf0.1 and the
intermediate sf0.5 replica (where the quadratic candidate volume still
fits the oracle).  The probe proves the ENGINE side scales; the ladder
below it proves the values.

Each gate prints one ``verify.report`` line (ENGINE-OK with its
fingerprint, or ERROR), a broken invariant a MISMATCH line for the gate
it names, and the run ends with ``verify.DONE`` whose ``bad`` counts
both.

Usage::

    SWEEP_SF=/tmp/sf1 python scripts/engine_scale_probe.py \
        dedup_minhash_lsh dedup_clusters ...
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aggregate_fingerprint_sweep import _canon, _specs  # noqa: E402
from verify import DONE, m, report, session  # noqa: E402


def main() -> int:
    sf = os.environ.get("SWEEP_SF", "/tmp/sf1")
    names = sys.argv[1:]
    if not names:
        sys.exit("usage: engine_scale_probe.py <gate> [<gate> ...]")

    spark = session("local[16]", "32", "24g")
    spark.sparkContext.setLogLevel("ERROR")
    qs = m.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"not registry gates: {unknown}")

    results: dict[str, dict] = {}
    bad = 0  # gates that raised + invariant failures
    for name in names:
        # the timer wraps gate CONSTRUCTION too: iterative operators
        # (near_dup_clusters' label propagation) run eager actions
        # inside the constructor, so timing only the final aggregate
        # under-reports them to ~0 s
        t0 = time.time()
        # per-gate isolation: one gate dying at scale (e.g. a
        # shuffle-scratch exhaustion) must not discard the fingerprints
        # and invariant checks of gates that already completed in this
        # invocation — record the failure and keep probing
        try:
            df = qs[name](spark, sf)
            specs = _specs(df.dtypes)
            row = df.selectExpr(
                *[f"{expr} AS `{lbl}`" for lbl, expr, _ in specs]
            ).collect()[0]
        except Exception as e:  # noqa: BLE001 — report and keep probing
            report(name, "ERROR", repr(e)[:200])
            bad += 1
            continue
        dt = time.time() - t0
        fp = {lbl: _canon(row[lbl]) for lbl, _, _ in specs}
        results[name] = fp
        report(name, "ENGINE-OK", f"rows={fp['n_rows']} {dt:.1f}s")
        for lbl, v in fp.items():
            print(f"    {lbl} = {v}", flush=True)

    # internal-consistency invariants across the cluster family, when
    # the probe was asked for the gates that make them checkable
    def has(*ns: str) -> bool:
        return all(n in results for n in ns)

    if has("dedup_clusters", "dedup_cluster_sizes"):
        # dedup_clusters emits one (doc_id, cluster_id) row per doc;
        # dedup_cluster_sizes is the (n_members, n_clusters) histogram —
        # its weighted sum must reproduce the doc count exactly
        n_docs = results["dedup_clusters"]["n_rows"]
        try:
            got = _canon(
                qs["dedup_cluster_sizes"](spark, sf)
                .selectExpr("SUM(CAST(n_members AS DECIMAL(38,0)) * n_clusters) s")
                .collect()[0]["s"]
            )
        except Exception as e:  # noqa: BLE001
            report("dedup_cluster_sizes", "ERROR", f"histogram re-run: {repr(e)[:200]}")
            bad += 1
            got = None
        if got is None:
            pass
        elif got != n_docs:
            report("dedup_cluster_sizes", "MISMATCH",
                   f"invariant: sum(n_members*n_clusters)={got} != docs={n_docs}")
            bad += 1
        else:
            print(f"invariant ok: cluster-size histogram sums to doc count "
                  f"({n_docs})")
    if "sample_leakage_safe_split" in results:
        fp = results["sample_leakage_safe_split"]
        n = fp["n_rows"]
        # every doc appears exactly once with a non-null side
        side_n = fp.get("split.n")
        if side_n is not None and side_n != n:
            report("sample_leakage_safe_split", "MISMATCH",
                   f"invariant: {n - side_n} rows with NULL split side")
            bad += 1
        else:
            print(f"invariant ok: every row carries a split side ({n} rows)")
        if has("dedup_clusters", "sample_leakage_safe_split"):
            if fp["n_rows"] != results["dedup_clusters"]["n_rows"]:
                report("sample_leakage_safe_split", "MISMATCH",
                       "invariant: split row count != clusters row count")
                bad += 1

    print(DONE.format(len(results), bad), flush=True)
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
