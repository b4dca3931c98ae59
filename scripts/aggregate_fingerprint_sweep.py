"""Aggregate-fingerprint oracle parity for gates whose OUTPUT is too
large to row-compare (round 9).

The x10 key-offset sf1 replica makes every document a member of a
10-copy near-dup family, so the TRUE near-dup pair count is quadratic
by construction (measured: LSH band candidates 21k @sf0.01 -> 2.3M
@sf0.1 -> 148.85M @sf1).  The pair-output dedup gates therefore cannot
be swept with the row-materializing comparator at sf1 — not because the
engine can't compute them, but because ``toPandas`` on a ~1e8-row
result is the wrong instrument.

This script compares ORDER-INSENSITIVE EXACT AGGREGATES instead, built
automatically from the Spark result schema and mirrored verbatim in
DuckDB over the gate's own oracle SQL:

- every column: non-null COUNT
- integral columns: exact SUM
- float columns: SUM of the 1e6-scaled integer image
  (``ROUND(col * 1e6)`` — per-row values are bit-identical across
  engines wherever the row-comparator sweeps MATCH, so the scaled
  sums match iff the multisets match up to 1e-6, with no
  accumulation-order hazard because the summands are integers)
- string columns: SUM(LENGTH), COUNT(DISTINCT)
- plus the total row count

A fingerprint equality is weaker than the row-hash gate (a pair of
compensating errors could cancel in a sum) but it is value-level,
order-free, and runs in O(1) result memory — the right check at a
scale where the result set itself is the dominant cost.

Each gate prints one ``verify.report`` line (FP-MATCH, MISMATCH followed
by ``!!`` detail lines, or ERROR) and the run ends with ``verify.DONE``,
so ``verify.verdict`` judges it like a sweep (``verify.py scale`` runs
it on the sf0.5 replica).

Usage::

    SWEEP_SF=/tmp/sf1 python scripts/aggregate_fingerprint_sweep.py \
        dedup_minhash_lsh dedup_tfidf_on_candidates
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from verify import DONE, duck, m, report, session  # noqa: E402

INTEGRAL = {"tinyint", "smallint", "int", "bigint", "long"}
FLOATING = {"float", "double"}


def _specs(dtypes: list[tuple[str, str]]) -> list[tuple[str, str, str]]:
    """(label, spark_expr, duck_expr) aggregate pairs for a schema."""
    out = [("n_rows", "COUNT(*)", "COUNT(*)")]
    for col, dt in dtypes:
        q = f"`{col}`"
        d = f'"{col}"'
        out.append((f"{col}.n", f"COUNT({q})", f"COUNT({d})"))
        if dt in INTEGRAL:
            out.append((
                f"{col}.sum",
                f"SUM(CAST({q} AS DECIMAL(38,0)))",
                f"SUM(CAST({d} AS HUGEINT))",
            ))
        elif dt in FLOATING:
            out.append((
                f"{col}.sum6",
                f"SUM(CAST(ROUND({q} * 1000000) AS DECIMAL(38,0)))",
                f"SUM(CAST(ROUND({d} * 1000000) AS HUGEINT))",
            ))
        elif dt == "string":
            out.append((f"{col}.len", f"SUM(LENGTH({q}))", f"SUM(LENGTH({d}))"))
            out.append((
                f"{col}.nd", f"COUNT(DISTINCT {q})", f"COUNT(DISTINCT {d})"
            ))
        elif dt.startswith("timestamp") or dt == "date":
            out.append((
                f"{col}.sumus",
                f"SUM(CAST(unix_micros(CAST({q} AS TIMESTAMP)) AS DECIMAL(38,0)))",
                f"SUM(CAST(epoch_us({d}) AS HUGEINT))",
            ))
        # other types (arrays, binary): non-null count only
    return out


def _canon(v):
    if v is None:
        return None
    try:
        return int(v)
    except (TypeError, ValueError):
        return v


def main() -> int:
    sf = os.environ.get("SWEEP_SF", "/tmp/sf1")
    names = sys.argv[1:]
    if not names:
        sys.exit("usage: aggregate_fingerprint_sweep.py <gate> [<gate> ...]")

    spark = session("local[16]", "32", "24g")
    spark.sparkContext.setLogLevel("ERROR")
    qs = m.queries()
    oracles = m.oracle_sql()
    unknown = [n for n in names if n not in qs or n not in oracles]
    if unknown:
        sys.exit(f"not oracle-paired registry gates: {unknown}")

    # capped, with a per-process spill dir: without one DuckDB spills to
    # cwd/.tmp — the r11 fp chunk filled the ROOT filesystem from inside
    # the repo when the composed gate's sf0.5 oracle spilled >77 GiB
    con = duck(sf)

    bad = checked = 0
    for name in names:
        try:
            df = qs[name](spark, sf)
            specs = _specs(df.dtypes)
            t0 = time.time()
            srow = df.selectExpr(
                *[f"{expr} AS `{lbl}`" for lbl, expr, _ in specs]
            ).collect()[0]
            t_spark = time.time() - t0
            t0 = time.time()
            duck_sql = (
                "SELECT "
                + ", ".join(f'{dexpr} AS "{lbl}"' for lbl, _, dexpr in specs)
                + f" FROM ({oracles[name]}) _t"
            )
            orow = con.execute(duck_sql).fetchone()
            t_duck = time.time() - t0
        except Exception as e:  # noqa: BLE001 — report and keep going
            report(name, "ERROR", repr(e)[:200])
            bad += 1
            continue
        checked += 1
        diffs = []
        for (lbl, _, _), ov in zip(specs, orow):
            sv = _canon(srow[lbl])
            ov = _canon(ov)
            if sv != ov:
                diffs.append(f"{lbl}: spark={sv} oracle={ov}")
        report(name, "MISMATCH" if diffs else "FP-MATCH",
               f"rows={_canon(srow['n_rows'])} spark={t_spark:.1f}s oracle={t_duck:.1f}s")
        for dmsg in diffs:
            print(f"    !! {dmsg}", flush=True)
        bad += bool(diffs)

    print(DONE.format(checked, bad), flush=True)
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
