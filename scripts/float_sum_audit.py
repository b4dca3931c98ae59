"""Measured audit of every gate whose oracle still sums doubles and then
rounds.

The speed trade (double SUM, then ROUND(...,2), instead of an exact
decimal sum) has flipped a cent at sf1 before — q9, then q1/q5/q11 —
because a rounded double depends on the engine's accumulation order
exactly when the TRUE sum sits near a rounding half edge.  This script
makes the remaining trades MEASURED rather than assumed: for each gate
still double-summing, it computes at the target fixture

- ``min_edge``  — the minimum over groups of the EXACT sum's absolute
  distance to its nearest ROUND(k) half edge (computed in DuckDB
  DECIMAL arithmetic; for pure 2dp/integer operand sums the exact sum
  is itself a k-dp multiple, so the distance is exactly 0.5·10^-k);
- ``max_err``   — the maximum over groups of |double-sum image − exact
  sum| actually observed (one engine's accumulation; the other engine's
  error is the same class and bounded the same way);
- verdict: **SAFE** when min_edge > 100 × max_err (the double image
  cannot cross the edge with two orders of magnitude to spare),
  **CONVERT** otherwise (move the gate to the exact-decimal recipe),
  **EMPTY** when the fixture has no qualifying group.

Quotient gates (ROUND(a/b, 4), and threshold predicates comparing a
column against 0.2·AVG / AVG subqueries) are audited with exact
rational arithmetic in Python over decimal-sum numerators/denominators.

A gate whose oracle moves to an exact decimal sum leaves the list; a new
gate that double-sums money joins it.  The table ends with
``verify.DONE``, ``bad`` counting CONVERT rows, so ``verify.verdict``
judges it like a sweep (``verify.py scale`` runs it on the sf1 replica).

Usage::

    SWEEP_SF=/tmp/sf1 python scripts/float_sum_audit.py
"""

from __future__ import annotations

import os
import sys
from decimal import Decimal
from fractions import Fraction
from math import floor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from verify import DONE, duck  # noqa: E402

#: exact decimal forms of the fact columns (2dp money, 2dp discount,
#: integer-valued quantity — the generator's fixed-decimal domains)
EP = "CAST(l_extendedprice AS DECIMAL(18,2))"
DISC = "CAST(l_discount AS DECIMAL(8,6))"

#: (gate, summed column, k, per-group SQL producing ex DECIMAL / db
#: DOUBLE / n BIGINT)
SUM_GATES = [
    (
        "q6_forecast_revenue", "revenue", 2,
        f"""SELECT SUM({EP} * {DISC}) AS ex,
               SUM(l_extendedprice * l_discount) AS db, COUNT(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    ),
    (
        "q7_volume_shipping", "revenue", 2,
        f"""SELECT SUM({EP} * (1 - {DISC})) AS ex,
               SUM(l_extendedprice * (1 - l_discount)) AS db, COUNT(*) AS n
        FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                             AND TIMESTAMP '1997-12-31'
        GROUP BY n1.n_name, n2.n_name, EXTRACT(year FROM l_shipdate)""",
    ),
    # ---- pure 2dp / integer operand sums (exact sum IS a 2dp value;
    # ---- the only flip risk is image error >= 0.005 absolute) ----
    (
        "agg_cube", "sum_qty", 2,
        """SELECT SUM(CAST(l_quantity AS DECIMAL(18,2))) AS ex,
               SUM(l_quantity) AS db, COUNT(*) AS n
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    ),
    (
        "join_range_nonequi", "sum_price", 2,
        """SELECT SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS ex,
               SUM(p_retailprice) AS db, COUNT(*) AS n
        FROM part GROUP BY p_size""",
    ),
    (
        "join_full_outer_coalesce", "order_total", 2,
        """SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS ex,
               SUM(o_totalprice) AS db, COUNT(*) AS n
        FROM orders GROUP BY date_trunc('day', o_orderdate)""",
    ),
    (
        "join_full_outer_coalesce", "ship_total", 2,
        """SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS ex,
               SUM(l_extendedprice) AS db, COUNT(*) AS n
        FROM lineitem GROUP BY date_trunc('day', l_shipdate)""",
    ),
    (
        "join_salted_skew", "total_qty", 2,
        """SELECT SUM(CAST(l_quantity AS DECIMAL(18,2))) AS ex,
               SUM(l_quantity) AS db, COUNT(*) AS n
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_name""",
    ),
    (
        "q18_large_volume_customer", "total_qty", 2,
        """SELECT SUM(CAST(l_quantity AS DECIMAL(18,2))) AS ex,
               SUM(l_quantity) AS db, COUNT(*) AS n
        FROM lineitem GROUP BY l_orderkey""",
    ),
]


def _dec(x) -> Decimal | None:
    return None if x is None else Decimal(float(x))


def audit_sums(con) -> list[tuple]:
    rows = []
    for name, what, k, body in SUM_GATES:
        q = f"""
        WITH g AS ({body})
        SELECT COUNT(*) AS groups, MAX(n) AS max_n,
               MIN(ABS((ex * {10 ** k} - FLOOR(ex * {10 ** k})) - 0.5))
                 AS min_edge_frac,
               MAX(ABS(CAST(db AS DECIMAL(38,12)) - ex)) AS max_err
        FROM g
        """
        groups, max_n, min_edge_frac, max_err = con.execute(q).fetchone()
        min_edge = (Decimal(min_edge_frac) / (10 ** k)) if min_edge_frac is not None else None
        rows.append((name, what, k, groups, max_n, min_edge,
                     None if max_err is None else Decimal(max_err)))
    return rows


def _frac_edge_dist(q: Fraction, k: int) -> Fraction:
    """|distance| of exact rational q to its nearest ROUND(k) half edge."""
    f = q * 10 ** k
    fr = f - floor(f)
    return abs(fr - Fraction(1, 2)) / 10 ** k


def audit_quotients(con) -> list[tuple]:
    out = []
    # q8: ROUND(SUM(case volume)/SUM(volume), 4) per o_year
    rows = con.execute(f"""
        SELECT o_year,
               SUM(CASE WHEN nation = 'NATION_5' THEN exv ELSE 0 END) AS num,
               SUM(exv) AS den,
               SUM(CASE WHEN nation = 'NATION_5' THEN dbv ELSE 0 END) AS dnum,
               SUM(dbv) AS dden
        FROM (
          SELECT EXTRACT(year FROM o_orderdate) AS o_year,
                 {EP} * (1 - {DISC}) AS exv,
                 l_extendedprice * (1 - l_discount) AS dbv,
                 n2.n_name AS nation
          FROM part JOIN lineitem ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
            AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                                AND TIMESTAMP '1997-12-31'
        ) GROUP BY o_year
    """).fetchall()
    min_edge, max_err = None, Fraction(0)
    for _, num, den, dnum, dden in rows:
        exq = Fraction(num) / Fraction(den)
        img = Fraction(dnum / dden)  # the double-computed quotient, exactly
        d = _frac_edge_dist(exq, 4)
        e = abs(img - exq)
        min_edge = d if min_edge is None or d < min_edge else min_edge
        max_err = max(max_err, e)
    out.append(("q8_market_share", "quotient", 4, len(rows), None,
                _dec(min_edge), _dec(max_err)))

    # q17 threshold: 0.2*AVG(l_quantity) vs integer quantities — flip
    # iff the double image of sum/(5*cnt) crosses an integer the exact
    # value does not.  Distance = min over parts of |exact - nearest
    # integer|; error = |double image - exact|.
    rows = con.execute("""
        SELECT SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s,
               SUM(l_quantity) AS ds, COUNT(*) AS c
        FROM lineitem GROUP BY l_partkey
    """).fetchall()
    min_d, max_e = None, Fraction(0)
    for s, ds, c in rows:
        exact = Fraction(s) / (5 * c)
        img = Fraction(0.2 * (ds / c))
        d = abs(exact - round(exact))
        e = abs(img - exact)
        if d > 0:  # exact-integer thresholds: < is unambiguous either way
            min_d = d if min_d is None or d < min_d else min_d
        max_e = max(max_e, e)
    out.append(("q17_small_quantity_revenue", "threshold 0.2*avg(qty)", None,
                len(rows), None, _dec(min_d), _dec(max_e)))

    # q22 threshold: c_acctbal > (SELECT AVG(c_acctbal) WHERE > 0) —
    # acctbals are 2dp multiples; distance = min |acctbal - exact avg|
    s, ds, c = con.execute(
        "SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))), SUM(c_acctbal), "
        "COUNT(*) FROM customer WHERE c_acctbal > 0.0"
    ).fetchone()
    d = err = None
    if c:
        avg_exact = Fraction(s) / c
        err = abs(Fraction(ds / c) - avg_exact)
        d = con.execute(
            f"SELECT MIN(ABS(CAST(c_acctbal AS DECIMAL(18,2)) - "
            f"CAST({float(avg_exact)} AS DECIMAL(28,12)))) FROM customer"
        ).fetchone()[0]
    out.append(("q22_dormant_customers", "threshold avg(acctbal)", None, 1, c,
                None if d is None else Decimal(d), _dec(err)))
    return out


def disposition(min_edge, max_err) -> tuple[str, str]:
    """``(verdict, margin)`` of one audited row."""
    if min_edge is None:
        return "EMPTY", ""
    if min_edge == 0:
        # a TRUE half edge: the image's rounding there is
        # implementation-defined (Spark BigDecimal HALF_UP on the binary
        # expansion vs DuckDB scaled nearbyint), so no error margin
        # makes it safe
        return "CONVERT", "on-edge"
    if not max_err:
        return "SAFE", "exact"
    ratio = min_edge / max_err
    return ("SAFE" if ratio > 100 else "CONVERT"), f"{float(ratio):.1e}"


def main() -> int:
    sf = os.environ.get("SWEEP_SF", "/tmp/sf1")
    con = duck(sf)
    rows = audit_sums(con) + audit_quotients(con)
    bad = 0
    print(f"fixture: {sf}")
    print("| gate | audited | k | groups | max n | min edge dist | max img err "
          "| margin | verdict |")
    print("|---|---|---|---|---|---|---|---|---|")
    for name, what, k, groups, max_n, min_edge, max_err in rows:
        v, margin = disposition(min_edge, max_err)
        bad += v == "CONVERT"
        print(f"| {name} | {what} | {k} | {groups} | {max_n} | {min_edge} "
              f"| {max_err} | {margin} | {v} |")
    print(DONE.format(len(rows), bad), flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
