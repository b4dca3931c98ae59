"""sf1 cross-engine evidence for graph_triangle_census (round 10).

The gate's DuckDB oracle materializes the degree-oriented WEDGE set in
one pass; at sf1 that spill exceeds this box's free disk under both a
24 GiB and a 64 GiB memory cap (two measured deaths this round; the r9
MATCH at 1029 s only just fit a cleaner disk).  The wedge set is
partitioned exactly by its center node ``src`` — every wedge belongs
to one src, and the closing edge lookup is against the full oriented
edge table — so the oracle's own SQL can run in ``hash(src) % K``
chunks whose counts ADD to the fused result, bounding per-chunk spill
to ~1/K.  Same staging idea as scripts/staged_tfidf_sf1.py, applied to
the oracle side.

Steps:

1. DuckDB materializes the oracle's LINEAR prefix — the distinct
   co-purchase edge list ``e`` and its degree-oriented form ``o`` — to
   parquet (tens of millions of rows, a few hundred MB).
2. Per chunk k: the oracle's own wedge+close SQL over
   ``o WHERE hash(src) % K = k`` (o3 stays the full table), returning
   (n_wedges_k, n_triangles_k).  Sums over k are exactly the fused
   oracle's n_wedges / n_triangles.
3. n_nodes / n_edges come straight off the materialized tables; the
   derived (n_nodes, n_edges, n_wedges, n_triangles) row is compared
   with the engine's gate output.

Usage::

    SWEEP_SF=/tmp/sf1 CENSUS_K=16 python scripts/census_ladder_sf1.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from verify import DONE, duck, m, report, session  # noqa: E402

SF = os.environ.get("SWEEP_SF", "/tmp/sf1")
OUT = os.environ.get("CENSUS_OUT", "/tmp/census_sf1")
K = int(os.environ.get("CENSUS_K", "16"))

#: the oracle's linear prefix, verbatim from the gate's SQL
#: (queries/mining_q.py::graph_triangle_census)
_PREFIX = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
  ) GROUP BY node
),
o AS (
  SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS src,
         CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS dst,
         CASE WHEN (da.d, e.a) < (db.d, e.b) THEN db.d ELSE da.d END AS dd
  FROM e
  JOIN deg da ON da.node = e.a
  JOIN deg db ON db.node = e.b
)
"""


def main() -> int:
    os.makedirs(OUT, exist_ok=True)
    con = duck(SF)
    t0 = time.time()
    con.execute(
        f"COPY ({_PREFIX} SELECT src, dst, dd FROM o) "
        f"TO '{OUT}/o.parquet' (FORMAT PARQUET)"
    )
    n_edges = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{OUT}/o.parquet')"
    ).fetchone()[0]
    n_nodes = con.execute(
        f"SELECT COUNT(DISTINCT node) FROM (SELECT src AS node FROM "
        f"read_parquet('{OUT}/o.parquet') UNION ALL SELECT dst FROM "
        f"read_parquet('{OUT}/o.parquet'))"
    ).fetchone()[0]
    print(f"oriented edges materialized rows={n_edges} nodes={n_nodes} "
          f"{time.time() - t0:.1f}s", flush=True)

    wedges = triangles = 0
    for k in range(K):
        t0 = time.time()
        w_k, t_k = con.execute(f"""
            WITH o AS (SELECT * FROM read_parquet('{OUT}/o.parquet')),
            w AS (
              SELECT o1.dst AS v, o2.dst AS u
              FROM o o1 JOIN o o2
                ON o1.src = o2.src AND (o1.dd, o1.dst) < (o2.dd, o2.dst)
              WHERE hash(o1.src) % {K} = {k}
            )
            SELECT (SELECT COUNT(*) FROM w),
                   (SELECT COUNT(*) FROM w
                    JOIN o o3 ON o3.src = w.v AND o3.dst = w.u)
        """).fetchone()
        wedges += w_k
        triangles += t_k
        print(f"chunk {k}/{K} wedges={w_k} triangles={t_k} "
              f"{time.time() - t0:.1f}s", flush=True)

    derived = {
        "n_nodes": n_nodes, "n_edges": n_edges,
        "n_wedges": wedges, "n_triangles": triangles,
    }
    print("derived:", derived, flush=True)
    con.close()

    spark = session("local[16]", "32", "24g")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    row = m.queries()["graph_triangle_census"](spark, SF).collect()[0]
    got = {c: int(row[c]) for c in derived}
    print(f"engine: {got} {time.time() - t0:.1f}s", flush=True)
    spark.stop()
    ok = got == derived
    report("graph_triangle_census", "MATCH" if ok else "MISMATCH", f"(chunked oracle, K={K})")
    print(DONE.format(1, 0 if ok else 1), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
