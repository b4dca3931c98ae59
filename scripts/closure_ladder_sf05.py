"""sf0.5 cross-engine evidence for the three closure gates
(VERDICT r9 #5).

The closure gates (``dedup_clusters``, ``dedup_cluster_sizes``,
``sample_leakage_safe_split``) share one oracle shape: the MinHash
banding + jaccard-verify CTEs (non-recursive), then a RECURSIVE
min-label ``reach`` CTE for connected components.  The recursion is
what kills the oracle above sf0.1 — DuckDB deduplicates the whole
accumulated reach set per iteration (sf0.2 still running one gate at
43 min; sf0.5 did not finish in 118 min under a 24 GiB cap — SCALE.md
r9).  The pair graph itself is NOT the bottleneck.

This script raises the cross-engine ceiling by splitting the oracle at
exactly that seam:

1. DuckDB (24 GiB cap, spill dir) materializes the oracle's OWN
   non-recursive prefix — ``_MINHASH_CTES``'s verified jaccard >= 0.9
   ``pairs`` — to parquet.  Same fragments the swept oracles render,
   so the banding/verify semantics cannot drift from the gates.
2. Python replaces only the ``reach`` recursion with an exact
   union-find over those pairs, then derives all three gate outputs:
   min-doc_id component labels, the (n_members, n_clusters) histogram,
   and the md5(cluster_id)-bucketed train/test split — each a direct
   transcription of the corresponding oracle tail.
3. A fresh Spark session runs the three REGISTRY gates on the same
   fixture; outputs are row-compared with the shared comparator
   (frame_digest fast path, normalize_frame fallback).

Union-find on min-label components is exact (not iterative/approx), so
this is a full value-level cross-engine check — the same strength as
the row-hash sweep, minus only the SQL-ness of the closure step.

Usage::

    SWEEP_SF=/tmp/sf05 python scripts/closure_ladder_sf05.py
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402
from verify import DONE, duck, m, report, session  # noqa: E402

from eventbridge_etl_spark.compare import frame_digest, normalize_frame  # noqa: E402

SF = os.environ.get("SWEEP_SF", "/tmp/sf05")
OUT = os.environ.get("CLOSURE_OUT", "/tmp/closure_sf05")


def build_pairs() -> str:
    """Materialize the oracle's non-recursive ``pairs`` prefix."""
    from eventbridge_etl_spark.queries.llm import _MINHASH_CTES, _MINHASH_VERIFY

    os.makedirs(OUT, exist_ok=True)
    path = f"{OUT}/pairs.parquet"
    con = duck(SF)
    t0 = time.time()
    con.execute(
        f"COPY (WITH {_MINHASH_CTES}, pairs AS ({_MINHASH_VERIFY}) "
        f"SELECT id_a, id_b FROM pairs) "
        f"TO '{path}' (FORMAT PARQUET)"
    )
    n = con.execute(f"SELECT COUNT(*) FROM read_parquet('{path}')").fetchone()[0]
    print(f"pairs materialized rows={n} {time.time() - t0:.1f}s", flush=True)
    con.close()
    return path


class UF:
    __slots__ = ("p",)

    def __init__(self):
        self.p: dict[int, int] = {}

    def find(self, x: int) -> int:
        p = self.p
        r = x
        while p.setdefault(r, r) != r:
            r = p[r]
        while p[x] != r:
            p[x], x = r, p[x]
        return r

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # union by MIN root so the representative IS the min label
            if ra < rb:
                self.p[rb] = ra
            else:
                self.p[ra] = rb


def oracle_frames(pairs_path: str) -> dict[str, pd.DataFrame]:
    con = duckdb.connect()
    doc_ids = [
        r[0]
        for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{SF}/documents.parquet')"
        ).fetchall()
    ]
    pairs = con.execute(
        f"SELECT id_a, id_b FROM read_parquet('{pairs_path}')"
    ).fetchall()
    con.close()
    t0 = time.time()
    uf = UF()
    for d in doc_ids:
        uf.find(d)
    for a, b in pairs:
        uf.union(a, b)
    comp = {d: uf.find(d) for d in doc_ids}
    print(f"union-find docs={len(doc_ids)} pairs={len(pairs)} "
          f"components={len(set(comp.values()))} {time.time() - t0:.1f}s",
          flush=True)

    clusters = pd.DataFrame(
        {"doc_id": list(comp.keys()), "cluster_id": list(comp.values())}
    )
    sizes = (
        clusters.groupby("cluster_id").size().rename("n_members").reset_index()
        .groupby("n_members").size().rename("n_clusters").reset_index()
    )

    def split_of(cid: int) -> str:
        h = int(hashlib.md5(str(cid).encode()).hexdigest()[:8], 16)
        return "test" if h / 4294967296.0 < 0.2 else "train"

    split = clusters.assign(
        split=clusters["cluster_id"].map(split_of)
    )[["doc_id", "cluster_id", "split"]]
    return {
        "dedup_clusters": clusters,
        "dedup_cluster_sizes": sizes,
        "sample_leakage_safe_split": split,
    }


def engine_frames(names) -> dict[str, pd.DataFrame]:
    spark = session("local[16]", "32", "24g")
    spark.sparkContext.setLogLevel("ERROR")
    qs = m.queries()
    out = {}
    for n in names:
        t0 = time.time()
        out[n] = qs[n](spark, SF).toPandas()
        print(f"engine {n} rows={len(out[n])} {time.time() - t0:.1f}s",
              flush=True)
    spark.stop()
    return out


def main() -> int:
    pairs_path = build_pairs()
    oracle = oracle_frames(pairs_path)
    engine = engine_frames(list(oracle))
    bad = 0
    for n, exp in oracle.items():
        got = engine[n]
        dg, de = frame_digest(got), frame_digest(exp)
        if dg is not None and de is not None:
            ok = dg == de
            how = "digest"
        else:
            ok = normalize_frame(got) == normalize_frame(exp)
            how = "canon"
        report(n, "MATCH" if ok else "MISMATCH", f"rows={len(got)}|{len(exp)} ({how})")
        bad += not ok
    print(DONE.format(len(oracle), bad), flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
