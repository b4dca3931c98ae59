"""sf1 cross-engine evidence for dedup_minhash_lsh (round 10).

The pair-family oracle is the one remaining sf1 instrument kill: one-
pass, DuckDB needs >100 GiB RAM+spill to materialize the sf1 candidate
set and verify jaccard (105 GiB RSS measured, r9) — so the family's
cross-engine ladder stopped at sf0.5, with engine-only fingerprints at
sf1.  Same cure as the census: the candidate set partitions exactly by
``a.doc_id``, so the oracle's own banding+verify SQL runs in
``hash(a.doc_id) % K`` chunks, and the DIGEST is additive across
chunks (count/sum/xor/min/max of per-row hashes all combine), so no
chunk's rows are ever materialized Python-side.

Per chunk, DuckDB computes the digest of its slice of the oracle's
``pairs`` output using the SAME canonical column images as
``compare.frame_digest`` (``compare.digest_expr`` — one definition).
The combined digest is compared against ``frame_digest`` of the
engine's full gate output.

Usage::

    SWEEP_SF=/tmp/sf1 PAIRS_K=16 python scripts/pairs_ladder_sf1.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from verify import DONE, duck, m, report, session  # noqa: E402

from eventbridge_etl_spark.compare import digest_expr, frame_digest  # noqa: E402

SF = os.environ.get("SWEEP_SF", "/tmp/sf1")
K = int(os.environ.get("PAIRS_K", "16"))

#: the gate's output schema → canon tags (id_a/id_b BIGINT, jaccard
#: DOUBLE), asserted against the engine frame before comparing
COLS = ("id_a", "id_b", "jaccard")
TAGS = ("i", "i", "f")


def oracle_digest() -> tuple:
    from eventbridge_etl_spark.queries.llm import _MINHASH_CTES, _MINHASH_VERIFY

    con = duck(SF)
    # chunk the candidate self-join on the LEFT doc id: every pair has
    # exactly one id_a, so the chunks partition the pairs output
    anchor = "AND a.doc_id < b.doc_id"
    # unique, not merely present: str.replace rewrites EVERY occurrence,
    # so a second anchor would silently chunk-filter two join sites and
    # corrupt the additive digest (ADVICE r10)
    assert _MINHASH_CTES.count(anchor) == 1, "banding CTE anchor not unique"
    hash_cols = ", ".join(
        digest_expr(t, f'"{c}"') for c, t in zip(COLS, TAGS)
    )
    n = hsum = hxor = 0
    hmin = hmax = None
    for k in range(K):
        t0 = time.time()
        chunked = _MINHASH_CTES.replace(
            anchor, f"{anchor} AND hash(a.doc_id) % {K} = {k}"
        )
        row = con.execute(
            f"WITH {chunked}, "
            f"pairs AS ({_MINHASH_VERIFY}) "
            f"SELECT count(*), sum(h::HUGEINT), bit_xor(h), min(h), max(h) "
            f"FROM (SELECT hash({hash_cols}) AS h FROM pairs)"
        ).fetchone()
        cn, cs, cx, cmin, cmax = row
        n += cn
        if cn:
            hsum += int(cs)
            hxor ^= int(cx)
            hmin = int(cmin) if hmin is None else min(hmin, int(cmin))
            hmax = int(cmax) if hmax is None else max(hmax, int(cmax))
        print(f"chunk {k}/{K} pairs={cn} {time.time() - t0:.1f}s", flush=True)
    con.close()
    return (COLS, TAGS, n, hsum if n else None, hxor if n else None,
            hmin, hmax)


def engine_digest() -> tuple:
    spark = session("local[16]", "64", "48g")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    got = m.queries()["dedup_minhash_lsh"](spark, SF).toPandas()
    print(f"engine rows={len(got)} {time.time() - t0:.1f}s", flush=True)
    d = frame_digest(got)
    spark.stop()
    assert d is not None, "engine frame has undigestable dtypes"
    return d


def main() -> int:
    d_oracle = oracle_digest()
    print("oracle digest:", d_oracle, flush=True)
    d_engine = engine_digest()
    print("engine digest:", d_engine, flush=True)
    ok = d_engine == d_oracle
    report("dedup_minhash_lsh", "MATCH" if ok else "MISMATCH", f"(chunked-oracle digest, K={K})")
    print(DONE.format(1, 0 if ok else 1), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
