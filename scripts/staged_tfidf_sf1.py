"""Staged sf1 engine run of the composed dedup recipe (VERDICT r9 #1).

``dedup_tfidf_on_candidates`` fused could not complete at the sf1
replica on this box: three r9 attempts died at ~85-90 GiB of shuffle
scratch against ~80 GiB free (SCALE.md r9).  This script runs the SAME
operator pipeline — ``lsh_candidate_pairs`` then
``tfidf_cosine_verify_candidates`` (operators/dedup.py), the exact
functions the fused gate composes — as a CHECKPOINTED, CHUNKED batch
job, which is also the honest production shape for a 100 TB corpus
(candidates are a durable, resumable artifact; verification fans out
over candidate shards):

1. ``candidates``  — generate the distinct LSH candidate pairs and
   write them to parquet, hash-partitioned into ``NCHUNKS`` shards on
   ``xxhash64(id_a, id_b)``.  Pairs are tiny (16 B); the shard column
   lets each verify job read exactly 1/N of them via partition pruning.
2. ``verify <k>``  — verify shard k's pairs with the exact tf-idf
   cosine and append the surviving rows to the results parquet.  Each
   shard runs in its own JVM so shuffle scratch is reclaimed
   deterministically between shards; peak scratch is ~1/N of the fused
   run's.  Per-pair verification is independent, so the union over
   disjoint shards is value-identical to the fused gate
   (tests/test_dedup.py::test_tfidf_on_candidates_chunked_union).
3. ``fingerprint`` — compute the order-insensitive exact aggregates
   (``aggregate_fingerprint_sweep._specs``, the same comparator the
   sf1 pair family uses) over the unioned results and print them in
   the engine probe's ENGINE-OK format.

Every mode ends with ``verify.DONE`` (``checked=0`` for the two staging
modes), so ``verify.verdict`` judges each like a sweep.  ``candidates``
first clears ``STAGE_OUT``, so ``fingerprint`` never reads a shard left
by an earlier run; every mode removes its ``STAGE_SCRATCH`` on exit.

Usage (``verify.py scale`` runs these steps)::

    export SWEEP_SF=/tmp/sf1 STAGE_OUT=/tmp/sf1_stage NCHUNKS=8
    python scripts/staged_tfidf_sf1.py candidates
    for k in $(seq 0 7); do python scripts/staged_tfidf_sf1.py verify $k; done
    python scripts/staged_tfidf_sf1.py fingerprint
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from verify import DONE, report, session  # noqa: E402

TAU = 0.8
NUM_HASHES = 16
BANDS = 2


def main() -> int:
    sf = os.environ.get("SWEEP_SF", "/tmp/sf1")
    out = os.environ.get("STAGE_OUT", "/tmp/sf1_stage")
    nchunks = int(os.environ.get("NCHUNKS", "8"))
    scratch = os.environ.get("STAGE_SCRATCH", "/tmp/stage_scratch")
    mode = sys.argv[1] if len(sys.argv) > 1 else "?"
    if mode not in ("candidates", "verify", "fingerprint"):
        sys.exit("usage: staged_tfidf_sf1.py candidates|verify <k>|fingerprint")

    from pyspark.sql import functions as F

    from eventbridge_etl_spark.operators import dedup as D
    from eventbridge_etl_spark.sources.tables import load_tables

    spark = session("local[16]", "64", "48g", conf={"spark.local.dir": scratch})
    spark.sparkContext.setLogLevel("ERROR")
    doc = load_tables(spark, sf, ("documents",))["documents"]
    t0 = time.time()

    if mode == "candidates":
        shutil.rmtree(out, ignore_errors=True)
        cand = D.lsh_candidate_pairs(doc, "doc_id", "text", NUM_HASHES, BANDS)
        (
            cand.withColumn(
                "_chunk", F.pmod(F.xxhash64("id_a", "id_b"), F.lit(nchunks))
            )
            .repartition(nchunks * 4, "_chunk")
            .write.mode("overwrite")
            .partitionBy("_chunk")
            .parquet(f"{out}/candidates")
        )
        n = spark.read.parquet(f"{out}/candidates").count()
        print(f"candidates rows={n} {time.time() - t0:.1f}s", flush=True)
        print(DONE.format(0, 0), flush=True)

    elif mode == "verify":
        k = int(sys.argv[2])
        cand = (
            spark.read.parquet(f"{out}/candidates")
            .where(F.col("_chunk") == k)
            .select("id_a", "id_b")
        )
        res = D.tfidf_cosine_verify_candidates(doc, cand, "doc_id", "text", TAU)
        res.write.mode("overwrite").parquet(f"{out}/verified/chunk={k}")
        n = spark.read.parquet(f"{out}/verified/chunk={k}").count()
        print(f"verify chunk={k} rows={n} {time.time() - t0:.1f}s", flush=True)
        print(DONE.format(0, 0), flush=True)

    else:
        from aggregate_fingerprint_sweep import _canon, _specs

        missing = [
            k for k in range(nchunks)
            if not os.path.isdir(f"{out}/verified/chunk={k}")
        ]
        if missing:
            sys.exit(f"verified chunks missing: {missing}")
        res = spark.read.parquet(*[
            f"{out}/verified/chunk={k}" for k in range(nchunks)
        ])
        specs = _specs(res.dtypes)
        row = res.selectExpr(
            *[f"{expr} AS `{lbl}`" for lbl, expr, _ in specs]
        ).collect()[0]
        fp = {lbl: _canon(row[lbl]) for lbl, _, _ in specs}
        report("dedup_tfidf_on_candidates", "ENGINE-OK",
               f"rows={fp['n_rows']} {time.time() - t0:.1f}s (staged, {nchunks} chunks)")
        for lbl, v in fp.items():
            print(f"    {lbl} = {v}", flush=True)
        print(DONE.format(1, 0), flush=True)

    spark.stop()
    shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
