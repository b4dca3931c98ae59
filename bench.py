#!/usr/bin/env python
"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line.

    python bench.py [--plans DIR]

Every timed run takes the three steps of perfbench's
``QueryWorkload._run``: ``build_s`` (construct the DataFrame), ``plan_s``
(``executedPlan()`` of the built frame) and ``exec_s`` (write the frame
to the noop sink, which computes every output column, so Catalyst can
prune nothing).  The noop write plans its own query execution, so the
plan probe is a second planning and stays out of the headline:
``queries[name]`` is the min of ``build_s + exec_s`` over five
back-to-back runs, ``value`` their sum, and ``layers[name]`` that run's
three numbers.  One ``count()`` pass per query (build included) is
reported as ``count_queries``/``count_value``: BENCH_r01-r13 timed that
action, which lets Catalyst prune every column the count does not need.
``--plans DIR`` writes ``DIR/<query>.txt``, the formatted plan of the
frame the noop write ran.

Session startup and one warm-up query are untimed.  The box probes are
perfbench's (``run.canary_s``, ``stats.cpu_ticks``/``steal_pct``), so
``canary_sec`` reads the same probe as a traced perfbench run's
``box.canary_s``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
# perfbench's modules import each other by bare name; appended last so
# they shadow nothing
sys.path.append(os.path.join(ROOT, "perfbench"))

import stats  # noqa: E402  (perfbench/stats.py)
from pyspark.sql import functions as F  # noqa: E402
from run import canary_s  # noqa: E402  (perfbench/run.py)

from eventbridge_etl_spark.cache import release_tracked  # noqa: E402
from eventbridge_etl_spark.queries import QUERIES, load_all  # noqa: E402
from eventbridge_etl_spark.session import get_spark  # noqa: E402

#: Representative slice of SURVEY.md §2 — relational core, pipeline
#: parity, and LLM-data-pipeline extensions, one per operator family.
HEADLINE = [
    "q1_pricing_summary",        # wide agg over lineitem (the classic)
    "q3_shipping_priority",      # 3-way join + agg + top-k
    "q5_local_supplier_volume",  # 6-way join
    "q6_forecast_revenue",       # pure pushdown scan-agg
    "q9_product_profit",         # filtered-broadcast snowflake
    "q18_large_volume_customer", # agg + semi-join back on the fact
    "scan_projection_filter",    # pushdown / pruning sanity
    "join_broadcast_chain",      # broadcast dim joins
    "agg_rollup",                # multi-level aggregation
    "window_topk_per_group",     # window + rank
    "events_hourly_rollup",      # pipeline parity: route+upsert+rollup
    "join_asof_attribution",     # as-of join (union+window encoding)
    "dedup_exact",               # E1
    "dedup_minhash_lsh",         # E2 near-dup at scale
    "similarity_topk_bruteforce",  # E2 ANN baseline
    "similarity_topk_ivf",       # E2 ANN scale path (cell-pruned)
    "text_token_stats",          # E4
]

#: Runs per query.  HotSpot's tiered compilation keeps improving a plan's
#: generated code for several iterations (isolated minhash curve 12.1 /
#: 3.2 / 2.8 / 2.4 / 2.4 s), so a 3-run min reads the C1 state, not the
#: C2 steady state.  The runs are back to back, never interleaved across
#: queries: interleaving took the minhash min from 3.0 to 14.8 s, since
#: the warm code only survives an immediate re-run of the same plan.
RUNS = 5

#: Min-of-5 floor of perfbench's ``canary_s`` probe on the 4-vCPU, 15 GiB
#: VM this harness is maintained on (best of three runs, BASELINE.md).
CANARY_REF_SEC = 0.12
#: Shuffle canary floor, best of four calibration runs on a 32-CPU box.
CANARY_SHUFFLE_REF_SEC = 0.81


def time_query(spark, name: str, sf_dir: str):
    """RUNS back-to-back build/plan/exec passes of one query.

    Returns the passes' seconds and the last pass's frame.  Tracked
    persists are released between passes, so each re-run executes the
    whole pipeline and skips only the compile."""
    out = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        release_tracked()
        out.append({"build_s": round(t1 - t0, 3), "plan_s": round(t2 - t1, 3),
                    "exec_s": round(t3 - t2, 3)})
    return out, df


def shuffle_canary_s(spark) -> float:
    """Constant-cost SHUFFLE-HEAVY probe: ~350 MB of 40-byte string rows
    through two exchanges.  ``canary_s`` is one aggregation stage over
    8-byte rows and barely touches the shuffle write/read path, so a box
    whose degradation lives there (page-cache pressure on the local dir,
    write-back) reads quiet on it while every shuffle-heavy query
    inflates.  Engine regressions move ``value`` while both canaries
    hold."""
    t0 = time.perf_counter()
    (
        spark.range(0, 8_000_000, 1, 32)
        .select(
            (F.col("id") % 4999).alias("k1"),
            (F.col("id") % 997).alias("k2"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        .repartition(64, "k2")
        .groupBy("k1")
        .agg(F.count("*").alias("n"), F.min("payload").alias("m"))
        .count()
    )
    return round(time.perf_counter() - t0, 3)


def canaries(spark, n: int) -> tuple[list[float], list[float]]:
    """``n`` single-rep runs of each canary (their min is ``canary_s``
    with ``reps=n``)."""
    return ([round(canary_s(spark, reps=1), 3) for _ in range(n)],
            [shuffle_canary_s(spark) for _ in range(n)])


def sf_of(sf_dir: str) -> float:
    """Scale factor from the dir name (…/sf0.1 → 0.1); 0.1 if unnamed."""
    try:
        return float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        return 0.1


def measure(spark, sf_dir: str, names=HEADLINE, plans_dir: str | None = None) -> dict:
    """The whole protocol in a live session; returns the JSON line less
    the session keys (``tmpfs_shuffle``, ``pretouch_heap``)."""
    load_all()
    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)
    # warm-up: JVM class loading + codegen, untimed
    QUERIES["scan_projection_filter"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    canary_runs, shuffle_runs = canaries(spark, 5)

    # The first pass of each query is reported as cold_*: it is dominated
    # by per-plan codegen + JIT compile, which a long-lived executor pays
    # once.  The CPU-steal share of each 5-run block (plus its start
    # offset) shows a mid-run steal wave that the canaries, run only
    # before and after, would miss.
    timings, cold, layers, counts = {}, {}, {}, {}
    query_runs, query_steal, query_t_start = {}, {}, {}
    bench_t0 = time.perf_counter()
    for name in names:
        query_t_start[name] = round(time.perf_counter() - bench_t0, 3)
        ticks0 = stats.cpu_ticks()
        runs, df = time_query(spark, name, sf_dir)
        query_steal[name] = round(stats.steal_pct(ticks0, stats.cpu_ticks()), 2)
        totals = [round(r["build_s"] + r["exec_s"], 3) for r in runs]
        best = totals.index(min(totals))
        query_runs[name], cold[name] = totals, totals[0]
        timings[name], layers[name] = totals[best], runs[best]
        if plans_dir:
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).count()
        counts[name] = round(time.perf_counter() - t0, 3)
        release_tracked()

    # Post-run canaries bracket the timed window; they run after every
    # timed block, so they cannot perturb one.
    canary_post_runs, shuffle_post_runs = canaries(spark, 3)
    return {
        "metric": "headline_queries_total_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "layers": layers,
        "count_value": round(sum(counts.values()), 3),
        "count_queries": counts,
        "cold_value": round(sum(cold.values()), 3),
        "cold_queries": cold,
        "canary_sec": min(canary_runs),
        "canary_runs": canary_runs,
        # canary_sec / canary_ref_sec is the box's elevation factor
        "canary_ref_sec": CANARY_REF_SEC,
        "canary_shuffle_sec": min(shuffle_runs),
        "canary_shuffle_runs": shuffle_runs,
        "canary_shuffle_ref_sec": CANARY_SHUFFLE_REF_SEC,
        "query_runs": query_runs,
        "query_steal_pct": query_steal,
        "query_steal_pct_median": round(stats.median(list(query_steal.values())), 2),
        "query_t_start": query_t_start,
        "canary_post_sec": min(canary_post_runs),
        "canary_post_runs": canary_post_runs,
        "canary_shuffle_post_sec": min(shuffle_post_runs),
        "canary_shuffle_post_runs": shuffle_post_runs,
        "sf": sf_of(sf_dir),
    }


def _mem_available_gib() -> float:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) / (1024 * 1024)
    except OSError:
        pass
    return 0.0


def _heap_gib(size: str) -> float | None:
    """GiB value of a Spark/JVM memory string ('24g', '4096m', '1t',
    plain bytes); None when the format is unrecognized — the guard then
    stays conservative (not roomy) instead of crashing on a size
    SPARK_GRAFT_DRIVER_MEM legitimately accepts."""
    hit = re.fullmatch(r"\s*(\d+(?:\.\d+)?)\s*([kmgt]?)b?\s*", size, re.I)
    if not hit:
        return None
    scale = {"": 2.0**-30, "k": 2.0**-20, "m": 2.0**-10, "g": 1.0, "t": 1024.0}
    return float(hit.group(1)) * scale[hit.group(2).lower()]


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--plans", metavar="DIR",
                    help="write each query's formatted plan to DIR/<query>.txt")
    args = ap.parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Pin and pre-touch the heap (-Xms=-Xmx + AlwaysPreTouch): a lazy heap
    # let G1 uncommit tens of GB between runs, and the next allocation
    # burst paid page-fault + zeroing for the re-commit (bimodal 3 s / 15 s
    # isolated minhash runs, 40-57% system time in the slow ones).  Shuffle
    # files go to tmpfs: the virtio disk's write-back put 2-8 s spikes on
    # the shuffle-heaviest query.  Both are measurement hygiene, not engine
    # semantics.  They compete for the same RAM, so both apply only when
    # MemAvailable covers heap + spill + slack; otherwise the run falls
    # back to a lazy heap and disk local dirs, slower but without OOM.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    # Sweep tmpfs dirs of dead benches first and unconditionally: orphaned
    # shuffle files are resident RAM and would depress the guard's reading.
    # The dir is PID-suffixed so a concurrent bench's files are never hit.
    for stale in glob.glob("/dev/shm/bench-spark-local.*"):
        pid = stale.rsplit(".", 1)[-1]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(stale, ignore_errors=True)
    heap_gib = _heap_gib(mem)
    roomy = heap_gib is not None and _mem_available_gib() >= heap_gib + 16
    extra = {"spark.driver.memory": mem}
    shm = f"/dev/shm/bench-spark-local.{os.getpid()}"
    if roomy:
        # 512 MB code cache: 17 plans of decimal-widened codegen flirt with
        # the default 240 MB, and a flushing cache deoptimizes exactly the
        # C2 steady state the min-of-5 protocol measures.
        extra["spark.driver.extraJavaOptions"] = (
            f"-Xms{mem} -XX:+AlwaysPreTouch -XX:ReservedCodeCacheSize=512m"
        )
        if os.path.isdir("/dev/shm"):
            os.makedirs(shm, exist_ok=True)
            extra["spark.local.dir"] = shm
    spark = get_spark("eventbridge-etl-bench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        line = measure(spark, sf_dir, plans_dir=args.plans)
        line["tmpfs_shuffle"] = "spark.local.dir" in extra
        line["pretouch_heap"] = roomy
        print(json.dumps(line))
    finally:
        spark.stop()
        shutil.rmtree(shm, ignore_errors=True)


if __name__ == "__main__":
    main()
