#!/usr/bin/env python
"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is forced with a count() so the full plan (scan → shuffle →
agg/join) executes; timings exclude session startup and the first
warm-up action (JVM/codegen warm-up would otherwise dominate at sf0.1).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from eventbridge_etl_spark.queries import QUERIES, load_all
from eventbridge_etl_spark.session import get_spark

#: Representative slice of SURVEY.md §2 — relational core, pipeline
#: parity, and LLM-data-pipeline extensions.  Kept to ~12 so the driver's
#: per-round run stays fast while still exercising every operator family.
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


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # derive sf from the dir name (…/sf0.1 → 0.1)
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", ""))
    except ValueError:
        sf = 0.1

    load_all()
    # Shuffle/spill files on tmpfs when available: this box's virtio disk
    # has noisy write-back behavior that hit the shuffle-heaviest query
    # (minhash) with 2-8 s spikes across whole runs (round-8 isolated
    # probes: floor 3.0 s intact, individual runs to 11.5 s).  RAM-backed
    # local dirs remove that noise source from the recorded artifact; at
    # cluster scale local dirs are platform-provisioned NVMe, so this is
    # a measurement-hygiene conf, not an engine semantic.
    # Pin and pre-touch the heap: the host-derived 48g -Xmx left G1 free
    # to uncommit tens of GB between runs, and the NEXT allocation burst
    # (minhash, the biggest transient allocator) paid kernel page-fault +
    # zeroing for the re-commit — measured bimodal 3 s / 15 s isolated
    # runs with 40-57% SYSTEM time during the slow ones.  -Xms=-Xmx +
    # AlwaysPreTouch moves that cost to session startup (untimed) and
    # holds it there: isolated minhash floors dropped 2.97 -> 2.37 s and
    # the spikes vanished (round 8).  24g is ample for sf0.1's broadcast
    # builds; SPARK_GRAFT_DRIVER_MEM still wins for bigger SF dirs.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")

    # Memory guard (round-9 advice): the pre-committed heap (-Xms=-Xmx +
    # AlwaysPreTouch) and a tmpfs local dir COMPETE for the same physical
    # RAM.  On a host where MemAvailable doesn't comfortably exceed
    # heap + expected shuffle spill (~8 GiB at sf0.1), fall back to the
    # default lazy heap + disk local dirs — slower but degrades
    # gracefully instead of OOMing.
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
        plain bytes); None when the format is unrecognized — the guard
        then stays conservative (not roomy) instead of crashing on a
        size SPARK_GRAFT_DRIVER_MEM legitimately accepts."""
        hit = re.fullmatch(r"\s*(\d+(?:\.\d+)?)\s*([kmgt]?)b?\s*", size, re.I)
        if not hit:
            return None
        scale = {"": 2.0**-30, "k": 2.0**-20, "m": 2.0**-10, "g": 1.0, "t": 1024.0}
        return float(hit.group(1)) * scale[hit.group(2).lower()]

    # PID-suffixed so a concurrently running bench's live shuffle files
    # are never clobbered (round-9 advice); stale siblings from
    # killed/crashed prior benches are swept FIRST and UNCONDITIONALLY —
    # orphaned tmpfs shuffle files are resident RAM, so they both
    # re-introduce the memory-pressure noise this dir exists to remove
    # (round-8 review finding) AND depress the MemAvailable reading the
    # roomy guard takes next (sweeping only when already roomy could
    # leave a box wedged under its own orphans forever).
    shm = f"/dev/shm/bench-spark-local.{os.getpid()}"
    try:
        if os.path.isdir("/dev/shm"):
            import glob
            import shutil

            for stale in glob.glob("/dev/shm/bench-spark-local*"):
                pid = stale.rsplit(".", 1)[-1]
                if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
                    shutil.rmtree(stale, ignore_errors=True)
    except OSError:
        pass

    heap_gib = _heap_gib(mem)
    roomy = (
        heap_gib is not None
        and _mem_available_gib() >= heap_gib + 16  # heap + spill + slack
    )

    extra = {"spark.driver.memory": mem}
    if roomy:
        # 17 headline plans x decimal-widened codegen flirt with the
        # JVM's default 240 MB reserved code cache; a flushing cache
        # deoptimizes whatever went cold, which is exactly the C2
        # steady state the min-of-5 protocol exists to measure.  512 MB
        # keeps every compiled plan resident (measured r11: run-to-run
        # swing on the same box far exceeds the delta, but the conf
        # removes one degradation mode for free).  BENCH_JAVA_OPTS
        # appends ad-hoc experiment flags without editing this file.
        extra["spark.driver.extraJavaOptions"] = (
            f"-Xms{mem} -XX:+AlwaysPreTouch -XX:ReservedCodeCacheSize=512m "
            + os.environ.get("BENCH_JAVA_OPTS", "")
        ).strip()
    try:
        if roomy and os.path.isdir("/dev/shm"):
            os.makedirs(shm, exist_ok=True)
            extra["spark.local.dir"] = shm
    except OSError:
        pass
    spark = get_spark("eventbridge-etl-bench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up: trigger JVM classloading + codegen once, untimed.
    QUERIES["scan_projection_filter"](spark, sf_dir).count()

    # Calibration canary (round-9 protocol): a CONSTANT-COST probe whose
    # plan never touches engine code or fixture data — range -> modulo
    # shuffle -> count, fixed at 32M rows / 32 partitions / 1000 keys.
    # Its min-of-5 depends only on box state (CPU contention, memory
    # pressure, JIT health), so every artifact self-documents the
    # environment it ran on: engine regressions move `value` while the
    # canary holds; a degraded box moves both together.  Healthy floor
    # on this host class: ~0.28 s min-of-5 (quiet-box r9 run:
    # [1.218, 0.407, 0.371, 0.310, 0.284] alongside the 9.46 s best-ever
    # total; the same code on the mildly-degraded morning box read
    # canary 0.696 with a 14.4 s total — the canary tracks box state,
    # which is exactly its job).  Treat canary >~0.5 s as a degraded-box
    # flag when comparing `value` across artifacts.
    def _canary_once() -> float:
        t0 = time.perf_counter()
        (
            spark.range(0, 32_000_000, 1, 32)
            .groupBy((F.col("id") % 1000).alias("k"))
            .count()
            .count()
        )
        return round(time.perf_counter() - t0, 3)

    canary_runs = [_canary_once() for _ in range(5)]
    canary = min(canary_runs)

    # Second canary (VERDICT r10 #2): SHUFFLE-HEAVY constant-cost probe.
    # The first canary is one aggregation stage over 8-byte rows — it
    # reads CPU/JIT health but barely touches the shuffle write/read
    # path, so a box whose degradation lives in shuffle I/O (page cache
    # pressure on the local dir, dirty-page writeback, serializer-path
    # cache misses) can read QUIET on canary 1 while every shuffle-heavy
    # headline query inflates (exactly the unexplained r10 pattern:
    # q18/window_topk/minhash up 18-34% at canary 0.287).  This probe
    # moves ~350 MB of 40-byte string rows through TWO exchanges
    # (repartition by one key, then aggregate by another), so its
    # min-of-5 isolates the shuffle path's health: engine regressions
    # move `value` while BOTH canaries hold; shuffle-path box
    # degradation elevates canary 2 (and usually not canary 1).
    # Reference floor: 0.81 s min-of-5 — best of four r11 calibration
    # runs, measured at canary-1 0.32-0.35 (a mildly elevated box; the
    # r11 session never saw a 0.28-class quiet box), so a genuinely
    # quiet box may floor slightly lower.  The four-run calibration
    # (SCALE.md r11) shows `value` tracking canary 2 across 0.81-1.32
    # while per-query code was identical.
    def _canary_shuffle_once() -> float:
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

    canary2_runs = [_canary_shuffle_once() for _ in range(5)]
    canary2 = min(canary2_runs)

    # Per-query noise telemetry (round-13, VERDICT r12 item 2): the two
    # canaries above run ONCE, at bench start, so a mid-run CPU-steal
    # wave (this box's documented minutes-long degradation mode) is
    # invisible to the artifact — r12's four consecutive "regressions"
    # (q18/scan/join_broadcast_chain/agg_rollup) could be neither proven
    # nor disproven.  Fix: stamp a /proc/stat steal+busy delta around
    # every query's 5-run block, plus each block's start offset and all
    # five raw runs.  Reading /proc/stat costs microseconds and runs no
    # Spark plan, so the JIT back-to-back protocol (see above — round 8
    # measured that interleaving ANY extra plan between a query's passes
    # destroys its C2 steady state) is undisturbed.  All new JSON keys
    # are ADDITIVE; existing keys/semantics unchanged.
    def _cpu_ticks() -> tuple[int, int] | None:
        """(total_ticks, steal_ticks) from the aggregate cpu line."""
        try:
            with open("/proc/stat") as fh:
                parts = fh.readline().split()
            if parts[0] != "cpu":
                return None
            vals = [int(x) for x in parts[1:]]
            steal = vals[7] if len(vals) > 7 else 0
            # guest/guest_nice (fields 9-10) are already folded into
            # user/nice: total only the first eight fields
            return sum(vals[:8]), steal
        except (OSError, ValueError, IndexError):
            return None

    def _steal_pct(before, after) -> float | None:
        if before is None or after is None:
            return None
        d_total = after[0] - before[0]
        if d_total <= 0:
            return None
        return round(100.0 * (after[1] - before[1]) / d_total, 2)

    # Each query runs FIVE times; the headline number is the min
    # (steady state), with the first-pass times reported alongside as
    # cold_queries/cold_value.  Rationale: at sf0.1 a complex plan's
    # first execution is dominated by per-plan codegen + JIT compile
    # (measured ~5 s on the dedup LSH plan vs ~3 s of actual work); at
    # the engine's design scale that one-time compile is noise, so the
    # steady-state number is the one that predicts 100 TB throughput.
    # Caches are cleared between runs — each rerun re-executes the full
    # pipeline (scan -> shuffle -> agg/join), it only skips the compile.
    # Five runs, not three (round 8): HotSpot's tiered compilation keeps
    # improving the hot generated code for several iterations — the
    # isolated minhash curve measures 12.1 / 3.2 / 2.8 / 2.4 / 2.4 s, so
    # a 3-run min reads the C1/partially-compiled state (~4.8 s), not
    # the C2 steady state the 100 TB throughput projection needs.  The
    # extra two passes cost ~25 s wall, all untimed-equivalent (only the
    # min is reported; pass-1 times are still recorded as cold_*).
    #
    # The runs are back-to-back per query, NOT round-robin interleaved:
    # measured head-to-head (round 8, idle box), interleaving the
    # passes loses the JIT steady state entirely — the minhash plan's
    # min went 3.0 s -> 14.8 s and the total roughly doubled, because
    # the warm advantage only survives an IMMEDIATE re-run of the same
    # generated code (17 intervening plans deoptimize/evict it).
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    query_runs: dict[str, list[float]] = {}
    query_steal: dict[str, float | None] = {}
    query_t_start: dict[str, float] = {}
    bench_t0 = time.perf_counter()
    for name in HEADLINE:
        fn = QUERIES[name]
        runs = []
        query_t_start[name] = round(time.perf_counter() - bench_t0, 3)
        ticks0 = _cpu_ticks()
        for _ in range(5):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            runs.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        query_steal[name] = _steal_pct(ticks0, _cpu_ticks())
        query_runs[name] = runs
        cold[name] = runs[0]
        timings[name] = min(runs)

    # Post-run canary pair (same constant-cost probes as at start): a
    # quiet start + quiet end brackets the whole timed window; a wave
    # that hit mid-run shows as elevated query_steal_pct and/or an
    # inflated post canary.  Runs AFTER all timed blocks, so it cannot
    # perturb them.
    canary_post_runs = [_canary_once() for _ in range(3)]
    canary2_post_runs = [_canary_shuffle_once() for _ in range(3)]

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "cold_value": round(sum(cold.values()), 3),
                "cold_queries": cold,
                "canary_sec": canary,
                "canary_runs": canary_runs,
                # the probe's min-of-5 floor measured on a healthy box
                # (round 9); canary_sec / canary_ref_sec quantifies the
                # box's elevation factor for the reader of this artifact
                "canary_ref_sec": 0.28,
                "canary_shuffle_sec": canary2,
                "canary_shuffle_runs": canary2_runs,
                "canary_shuffle_ref_sec": 0.81,
                # round-13 additive noise telemetry (see comments above):
                # all five raw passes per query, the CPU-steal percentage
                # over each query's 5-run block, each block's start
                # offset from the first timed block, and end-of-run
                # canary re-measurements bracketing the timed window.
                "query_runs": query_runs,
                "query_steal_pct": query_steal,
                "query_t_start": query_t_start,
                "canary_post_sec": min(canary_post_runs),
                "canary_post_runs": canary_post_runs,
                "canary_shuffle_post_sec": min(canary2_post_runs),
                "canary_shuffle_post_runs": canary2_post_runs,
                "tmpfs_shuffle": "spark.local.dir" in extra,
                "pretouch_heap": roomy,
                "sf": sf,
            }
        )
    )
    spark.stop()
    try:
        import shutil

        shutil.rmtree(shm, ignore_errors=True)
    except OSError:
        pass


if __name__ == "__main__":
    main()
