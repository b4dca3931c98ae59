"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_upsert --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from ``--seed``, starts one Spark session
pinned to ``local[nproc]``, sets up the workload (warm-up ops included),
runs timed ops in a closed loop for ``--seconds``, checks every output,
and prints one JSON object as the last line of standard output:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1`` (which also writes the run's spans under the work
directory).  Everything it writes stays in ``.perfbench_work/`` at the
checkout root, and the per-run directory is removed on exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

import stats  # noqa: E402

WORKLOADS = ("ingest_upsert", "relational_queries", "corpus_dedup")
#: End-to-end metrics of an untraced run, with units.
END_TO_END = (("setup_s", "s"), ("ops_per_s", "1/s"), ("op_p50_geomean_s", "s"),
              ("peak_rss_mb", "MB"))
#: Fixed heap (-Xms = -Xmx, pre-touched) so heap growth and uncommit never
#: land inside the timed window.
HEAP = "2g"


def session_conf(work: str) -> dict[str, str]:
    """Spark settings pinned by the benchmark, on top of the engine's own."""
    return {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }


def start_session(work: str, n: int):
    from eventbridge_etl_spark.session import get_spark

    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # keep every temp file inside the work dir: the gateway's handshake
    # file (Python temp dir) and the launcher JVM's perf-data file
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    tempfile.tempdir = None
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n,
                      extra_conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def canary_s(spark, reps: int = 3) -> float:
    """Constant-cost range -> shuffle -> count probe that touches no
    engine code, so it reads box state only: best of ``reps``."""
    from pyspark.sql import functions as F

    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        (spark.range(0, 4_000_000, 1, 8)
         .groupBy((F.col("id") % 1000).alias("k")).count().count())
        times.append(time.perf_counter() - t0)
    return min(times)


def run(args, work: str) -> tuple[dict, dict]:
    """One benchmark run; returns (result line, detail line)."""
    import spans
    import workloads

    n = stats.nproc()
    tracer = spans.Tracer(enabled=bool(args.trace))
    wl = workloads.make(args.workload, work, args.seed, tracer)

    t = time.perf_counter()
    wl.generate(args.seconds)
    gen_s = time.perf_counter() - t

    with tracer.span("session.start"):
        spark = start_session(work, n)
    try:
        probe_s = 0.0
        canary = []
        counters = None
        ticks0 = stats.cpu_ticks()
        if tracer.enabled:
            t = time.perf_counter()
            canary.append(canary_s(spark))
            counters = spans.SparkCounters(spark)
            probe_s = time.perf_counter() - t
        wl.setup(spark, counters)

        ops: list[tuple[str, float]] = []
        op_names: list[str] = []
        failed: set[int] = set()
        gc_ms = persisted = 0
        t_start = time.perf_counter()
        setup_s = t_start - T_PROCESS - gen_s - probe_s
        i = 0
        t_end = t_start
        while t_end - t_start < args.seconds and wl.has_op(i):
            tracer.op = i
            name = wl.op_name(i)
            gc0 = counters.gc_ms() if counters else 0
            t0 = time.perf_counter()
            try:
                wl.op(i)
                ops.append((name, time.perf_counter() - t0))
            except Exception:
                traceback.print_exc()
                failed.add(i)
            t_end = time.perf_counter()
            op_names.append(name)
            if counters:
                gc_ms += counters.gc_ms() - gc0
                persisted = max(persisted, counters.persisted_rdds())
            i += 1
        tracer.op = None
        attempted = i
        peak_rss = stats.vm_hwm_mb() + stats.vm_hwm_mb(jvm_pid())
        steal = stats.steal_pct(ticks0, stats.cpu_ticks())
        if tracer.enabled:
            canary.append(canary_s(spark))
            layer = wl.layer_metrics(op_names)
        failed |= wl.verify(op_names)
    finally:
        wl.close()
        stop_session(spark)

    summary = stats.summarize_ops(ops)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "settings": {"master": f"local[{n}]", "shuffle_partitions": n,
                     **session_conf(".perfbench_work/<run>"),
                     "fresh_process": True, "inputs_generated_before_setup": True},
        "sizes": wl.describe(),
        "input_generation_s": gen_s,
        "fail_frac": stats.fail_frac(attempted, failed),
        "op_p50_s": summary["op_p50_s"], "samples": summary["samples"],
        "op_s": [round(secs, 4) for _, secs in ops],
        "end_to_end": {
            "setup_s": setup_s,
            "ops_per_s": len(ops) / (t_end - t_start),
            "op_p50_geomean_s": summary["op_p50_geomean_s"],
            "peak_rss_mb": peak_rss,
        },
    }
    if tracer.enabled:
        metrics = {name: (0.0, unit) for name, unit in workloads.per_layer_names()}
        metrics.update(layer)
        session_span = next(s for s in tracer.spans if s["name"] == "session.start")
        metrics["session.start_s"] = (session_span["end"] - session_span["start"], "s")
        metrics["jvm.gc_s"] = (gc_ms / 1000.0 / max(1, attempted), "s")
        metrics["cache.persisted_rdds"] = (float(persisted), "count")
        metrics["box.canary_s"] = (stats.median(canary), "s")
        metrics["box.steal_pct"] = (steal, "%")
        os.makedirs(os.path.join(WORK_ROOT, "spans"), exist_ok=True)
        tracer.dump(os.path.join(WORK_ROOT, "spans", f"{args.workload}-seed{args.seed}.json"))
    else:
        metrics = {name: (detail["end_to_end"][name], unit) for name, unit in END_TO_END}
    result = {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if args.seconds < 1:
        parser.error("--seconds must be at least 1")

    sys.path.insert(0, ROOT)
    try:
        import eventbridge_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, detail = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
