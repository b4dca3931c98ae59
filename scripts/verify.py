"""Verify every registry gate: oracle sweep, hashes, battery, round close.

Each subcommand runs the registry through the shared comparator
(``eventbridge_etl_spark/compare.py``).

Usage::

    python scripts/verify.py sweep       # every gate vs its DuckDB oracle
    python scripts/verify.py hash        # "<gate> <md5>" per gate, engine only
    python scripts/verify.py battery     # fixtures + 7 sweeps + waivers + suite
    python scripts/verify.py scale [<log dir>]   # sf1 evidence plan
    python scripts/verify.py close <hash file> [--stamp]   # round close
    python scripts/verify.py waivers [<timeshift fixture dir>]
    python scripts/verify.py jar [--check]

``sweep`` checks the ``__spark_entry__.py`` contract end to end: fresh
process, ``entry()`` first, then each oracle-paired gate compared
type-tagged and order-insensitively.
It prints one ``<gate> <verdict> ...`` line per gate and ends with
``SWEEP DONE checked=N bad=N``; ``verdict()`` is the one reader of both
shapes.  Examples::

    SWEEP_SF=/tmp/advfix/adv SWEEP_PINNED_SKIP=1 python scripts/verify.py sweep
    SWEEP_SF=/root/testdata/sf0.1 SWEEP_DRIVER_MEM=24g python scripts/verify.py sweep

``hash`` proves a rewrite value-identical: run it at the old and the
new commit and diff.  The file depends only on the stdlib, duckdb,
pyspark, ``__spark_entry__`` and ``compare`` at import time, so it can
be copied into a worktree of an older commit::

    python scripts/verify.py hash > /tmp/hash_new.txt
    git worktree add /tmp/old <sha> && cp scripts/verify.py /tmp/old/scripts/
    (cd /tmp/old && python scripts/verify.py hash) > /tmp/hash_old.txt
    diff /tmp/hash_old.txt /tmp/hash_new.txt   # empty = value-identical

``battery`` generates the adversarial fixture family
(``gen_adversarial_fixture.py``), sweeps all seven surfaces (clean /
adv / empty / signmag / timeshift / longtext / unicode) each in a FRESH
subprocess from ``/tmp``, runs ``waivers`` after timeshift and the
pytest suite last, and prints BATTERY PASS or FAIL (``--src``,
``--out``, ``--surfaces``, ``--no-suite``, ``--no-gen``).

``scale`` runs the sf1 evidence plan: one digest sweep per query
module at ``SWEEP_SF`` (default ``/tmp/sf1``) with the ``ROUTED`` gates
left out, then the ladders that carry those gates (chunked oracles,
fingerprints at ``SWEEP_SF05``, engine probes at ``SWEEP_SF02`` and
sf1, the staged composed dedup, the float-sum audit).  A missing
replica is generated first (``gen_scale_replica.py``).  Every step is
a fresh child judged by ``verdict()``; its output goes to
``<log dir>/<step>.log`` (default ``/tmp/sf1_sweep``, which also holds
the ladders' work dirs), and the command exits 1 if any step fails.

``close`` checks the full-registry ``hash`` output against the gate
ledger ``data/gate_digests.json`` at round close; ``--stamp`` rewrites
the ledger once the checks pass (COVERAGE.md §"Driver-window
rotation").

``waivers`` derives the four timeshift streaming divergences from the
epoch-0 initial watermark and fails unless each equals its derivation.

``jar`` rebuilds the local FileSystem jar the engine's local JVMs load
(``eventbridge_etl_spark/jvm/``) from its source with ``javac --release
17`` against the installed pyspark jars; ``--check`` only compares the
rebuilt classes with the committed jar and exits 1 on any difference.

Environment: ``SWEEP_SF`` (fixture dir, default clean sf0.01),
``SWEEP_MASTER`` (default ``local[8]``), ``SWEEP_SHUF`` (shuffle
partitions, default 8), ``SWEEP_DRIVER_MEM`` (default 4g; use >=24g for
sf>=0.1 — the 1 GiB JVM default OOMs mid-dedup and every later gate
ERRORs), ``SWEEP_PINNED_SKIP`` (the three pinned-parquet oracles hold
expected rows digest-selected for the clean corpus; elsewhere they run
as crash-checks), ``SWEEP_ONLY`` (comma-separated gate names; a name
not in the registry exits before any JVM starts), ``SWEEP_HASH``
(compare through ``compare.frame_digest``), ``DUCK_MEM`` (DuckDB memory
cap, default 24GB) and ``DUCK_SPILL_DIR`` (PARENT of the per-process
DuckDB spill dir, default ``/tmp``).
"""

from __future__ import annotations

import argparse
import atexit
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as m  # noqa: E402
from eventbridge_etl_spark.compare import frame_digest, normalize_frame  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

#: Oracles whose expected rows live in tests/data/*_pinned.parquet,
#: selected by a digest of the clean corpus.
PINNED = ("text_compression_ratio", "multimodal_cdc_dedup", "multimodal_phash_near_dup")


def session(master="local[8]", shuffle="8", mem="4g", conf=None):
    """The one SparkSession every verification tool builds.

    ``SWEEP_MASTER`` / ``SWEEP_SHUF`` / ``SWEEP_DRIVER_MEM`` override the
    caller's defaults.  Every gate's oracle assumes UTC session time and
    nanos-as-long parquet, and one builder keeps hashes comparable with
    sweeps."""
    builder = (
        SparkSession.builder.master(os.environ.get("SWEEP_MASTER", master))
        .config("spark.sql.shuffle.partitions", os.environ.get("SWEEP_SHUF", shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SWEEP_DRIVER_MEM", mem))
        .config("spark.ui.enabled", "false")
    )
    for key, value in (conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def duck(sf):
    """A DuckDB connection with one view per fixture table of ``sf``.

    Memory is capped (``DUCK_MEM``): DuckDB's default is ~80% of RAM,
    and the sf1 pair-graph oracles ballooned to 105 GiB uncapped.  It
    spills into ``<DUCK_SPILL_DIR>/duck_spill.<pid>``, so concurrent runs
    never share spill, and only that subdir is removed at exit — a dead
    run's spill (>78 GiB at sf1) must not eat the scratch space, and the
    parent may be a shared scratch tree."""
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{os.environ.get('DUCK_MEM', '24GB')}'")
    spill = os.path.join(
        os.environ.get("DUCK_SPILL_DIR", "/tmp"), f"duck_spill.{os.getpid()}"
    )
    con.execute(f"SET temp_directory='{spill}'")
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    return con


def selected():
    """Sorted gate names to run: the ``SWEEP_ONLY`` list, else the whole
    registry.  A typo'd name exits loudly instead of sweeping nothing
    and exiting 0; callers check before starting a JVM."""
    qs = m.queries()
    only = {n for n in os.environ.get("SWEEP_ONLY", "").split(",") if n}
    unknown = only - set(qs)
    if unknown:
        sys.exit(f"SWEEP_ONLY names not in the registry: {sorted(unknown)}")
    return sorted(only or qs)


def engine_frames(spark, sf, names):
    """The shared registry loop: yield ``(gate, frame, start time)``;
    ``frame`` is the exception when the engine side raised."""
    qs = m.queries()
    for name in names:
        t0 = time.time()
        try:
            got = qs[name](spark, sf).toPandas()
        except Exception as e:  # noqa: BLE001 — report and keep sweeping
            got = e
        yield name, got, t0


def report(name, verdict, *detail):
    """Print one per-gate sweep line: ``<gate> <verdict> [detail ...]``."""
    print(name, verdict, *detail, flush=True)


#: A failing gate line as ``report`` prints it.  Anchored on the gate
#: name so Spark log4j lines that contain "ERROR" never count.
GATE_LINE = re.compile(r"^([a-z][a-z0-9_]*)\s+(MISMATCH|ERROR|ORACLE-ERROR)\b")
DONE = "SWEEP DONE checked={} bad={}"
DONE_LINE = re.compile(r"SWEEP DONE checked=(\d+) bad=(\d+)")


def sweep() -> int:
    names = selected()
    sf = os.environ.get("SWEEP_SF", "/root/testdata/sf0.01")
    spark = session()
    rows = m.entry(spark).collect()
    if not rows:
        sys.exit("entry() empty")
    print("entry() rows:", len(rows), flush=True)
    con = duck(sf)
    oracles = m.oracle_sql()
    bad = checked = 0
    for name, got, t0 in engine_frames(spark, sf, names):
        if isinstance(got, Exception):
            report(name, "ERROR", repr(got)[:200])
            bad += 1
            continue
        if name in PINNED and os.environ.get("SWEEP_PINNED_SKIP"):
            report(name, "pinned-skip (crash-check only)", len(got))
            continue
        if name not in oracles:
            report(name, "rows-only", len(got), f"{time.time() - t0:.1f}s")
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            report(name, "ORACLE-ERROR", repr(e)[:200])
            bad += 1
            continue
        checked += 1
        # SWEEP_HASH: DuckDB digests both frames, no Python row loop (the
        # canonical sort was 867 s of an 1016 s sf1 chunk); a frame with
        # arrays/decimals/objects falls back to the canonical sort.
        dg = de = None
        if os.environ.get("SWEEP_HASH"):
            dg, de = frame_digest(got, con), frame_digest(exp, con)
        if dg is not None and de is not None:
            if dg == de:
                report(name, "MATCH", f"{time.time() - t0:.1f}s (digest)")
            else:
                bad += 1
                report(name, "MISMATCH", f"digest spark={dg} oracle={de}")
            continue
        gc, gr = normalize_frame(got)
        ec, er = normalize_frame(exp)
        if gc == ec and gr == er:
            report(name, "MATCH", f"{time.time() - t0:.1f}s")
        else:
            bad += 1
            diff = [(g, e) for g, e in zip(gr, er) if g != e][:2]
            report(name, "MISMATCH", f"cols={gc == ec} rows={len(gr)}|{len(er)} first={diff}")
    print(DONE.format(checked, bad), flush=True)
    return 1 if bad else 0


def hash_() -> int:
    names = selected()
    spark = session()
    sf = os.environ.get("SWEEP_SF", "/root/testdata/sf0.01")
    for name, got, _ in engine_frames(spark, sf, names):
        try:
            if isinstance(got, Exception):
                raise got
            digest = hashlib.md5(repr(normalize_frame(got)).encode()).hexdigest()
            print(f"{name} {digest}", flush=True)
        except Exception as exc:  # noqa: BLE001 — a crash must still diff
            print(f"{name} ERROR {type(exc).__name__}: {exc}".split("\n")[0], flush=True)
    return 0


# --- timeshift waivers --------------------------------------------------
#
# A fresh streaming query's event-time watermark starts at epoch 0, and
# the timeshift fixture moves whole users to 1969, so those rows are late
# in the first micro-batch:
#
# - hourly/enriched windows (tumbling 1 h, append): windows ending at or
#   before 1970-01-01 vanish; every other window matches bit-for-bit;
# - sessionize (30 min gap): a row is dropped iff ts + gap <= epoch, and
#   sessions are rebuilt from the SURVIVING rows;
# - dedup (dropDuplicatesWithinWatermark): a row is dropped iff ts < epoch.
#
# Each derived oracle is the batch oracle of queries/streaming_q.py plus
# that late-drop predicate; ``{avg4}`` is the HALF_UP average filled in by
# ``waivers()``.  Rounds 7 and 8 each turned an eyeballed waiver into a
# bug fix, so the battery waives exactly these gates and only when
# ``waivers`` passes.
EPOCH = "TIMESTAMP '1970-01-01 00:00:00'"
DERIVED: dict[str, str] = {
    "streaming_hourly_windows": f"""
    WITH w AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             COUNT(*) AS n_events,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
               AS sum_value
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
           event_type, n_events, sum_value
    FROM w
    WHERE window_start + INTERVAL 1 HOUR
          <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
      AND window_start + INTERVAL 1 HOUR > {EPOCH}
    """,
    "streaming_enriched_windows": f"""
    WITH e AS (
      SELECT ev.ts, c.c_mktsegment AS segment, ev.value
      FROM events ev LEFT JOIN customer c ON c.c_custkey = ev.user_id
    ),
    w AS (
      SELECT date_trunc('hour', ts) AS window_start, segment,
             COUNT(*) AS n_events,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
               AS sum_value
      FROM e GROUP BY 1, 2
    )
    SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
           segment, n_events, sum_value
    FROM w
    WHERE window_start + INTERVAL 1 HOUR
          <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
      AND window_start + INTERVAL 1 HOUR > {EPOCH}
    """,
    "streaming_dedup": f"""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_events
    FROM events WHERE ts >= {EPOCH} GROUP BY event_type
    """,
    "streaming_sessionize": """
    WITH kept AS (
      -- session window [ts, ts+30min) is late iff its end <= the
      -- epoch-0 initial watermark, i.e. ts <= epoch - 30 min
      SELECT user_id, ts FROM events
      WHERE ts IS NOT NULL
        AND ts > TIMESTAMP '1969-12-31 23:30:00'
    ),
    t AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM kept
    ),
    s AS (
      SELECT user_id,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM t
    ),
    g AS (SELECT user_id, sid, COUNT(*) AS n_events FROM s GROUP BY 1, 2)
    SELECT user_id, COUNT(*) AS n_sessions,
           CAST(CAST({avg4} AS DECIMAL(32,0)) * 0.0001::DECIMAL(5,4)
                AS DOUBLE) AS avg_events_per_session
    FROM g GROUP BY user_id
    """,
}

#: Output is per-group COUNTS: drop-only means every engine count <= the
#: batch count for the same group.
COUNT_SHAPED = {"streaming_dedup"}

#: Surviving groups are RECOMPUTED over the surviving rows, so a user
#: straddling the cut legitimately keeps different stats than the batch
#: oracle; drop-only means no fabricated KEYS.  Gate -> key column.
KEY_SUBSET = {"streaming_sessionize": "user_id"}


def waivers(sf) -> int:
    """Assert for each ``DERIVED`` gate (1) drop-only against the plain
    batch oracle, in the gate's own shape, and (2) exact equality with
    the derived oracle."""
    from eventbridge_etl_spark.operators.rounding import half_up_div_sql

    avg4 = half_up_div_sql("SUM(n_events) * 10000", "COUNT(*)")
    spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    oracles = m.oracle_sql()
    con = duck(sf)
    # the dedup/sessionize predicates assume no NULL ts: the timeshift
    # fixture derives from the clean corpus, which has none
    n_null_ts = con.execute("SELECT COUNT(*) FROM events WHERE ts IS NULL").fetchone()[0]
    if n_null_ts:
        sys.exit(
            f"timeshift fixture has {n_null_ts} NULL-ts events; the derived "
            "dedup predicate (ts >= epoch) would drop them while the engine "
            "keeps them — extend DERIVED before trusting this check"
        )

    bad = 0
    for name, got, _ in engine_frames(spark, sf, sorted(DERIVED)):
        if isinstance(got, Exception):
            raise got
        plain = con.execute(oracles[name]).fetchdf()
        derived = con.execute(DERIVED[name].replace("{avg4}", avg4)).fetchdf()
        gc, gr = normalize_frame(got)
        _pc, pr = normalize_frame(plain)
        dc, dr = normalize_frame(derived)

        problems = []
        if gc != dc:
            problems.append(f"derived-oracle columns differ: {gc} vs {dc}")
        # (1) drop-only vs the PLAIN batch oracle
        if name in COUNT_SHAPED:
            cidx = gc.index("n_events")
            gmap = {tuple(v for i, v in enumerate(r) if i != cidx): r[cidx] for r in gr}
            pmap = {tuple(v for i, v in enumerate(r) if i != cidx): r[cidx] for r in pr}
            over = {k: (gmap[k], pmap.get(k)) for k in gmap
                    if pmap.get(k) is None or gmap[k] > pmap[k]}
            if over:
                problems.append(f"engine count EXCEEDS batch oracle: {over}")
        elif name in KEY_SUBSET:
            kidx = gc.index(KEY_SUBSET[name])
            fab_keys = {r[kidx] for r in gr} - {r[kidx] for r in pr}
            if fab_keys:
                problems.append(
                    f"{len(fab_keys)} engine group keys absent from the "
                    f"batch oracle (fabricated groups): "
                    f"{sorted(fab_keys, key=repr)[:3]}"
                )
        else:
            fabricated = set(gr) - set(pr)
            if fabricated:
                problems.append(
                    f"{len(fabricated)} engine rows absent from the batch "
                    f"oracle (not drop-only): {sorted(fabricated, key=repr)[:3]}"
                )
        # (2) exact equality vs the DERIVED oracle
        if sorted(gr, key=repr) != sorted(dr, key=repr):
            missing = set(dr) - set(gr)
            extra = set(gr) - set(dr)
            problems.append(
                f"derived-oracle mismatch: engine {len(gr)} rows vs derived "
                f"{len(dr)}; missing={sorted(missing, key=repr)[:3]} "
                f"extra={sorted(extra, key=repr)[:3]}"
            )
        status = "DERIVED-MATCH" if not problems else "FAIL"
        dropped = len(pr) - len(dr) if name not in COUNT_SHAPED else "n/a(counts)"
        print(f"{name:32s} {status}  batch_rows={len(pr)} derived_rows={len(dr)} "
              f"engine_rows={len(gr)} late_dropped={dropped}")
        for pbm in problems:
            print(f"    !! {pbm}")
        bad += bool(problems)

    print(f"WAIVER CHECK DONE gates={len(DERIVED)} bad={bad}")
    spark.stop()
    return 1 if bad else 0


# --- battery ------------------------------------------------------------

#: surface -> (fixture subdir under --out, pinned-skip?); clean is --src
#: itself, and signmag leaves documents untouched so pinned oracles hold.
SURFACES: dict[str, tuple[str | None, bool]] = {
    "clean": (None, False),
    "adv": ("adv", True),
    "empty": ("empty", True),
    "signmag": ("signmag", False),
    "timeshift": ("timeshift", True),
    "longtext": ("longtext", True),
    "unicode": ("unicode", True),
}

#: surface -> gates whose MISMATCH (never ERROR) is waived.
WAIVED: dict[str, frozenset[str]] = {"timeshift": frozenset(DERIVED)}


def verdict(surface, out, returncode) -> dict:
    """The battery's ok-rule over one sweep's output and exit code.

    OK needs the DONE line, no unwaived gate line, every bad gate a
    waived MISMATCH, and a nonzero exit explained by bad gates — a crash
    after ``SWEEP DONE ... bad=0`` (teardown, atexit) fails."""
    done = DONE_LINE.search(out)
    allowed = WAIVED.get(surface, frozenset())
    failures, waived = [], []
    for line in out.splitlines():
        hit = GATE_LINE.match(line)
        if not hit:
            continue
        if hit.group(2) == "MISMATCH" and hit.group(1) in allowed:
            waived.append(hit.group(1))
        else:
            failures.append(line)
    bad = int(done.group(2)) if done else -1
    return {
        "ok": done is not None and not failures and bad == len(waived)
        and (returncode == 0 or bad > 0),
        "checked": int(done.group(1)) if done else 0,
        "bad": bad,
        "waived": waived,
        "mismatches": failures,
    }


def _child(argv, env=None, timeout=None):
    """Run ``scripts/<argv[0]> <argv[1:]>`` fresh from /tmp (surfaces any
    repo-relative cwd assumption); returns the completed process and its
    wall time.  A child past ``timeout`` seconds is killed and returns
    what it printed so far, so it fails ``verdict()`` for want of a DONE
    line."""
    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), argv[0]),
           *argv[1:]]
    t0 = time.time()
    try:
        proc = subprocess.run(cmd, env=env, cwd="/tmp", capture_output=True, text=True,
                              timeout=timeout)
    except subprocess.TimeoutExpired as e:
        out, err = (x.decode() if isinstance(x, bytes) else x or "" for x in (e.stdout, e.stderr))
        proc = subprocess.CompletedProcess(cmd, -9, out, err + f"\nkilled after {timeout} s\n")
    return proc, round(time.time() - t0, 1)


def run_sweep(surface, sf_dir, pinned_skip) -> dict:
    # the battery is full-registry by definition: an exported SWEEP_ONLY
    # would shrink every surface and still print BATTERY PASS
    env = {k: v for k, v in os.environ.items()
           if k not in ("SWEEP_ONLY", "SWEEP_PINNED_SKIP")}
    env["SWEEP_SF"] = sf_dir
    if pinned_skip:
        env["SWEEP_PINNED_SKIP"] = "1"
    proc, wall = _child(["verify.py", "sweep"], env)
    out = proc.stdout + proc.stderr
    r = verdict(surface, out, proc.returncode)
    r.update(surface=surface, wall_s=wall,
             tail=out[-2000:] if proc.returncode != 0 and r["bad"] < 0 else "")
    return r


def battery(args) -> int:
    surfaces = [s for s in args.surfaces.split(",") if s]
    unknown = set(surfaces) - set(SURFACES)
    if unknown:
        sys.exit(f"unknown surfaces: {sorted(unknown)}")

    if not args.no_gen and any(SURFACES[s][0] for s in surfaces):
        print(f"[battery] generating fixture family {args.src} -> {args.out}", flush=True)
        subprocess.run(
            [sys.executable, os.path.join(REPO, "scripts", "gen_adversarial_fixture.py"),
             args.src, args.out],
            check=True,
        )

    results = []
    for name in surfaces:
        subdir, pinned_skip = SURFACES[name]
        sf_dir = args.src if subdir is None else os.path.join(args.out, subdir)
        print(f"[battery] sweep {name} @ {sf_dir} ...", flush=True)
        r = run_sweep(name, sf_dir, pinned_skip)
        if name == "timeshift":
            print(f"[battery] timeshift waiver derivation @ {sf_dir} ...", flush=True)
            wproc, wall = _child(["verify.py", "waivers", sf_dir])
            r["ok"] = r["ok"] and wproc.returncode == 0
            for ln in wproc.stdout.splitlines()[-10:]:
                print("   ", ln, flush=True)
            if wproc.returncode != 0 and not wproc.stdout.strip():
                print(wproc.stderr[-1500:], flush=True)
            print(f"[battery] waiver derivation: "
                  f"{'FAIL' if wproc.returncode else 'OK'} {wall}s", flush=True)
        results.append(r)
        _print_result("battery", r)

    suite_ok = True
    if not args.no_suite:
        print("[battery] pytest tests/ -q ...", flush=True)
        suite_ok = subprocess.run(
            [sys.executable, "-m", "pytest", "tests/", "-q"], cwd=REPO
        ).returncode == 0

    print("\n=== BATTERY SUMMARY ===")
    width = _table("surface", results)
    if not args.no_suite:
        print(f"{'suite':<{width}} {'OK' if suite_ok else 'FAIL':<6}")
    all_ok = suite_ok and all(r["ok"] for r in results)
    print("BATTERY", "PASS" if all_ok else "FAIL")
    return 0 if all_ok else 1


def _print_result(tag, r):
    """One finished step: its verdict, failing gate lines and tail."""
    waived = f" waived={len(r['waived'])}" if r["waived"] else ""
    print(f"[{tag}] {r['surface']}: {'OK' if r['ok'] else 'FAIL'} checked={r['checked']} "
          f"bad={r['bad']}{waived} {r['wall_s']}s", flush=True)
    for line in r["mismatches"][:20]:
        print("   ", line, flush=True)
    if r["tail"]:
        print(r["tail"], flush=True)


def _table(head, results) -> int:
    """Print one summary row per step; returns the name column's width."""
    width = max([10] + [len(r["surface"]) + 1 for r in results])
    print(f"{head:<{width}} {'status':<6} {'checked':>7} {'bad':>4} {'waived':>6} {'wall':>8}")
    for r in results:
        print(f"{r['surface']:<{width}} {'OK' if r['ok'] else 'FAIL':<6} "
              f"{r['checked']:>7} {r['bad']:>4} {len(r['waived']):>6} {r['wall_s']:>7}s")
    return width


# --- scale evidence -----------------------------------------------------
#
# The sf1 replica (gen_scale_replica.py: 10 key-offset copies of sf0.1)
# is swept in one chunk per query module, each a fresh digest sweep, so
# a gate gets sf1 evidence by being registered.  For the ROUTED gates the
# one-pass oracle, or by design the gate itself, exceeds one box at sf1;
# the ladder steps named beside each carry its evidence instead, each
# validated value-level at a smaller scale first (SCALE.md).

#: Gates left out of the module chunks -> the ``scale`` steps that carry
#: their evidence.  ``()`` excludes by design: an all-pairs verifier
#: (``operators/dedup.py::_quadratic_guard``) whose scale path is the
#: LSH-composed gates.
ROUTED: dict[str, tuple[str, ...]] = {
    "dedup_tfidf_cosine": (),  # Σdf² = 45.1B candidate pairs at sf1
    "dedup_tfidf_cosine_capped": (),  # the df cap empties this corpus at sf1
    "dedup_embedding_cosine": (),  # 2e10 vector pairs at sf1
    # the fused wedge join spills past the disk; its oracle runs per node chunk
    "graph_triangle_census": ("census_sf1",),
    # the pair oracle needs >100 GiB at sf1: fingerprints at sf0.5, the
    # engine side at sf1, and minhash's oracle digested per id chunk
    "dedup_jaccard_prefix": ("fingerprint_sf05", "probe_sf1"),
    "dedup_minhash_lsh": ("fingerprint_sf05", "probe_sf1", "pairs_sf1"),
    "dedup_simhash": ("fingerprint_sf05", "probe_sf1"),
    "dedup_containment_pairs": ("fingerprint_sf05", "probe_sf1"),
    # the recursive closure oracle stalls above sf0.1
    "dedup_clusters": ("closure_sf05", "probe_sf1"),
    "dedup_cluster_sizes": ("closure_sf05", "probe_sf1"),
    "sample_leakage_safe_split": ("closure_sf05", "probe_sf1"),
    # composed dedup: the sf0.5 oracle spills >77 GiB and the fused sf1
    # run needs ~90 GiB of shuffle scratch, so staged == fused at sf0.2
    # and the staged form at sf1
    "dedup_tfidf_on_candidates": ("probe_sf02", "staged_sf1"),
    "dedup_tfidf_staged": ("probe_sf02",),
}

#: Spark settings of the sf1-sized children.
SF1_SPARK = {"SWEEP_MASTER": "local[16]", "SWEEP_SHUF": "32", "SWEEP_DRIVER_MEM": "24g"}


def chunks() -> dict[str, list[str]]:
    """The sf1 sweep chunks: every gate not ``ROUTED``, grouped by the
    query module that registers it."""
    out: dict[str, list[str]] = {}
    for name, fn in sorted(m.QUERIES.items()):
        if name not in ROUTED:
            out.setdefault(fn.__module__.rsplit(".", 1)[-1], []).append(name)
    return dict(sorted(out.items()))


def scale_plan(sf, sf05, sf02, work) -> list[tuple[str, list[str], dict, int]]:
    """``(step, argv, env, timeout s)`` of every ``scale`` step in run
    order; a ladder that takes gate names gets the gates routed to it."""
    def via(step):
        return [g for g, steps in ROUTED.items() if step in steps]

    sweep = {**SF1_SPARK, "SWEEP_SF": sf, "SWEEP_PINNED_SKIP": "1", "SWEEP_HASH": "1"}
    shards = 8
    stage = {"SWEEP_SF": sf, "STAGE_OUT": f"{work}/stage", "NCHUNKS": str(shards),
             "STAGE_SCRATCH": f"{work}/stage_scratch", "SWEEP_DRIVER_MEM": "48g"}
    return [
        *[(mod, ["verify.py", "sweep"], {**sweep, "SWEEP_ONLY": ",".join(gates)}, 3600)
          for mod, gates in chunks().items()],
        ("census_sf1", ["census_ladder_sf1.py"],
         {"SWEEP_SF": sf, "CENSUS_OUT": f"{work}/census", "CENSUS_K": "16",
          "DUCK_MEM": "32GB"}, 3600),
        ("closure_sf05", ["closure_ladder_sf05.py"],
         {**SF1_SPARK, "SWEEP_SF": sf05, "SWEEP_DRIVER_MEM": "16g",
          "CLOSURE_OUT": f"{work}/closure", "DUCK_MEM": "24GB"}, 7200),
        ("fingerprint_sf05", ["aggregate_fingerprint_sweep.py", *via("fingerprint_sf05")],
         {"SWEEP_SF": sf05, "DUCK_MEM": "24GB"}, 7200),
        ("probe_sf02", ["engine_scale_probe.py", *via("probe_sf02")],
         {"SWEEP_SF": sf02, "SWEEP_MASTER": "local[8]", "SWEEP_SHUF": "16",
          "SWEEP_DRIVER_MEM": "12g"}, 3600),
        ("probe_sf1", ["engine_scale_probe.py", *via("probe_sf1")],
         {**SF1_SPARK, "SWEEP_SF": sf}, 7200),
        ("pairs_sf1", ["pairs_ladder_sf1.py"],
         {"SWEEP_SF": sf, "PAIRS_K": "32", "DUCK_MEM": "32GB"}, 7200),
        ("staged_sf1_candidates", ["staged_tfidf_sf1.py", "candidates"], stage, 1200),
        *[(f"staged_sf1_verify{k}", ["staged_tfidf_sf1.py", "verify", str(k)], stage, 1200)
          for k in range(shards)],
        ("staged_sf1", ["staged_tfidf_sf1.py", "fingerprint"], stage, 1200),
        ("float_sum_sf1", ["float_sum_audit.py"], {"SWEEP_SF": sf}, 3600),
    ]


def scale(logdir) -> int:
    sf = os.environ.get("SWEEP_SF", "/tmp/sf1")
    sf05 = os.environ.get("SWEEP_SF05", "/tmp/sf05")
    sf02 = os.environ.get("SWEEP_SF02", "/tmp/sf02")
    for root, copies in ((sf, 10), (sf05, 5), (sf02, 2)):
        if not os.path.isdir(root):
            print(f"[scale] generating the {copies}-copy replica {root}", flush=True)
            subprocess.run(
                [sys.executable, os.path.join(REPO, "scripts", "gen_scale_replica.py"),
                 root, str(copies)],
                check=True,
            )
    os.makedirs(logdir, exist_ok=True)
    # the plan sets every SWEEP_* a child reads: an exported SWEEP_ONLY
    # would otherwise shrink every chunk and still print SCALE PASS
    base = {k: v for k, v in os.environ.items() if not k.startswith("SWEEP_")}
    results = []
    for step, argv, env, timeout in scale_plan(sf, sf05, sf02, logdir):
        print(f"[scale] {step}: {' '.join(argv)} ...", flush=True)
        proc, wall = _child(argv, {**base, **env}, timeout)
        out = proc.stdout + proc.stderr
        log = os.path.join(logdir, f"{step}.log")
        with open(log, "w") as fh:
            fh.write(out)
        r = verdict(step, out, proc.returncode)
        r.update(surface=step, wall_s=wall, tail="" if r["ok"] else f"    log: {log}")
        _print_result("scale", r)
        results.append(r)

    print("\n=== SCALE SUMMARY ===")
    _table("step", results)
    ok = all(r["ok"] for r in results)
    print("SCALE", "PASS" if ok else "FAIL")
    return 0 if ok else 1


# --- round close --------------------------------------------------------


def close(hash_file, stamp) -> int:
    """Check a full-registry ``hash`` file against the gate ledger.

    Fatal: the pending gates, counting this run's digest changes, overflow
    the driver window (the overflow would go unchecked next round); a gate
    hashed ``ERROR``; a ledger gate missing from the file (a crash or a
    silent registry drop must not read as "no diff").  ``stamp`` then
    writes ``digests``, ``changed[g] = next round`` for every differing
    gate, and ``_meta.stamped_round``."""
    from eventbridge_etl_spark import queries

    head: dict[str, str] = {}
    errors: list[str] = []
    with open(hash_file) as fh:
        for line in fh:
            parts = line.split()
            if len(parts) >= 2:
                if parts[1] == "ERROR":
                    errors.append(line.strip())
                else:
                    head[parts[0]] = parts[1]
    with open(queries.LEDGER) as fh:
        doc = json.load(fh)
    base = doc["digests"]
    next_round, last = queries.evidence()

    diffs = sorted(g for g in head if head[g] != base.get(g))
    changed = {**doc.get("changed", {}), **{g: next_round for g in diffs}}
    pending = sum(queries.is_pending(g, last, changed) for g in head)
    vanished = sorted(g for g in base if g not in head and not any(
        e.startswith(g + " ") for e in errors
    ))

    violations: list[str] = []
    if pending > queries.WINDOW:
        violations.append(
            f"{pending} pending gates do not fit the {queries.WINDOW}-slot "
            f"driver window — the overflow would go unchecked next round"
        )
    violations += [f"gate ERRORED during hashing: {e}" for e in errors]
    violations += [
        f"baseline gate missing from the hash file: {g} — registry drop or "
        f"partial hash run; hash the full registry at close"
        for g in vanished
    ]

    print(
        f"gates hashed={len(head)} changed={len(diffs)} "
        f"pending={pending} errors={len(errors)} "
        f"vanished={len(vanished)} next_round={next_round}"
    )
    for g in diffs:
        print(f"  changed: {g} {base.get(g, 'new')[:8]} -> {head[g][:8]}")
    if violations:
        print("\nFAIL:")
        for v in violations:
            print(f"  - {v}")
        return 1
    if stamp:
        doc["digests"] = dict(sorted(head.items()))
        doc["changed"] = changed
        doc["_meta"]["stamped_round"] = next_round
        with open(queries.LEDGER, "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
        print(f"stamped {len(head)} digests into {queries.LEDGER}")
    print(f"OK — all {pending} pending gates fit the {queries.WINDOW}-slot window")
    return 0


def jar(check) -> int:
    """Rebuild the local FileSystem jar from its source, or with ``check``
    compare the rebuilt classes with the committed jar."""
    import tempfile
    import zipfile

    import pyspark

    from eventbridge_etl_spark.session import LOCAL_FS_JAR

    src = os.path.join(os.path.dirname(LOCAL_FS_JAR), "LocalFileSystem.java")
    cp = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    built = {}
    with tempfile.TemporaryDirectory() as out:
        subprocess.run(["javac", "--release", "17", "-nowarn", "-cp", cp, "-d", out, src],
                       check=True)
        for root, _, files in os.walk(out):
            for name in files:
                path = os.path.join(root, name)
                with open(path, "rb") as fh:
                    built[os.path.relpath(path, out)] = fh.read()
    if check:
        with zipfile.ZipFile(LOCAL_FS_JAR) as zf:
            committed = {n: zf.read(n) for n in zf.namelist()}
        drift = sorted(n for n in built.keys() | committed.keys()
                       if built.get(n) != committed.get(n))
        print(f"jar drift: {drift}" if drift else f"{LOCAL_FS_JAR} matches its source")
        return 1 if drift else 0
    # fixed entry order and timestamps: the same classes give the same jar
    with zipfile.ZipFile(LOCAL_FS_JAR, "w") as zf:
        for name in sorted(built):
            zf.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), built[name])
    print(f"wrote {LOCAL_FS_JAR} ({len(built)} classes)")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("sweep", help="every gate vs its DuckDB oracle")
    sub.add_parser("hash", help="one md5 per gate over its engine output")
    b = sub.add_parser("battery", help="fixtures + seven sweeps + waivers + suite")
    b.add_argument("--src", default="/root/testdata/sf0.01",
                   help="clean scale-factor dir the variants derive from")
    b.add_argument("--out", default="/tmp/advfix", help="fixture-family output dir")
    b.add_argument("--surfaces", default=",".join(SURFACES),
                   help="comma-separated subset of: " + ", ".join(SURFACES))
    b.add_argument("--no-suite", action="store_true", help="skip the pytest suite")
    b.add_argument("--no-gen", action="store_true",
                   help="reuse fixtures already present under --out")
    c = sub.add_parser("close", help="check (and --stamp) the gate ledger")
    c.add_argument("hash_file", help="full-registry output of `verify.py hash`")
    c.add_argument("--stamp", action="store_true", help="rewrite the ledger")
    w = sub.add_parser("waivers", help="derive the timeshift streaming waivers")
    w.add_argument("sf", nargs="?", default="/tmp/advfix/timeshift")
    sc = sub.add_parser("scale", help="the sf1 evidence plan: module chunks + ladders")
    sc.add_argument("logdir", nargs="?", default="/tmp/sf1_sweep",
                    help="per-step logs and the ladders' work dirs")
    j = sub.add_parser("jar", help="rebuild the local FileSystem jar from its source")
    j.add_argument("--check", action="store_true",
                   help="compare with the committed jar instead of writing it")
    args = ap.parse_args(argv)
    if args.cmd == "sweep":
        return sweep()
    if args.cmd == "hash":
        return hash_()
    if args.cmd == "battery":
        return battery(args)
    if args.cmd == "scale":
        return scale(args.logdir)
    if args.cmd == "close":
        return close(args.hash_file, args.stamp)
    if args.cmd == "jar":
        return jar(args.check)
    return waivers(args.sf)


if __name__ == "__main__":
    raise SystemExit(main())
