"""The benchmark's workloads: each drives the engine's public functions
from one client in a closed loop (the next op starts when the last one
returns).

- ``ingest_upsert``: land one small address CSV, wait until its rows are
  committed to a ``KeyedParquetStore`` by the streaming pipeline;
- ``relational_queries``: scan/join/aggregate registry queries;
- ``corpus_dedup``: the five band-join near-duplicate operators.

A workload's life: ``generate`` (inputs, untimed), ``setup`` (counted in
``setup_s``, includes warm-up ops), ``op(i)`` (timed), ``verify``
(untimed), ``layer_metrics`` (traced runs only).
"""

from __future__ import annotations

import glob
import os
import random
import sys
import time

import gen
import stats
import verify
from spans import STREAM_PHASES, ProgressListener

#: The twelve read-path queries (scan, join, aggregate, window, as-of).
RELATIONAL = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q9_product_profit", "q18_large_volume_customer",
    "scan_projection_filter", "join_broadcast_chain", "agg_rollup",
    "window_topk_per_group", "events_hourly_rollup", "join_asof_attribution",
)
#: The five band-join (LSH-style) near-duplicate operators.
CORPUS = (
    "dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_lsh",
    "multimodal_phash_near_dup", "similarity_topk_lsh",
)
#: Per-query layer metrics: build (Python plan construction), plan
#: (Catalyst optimisation + physical planning), exec (the noop write),
#: and the exchange/spill bytes of the op's jobs.
QUERY_LAYER = (("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
               ("shuffle_bytes", "B"), ("spill_bytes", "B"))
#: ``multimodal_phash_near_dup`` hashes images built from ``doc_id`` alone.
#: Its registry oracle is the engine's output pinned for the 500-document
#: test fixtures (ids 0..499) and selected by a digest of their text, so
#: for a generated 500-document corpus the expected pairs are that pinned
#: output whatever the text.
PHASH_PINNED = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            "tests", "data", "multimodal_phash_near_dup_pinned.parquet")
INGEST_LAYER = (
    ("streaming.trigger_s", "s"), ("streaming.latest_offset_s", "s"),
    ("streaming.query_planning_s", "s"), ("streaming.wal_commit_s", "s"),
    ("streaming.add_batch_s", "s"), ("upsert.call_s", "s"),
    ("upsert.buckets_rewritten", "count"),
    ("upsert.bytes_written_per_input_byte", "ratio"), ("sources.rows_in", "count"),
)


class QueryWorkload:
    """Registry queries over generated tables, in a seeded shuffled
    order each round; each op builds the query, plans it (traced runs
    only) and runs it into the noop sink, so every output column is
    computed and nothing can be pruned."""

    #: untimed rounds before the timed window (JIT and codegen warm-up)
    WARMUP_ROUNDS = 1

    def __init__(self, names: tuple[str, ...], sf: float, corpus_rows: int,
                 work: str, seed: int, tracer) -> None:
        self.names = names
        self.sf = sf
        self.corpus_rows = corpus_rows
        self.tables = os.path.join(work, "tables")
        self.seed = seed
        self.tracer = tracer
        self.counters = None
        self.spark = None
        self.bytes: dict[int, tuple[int, int]] = {}
        self._order: list[str] = []
        self._rng = random.Random(seed)

    def describe(self) -> dict:
        return {"queries": list(self.names), "sf": self.sf,
                "corpus_rows": self.corpus_rows, "warmup_rounds": self.WARMUP_ROUNDS}

    def generate(self, seconds: int) -> None:
        gen.write_tables(self.tables, self.seed, self.sf, self.corpus_rows)

    def _name(self, k: int) -> str:
        """The ``k``-th query of the seeded schedule (warm-up included)."""
        while len(self._order) <= k:
            round_ = list(self.names)
            self._rng.shuffle(round_)
            self._order.extend(round_)
        return self._order[k]

    def setup(self, spark, counters) -> None:
        """Warm-up rounds; ``counters`` (traced runs) reads shuffle and
        spill bytes per op."""
        from eventbridge_etl_spark.queries import load_all

        load_all()
        self.spark = spark
        self.counters = counters
        for k in range(self.WARMUP_ROUNDS * len(self.names)):
            self._run(self._name(k), f"warmup{k}")

    def has_op(self, i: int) -> bool:
        return True

    def op_name(self, i: int) -> str:
        return self._name(self.WARMUP_ROUNDS * len(self.names) + i)

    def op(self, i: int) -> None:
        name, group = self.op_name(i), f"op{i}"
        with self.tracer.span(name):
            self._run(name, group)
        if self.counters is not None:
            self.bytes[i] = self.counters.stage_bytes(group)

    def _run(self, name: str, group: str) -> None:
        from eventbridge_etl_spark.cache import release_tracked
        from eventbridge_etl_spark.queries import QUERIES

        tr = self.tracer
        if self.counters is not None:
            self.counters.tag(group)
        with tr.span("build"):
            df = QUERIES[name](self.spark, self.tables)
        if tr.enabled:
            with tr.span("plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("exec"):
            df.write.format("noop").mode("overwrite").save()
        release_tracked()

    def verify(self, op_names: list[str]) -> set[int]:
        """Indices of ops whose query's result differs from its oracle."""
        import duckdb

        from eventbridge_etl_spark.queries import ORACLES, QUERIES

        con = duckdb.connect()
        for path in sorted(glob.glob(os.path.join(self.tables, "*.parquet"))):
            table = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        wrong = set()
        for name in sorted(set(op_names)):
            try:
                got = QUERIES[name](self.spark, self.tables).toPandas()
                ok = verify.frames_match(got, self._expected(con, ORACLES, name))
            except Exception as exc:  # any error is a failed check
                print(f"verify {name}: {exc!r}", file=sys.stderr)
                ok = False
            if not ok:
                print(f"verify {name}: result differs from its oracle", file=sys.stderr)
                wrong.add(name)
        con.close()
        return {i for i, n in enumerate(op_names) if n in wrong}

    def _expected(self, con, oracles: dict[str, str], name: str):
        if name != "multimodal_phash_near_dup":
            return con.execute(oracles[name]).fetchdf()
        if self.corpus_rows != 500:
            raise ValueError("the pinned phash pairs hold for 500 documents only")
        import pandas as pd

        pinned = pd.read_parquet(PHASH_PINNED)
        one = pinned[pinned["corpus_digest"] == pinned["corpus_digest"].iloc[0]]
        return one.drop(columns="corpus_digest").reset_index(drop=True)

    def layer_metrics(self, op_names: list[str]) -> dict[str, tuple[float, str]]:
        out = {}
        for name in self.names:
            idx = [i for i, n in enumerate(op_names) if n == name]
            if not idx:
                continue
            for layer in ("build", "plan", "exec"):
                secs = [self._child_duration(i, name, layer) for i in idx]
                out[f"{name}.{layer}_s"] = (stats.median(secs), "s")
            out[f"{name}.shuffle_bytes"] = (stats.median([self.bytes[i][0] for i in idx]), "B")
            out[f"{name}.spill_bytes"] = (stats.median([self.bytes[i][1] for i in idx]), "B")
        return out

    def _child_duration(self, op: int, parent_name: str, name: str) -> float:
        spans = self.tracer.spans
        parents = {s["id"] for s in spans if s["op"] == op and s["name"] == parent_name}
        return sum(s["end"] - s["start"] for s in spans
                   if s["op"] == op and s["name"] == name and s["parent"] in parents)

    def close(self) -> None:
        pass


class IngestWorkload:
    """The reference pipeline as a stream: each op atomically renames one
    pre-generated CSV into the landing directory and blocks in
    ``processAllAvailable`` until its rows are committed to the store."""

    N_KEYS = 10_000
    ROWS_PER_FILE = 200
    N_BUCKETS = 64
    #: untimed ops before the timed window (JIT and codegen warm-up)
    WARMUP_OPS = 8
    OP_TYPE = "land_and_commit"

    def __init__(self, work: str, seed: int, tracer) -> None:
        self.seed = seed
        self.tracer = tracer
        self.inputs = os.path.join(work, "inputs")
        self.landing = os.path.join(work, "landing")
        self.store_path = os.path.join(work, "store")
        self.checkpoint = os.path.join(work, "checkpoint")
        self.files: list[str] = []
        self.landed: list[str] = []
        self.query = None
        self.store = None
        self.listener = None
        self.upserts: list[dict] = []
        self.input_bytes: dict[int, int] = {}

    def describe(self) -> dict:
        return {"keys": self.N_KEYS, "rows_per_file": self.ROWS_PER_FILE,
                "buckets": self.N_BUCKETS, "warmup_ops": self.WARMUP_OPS}

    def generate(self, seconds: int) -> None:
        # far more files than the fastest plausible op rate can use
        n_files = self.WARMUP_OPS + 10 * seconds + 20
        self.seed_csv, self.files = gen.write_address_files(
            self.inputs, self.seed, self.N_KEYS, n_files, self.ROWS_PER_FILE)
        os.makedirs(self.landing)

    def setup(self, spark, counters) -> None:
        """Seed the store, start the stream, land the warm-up files."""
        from eventbridge_etl_spark.operators.etl import ADDRESS_RENAMES, rename_projection
        from eventbridge_etl_spark.sources.csv_source import read_csv_batch
        from eventbridge_etl_spark.streaming.file_pipeline import start_csv_upsert_stream

        self.store = _timed_store(self.tracer, self.upserts)(
            self.store_path, ["id"], n_buckets=self.N_BUCKETS)
        seed_rows = read_csv_batch(spark, self.seed_csv, gen.ADDRESS_SCHEMA)
        with self.tracer.span("upsert.seed"):
            self.store.upsert(rename_projection(seed_rows, ADDRESS_RENAMES))
        if self.tracer.enabled:
            self.listener = ProgressListener()
            spark.streams.addListener(self.listener)
        with self.tracer.span("streaming.start"):
            self.query = start_csv_upsert_stream(
                spark, self.landing, self.checkpoint, self.store,
                gen.ADDRESS_SCHEMA, ADDRESS_RENAMES, available_now=False)
        for k in range(self.WARMUP_OPS):
            self._land(k)

    def has_op(self, i: int) -> bool:
        return self.WARMUP_OPS + i < len(self.files)

    def op_name(self, i: int) -> str:
        return self.OP_TYPE

    def op(self, i: int) -> None:
        self.input_bytes[i] = os.path.getsize(self.files[self.WARMUP_OPS + i])
        with self.tracer.span(self.OP_TYPE):
            self._land(self.WARMUP_OPS + i)

    def _land(self, k: int) -> None:
        src = self.files[k]
        os.rename(src, os.path.join(self.landing, os.path.basename(src)))
        self.landed.append(os.path.join(self.landing, os.path.basename(src)))
        self.query.processAllAvailable()

    def stop_stream(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()

    def verify(self, op_names: list[str]) -> set[int]:
        """Measured ops whose rows are wrong in the store; every measured
        op when an error cannot be pinned on one of them (a wrong seed or
        warm-up row, a duplicate key, or rows read != rows landed)."""
        progress = self.query.recentProgress
        self.stop_stream()
        landed_rows = [verify.read_csv_rows(p) for p in self.landed]
        rows_in = sum(int(p["numInputRows"]) for p in progress)
        rows_landed = sum(len(r) for r in landed_rows)
        expected, last_writer = verify.replay_lww(
            verify.read_csv_rows(self.seed_csv), landed_rows)
        bad_files, unattributed = verify.store_failures(
            verify.read_store(self.store_path), expected, last_writer)
        every_op = set(range(len(op_names)))
        if rows_in != rows_landed:
            print(f"verify: stream read {rows_in} rows, {rows_landed} landed", file=sys.stderr)
            return every_op
        if unattributed or any(f < self.WARMUP_OPS for f in bad_files):
            print("verify: store differs from the replay outside the timed ops", file=sys.stderr)
            return every_op
        if bad_files:
            print(f"verify: wrong store rows from {len(bad_files)} landed files", file=sys.stderr)
        return {f - self.WARMUP_OPS for f in bad_files}

    def layer_metrics(self, op_names: list[str]) -> dict[str, tuple[float, str]]:
        n_ops = len(op_names)
        batches = self._wait_for_batches(self.WARMUP_OPS + n_ops)[self.WARMUP_OPS:]
        timed = [u for u in self.upserts if u["op"] is not None]
        # mean, not median: progress reports whole milliseconds, and a
        # median of a few ms-quantized phases can read the same every run
        values = {
            f"streaming.{metric}":
                sum(b["duration_ms"].get(phase, 0) for b in batches) / 1000.0 / len(batches)
            for phase, metric in STREAM_PHASES.items()
        }
        values["upsert.call_s"] = stats.median([u["secs"] for u in timed])
        values["upsert.buckets_rewritten"] = stats.median([u["buckets"] for u in timed])
        values["upsert.bytes_written_per_input_byte"] = (
            sum(u["bytes"] for u in timed) / sum(self.input_bytes[i] for i in range(n_ops)))
        values["sources.rows_in"] = sum(b["rows"] for b in batches)
        self._trace_batches(batches)
        return {name: (values[name], unit) for name, unit in INGEST_LAYER}

    def _wait_for_batches(self, n: int, timeout_s: float = 10.0) -> list[dict]:
        """Progress events arrive asynchronously; wait for ``n`` of them."""
        deadline = time.monotonic() + timeout_s
        while len(self.listener.data_batches()) < n and time.monotonic() < deadline:
            time.sleep(0.05)
        return self.listener.data_batches()

    def _trace_batches(self, batches: list[dict]) -> None:
        """Record each batch phase as a span under the op that landed it
        (start is the op's start: progress gives durations, not offsets)."""
        ops = {s["op"]: s for s in self.tracer.spans if s["name"] == self.OP_TYPE}
        for i, batch in enumerate(batches):
            parent = ops.get(i)
            if parent is None:
                continue
            for phase, metric in STREAM_PHASES.items():
                secs = batch["duration_ms"].get(phase, 0) / 1000.0
                self.tracer.add(f"streaming.{metric}", parent["start"],
                                parent["start"] + secs, parent["id"], i)

    def close(self) -> None:
        self.stop_stream()


def _timed_store(tracer, records: list[dict]):
    """A ``KeyedParquetStore`` whose upserts are timed (traced runs) with
    the buckets and bytes each one rewrote, read from the store dir."""
    from eventbridge_etl_spark.operators.upsert import KeyedParquetStore

    if not tracer.enabled:
        return KeyedParquetStore

    class TimedStore(KeyedParquetStore):
        def upsert(self, batch, version_col=None):
            op = tracer.op
            parent = tracer.current
            before = _bucket_files(self.path)
            start = tracer.now()
            super().upsert(batch, version_col=version_col)
            end = tracer.now()
            tracer.add("upsert", start, end, parent, op)
            after = _bucket_files(self.path)
            changed = [b for b, files in after.items() if before.get(b) != files]
            records.append({
                "op": op, "secs": end - start, "buckets": len(changed),
                "bytes": sum(size for b in changed for _, size in after[b]),
            })

    return TimedStore


def _bucket_files(root: str) -> dict[str, frozenset]:
    """bucket dir -> {(file name, size)} for a store directory."""
    out = {}
    for bucket in glob.glob(os.path.join(root, "_kb=*")):
        out[os.path.basename(bucket)] = frozenset(
            (e.name, e.stat().st_size) for e in os.scandir(bucket) if e.is_file())
    return out


def make(name: str, work: str, seed: int, tracer):
    if name == "ingest_upsert":
        return IngestWorkload(work, seed, tracer)
    if name == "relational_queries":
        return QueryWorkload(RELATIONAL, 0.05, 300, work, seed, tracer)
    if name == "corpus_dedup":
        return QueryWorkload(CORPUS, 0.01, 500, work, seed, tracer)
    raise ValueError(f"unknown workload {name!r}")


def per_layer_names() -> list[tuple[str, str]]:
    """The per-layer metrics every traced run of a ``BENCHMARK.json``
    workload reports, with units; a layer the workload bypasses reads 0.
    (``corpus_dedup`` adds its own five queries' metrics.)"""
    names = [(f"{q}.{m}", unit) for q in RELATIONAL for m, unit in QUERY_LAYER]
    names += list(INGEST_LAYER)
    names += [("session.start_s", "s"), ("jvm.gc_s", "s"),
              ("cache.persisted_rdds", "count"), ("box.canary_s", "s"),
              ("box.steal_pct", "%")]
    return names
