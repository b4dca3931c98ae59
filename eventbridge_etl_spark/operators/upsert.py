"""Keyed idempotent upsert — the engine's sink primitive (reference O16).

The reference's sink is DynamoDB ``PutItem`` keyed by ``id``: last writer
wins per key, which makes its at-least-once delivery idempotent
(lambda-fns/load/load.ts:64-78).  Spark-native equivalents:

- **In-plan**: ``upsert_by_key`` — argmax-per-key via ``max_by`` on a
  version column (one shuffle, map-side partial aggregation; no window
  sort needed).
- **On-disk**: ``KeyedParquetStore`` — a hash-bucketed parquet table with
  MERGE-like semantics: each upsert rewrites *only the buckets containing
  touched keys*, copy-on-write.  A batch of n random keys touches
  B·(1−(1−1/B)^n) of the B buckets — 61 of 64 at n = 200 — so the
  rewrite is bounded by the batch only while n ≪ B; past that nearly
  every upsert rewrites nearly the whole table.  (On a production
  lakehouse you'd use Delta/Iceberg ``MERGE`` or merge-on-read deltas;
  this store keeps the engine dependency-free.)

``KeyedParquetStore.foreach_batch`` plugs into Structured Streaming: with
per-epoch idempotent bucket rewrites, at-least-once replay upgrades to
effectively-once — strictly stronger than the reference.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def upsert_by_key(
    df: DataFrame,
    keys: Sequence[str],
    version_col: str | None = None,
) -> DataFrame:
    """Collapse to one row per key — last writer wins.

    With ``version_col`` (a timestamp/sequence), keeps the row with the
    max version per key using ``max_by`` aggregation: partial aggregation
    runs map-side before the single hash shuffle, so skewed or massive
    inputs never sort.  Without it, ties break arbitrarily
    (``dropDuplicates`` semantics — matches the reference, where
    concurrent unordered writers race, README.md:42).

    The ordering key is the version wrapped in a struct: a BARE null
    version is ignored by ``max_by``, so a key whose rows were all
    null-versioned collapsed to an all-NULL payload — real data
    replaced by nulls (review finding r6).  Struct-wrapped, null
    versions sort lowest (any versioned row wins over them) and an
    all-null-version key keeps one of its rows arbitrarily, like the
    no-version path.
    """
    if version_col is None:
        return df.dropDuplicates(list(keys))
    return _latest_per_key(df, list(keys), F.struct(F.col(version_col)))


def _latest_per_key(
    df: DataFrame, keys: list[str], version, drop: Sequence[str] = ()
) -> DataFrame:
    """One row per ``keys``: the row with the largest ``version``.

    The non-key columns (less ``drop``) travel as one struct through a
    single ``max_by``, then are unpacked under their own names."""
    others = [c for c in df.columns if c not in keys and c not in drop]
    row = F.struct(*[F.col(c) for c in others])
    agg = df.groupBy(*keys).agg(F.max_by(row, version).alias("_r"))
    return agg.select(*keys, *[F.col(f"_r.{c}").alias(c) for c in others])


class KeyedParquetStore:
    """Hash-bucketed keyed parquet table with copy-on-write bucket upserts.

    Layout: ``root/_kb=<i>/part-*.parquet``, one file per bucket, with
    ``n_buckets`` fixed at creation.  ``pmod(xxhash64(key), n_buckets)``
    assigns buckets, so an upsert reads and rewrites only the buckets its
    batch touches: B·(1−(1−1/B)^n) of B for n random keys (61 of 64 at
    n = 200).  The merge is one shuffle on the bucket id into
    min(touched, defaultParallelism) writer tasks, so every core writes
    buckets and each touched bucket is still rewritten as one file.  A
    rewritten bucket is a directory, a part file and its ``.crc``; in a
    ``local[...]`` session each costs only syscalls, no process
    (``session`` module docstring).
    """

    BUCKET_COL = "_kb"
    #: store-parameters sidecar (underscore-prefixed: Spark's file index
    #: skips it).  pmod(hash, n_buckets) bucket assignment means a store
    #: reopened with a DIFFERENT n_buckets (or key set) maps keys to new
    #: buckets while the old rows stay live in their original ones —
    #: read() would then return two rows for one key with no error
    #: (review finding, round 7).  The sidecar makes the mismatch loud.
    META_FILE = "_store_meta.json"

    def __init__(self, path: str, keys: Sequence[str], n_buckets: int = 64) -> None:
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        self.path = path
        self.keys = list(keys)
        self.n_buckets = n_buckets
        #: stored schema (bucket column included), reused to read old
        #: buckets; None until this instance first reads or writes them
        self._schema: StructType | None = None

    def _check_meta(self) -> None:
        """Validate (or adopt) the store-parameters sidecar."""
        meta_path = os.path.join(self.path, self.META_FILE)
        if os.path.isfile(meta_path):
            try:
                with open(meta_path) as fh:
                    meta = json.load(fh)
                stored = (meta["n_buckets"], meta["keys"])
            except (ValueError, KeyError, TypeError) as exc:
                # truncated JSON (crash mid-write in pre-atomic
                # versions) or wrong-shaped-but-valid JSON ('{}',
                # 'null', a list): every malformed sidecar surfaces the
                # same recovery path instead of an opaque decode/key
                # error on every subsequent open (review findings, r8)
                raise ValueError(
                    f"corrupt store-parameters sidecar at {meta_path!r} "
                    "(interrupted write?) — delete the sidecar file to "
                    "re-adopt the current parameters as the store's"
                ) from exc
            if stored != (self.n_buckets, self.keys):
                raise ValueError(
                    f"store at {self.path!r} was created with "
                    f"keys={meta['keys']} n_buckets={meta['n_buckets']}; "
                    f"reopening with keys={self.keys} "
                    f"n_buckets={self.n_buckets} would split keys across "
                    "buckets (stale rows stay live in their old bucket)"
                )
            return
        # no sidecar: new store, or one written before the sidecar
        # existed — in both cases the current parameters ARE the store's
        # parameters (the pre-sidecar contract was caller discipline)
        os.makedirs(self.path, exist_ok=True)
        # atomic publish: a crash mid-write must not leave truncated JSON
        # that bricks every subsequent open (review finding, round 8)
        tmp_path = f"{meta_path}.tmp.{os.getpid()}"
        with open(tmp_path, "w") as fh:
            json.dump({"keys": self.keys, "n_buckets": self.n_buckets}, fh)
        os.replace(tmp_path, meta_path)

    def _bucket(self, df: DataFrame) -> DataFrame:
        key_cols = [F.col(k) for k in self.keys]
        return df.withColumn(
            self.BUCKET_COL, F.pmod(F.xxhash64(*key_cols), F.lit(self.n_buckets))
        )

    def read(self, spark: SparkSession) -> DataFrame:
        df = spark.read.option("basePath", self.path).parquet(self.path)
        return df.drop(self.BUCKET_COL)

    def recover(self) -> None:
        """Sweep crash leftovers from an interrupted publish.

        - ``_old_<b>_<token>`` dirs whose live bucket is MISSING are
          re-adopted (the crash landed between the two renames — the
          aside copy is the only surviving version of that bucket).
        - ``_old_*`` dirs whose live bucket exists are dropped (crash
          after publish, before cleanup — the aside copy is stale).
        - Orphaned ``__stage_<token>`` staging dirs are removed.

        Runs at the start of every ``upsert`` (one ``listdir``, cheap)
        and may be called explicitly on store open.  Assumes no writer
        in another process is mid-publish — the same single-writer-per-
        store assumption the rename publish itself makes.
        """
        abspath = os.path.abspath(self.path)
        parent, base = os.path.dirname(abspath), os.path.basename(abspath)
        if os.path.isdir(parent):
            for name in os.listdir(parent):
                if name.startswith(f"{base}__stage_"):
                    shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
        if not os.path.isdir(self.path):
            return
        for name in os.listdir(self.path):
            if not name.startswith("_old_"):
                continue
            bucket_id = name[len("_old_"):].split("_", 1)[0]
            live = f"{self.path}/{self.BUCKET_COL}={bucket_id}"
            aside = os.path.join(self.path, name)
            if os.path.isdir(live):
                shutil.rmtree(aside, ignore_errors=True)
            else:
                os.rename(aside, live)

    def upsert(self, batch: DataFrame, version_col: str | None = None) -> None:
        """Merge ``batch`` into the store, last-writer-wins per key.

        Idempotent: replaying the same batch yields the same stored state,
        which is what makes streaming retries safe (epoch replay rewrites
        the same buckets to the same content).
        """
        spark = batch.sparkSession
        # reserved internal names would be silently clobbered (and then
        # dropped from the stored table) — fail loudly instead
        reserved = {self.BUCKET_COL, "_is_new"} & set(batch.columns)
        if reserved:
            raise ValueError(
                f"batch columns {sorted(reserved)} collide with the "
                "store's reserved internal names"
            )
        self.recover()
        self._check_meta()
        # persist: `touched` (collected here) and the staged write below
        # would otherwise be two separate evaluations of the batch
        # lineage — doubled source I/O, and a non-deterministic or
        # changed-underneath source could stage a bucket absent from
        # `touched` (never published) or vice versa (review finding, r7)
        new = self._bucket(batch).persist()
        token = uuid.uuid4().hex
        tmp = f"{self.path}__stage_{token}"
        try:
            # one job both materialises the cache and collects the bucket
            # set (O(buckets) on the driver); a distinct-then-collect
            # costs three AQE jobs for the same answer
            seen = Observation()
            new.observe(seen, F.collect_set(self.BUCKET_COL).alias("b")).write.format(
                "noop"
            ).mode("overwrite").save()
            touched = seen.get["b"]
            if not touched:
                return
            merged = new.withColumn("_is_new", F.lit(1))
            existing_dirs = [
                f"{self.path}/{self.BUCKET_COL}={b}"
                for b in touched
                if os.path.isdir(f"{self.path}/{self.BUCKET_COL}={b}")
            ]
            if existing_dirs:
                reader = spark.read.option("basePath", self.path)
                # the schema this instance last wrote (or inferred once):
                # inferring it again would cost a footer-reading job per batch
                if self._schema is not None:
                    reader = reader.schema(self._schema)
                old = reader.parquet(*existing_dirs).withColumn("_is_new", F.lit(0))
                merged = old.unionByName(merged)
            # precedence: explicit version, else new-over-old
            version = (
                F.struct(F.col(version_col), F.col("_is_new"))
                if version_col
                else F.col("_is_new")
            )
            # The only shuffle: hash on the bucket id, which already
            # satisfies the per-key aggregate's distribution, so each
            # bucket lands whole in one task and is written as one file.
            # The count is explicit because AQE never coalesces one: it
            # shrinks an uncounted repartition of a batch this small to ONE
            # writer task, which writes every touched bucket serially.
            n_writers = min(len(touched), spark.sparkContext.defaultParallelism)
            resolved = _latest_per_key(
                merged.repartition(n_writers, self.BUCKET_COL),
                [self.BUCKET_COL, *self.keys],
                version,
                drop=["_is_new"],
            )
            # Stage to a unique tmp dir (no cross-writer races on a shared
            # path), then publish each touched bucket with two renames: old
            # aside -> new in -> drop old.  Renames are metadata-only, so the
            # no-bucket window is two syscalls wide (vs rmtree+copy, which
            # held it open for a full data rewrite), and a crash inside it
            # leaves the previous bucket intact under an "_old" name —
            # underscore-prefixed so Spark's file index ignores it — for
            # manual recovery instead of data loss.
            resolved.write.partitionBy(self.BUCKET_COL).parquet(tmp)
            self._schema = resolved.schema
        finally:
            new.unpersist()
        os.makedirs(self.path, exist_ok=True)
        for b in touched:
            src = f"{tmp}/{self.BUCKET_COL}={b}"
            dst = f"{self.path}/{self.BUCKET_COL}={b}"
            if not os.path.isdir(src):
                continue
            aside = f"{self.path}/_old_{b}_{token}"
            if os.path.isdir(dst):
                os.rename(dst, aside)
            os.rename(src, dst)
            shutil.rmtree(aside, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    def foreach_batch(self, version_col: str | None = None):
        """Adapter for ``writeStream.foreachBatch`` (exactly-once keyed sink)."""

        def _sink(batch: DataFrame, epoch_id: int) -> None:
            self.upsert(batch, version_col=version_col)

        return _sink
