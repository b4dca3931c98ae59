"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]`` in one JVM; the config below is chosen so
the *same plans* survive a 1000-executor / 100 TB deployment:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast conversion replace any hand-tuned partition counts.
- Arrow on: every pandas_udf / mapInPandas hop is vectorized batch
  transfer, never per-row pickling.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; at
  cluster scale set it ~2-3x total cores and let AQE coalesce.
- ``maxPartitionBytes`` 128 MiB keeps scan tasks memory-bounded no matter
  the input size (100 TB => ~800k tasks, fine for a 1000-executor cluster).
- A read of more than 32 paths lists them in a Spark job with
  min(paths, ``parallelPartitionDiscovery.parallelism``) tasks, and that
  parallelism defaults to 10000: one task per path.  Listing the 61
  bucket dirs a keyed-store upsert reads took 110-150 ms that way on 4
  local cores and 15-20 ms with 4 tasks, so the parallelism follows the
  shuffle-partition count (about one task per core).
- A ``local[...]`` JVM that ``get_spark`` launches loads the local
  FileSystem in ``jvm/LocalFileSystem.java`` for ``file://``.  The pip
  Hadoop has no native library, so stock ``RawLocalFileSystem`` forks
  ``chmod`` for every file and directory it creates and ``readlink`` for
  every link-status check.  Counted with logging shims on PATH (local[4],
  200-key batches into a 10k-key, 64-bucket store): 190-196 ``chmod`` per
  upsert (60-63 buckets, each a dir, a part file and its ``.crc``), and
  per streaming micro-batch 6 more on the checkpoint logs plus 24
  ``readlink``.  The jar's classes make those calls as syscalls, with the
  same modes, ``.crc`` files and rename rule, and fork none.  The median
  of six such upserts went 0.55-0.66 s -> 0.48 s (two runs a side, 4
  vCPU).  A cluster master, or a JVM that is already up, keeps stock
  ``file://``: its executors would not have the jar.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Heap request sized to the host: min(48g, ~40% of detected RAM).

    Local mode runs driver and executors in ONE JVM whose heap defaults
    to 1 GiB — enough for sf0.1, but the first sf1-scale broadcast
    build dies with "Not enough memory to build and broadcast"
    (measured in the r6 scaling runs).  A fixed 48g request, though,
    OOM-kills any consumer on a smaller host (CI container, laptop,
    cgroup-limited pod), so derive it: ``SPARK_GRAFT_DRIVER_MEM`` wins
    outright, else 40% of /proc/meminfo MemTotal capped at 48g, else a
    conservative 2g when RAM is undetectable.  Only effective for the
    process's FIRST session (the JVM is already up after that); on a
    real cluster spark-submit's --driver-memory/--executor-memory
    override this.
    """
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    limits: list[float] = []
    try:
        with open("/proc/meminfo") as fh:
            kb = next(
                int(line.split()[1])
                for line in fh
                if line.startswith("MemTotal:")
            )
        limits.append(kb * 1024.0)
    except (OSError, StopIteration, ValueError, IndexError):
        pass
    # /proc/meminfo is NOT namespaced: inside a cgroup-limited container
    # it reports the HOST's RAM, which is exactly the OOM-kill scenario
    # this function exists to avoid — take the min with the cgroup
    # limit (v2 memory.max, v1 memory.limit_in_bytes; both print a huge
    # number or 'max' when unlimited).
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as fh:
                raw = fh.read().strip()
            if raw != "max":
                limits.append(float(raw))
        except (OSError, ValueError):
            pass
    if not limits:
        return "2g"
    gib = min(limits) / (1024**3)
    return f"{max(1, min(48, int(gib * 0.4)))}g"

#: Defaults applied to every session this engine creates.  Each is safe at
#: both local[32]/sf0.1 and cluster/100 TB scale (see module docstring).
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MiB
    "spark.sql.parquet.filterPushdown": "true",
    # the fixture events table stores TIMESTAMP(NANOS) parquet, which Spark
    # has no native type for; read as long and convert in sources.tables
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # unannotated (isAdjustedToUTC=false) parquet timestamps must read as
    # TIMESTAMP (LTZ), not TIMESTAMP_NTZ: watermarks/windows require LTZ,
    # and with the UTC session zone the wall-clock values are identical
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "33554432",  # 32 MiB
    # Host-derived heap: min(48g, 40% of detected RAM), overridable via
    # SPARK_GRAFT_DRIVER_MEM — see _default_driver_memory for why a
    # fixed 48g is wrong on memory-limited hosts.
    "spark.driver.memory": _default_driver_memory(),
    "spark.sql.session.timeZone": "UTC",
    # Runtime filters: a semi-join bloom filter built from the small side
    # of a large shuffle join is pushed into the probe side's SCAN — at
    # 100 TB this prunes fact rows before they ever reach the exchange.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Partition-pruning a fact scan from a joined dimension predicate
    # (explicit: load-bearing for partitioned lakehouse layouts).
    "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
    # MIN/MAX/COUNT over plain parquet answer from footer statistics
    # without reading data pages (off by default; no-filter scans only).
    "spark.sql.parquet.aggregatePushdown": "true",
    # Streaming: bound state stores and enable RocksDB-style eviction when
    # available; harmless in batch.
    "spark.sql.streaming.stateStore.compression.codec": "lz4",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
}


def _configured_master(environ: dict[str, str] | None = None) -> bool:
    """True when a cluster master is already configured for this process.

    spark-submit passes ``--master`` to the driver JVM, not as a
    ``SPARK_MASTER`` env var — an env-only probe made
    ``builder.master(local[N])`` silently OVERRIDE ``--master yarn``,
    running the "cluster" job single-node on the driver host (review
    finding, round 7).  The r7 fix probed ``SparkConf()``, but BEFORE
    the JVM gateway exists PySpark's SparkConf is a plain empty local
    dict that never sees JVM system properties, so in a fresh
    spark-submit driver the probe still returned False (review finding,
    round 8).  Pre-JVM, the reliable spark-submit signals are env vars
    the launcher itself exports:

    - ``PYSPARK_GATEWAY_PORT``/``PYSPARK_GATEWAY_SECRET`` — set whenever
      the python process was forked by a spark-submit'd JVM driver,
      meaning the JVM already holds the submitted conf (master included).
    - ``--master`` or ``spark.master`` inside ``PYSPARK_SUBMIT_ARGS``.

    Post-JVM (a live gateway), SparkConf(loadDefaults=True) does read
    the system properties, so keep that probe as the final check.

    ``environ`` is injectable for tests simulating the pre-JVM
    spark-submit state without launching one.
    """
    env = os.environ if environ is None else environ
    if env.get("SPARK_MASTER") or env.get("MASTER"):
        return True
    # spark-submit launched this interpreter: the JVM driver that forked
    # us owns the submitted --master; never override it.
    if env.get("PYSPARK_GATEWAY_PORT"):
        return True
    submit_args = env.get("PYSPARK_SUBMIT_ARGS", "")
    if "--master" in submit_args or "spark.master" in submit_args:
        return True
    try:
        from pyspark import SparkConf
        from pyspark.context import SparkContext

        # SparkConf() only reflects JVM system properties once a gateway
        # exists; without one it is an empty local dict — skip it rather
        # than read a false negative.
        if SparkContext._jvm is None:  # noqa: SLF001 — documented probe
            return False
        return SparkConf().get("spark.master", None) is not None
    except Exception:  # pragma: no cover — conf probe must never block
        return False


#: RocksDB state-store provider (bundled with Spark since 3.2).  At real
#: cluster scale the default HDFS-backed provider keeps every state row
#: on the executor HEAP — a 100 TB stream's keyspace OOMs executors long
#: before the watermark maths matter.  RocksDB spills state to local SSD
#: with bounded block-cache memory, and changelog checkpointing uploads
#: per-batch DELTAS instead of full snapshots (the snapshot upload is
#: the classic micro-batch latency cliff once state reaches GBs).
ROCKSDB_CONF: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
        "true",
    # bound the native memory RocksDB may take per executor; without it
    # block caches default to unbounded growth across state store
    # instances (one per partition x operator)
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
    "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB": "512",
}


#: Local FileSystem without per-file processes (``jvm/LocalFileSystem.java``;
#: rebuild with ``scripts/verify.py jar``).  See the module docstring.
LOCAL_FS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "localfs.jar")
LOCAL_FS_CONF: dict[str, str] = {
    "spark.hadoop.fs.file.impl": "eventbridge_etl_spark.jvm.LocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "eventbridge_etl_spark.jvm.LocalFileSystem$Fs",
}
_DRIVER_CP = "spark.driver.extraClassPath"


def _launches_local_jvm(master: str | None) -> bool:
    """True when this ``get_spark`` call starts a ``local[...]`` JVM.

    Only then can the jar join the driver classpath, and only then does
    every task run in that JVM: a cluster master's executors (or a JVM
    that is already up) would not have the jar."""
    from pyspark.context import SparkContext

    return (
        master is not None
        and (master == "local" or master.startswith("local["))
        and SparkContext._gateway is None  # noqa: SLF001 — documented probe
        and not _configured_master()
    )


def get_spark(
    app_name: str = "eventbridge-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    state_store: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured — on a real cluster, spark-submit's
    ``--master`` wins because we only set it if nothing else did.

    ``state_store``: ``"rocksdb"`` applies :data:`ROCKSDB_CONF` (the
    100 TB streaming deployment posture — disk-backed state, changelog
    checkpoints); ``"hdfs"``/``None`` keeps Spark's default heap-backed
    provider (fine for tests and small state).  NOTE: like every
    ``spark.sql.streaming.stateStore.*`` conf this only takes effect on
    a NEW query checkpoint — an existing checkpoint pins its provider.
    """
    if state_store not in (None, "", "hdfs", "rocksdb"):
        raise ValueError(
            f"state_store must be None/'hdfs'/'rocksdb', got {state_store!r}"
        )
    builder = SparkSession.builder.appName(app_name)
    if master is None and not _configured_master():
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    conf = dict(ENGINE_CONF)
    # re-derive at SESSION-BUILD time: ENGINE_CONF froze this at module
    # import, so SPARK_GRAFT_DRIVER_MEM exported after the import was
    # silently ignored despite the "wins outright" contract (review
    # finding, round 7)
    conf["spark.driver.memory"] = _default_driver_memory()
    if shuffle_partitions is None:
        # local default: match core count so sf-scale tests don't pay for
        # hundreds of empty partitions; AQE coalesces further.
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.sql.sources.parallelPartitionDiscovery.parallelism"] = str(
        shuffle_partitions
    )
    if state_store == "rocksdb":
        conf.update(ROCKSDB_CONF)
    local_jvm = _launches_local_jvm(master)
    if local_jvm:
        conf.update(LOCAL_FS_CONF)
    if extra_conf:
        conf.update(extra_conf)
    if local_jvm:
        user_cp = conf.get(_DRIVER_CP)
        conf[_DRIVER_CP] = f"{LOCAL_FS_JAR}{os.pathsep}{user_cp}" if user_cp else LOCAL_FS_JAR
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
