"""Write-side layout control: partitioned and bucketed parquet sinks.

The reference's only sink is a keyed KV table (DynamoDB PutItem —
``lambda-fns/load/load.ts:64-78``; covered by ``operators.upsert``).  A
complete engine also needs the *analytical* write paths that make 100 TB
reads cheap:

- **Partitioned layout** (``write_partitioned``): directory-per-value
  for low-cardinality columns (date, region, event_type).  Readers with
  a partition predicate scan only matching directories — partition
  pruning happens before any file is opened.

- **Bucketed layout** (``write_bucketed_table``): hash-bucket rows by a
  join/agg key into a fixed number of files per partition
  (``bucketBy``).  Two tables bucketed on the same key with the same
  bucket count join WITHOUT an exchange — at 100 TB, pre-bucketing the
  fact tables on their join keys turns every subsequent
  fact-to-fact join and keyed aggregation into a shuffle-free local
  operation.  ``tests/test_sinks.py`` asserts the Exchange disappears
  from the physical plan.

Sizing guidance baked into the helpers: target 128 MiB-1 GiB per file
(``maxRecordsPerFile``), buckets ~= total_size / 256 MiB rounded to a
power of two, and always ``sortBy`` the bucket key so per-bucket reads
are merge-friendly.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Write ``df`` as a directory-partitioned table.

    Keep ``partition_cols`` low-cardinality (days, not timestamps; at
    most a few thousand distinct values) — each value is a directory,
    and a million tiny directories is the classic small-files failure
    mode at scale.
    """
    writer = df.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(*partition_cols).format(fmt).save(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] | None = None,
    partition_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
    path: str | None = None,
) -> None:
    """Save ``df`` as a bucketed (and optionally partitioned) table.

    Bucketing metadata lives in the session catalog (``saveAsTable`` is
    required — plain ``save`` cannot record bucket specs), so subsequent
    reads via ``spark.table(table)`` expose the bucketing to the planner
    and equi-joins / aggregations on ``bucket_cols`` skip the exchange.
    With ``path`` the table is external (data at ``path``, metadata in
    the catalog) — the usual arrangement on object storage.
    """
    writer = df.write.mode(mode).format(fmt)
    if path:
        writer = writer.option("path", path)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if not bucket_cols:
        raise ValueError("bucket_cols must name at least one column")
    first, *rest = list(bucket_cols)
    writer = writer.bucketBy(n_buckets, first, *rest)
    writer = writer.sortBy(*(sort_cols if sort_cols else bucket_cols))
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read — the path that preserves bucketing metadata."""
    return spark.table(table)


def build_merge_sql(
    target_table: str,
    source_view: str,
    keys: Sequence[str],
    columns: Sequence[str],
    version_col: str | None = None,
) -> str:
    """ANSI ``MERGE INTO`` statement for a keyed last-writer-wins upsert.

    Pure string construction (testable without any lakehouse dependency):
    match on ``keys``; update matched rows — only when the source version
    is newer, if ``version_col`` is given — insert unmatched ones.  The
    semantics mirror ``operators.upsert.upsert_by_key`` /
    ``KeyedParquetStore`` (reference sink contract:
    lambda-fns/load/load.ts:61-81), expressed as the lakehouse-native
    MERGE a real 100 TB deployment would run against Delta/Iceberg.
    """
    if not keys:
        raise ValueError("merge requires at least one key column")
    missing = [k for k in keys if k not in columns]
    if missing:
        raise ValueError(f"key columns absent from batch: {missing}")
    if version_col is not None and version_col not in columns:
        raise ValueError(f"version column absent from batch: {version_col!r}")

    # identifier quoting: escape embedded backticks (legal in Spark
    # column names via CSV/JSON headers — unescaped they break OUT of
    # the quoting) and quote the table/view identifiers the same way
    # (a hyphenated or reserved-word table name otherwise fails to
    # parse); dotted table names quote per path segment (review
    # finding, round 7)
    def q(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    def qt(name: str) -> str:
        return ".".join(q(part) for part in name.split("."))

    # null-SAFE key equality: with plain `=`, a NULL-keyed row never
    # matches its own previous insert and every at-least-once replay
    # re-inserts it — upsert_by_key/KeyedParquetStore treat NULL keys
    # as one group, and this MERGE twin must too (review finding r6)
    on = " AND ".join(f"t.{q(k)} <=> s.{q(k)}" for k in keys)
    sets = ", ".join(f"t.{q(c)} = s.{q(c)}" for c in columns if c not in keys)
    ins_cols = ", ".join(q(c) for c in columns)
    ins_vals = ", ".join(f"s.{q(c)}" for c in columns)
    # a null-versioned TARGET row must lose to any versioned source
    # (upsert_by_key's struct-wrapped contract); bare `>` is NULL
    # against a NULL target version and the stale row would win forever
    guard = (
        f" AND (s.{q(version_col)} > t.{q(version_col)} "
        f"OR t.{q(version_col)} IS NULL)"
        if version_col
        else ""
    )
    # keys-only batch (presence set): nothing to update on match — a bare
    # "UPDATE SET" would be a parse error, so emit insert-only MERGE
    matched = f"WHEN MATCHED{guard} THEN UPDATE SET {sets} " if sets else ""
    return (
        f"MERGE INTO {qt(target_table)} t USING {qt(source_view)} s ON {on} "
        f"{matched}"
        f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def lakehouse_merge_upsert(
    batch: DataFrame,
    target_table: str,
    keys: Sequence[str],
    version_col: str | None = None,
) -> None:
    """Keyed upsert via ``MERGE INTO`` against a Delta/Iceberg table.

    Optional-dependency path: this container ships neither format, so the
    statement requires a session whose catalog backs ``target_table``
    with a MERGE-capable v2 source (delta-spark or iceberg-spark-runtime
    on the classpath) — Spark raises its own error otherwise.  The batch
    is first collapsed to one row per key (MERGE rejects multi-matches),
    so replaying a batch is idempotent just like ``KeyedParquetStore``.
    """
    from eventbridge_etl_spark.operators.upsert import upsert_by_key

    import uuid

    collapsed = upsert_by_key(batch, keys, version_col=version_col)
    # unique per call: concurrent merges into the same target in one
    # session must not race on createOrReplaceTempView
    view = f"_merge_src_{uuid.uuid4().hex}"
    collapsed.createOrReplaceTempView(view)
    try:
        batch.sparkSession.sql(
            build_merge_sql(target_table, view, keys, collapsed.columns, version_col)
        )
    finally:
        batch.sparkSession.catalog.dropTempView(view)
