"""Structured-Streaming realization of the reference pipeline (SURVEY §7
P3): landing-directory file source -> content-routed transform -> keyed
idempotent upsert, plus the event-time operators (watermarked windows,
streaming dedup) the reference lacks but a credible streaming engine
needs.

Reference-parity map:

- file discovery        = S3 notification + SQS buffer (O1-O3): the
  checkpointed file-source log replaces visibility-timeout redelivery,
  upgrading at-least-once to exactly-once source accounting.
- maxFilesPerTrigger    = the Lambda concurrency throttle (O20) — bounds
  per-micro-batch work however many files land at once.
- route()               = EventBridge rules (O11/O14/O19), same pattern
  DSL as batch.
- foreachBatch upsert   = DynamoDB keyed PutItem (O16): per-epoch
  idempotent bucket rewrites => effectively-once end to end.
- observe/audit         = the wildcard observe tap (O19) + X-Ray style
  progress metrics (O22) via QueryProgress.observedMetrics.

At scale: the file source lists incrementally (no full re-scan),
watermark state is bounded by (watermark horizon x key cardinality), and
every transformation below is the same Catalyst plan a batch run gets.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from eventbridge_etl_spark.operators.etl import rename_projection, validity_filter
from eventbridge_etl_spark.operators.rounding import decimal_sum
from eventbridge_etl_spark.operators.upsert import KeyedParquetStore
from eventbridge_etl_spark.sources.csv_source import read_csv_stream


def start_csv_upsert_stream(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    store: KeyedParquetStore,
    schema: T.StructType | str,
    renames: Mapping[str, str],
    key: str = "id",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """The end-to-end streaming ETL: csv files -> renamed/validated rows
    -> keyed last-writer-wins store.

    ``available_now=True`` drains everything discoverable then stops
    (batch-like test/backfill mode); ``False`` runs continuously.
    Restarting with the same checkpoint never reprocesses a committed
    file, and the store's idempotent bucket rewrite absorbs epoch
    replays after crashes mid-commit.

    Spark's file source commits landed files in modification-time
    order, so with ``max_files_per_trigger`` the row from the later
    file wins a key both files update.  Files that share an mtime have
    no fixed order, so their relative precedence is arbitrary, as in the
    reference.
    """
    raw = read_csv_stream(
        spark, landing_dir, schema, max_files_per_trigger=max_files_per_trigger
    )
    renamed = rename_projection(raw, renames)
    valid = validity_filter(renamed, [key])
    writer = (
        valid.writeStream.foreachBatch(store.foreach_batch())
        .option("checkpointLocation", checkpoint_dir)
        .queryName("csv-keyed-upsert")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    value_col: str | None = "value",
) -> DataFrame:
    """Watermarked event-time windowed aggregation (tumbling by default,
    sliding with ``slide``).  The watermark bounds state: windows older
    than (max event time - watermark) finalize and evict — late rows
    beyond it are dropped, which is the explicit late-data contract the
    reference lacks (it processes anything whenever, README.md:42)."""
    win = (
        F.window(F.col(ts_col), window_duration, slide)
        if slide
        else F.window(F.col(ts_col), window_duration)
    )
    aggs = [F.count("*").alias("n_events")]
    if value_col:
        # decimal-sum + decimal-round, double-cast last (see
        # operators/rounding.py::decimal_sum for the cross-engine
        # half-edge rationale)
        aggs.append(decimal_sum(value_col).alias("sum_value"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), F.col(key_col))
        .agg(*aggs)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            *(["n_events", "sum_value"] if value_col else ["n_events"]),
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    watermark passes it — at-least-once sources become exactly-once
    streams with O(keys-per-horizon) state instead of O(all-keys-ever)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def sessionize(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows: activity bursts per user separated by >= gap.
    Stateful session merging runs in the state store, keyed by user —
    the custom-stateful-operator shape the reference's per-record
    lambdas could never express."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), F.col(user_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            user_col,
            "n_events",
        )
    )
