"""CSV landing-directory source — batch and streaming.

Reference capability: a CSV lands in a bucket, a notification fires, a
container downloads + parses it row-by-row (O1-O3, O8-O9 in SURVEY.md §2).
Spark collapses all of that into the file source: directory listing *is*
the notification stream, the vectorized CSV reader *is* the parser, and
checkpointed file offsets replace SQS visibility-timeout redelivery.

Correct-CSV note (SURVEY §1.3): the reference splits rows on bare ','
so quoted fields are corrupted; Spark's reader is RFC-4180 correct.  We
adopt correct semantics deliberately — tests pin this divergence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv_batch(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """Batch CSV scan with header-derived column names (O8/O9).

    With no ``schema`` the columns come from the file header and stay
    strings — the reference's "everything is a string" ingest contract
    (SURVEY §1.2); pass a schema (or use ``inferSchema``) to upgrade to
    typed columns at the boundary.
    """
    # caller-supplied options OVERRIDE the header default — passing
    # header as a Python kwarg alongside **options raised TypeError for
    # anyone ingesting headerless CSVs (review finding r6)
    reader = spark.read.options(**{"header": True, **options})
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_csv_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: T.StructType | str,
    max_files_per_trigger: int | None = None,
    **options: str,
) -> DataFrame:
    """Streaming CSV source over a landing directory (O1-O3).

    Each newly-arrived file becomes part of the next micro-batch — the
    Spark-native version of S3-notification -> SQS -> extract.
    ``max_files_per_trigger`` is the backpressure knob replacing the
    reference's Lambda concurrency throttle (O20): it bounds per-batch
    work regardless of how many files land at once, which is what keeps
    a 100 TB backfill from materializing as one giant batch.

    Streaming sources require an explicit schema (no header inference
    mid-stream) — infer once from a sample file if needed.
    """
    reader = spark.readStream.options(**{"header": True, **options})
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.schema(schema).csv(landing_dir)
