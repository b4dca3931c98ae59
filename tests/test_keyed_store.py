"""KeyedParquetStore upsert: the Spark job shape of one upsert, and the
merge semantics the store's schema reuse must not change."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.errors import AnalysisException, NumberFormatException

from eventbridge_etl_spark.operators.upsert import KeyedParquetStore

SCHEMA = "id string, town string, zip long"


def _rows(store, spark):
    return sorted(tuple(r) for r in store.read(spark).select("id", "town", "zip").collect())


@pytest.fixture()
def seeded(spark, tmp_path):
    """A 4-bucket store holding ids 0..19, written by the returned instance."""
    store = KeyedParquetStore(str(tmp_path / "store"), ["id"], n_buckets=4)
    store.upsert(spark.createDataFrame([(str(i), f"t{i}", i) for i in range(20)], SCHEMA))
    return store


def test_upsert_job_shape_and_parallel_bucket_writers(spark, tmp_path):
    """One upsert into an existing 64-bucket store, touching more than 32
    buckets (Spark lists that many paths in a parallel-discovery job), runs
    exactly four Spark jobs and writes its buckets from several tasks:

    1. the ``observe`` pass that fills the batch cache and collects the
       touched bucket set;
    2. the listing job over the touched bucket dirs;
    3. the map stage of the one shuffle (on the bucket id), which AQE
       submits as its own job;
    4. the write stage, min(touched, defaultParallelism) tasks.

    No schema-inference job: this instance wrote the store and reuses the
    schema it wrote.  The regression this guards is the AQE-coalesced
    single writer task that wrote every touched bucket serially.
    """
    sc = spark.sparkContext
    root = str(tmp_path / "store")
    store = KeyedParquetStore(root, ["id"], n_buckets=64)
    store.upsert(spark.createDataFrame([(str(i), f"t{i}", i) for i in range(2000)], SCHEMA))
    batch = spark.createDataFrame(
        [(str(i), f"u{i}", -i) for i in range(1900, 2100)], SCHEMA
    ).persist()
    touched = {r[0] for r in store._bucket(batch).select(store.BUCKET_COL).distinct().collect()}
    assert len(touched) > 32
    before = {b: set(os.listdir(f"{root}/{store.BUCKET_COL}={b}")) for b in touched}

    group = "keyed-store-job-shape"
    sc.setJobGroup(group, "one upsert")
    try:
        store.upsert(batch)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    batch.unpersist()

    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    assert len(jobs) == 4, jobs
    write_stage = tracker.getStageInfo(max(tracker.getJobInfo(jobs[-1]).stageIds))
    # > 1 whenever defaultParallelism > 1, since more than 32 buckets are touched
    assert write_stage.numTasks == min(len(touched), sc.defaultParallelism)

    for b in touched:
        files = glob.glob(f"{root}/{store.BUCKET_COL}={b}/*.parquet")
        assert len(files) == 1, (b, files)
        assert os.path.basename(files[0]) not in before[b]  # rewritten
    expected = {str(i): (f"t{i}", i) for i in range(1900)}
    expected.update({str(i): (f"u{i}", -i) for i in range(1900, 2100)})
    assert {r[0]: (r[1], r[2]) for r in _rows(store, spark)} == expected


@pytest.mark.parametrize(
    ("ddl", "row", "error", "match"),
    [
        ("id string, town string, zip long, extra string", ("1", "x", 5, "e"),
         AnalysisException, "NUM_COLUMNS_MISMATCH"),
        ("id string, zip long", ("1", 5), AnalysisException, 'Cannot resolve column name "town"'),
        ("id string, town string, zip string", ("1", "x", "abc"),
         NumberFormatException, "CAST_INVALID_INPUT"),
    ],
    ids=["extra_column", "missing_column", "incompatible_type"],
)
def test_upsert_schema_mismatch_raises_and_keeps_rows(spark, seeded, ddl, row, error, match):
    """A batch whose columns do not fit the stored schema raises, whether
    the store's schema was inferred or reused, and publishes nothing."""
    before = _rows(seeded, spark)
    with pytest.raises(error, match=match):
        seeded.upsert(spark.createDataFrame([row], ddl))
    assert _rows(seeded, spark) == before


def test_fresh_instance_over_existing_store_upserts(spark, seeded):
    """A new instance (no schema in hand) infers the stored schema and
    merges like the instance that wrote the store."""
    reopened = KeyedParquetStore(seeded.path, ["id"], n_buckets=4)
    reopened.upsert(spark.createDataFrame([("3", "new", 30), ("25", "added", 25)], SCHEMA))
    expected = [(str(i), f"t{i}", i) for i in range(20) if i != 3]
    expected += [("3", "new", 30), ("25", "added", 25)]
    assert _rows(reopened, spark) == sorted(expected)
    assert _rows(seeded, spark) == sorted(expected)


def test_versioned_replay_never_overwrites_newer_row(spark, tmp_path):
    store = KeyedParquetStore(str(tmp_path / "store"), ["id"], n_buckets=4)
    ddl = "id string, town string, ver long"
    store.upsert(spark.createDataFrame([("1", "v2", 2), ("2", "v5", 5)], ddl), version_col="ver")
    store.upsert(spark.createDataFrame([("1", "v1", 1), ("2", "v9", 9)], ddl), version_col="ver")
    store.upsert(spark.createDataFrame([("1", "v1", 1)], ddl), version_col="ver")
    got = sorted(tuple(r) for r in store.read(spark).select("id", "town", "ver").collect())
    assert got == [("1", "v2", 2), ("2", "v9", 9)]


def test_replaying_a_batch_leaves_identical_rows(spark, seeded):
    batch = spark.createDataFrame([("0", "a", 100), ("7", "b", 107), ("42", "c", 142)], SCHEMA)
    seeded.upsert(batch)
    once = _rows(seeded, spark)
    seeded.upsert(batch)
    assert _rows(seeded, spark) == once
    assert len(once) == 21
