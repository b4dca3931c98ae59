"""Structured-Streaming parity tests: end-to-end file-source ETL with
exactly-once keyed upsert across restarts, throttling, watermarked
windows, streaming dedup, sessionization, and the observe tap."""

from __future__ import annotations

import contextlib
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from eventbridge_etl_spark.operators.etl import ADDRESS_RENAMES
from eventbridge_etl_spark.operators.upsert import KeyedParquetStore
from eventbridge_etl_spark.streaming.file_pipeline import (
    dedup_within_watermark,
    sessionize,
    start_csv_upsert_stream,
    windowed_counts,
)
from eventbridge_etl_spark.streaming.observe import audit_union, with_observe

ADDRESS_SCHEMA = "ID string, HouseNum string, Street string, Town string, Zip string"


def write_csv(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("ID,HouseNum,Street,Town,Zip\n")
        for r in rows:
            f.write(",".join(r) + "\n")


def run_stream(spark, landing, ckpt, store, **kw):
    q = start_csv_upsert_stream(
        spark, landing, ckpt, store, ADDRESS_SCHEMA, ADDRESS_RENAMES, **kw
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_stream_etl_exactly_once_upsert(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    store = KeyedParquetStore(str(tmp_path / "store"), keys=["id"], n_buckets=8)

    write_csv(f"{landing}/batch1.csv", [["1", "12", "Main Street", "Antrim", "22876"],
                                        ["2", "23", "2nd Street", "Glengormley", "73495"]])
    run_stream(spark, landing, ckpt, store)
    got = {r["id"]: r["town"] for r in store.read(spark).collect()}
    assert got == {"1": "Antrim", "2": "Glengormley"}

    # second file updates key 1 and adds key 3; restart with same checkpoint
    write_csv(f"{landing}/batch2.csv", [["1", "99", "Override Rd", "Belfast", "99999"],
                                        ["3", "45", "Church Way", "Ballymena", "18649"]])
    run_stream(spark, landing, ckpt, store)
    out = store.read(spark)
    got = {r["id"]: (r["house_number"], r["town"]) for r in out.collect()}
    assert got == {"1": ("99", "Belfast"), "2": ("23", "Glengormley"), "3": ("45", "Ballymena")}
    assert out.count() == 3  # keyed: no duplicates despite restart

    # re-running with the same checkpoint reprocesses nothing (file log)
    run_stream(spark, landing, ckpt, store)
    assert store.read(spark).count() == 3


def test_stream_throttle_max_files_per_trigger(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    store = KeyedParquetStore(str(tmp_path / "store"), keys=["id"], n_buckets=4)
    for i in range(3):
        write_csv(f"{landing}/f{i}.csv", [[str(i), "1", "S", "T", "Z"]])
    q = start_csv_upsert_stream(
        spark, landing, ckpt, store, ADDRESS_SCHEMA, ADDRESS_RENAMES,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    # one file per micro-batch => >= 3 batches, all rows present exactly once
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) >= 3
    assert store.read(spark).count() == 3


def test_stream_later_mtime_file_wins_a_key(spark, tmp_path):
    """One file per trigger commits files in modification-time order, not
    name order: the row of the later-mtime file wins the key."""
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    store = KeyedParquetStore(str(tmp_path / "store"), keys=["id"], n_buckets=4)
    write_csv(f"{landing}/a.csv", [["1", "2", "New Rd", "Later", "22222"]])
    write_csv(f"{landing}/b.csv", [["1", "1", "Old Rd", "Earlier", "11111"]])
    os.utime(f"{landing}/b.csv", (1_700_000_000, 1_700_000_000))
    os.utime(f"{landing}/a.csv", (1_700_000_060, 1_700_000_060))
    q = start_csv_upsert_stream(
        spark, landing, ckpt, store, ADDRESS_SCHEMA, ADDRESS_RENAMES,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 2
    got = {r["id"]: r["town"] for r in store.read(spark).collect()}
    assert got == {"1": "Later"}


def test_store_recover_sweeps_crash_leftovers(spark, tmp_path):
    """A crash between the publish renames must be self-healing: recover()
    re-adopts an orphaned _old_ bucket, drops a stale one, and reaps
    abandoned __stage_ dirs — then upsert/read behave as if no crash."""
    root = str(tmp_path / "store")
    store = KeyedParquetStore(root, keys=["id"], n_buckets=4)
    df = spark.createDataFrame([(str(i), f"t{i}") for i in range(20)], ["id", "town"])
    store.upsert(df)
    buckets = sorted(
        n for n in os.listdir(root) if n.startswith(KeyedParquetStore.BUCKET_COL)
    )
    assert len(buckets) >= 2

    # crash scenario 1: bucket renamed aside, new never moved in (orphan)
    b0 = buckets[0].split("=", 1)[1]
    os.rename(f"{root}/{buckets[0]}", f"{root}/_old_{b0}_deadbeef")
    # crash scenario 2: publish done but stale aside copy never cleaned
    b1 = buckets[1].split("=", 1)[1]
    shutil.copytree(f"{root}/{buckets[1]}", f"{root}/_old_{b1}_cafebabe")
    # crash scenario 3: abandoned staging dir from a dead writer
    os.makedirs(f"{root}__stage_0123abcd/{KeyedParquetStore.BUCKET_COL}=0")

    store.recover()
    assert os.path.isdir(f"{root}/{buckets[0]}")  # orphan re-adopted
    assert not os.path.isdir(f"{root}/_old_{b0}_deadbeef")
    assert not os.path.isdir(f"{root}/_old_{b1}_cafebabe")  # stale dropped
    assert not os.path.isdir(f"{root}__stage_0123abcd")
    got = {r["id"]: r["town"] for r in store.read(spark).collect()}
    assert got == {str(i): f"t{i}" for i in range(20)}  # nothing lost

    # upsert() itself sweeps on entry: plant another orphan, then upsert
    os.rename(f"{root}/{buckets[0]}", f"{root}/_old_{b0}_feedface")
    store.upsert(spark.createDataFrame([("0", "updated")], ["id", "town"]))
    assert not any(n.startswith("_old_") for n in os.listdir(root))
    got = {r["id"]: r["town"] for r in store.read(spark).collect()}
    assert got["0"] == "updated" and len(got) == 20


@pytest.fixture()
def event_stream(spark, tmp_path):
    """File-backed streaming events source (deterministic, replayable)."""
    src = str(tmp_path / "events_src")
    rows = [
        (1, "2024-01-01 00:05:00", 1, "click", 1.0),
        (2, "2024-01-01 00:10:00", 1, "click", 2.0),
        (2, "2024-01-01 00:10:00", 1, "click", 2.0),  # exact dup (redelivery)
        (3, "2024-01-01 00:50:00", 2, "view", 3.0),
        (4, "2024-01-01 01:20:00", 1, "click", 4.0),
        (5, "2024-01-01 02:05:00", 2, "view", 5.0),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts_s", "user_id", "event_type", "value"]
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    schema = df.schema

    def reader():
        return spark.readStream.schema(schema).parquet(src)

    return reader


def drain(df, tmp_path, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_windowed_counts_with_watermark(spark, tmp_path, event_stream):
    agg = windowed_counts(event_stream(), window_duration="1 hour", watermark="1 hour")
    drain(agg, tmp_path, "win_counts", mode="append")
    rows = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from win_counts").collect()
    }
    # availableNow + append emits finalized windows; the final window may
    # be withheld until the watermark passes — assert the closed ones
    assert rows[("2024-01-01 00:00:00", "click")] == (3, 5.0)
    assert rows[("2024-01-01 00:00:00", "view")] == (1, 3.0)


def test_streaming_dedup_within_watermark(spark, tmp_path, event_stream):
    deduped = dedup_within_watermark(event_stream(), ["event_id"], watermark="3 hours")
    drain(deduped, tmp_path, "dedup_stream")
    out = spark.sql("select * from dedup_stream")
    assert out.count() == 5  # 6 rows - 1 redelivered duplicate
    assert out.filter(F.col("event_id") == 2).count() == 1


def test_sessionize(spark, tmp_path, event_stream):
    sess = sessionize(event_stream(), gap="30 minutes", watermark="4 hours")
    drain(sess, tmp_path, "sessions", mode="complete")
    rows = [
        (r["user_id"], str(r["session_start"]), r["n_events"])
        for r in spark.sql("select * from sessions order by user_id, session_start").collect()
    ]
    # user 1: events at 00:05/00:10(x2) in one session (gap<30m), 01:20 alone
    # user 2: 00:50 alone, 02:05 alone
    assert rows == [
        (1, "2024-01-01 00:05:00", 3),
        (1, "2024-01-01 01:20:00", 1),
        (2, "2024-01-01 00:50:00", 1),
        (2, "2024-01-01 02:05:00", 1),
    ]


def test_observe_metrics_and_audit(spark, tmp_path, event_stream):
    observed = with_observe(event_stream(), "audit")
    q = drain(observed, tmp_path, "observed_stream")
    metrics = [
        p["observedMetrics"]["audit"]["n_rows"]
        for p in q.recentProgress
        if "audit" in (p["observedMetrics"] or {})
    ]
    assert sum(metrics) == 6  # every row counted in-plan, no extra scan

    # audit union: batch observe tap over two stage outputs
    s1 = spark.createDataFrame([("a",)], ["x"])
    s2 = spark.createDataFrame([(1, 2)], ["y", "z"])
    audit = audit_union(("extract", s1), ("load", s2))
    rows = {(r["detail_type"], r["detail"]) for r in audit.collect()}
    assert rows == {("extract", '{"x":"a"}'), ("load", '{"y":1,"z":2}')}


def test_running_totals_custom_stateful_operator(spark, tmp_path):
    """applyInPandasWithState: per-user state must PERSIST across
    micro-batches — two parquet files drained one per trigger, with the
    final update row per user equal to the batch groupBy totals."""
    from eventbridge_etl_spark.streaming.stateful import running_totals

    src = str(tmp_path / "ev_src")
    rows1 = [(1, 10.0, 1_000), (1, 5.0, 2_000), (2, 1.0, 1_500)]
    rows2 = [(1, 2.5, 3_000), (3, 7.0, 2_500)]
    schema = "user_id long, value double, ts_us long"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(f"{src}/f1")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(f"{src}/f2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    out = running_totals(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # last emitted update per user == full-batch aggregate
    updates = spark.sql(
        """
        SELECT user_id, n_events, sum_value FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY n_events DESC) AS rn
          FROM running_totals WHERE NOT expired
        ) WHERE rn = 1 ORDER BY user_id
        """
    ).collect()
    got = [(r["user_id"], r["n_events"], r["sum_value"]) for r in updates]
    assert got == [(1, 3, 17.5), (2, 1, 1.0), (3, 1, 7.0)]

    # user 1 spans both files; with one file per trigger the state carried
    # over (first update shows partial totals, final shows all three)
    u1 = sorted(
        (r["n_events"], r["sum_value"])
        for r in spark.sql(
            "SELECT * FROM running_totals WHERE user_id = 1 AND NOT expired"
        ).collect()
    )
    assert len(u1) >= 2 and u1[-1] == (3, 17.5)


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream attribution join: purchases match the
    same user's clicks within the 1-hour lookback; matches agree with
    the equivalent batch join."""
    from eventbridge_etl_spark.streaming.join import interval_join_streams

    clicks = [
        (1, "2024-01-01 10:00:00", 100),
        (1, "2024-01-01 10:40:00", 101),
        (2, "2024-01-01 09:00:00", 102),
    ]
    purchases = [
        (1, "2024-01-01 11:00:00", 900),  # matches clicks 100+101
        (2, "2024-01-01 11:30:00", 901),  # click 102 outside lookback -> no match
    ]
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    spark.createDataFrame(clicks, "user_id long, c_raw string, click_id long") \
        .selectExpr("user_id", "cast(c_raw as timestamp) AS click_ts", "click_id") \
        .write.parquet(cdir)
    spark.createDataFrame(purchases, "user_id long, p_raw string, purchase_id long") \
        .selectExpr("user_id", "cast(p_raw as timestamp) AS purchase_ts", "purchase_id") \
        .write.parquet(pdir)

    cs = spark.readStream.schema("user_id long, click_ts timestamp, click_id long").parquet(cdir)
    ps = spark.readStream.schema("user_id long, purchase_ts timestamp, purchase_id long").parquet(pdir)
    joined = interval_join_streams(
        ps, cs, ["user_id"],
        left_ts="purchase_ts", right_ts="click_ts",
        lookback="1 hour", left_watermark="2 hours", right_watermark="2 hours",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("attr_join")
        .option("checkpointLocation", str(tmp_path / "ckpt_join"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = sorted(
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("select * from attr_join").collect()
    )
    assert rows == [(900, 100), (900, 101)]

    # same-ts-column name must be rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        interval_join_streams(
            ps, ps, ["user_id"], "purchase_ts", "purchase_ts", "1 hour", "1 hour", "1 hour"
        )


def test_streaming_continuous_rollup_merge(spark, tmp_path):
    """The streaming continuous aggregate: per-epoch merge must equal a
    batch recompute over everything ingested, survive restarts with the
    same checkpoint, and stay idempotent when an epoch directory is
    replayed."""
    import json as _json

    from eventbridge_etl_spark.operators.incremental import (
        hourly_rollup_state,
        publish_rollup,
    )
    from eventbridge_etl_spark.streaming.rollup import (
        make_rollup_sink,
        read_rollup_state,
    )

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    state_dir = str(tmp_path / "rollup_state")
    os.makedirs(landing, exist_ok=True)

    def write_events(name, rows):
        with open(os.path.join(landing, name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    schema = "ts timestamp, event_type string, value double"
    rows1 = [{"ts": "2024-01-01 00:10:00", "event_type": "a", "value": 1.5},
             {"ts": "2024-01-01 00:40:00", "event_type": "a", "value": 2.0},
             {"ts": "2024-01-01 01:00:00", "event_type": "b", "value": -1.0}]
    rows2 = [{"ts": "2024-01-01 00:50:00", "event_type": "a", "value": 4.0},
             {"ts": "2024-01-01 02:00:00", "event_type": "c", "value": 7.0}]
    write_events("f1.jsonl", rows1)

    def run():
        q = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .json(landing)
            .writeStream.foreachBatch(make_rollup_sink(state_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    write_events("f2.jsonl", rows2)
    run()  # restart with the same checkpoint: only f2 is new

    all_rows = spark.createDataFrame(
        [(r["ts"], r["event_type"], r["value"]) for r in rows1 + rows2],
        "ts string, event_type string, value double",
    ).selectExpr("CAST(ts AS TIMESTAMP) ts", "event_type", "value")
    want = {tuple(r) for r in publish_rollup(hourly_rollup_state(all_rows)).collect()}
    state = read_rollup_state(spark, state_dir)
    got = {tuple(r) for r in publish_rollup(state).collect()}
    assert got == want

    # replaying the LAST epoch (crash-after-write, pre-commit) is
    # idempotent: rebuild it from the prior state and identical input
    from eventbridge_etl_spark.streaming.rollup import _committed_epochs

    epochs = _committed_epochs(state_dir)
    last = epochs[-1]
    batch2 = spark.createDataFrame(
        [(r["ts"], r["event_type"], r["value"]) for r in rows2],
        "ts string, event_type string, value double",
    ).selectExpr("CAST(ts AS TIMESTAMP) ts", "event_type", "value")
    make_rollup_sink(state_dir)(batch2, last)
    got2 = {tuple(r) for r in publish_rollup(read_rollup_state(spark, state_dir)).collect()}
    assert got2 == want

    # a third run with nothing new changes nothing
    run()
    got3 = {tuple(r) for r in publish_rollup(read_rollup_state(spark, state_dir)).collect()}
    assert got3 == want


def test_interval_join_three_epoch_carry_and_eviction(spark, tmp_path):
    """Interval join state across SEPARATE drain runs on one checkpoint:

    - epoch 2's purchase must match a click ingested in epoch 1 (the
      click survived the restart in the state store);
    - after epoch 3 advances both watermarks ~13 hours, epoch 4 replays
      the same user/lookback shape as epoch 2 with a LATE purchase —
      the old click is evicted and the late row dropped, so nothing is
      emitted.  Same data shape, opposite outcome: that asymmetry is
      the eviction timeline, not a join bug.
    """
    from eventbridge_etl_spark.streaming.join import interval_join_streams

    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    ckpt = str(tmp_path / "ckpt_j3")
    os.makedirs(cdir, exist_ok=True)
    os.makedirs(pdir, exist_ok=True)
    cschema = "user_id long, click_ts timestamp, click_id long"
    pschema = "user_id long, purchase_ts timestamp, purchase_id long"

    def land(dirname, schema, name, rows, raw):
        spark.createDataFrame(rows, raw).selectExpr(
            *[
                f"CAST({c.split()[0]} AS {c.split()[1]}) AS {c.split()[0]}"
                for c in schema.split(", ")
            ]
        ).coalesce(1).write.mode("append").parquet(os.path.join(dirname, name))

    out = str(tmp_path / "j3_out")
    seen: set = set()

    def drain(epoch):
        # memory sink cannot recover a checkpoint, so epochs append to
        # parquet via foreachBatch; each epoch's emissions = the delta
        cs = (
            spark.readStream.schema(cschema)
            .option("recursiveFileLookup", "true").parquet(cdir)
        )
        ps = (
            spark.readStream.schema(pschema)
            .option("recursiveFileLookup", "true").parquet(pdir)
        )
        joined = interval_join_streams(
            ps, cs, ["user_id"],
            left_ts="purchase_ts", right_ts="click_ts",
            lookback="1 hour", left_watermark="2 hours",
            right_watermark="2 hours",
        )
        q = (
            joined.writeStream.foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)
        try:
            rows = {
                (r["purchase_id"], r["click_id"])
                for r in spark.read.parquet(out).collect()
            }
        except Exception:
            rows = set()
        new = sorted(rows - seen)
        seen.update(rows)
        return new

    craw = "user_id long, click_ts string, click_id long"
    praw = "user_id long, purchase_ts string, purchase_id long"
    # epoch 1: a click for user 1; an unmatched purchase for user 2
    land(cdir, cschema, "e1", [(1, "2024-01-01 10:00:00", 100)], craw)
    land(pdir, pschema, "e1", [(2, "2024-01-01 09:00:00", 900)], praw)
    assert drain(1) == []

    # epoch 2: user 1 purchases 30 min after the epoch-1 click
    land(pdir, pschema, "e2", [(1, "2024-01-01 10:30:00", 901)], praw)
    assert drain(2) == [(901, 100)]

    # epoch 3: both sides jump to 23:00 -> watermark ~21:00 after drain
    land(cdir, cschema, "e3", [(9, "2024-01-01 23:00:00", 101)], craw)
    land(pdir, pschema, "e3", [(9, "2024-01-01 23:00:00", 902)], praw)
    assert drain(3) == [(902, 101)]

    # epoch 4: same shape as epoch 2, but now 10:40 is far behind the
    # watermark: late purchase dropped, epoch-1 click state evicted
    land(pdir, pschema, "e4", [(1, "2024-01-01 10:40:00", 903)], praw)
    assert drain(4) == []


def test_running_totals_three_epoch_carry(spark, tmp_path):
    """Custom stateful totals across THREE separate drain runs on one
    checkpoint: each epoch's final row per user equals the cumulative
    aggregate over everything ingested so far — state survives restarts,
    not just micro-batches within a run."""
    from eventbridge_etl_spark.streaming.stateful import running_totals

    src = str(tmp_path / "ev3")
    ckpt = str(tmp_path / "ckpt_s3")
    os.makedirs(src, exist_ok=True)
    schema = "user_id long, value double, ts_us long"

    def land(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(src, name)
        )

    out = str(tmp_path / "rt3_out")

    def drain(epoch):
        # memory sink cannot recover a checkpoint; append update rows
        # to parquet tagged with the epoch, read back this epoch's only
        from pyspark.sql import functions as SF

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        q = (
            running_totals(stream)
            .writeStream.foreachBatch(
                lambda bdf, bid: bdf.withColumn("_epoch", SF.lit(epoch))
                .write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)
        rows = [
            (r["user_id"], r["n_events"], r["sum_value"])
            for r in spark.read.parquet(out).collect()
            if not r["expired"] and r["_epoch"] == epoch
        ]
        # per-user final emission this epoch = the max running count
        final: dict = {}
        for uid, n, s in sorted(rows, key=lambda t: t[1]):
            final[uid] = (n, s)
        return final

    land("f1", [(1, 10.0, 1_000), (2, 1.0, 1_100)])
    assert drain(1) == {1: (1, 10.0), 2: (1, 1.0)}

    land("f2", [(1, 2.5, 2_000), (3, 7.0, 2_100)])
    # user 1 folds onto epoch-1 state; user 2 has no new rows (update
    # mode: no re-emit), user 3 is fresh
    assert drain(2) == {1: (2, 12.5), 3: (1, 7.0)}

    land("f3", [(1, 0.5, 3_000), (2, 4.0, 3_100), (3, 1.0, 3_200)])
    assert drain(3) == {1: (3, 13.0), 2: (2, 5.0), 3: (2, 8.0)}


def test_running_totals_timeout_eviction_timeline(spark, tmp_path):
    """ProcessingTimeTimeout eviction on a CONTINUOUS query (the mode
    the operator documents for timeouts): a user idle past timeout_ms
    emits a final expired=True row and its state is removed — a later
    event for the same user then starts from zero."""
    import time as _time

    from eventbridge_etl_spark.streaming.stateful import running_totals

    src = str(tmp_path / "ev_to")
    os.makedirs(src, exist_ok=True)
    schema = "user_id long, value double, ts_us long"

    def land(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(src, name)
        )

    land("f1", [(1, 5.0, 1_000)])
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        running_totals(stream, timeout_ms=1_500)
        .writeStream.format("memory").queryName("rt_to")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_to"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        def wait_for(predicate, timeout_s=90):
            deadline = _time.time() + timeout_s
            while _time.time() < deadline:
                if predicate():
                    return True
                _time.sleep(1.0)
            return False

        def rows():
            return [
                (r["user_id"], r["n_events"], r["sum_value"], r["expired"])
                for r in spark.sql("SELECT * FROM rt_to").collect()
            ]

        assert wait_for(lambda: (1, 1, 5.0, False) in rows())
        # idle past the 1.5 s timeout -> expired row with final totals
        assert wait_for(lambda: (1, 1, 5.0, True) in rows())
        # a fresh event for user 1 starts a NEW state from zero
        land("f2", [(1, 2.0, 9_000)])
        assert wait_for(lambda: (1, 1, 2.0, False) in rows())
    finally:
        q.stop()


def test_ewma_smoothing_cross_batch_integer_exact(spark, tmp_path):
    """EWMA state must carry across micro-batches and reproduce the
    reference recursion on the full ordered sequence EXACTLY (integer
    state — no epsilon)."""
    import math

    from eventbridge_etl_spark.streaming.stateful import ewma_smoothing

    src = str(tmp_path / "ewma_src")
    schema = "user_id long, value double, ts_us long, event_id long"
    rows1 = [(1, 10.0, 1_000, 1), (1, 20.0, 2_000, 2), (2, 5.0, 1_500, 3)]
    rows2 = [(1, 40.0, 3_000, 4), (2, 7.5, 2_500, 5), (1, 0.25, 4_000, 6)]
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(f"{src}/f1")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(f"{src}/f2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        ewma_smoothing(stream)
        .writeStream.format("memory")
        .queryName("ewma_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ewma_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    def ref(values):
        ew = None
        for v in values:
            x = math.floor(v * 100 + 0.5)
            ew = x if ew is None else math.floor((x + 3 * ew) / 4.0)
        return ew

    final = {
        r["user_id"]: (r["n_events"], r["ewma_scaled"])
        for r in spark.sql(
            """
            SELECT user_id, n_events, ewma_scaled FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id
                                           ORDER BY n_events DESC) AS rn
              FROM ewma_t
            ) WHERE rn = 1
            """
        ).collect()
    }
    assert final[1] == (4, ref([10.0, 20.0, 40.0, 0.25]))
    assert final[2] == (2, ref([5.0, 7.5]))


def test_ewma_rejects_improper_alpha(spark):
    import pytest

    from eventbridge_etl_spark.streaming.stateful import ewma_smoothing

    with pytest.raises(ValueError):
        ewma_smoothing(None, num=4, den=4)


def test_stream_static_broadcast_enrichment(spark, tmp_path, event_stream):
    from eventbridge_etl_spark.streaming.enrich import enrich_with_dimension

    dim = spark.createDataFrame(
        [(1, "gold"), (3, "bronze")], "user_id long, tier string"
    )
    enriched = enrich_with_dimension(event_stream(), dim, ["user_id"])
    agg = (
        enriched.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), F.col("tier"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), "tier", "n")
    )
    drain(agg, tmp_path, "enriched_counts", mode="append")
    rows = {
        (str(r["ws"]), r["tier"]): r["n"]
        for r in spark.sql("select * from enriched_counts").collect()
    }
    # user 1 -> gold (4 events in hour 0), user 2 unmatched -> null tier
    assert rows[("2024-01-01 00:00:00", "gold")] == 3
    assert rows[("2024-01-01 00:00:00", None)] == 1


def test_stream_static_enrichment_rejects_full_join(spark, event_stream):
    from eventbridge_etl_spark.streaming.enrich import enrich_with_dimension

    dim = spark.createDataFrame([(1, "gold")], "user_id long, tier string")
    with pytest.raises(ValueError):
        enrich_with_dimension(event_stream(), dim, ["user_id"], how="full")


def test_stream_static_inner_filters_unmatched(spark, tmp_path, event_stream):
    from eventbridge_etl_spark.streaming.enrich import enrich_with_dimension

    dim = spark.createDataFrame([(1, "gold")], "user_id long, tier string")
    enriched = enrich_with_dimension(event_stream(), dim, ["user_id"], how="inner")
    drain(enriched, tmp_path, "enriched_inner")
    out = spark.sql("select * from enriched_inner")
    assert out.count() == 4  # only user 1's events survive
    assert out.where(F.col("tier") != "gold").count() == 0


def test_stream_static_dimension_refresh_between_epochs(spark, tmp_path):
    """The static side is re-planned per micro-batch: overwriting the
    dimension between epochs must be visible to the next trigger."""
    from eventbridge_etl_spark.streaming.enrich import enrich_with_dimension

    src = str(tmp_path / "events_src")
    dim_path = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt_refresh")

    def write_events(event_id, ts_s):
        spark.createDataFrame(
            [(event_id, ts_s, 1, "click", 1.0)],
            ["event_id", "ts_s", "user_id", "event_type", "value"],
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop(
            "ts_s"
        ).write.mode("append").parquet(src)

    def write_dim(tier):
        spark.createDataFrame(
            [(1, tier)], "user_id long, tier string"
        ).write.mode("overwrite").parquet(dim_path)

    out = str(tmp_path / "out")
    write_events(1, "2024-01-01 00:05:00")
    write_dim("bronze")
    schema = spark.read.parquet(src).schema

    def drain_once():
        # REBUILD stream + dim per trigger: a pre-built DataFrame pins
        # its resolved file index, so an in-place overwrite of the
        # dimension fails the next epoch with FILE_NOT_EXIST (and
        # refreshByPath does not rescue an already-built plan) — the
        # rebuild is the documented refresh contract (enrich.py).
        # parquet sink because the memory sink cannot recover a
        # checkpoint across restarts.
        stream = spark.readStream.schema(schema).parquet(src)
        dim = spark.read.parquet(dim_path)
        enriched = enrich_with_dimension(stream, dim, ["user_id"])
        q = (
            enriched.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain_once()
    rows = {r["event_id"]: r["tier"]
            for r in spark.read.parquet(out).collect()}
    assert rows == {1: "bronze"}

    write_dim("gold")           # refresh the dimension in place
    write_events(2, "2024-01-01 00:06:00")
    drain_once()                # same checkpoint -> only the new event
    rows = {r["event_id"]: r["tier"]
            for r in spark.read.parquet(out).collect()}
    assert rows == {1: "bronze", 2: "gold"}  # rebuilt plan saw the refresh


def test_enrichment_accepts_bare_string_key(spark, tmp_path, event_stream):
    from eventbridge_etl_spark.streaming.enrich import enrich_with_dimension

    dim = spark.createDataFrame([(1, "gold")], "user_id long, tier string")
    enriched = enrich_with_dimension(event_stream(), dim, "user_id")
    drain(enriched, tmp_path, "enriched_strkey")
    out = spark.sql("select * from enriched_strkey")
    assert out.where(F.col("tier") == "gold").count() == 4


def test_rollup_sink_refuses_stale_state_dir(spark, tmp_path):
    """r6 review fix: a state_dir holding epochs AHEAD of the current
    one (fresh checkpoint pointed at an old run's directory) must raise
    instead of silently serving and later double-merging stale state —
    while same-epoch replay stays legal (tested above)."""
    from eventbridge_etl_spark.streaming.rollup import make_rollup_sink

    state_dir = str(tmp_path / "stale_state")
    batch = spark.createDataFrame(
        [("2024-01-01 00:10:00", "click", 1.0)],
        "ts string, event_type string, value double",
    ).selectExpr("CAST(ts AS TIMESTAMP) ts", "event_type", "value")
    sink = make_rollup_sink(state_dir)
    sink(batch, 5)  # old run committed epoch 5
    with pytest.raises(RuntimeError, match="ahead of current epoch"):
        sink(batch, 0)  # new run restarts at epoch 0
    sink(batch, 5)  # same-epoch replay still allowed
    sink(batch, 6)  # and the old run's continuation still works


def test_ewma_multi_chunk_batch_respects_global_order(spark, tmp_path):
    """r6 review fix: with Arrow chunks forced tiny, a key whose batch
    spans MANY chunks must still fold in global (ts_us, event_id)
    order — the old per-chunk sort folded in shuffle arrival order."""
    import json

    from eventbridge_etl_spark.streaming.stateful import ewma_smoothing

    land = str(tmp_path / "ewma_chunks")
    os.makedirs(land, exist_ok=True)
    # one user, 50 rows, descending file order vs ascending ts; values
    # chosen so order matters to the integer fold
    rows = [
        {"user_id": 1, "value": float((i * 37) % 100), "ts_us": 1_000_000 + i,
         "event_id": i}
        for i in range(50)
    ]
    with open(os.path.join(land, "batch.jsonl"), "w") as f:
        for r in reversed(rows):  # file order reversed vs event time
            f.write(json.dumps(r) + "\n")

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        stream = spark.readStream.schema(
            "user_id long, value double, ts_us long, event_id long"
        ).json(land)
        q = (
            ewma_smoothing(stream, num=1, den=4)
            .writeStream.format("memory").queryName("ewma_chunked")
            .option("checkpointLocation", str(tmp_path / "ckpt_ec"))
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = spark.sql(
            "SELECT ewma_scaled FROM ewma_chunked ORDER BY n_events DESC LIMIT 1"
        ).collect()[0][0]
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    # reference fold in true (ts_us, event_id) order
    import math
    ew = n = 0
    for r in rows:
        x = math.floor(r["value"] * 100 + 0.5)
        ew = x if n == 0 else math.floor((1 * x + 3 * ew) / 4.0)
        n += 1
    assert got == ew


def test_running_totals_all_null_ts_chunk(spark, tmp_path):
    """r6 review fix: an all-null ts_us chunk used to die on int(NaN)."""
    import json

    from eventbridge_etl_spark.streaming.stateful import running_totals

    land = str(tmp_path / "rt_nullts")
    os.makedirs(land, exist_ok=True)
    with open(os.path.join(land, "b.jsonl"), "w") as f:
        f.write(json.dumps({"user_id": 1, "value": 2.5, "ts_us": None}) + "\n")
        f.write(json.dumps({"user_id": 1, "value": 1.5, "ts_us": None}) + "\n")
    stream = spark.readStream.schema(
        "user_id long, value double, ts_us long"
    ).json(land)
    q = (
        running_totals(stream)
        .writeStream.format("memory").queryName("rt_nullts")
        .option("checkpointLocation", str(tmp_path / "ckpt_nt"))
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    r = spark.sql("SELECT * FROM rt_nullts").collect()[0]
    assert r["n_events"] == 2 and r["sum_value"] == 4.0
    assert r["max_ts_us"] == 0  # initial state, never advanced


def test_rollup_sink_rejects_zero_retention(tmp_path):
    """keep_epochs=0 would silently disable pruning (prior[:-0] == [])
    and grow state_dir forever; the minimum retention is 1 because the
    latest prior epoch is required for replay-safe merging."""
    import pytest as _pytest

    from eventbridge_etl_spark.streaming.rollup import make_rollup_sink

    with _pytest.raises(ValueError, match="keep_epochs"):
        make_rollup_sink(str(tmp_path / "state"), keep_epochs=0)


def test_running_totals_negative_event_times(spark, tmp_path):
    """Pre-epoch ts_us must surface as the true (negative) max, not the
    old 0 floor — and a user whose event times are all NULL still emits
    the documented never-advanced sentinel 0."""
    from eventbridge_etl_spark.streaming.stateful import running_totals

    src = str(tmp_path / "neg_src")
    rows = [
        (1, 1.0, -5_000_000),
        (1, 2.0, -3_000_000),
        (2, 4.0, None),
    ]
    schema = "user_id long, value double, ts_us long"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/f1")
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        running_totals(stream)
        .writeStream.format("memory")
        .queryName("running_totals_neg")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_neg"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["user_id"]: r["max_ts_us"]
        for r in spark.sql(
            "SELECT user_id, max_ts_us FROM running_totals_neg WHERE NOT expired"
        ).collect()
    }
    assert got[1] == -3_000_000, got
    assert got[2] == 0, got


def test_keyed_store_rejects_param_drift_and_reserved_columns(spark, tmp_path):
    """Reopening a store with different n_buckets/keys must raise (keys
    would silently split across buckets), and a batch carrying the
    reserved _kb/_is_new names must raise instead of being clobbered."""
    import pytest as _pytest

    from eventbridge_etl_spark.operators.upsert import KeyedParquetStore

    path = str(tmp_path / "store")
    store = KeyedParquetStore(path, ["user_id"], n_buckets=8)
    batch = spark.createDataFrame(
        [(1, 10.0, 100)], "user_id long, value double, ver long"
    )
    store.upsert(batch, version_col="ver")

    with _pytest.raises(ValueError, match="n_buckets"):
        KeyedParquetStore(path, ["user_id"], n_buckets=16).upsert(
            batch, version_col="ver"
        )
    with _pytest.raises(ValueError, match="reserved"):
        store.upsert(batch.withColumn("_is_new", batch.value))

    # a truncated sidecar (crash mid-write in a pre-atomic version) must
    # surface the delete-to-re-adopt recovery path, not a JSONDecodeError
    sidecar = os.path.join(path, KeyedParquetStore.META_FILE)
    with open(sidecar, "w") as fh:
        fh.write('{"keys": ["user')
    with _pytest.raises(ValueError, match="corrupt store-parameters"):
        store.upsert(batch, version_col="ver")
    os.remove(sidecar)
    # sidecar gone => re-adopt current parameters and proceed
    store.upsert(batch, version_col="ver")
    assert os.path.isfile(sidecar)


@contextlib.contextmanager
def state_store(spark, provider):
    """Run the block under ``provider`` ("default" or "rocksdb").

    providerClass is a runtime SQL conf read at QUERY start (a fresh
    checkpoint pins it), so the suite session can flip it per test."""
    from eventbridge_etl_spark.session import ROCKSDB_CONF

    conf = ROCKSDB_CONF if provider == "rocksdb" else {}
    prior = {key: spark.conf.get(key, None) for key in conf}
    for key, val in conf.items():
        spark.conf.set(key, val)
    try:
        yield
    finally:
        for key, val in prior.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)


def test_rocksdb_state_store_watermarked_agg(spark, tmp_path):
    """The deployment state-store posture (session.ROCKSDB_CONF) must
    produce the same windowed results as the default heap provider.
    Skips if the bundled RocksDB JNI cannot initialize on this host."""
    land = str(tmp_path / "land")
    os.makedirs(land)
    with open(os.path.join(land, "a.jsonl"), "w") as fh:
        fh.write(
            '{"ts": "2024-01-01T00:00:05", "k": "a", "v": 1}\n'
            '{"ts": "2024-01-01T00:00:15", "k": "a", "v": 2}\n'
            '{"ts": "2024-01-01T00:00:07", "k": "b", "v": 5}\n'
        )
    with state_store(spark, "rocksdb"):
        stream = (
            spark.readStream.schema("ts timestamp, k string, v long")
            .json(land)
            .withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "10 seconds"), "k")
            .agg(F.sum("v").alias("s"))
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("rocksdb_windows")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        except Exception as exc:  # noqa: BLE001 — JNI-absence skip ONLY
            # skip solely for native-library load failures (hosts where
            # the bundled rocksdbjni cannot initialize); any other
            # failure is a real RocksDB-path regression and must FAIL,
            # not silently un-verify the parity claim (review, round 8)
            msg = repr(exc)
            if "UnsatisfiedLinkError" in msg or "librocksdb" in msg:
                pytest.skip(f"RocksDB JNI unavailable: {msg[:160]}")
            raise
        rows = {
            (r["k"], r["window"].start.second): r["s"]
            for r in spark.sql("SELECT * FROM rocksdb_windows").collect()
        }
        assert rows == {("a", 0): 1, ("a", 10): 2, ("b", 0): 5}, rows
        # the checkpoint really ran RocksDB (its dirs carry .changelog/
        # .zip under state/, and offsets record the provider conf)
        import glob

        state_files = glob.glob(
            str(tmp_path / "ck" / "state" / "**" / "*"), recursive=True
        )
        assert any(
            f.endswith((".changelog", ".zip")) for f in state_files
        ), state_files[:10]


def _state_rows(query) -> list[int]:
    """``numRowsTotal`` of the first state operator, one per micro-batch."""
    progress = sorted(query.recentProgress, key=lambda p: p["batchId"])
    return [int(p["stateOperators"][0]["numRowsTotal"]) for p in progress if p["stateOperators"]]


@pytest.mark.parametrize("provider", ["default", "rocksdb"])
def test_streaming_state_stays_bounded(spark, tmp_path, provider):
    """State is bounded by keys and the watermark, not by rows ingested.

    Thirty files land 10 s of event time each for K keys, read one file
    per micro-batch.  A 10 s tumbling-window count under a 30 s
    watermark must stop growing once eviction starts: its last-third
    mean of state rows stays within 10% of the middle-third mean (means,
    not maxes: a new window opens just before the oldest is evicted, so
    the steady state swings by one window generation).  Without
    eviction the rows would grow with every batch.  The EWMA operator
    keeps exactly one state row per key throughout."""
    from eventbridge_etl_spark.streaming.stateful import ewma_smoothing

    n_files, keys = 30, 20
    src = tmp_path / "src"
    src.mkdir()
    event_id = 0
    for i in range(n_files):
        path = src / f"part-{i:03d}.json"
        with open(path, "w") as fh:
            for sec in range(0, 10, 2):
                for k in range(keys):
                    event_id += 1
                    # every 50th event lags 15 s: late but inside the watermark
                    t = i * 10 + sec - (15 if event_id % 50 == 0 else 0)
                    fh.write(json.dumps({
                        "ts": f"2024-01-01T00:{t // 60 + 10:02d}:{t % 60:02d}",
                        "user_id": k, "value": float(event_id % 97), "event_id": event_id,
                    }) + "\n")
        # the file source takes files oldest first: distinct mtimes fix
        # the order, so event time advances one file at a time
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    events = (
        spark.readStream.schema("ts timestamp, user_id long, value double, event_id long")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    windowed = (
        events.withWatermark("ts", "30 seconds")
        .groupBy(F.window("ts", "10 seconds"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    ewma = ewma_smoothing(events.withColumn("ts_us", F.unix_micros("ts")))

    def run(df, name):
        q = (
            df.writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", str(tmp_path / name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return _state_rows(q)

    with state_store(spark, provider):
        win_rows = run(windowed, "windowed")
        ewma_rows = run(ewma, "ewma")

    assert len(win_rows) >= n_files, win_rows
    third = len(win_rows) // 3
    mid = win_rows[third : 2 * third]
    last = win_rows[2 * third :]
    mid_mean, last_mean = sum(mid) / len(mid), sum(last) / len(last)
    assert abs(last_mean - mid_mean) <= 0.10 * mid_mean, win_rows
    assert max(win_rows) < n_files * keys / 3, win_rows
    assert ewma_rows and set(ewma_rows) == {keys}, ewma_rows
