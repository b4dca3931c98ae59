"""Tests for the r12 optimization internals: the parquet schema-inference
memo (sources/tables._read_parquet) and the ANN probe-side broadcast
plan shapes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from eventbridge_etl_spark.sources import tables as TT

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_read_parquet_memoizes_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(5).coalesce(1).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).write.parquet(path)
    # single-file parquet dir is a DIRECTORY -> memo must skip it
    TT._SCHEMA_MEMO.clear()
    df1 = TT._read_parquet(spark, path)
    assert df1.count() == 5
    assert not TT._SCHEMA_MEMO  # directories are never memoized

    # a real single file memoizes and returns the identical schema
    part = next(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )
    a = TT._read_parquet(spark, part)
    assert len(TT._SCHEMA_MEMO) == 1
    b = TT._read_parquet(spark, part)
    assert a.schema == b.schema
    assert len(TT._SCHEMA_MEMO) == 1
    assert b.count() == 5


def test_read_parquet_memo_invalidates_on_rewrite(spark, tmp_path):
    d = str(tmp_path / "w.parquet")
    spark.range(3).coalesce(1).write.parquet(d)
    part = next(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))
    dst = str(tmp_path / "file.parquet")
    os.rename(part, dst)
    TT._SCHEMA_MEMO.clear()
    s1 = TT._read_parquet(spark, dst).schema
    assert list(TT._SCHEMA_MEMO)  # memoized

    # rewrite the file with a DIFFERENT schema at the same path: the
    # (mtime_ns, size) key must miss and inference must re-run
    d2 = str(tmp_path / "w2.parquet")
    spark.range(3).coalesce(1).select(
        F.col("id").cast("int").alias("other")
    ).write.parquet(d2)
    part2 = next(
        os.path.join(d2, f) for f in os.listdir(d2) if f.endswith(".parquet")
    )
    os.remove(dst)
    os.rename(part2, dst)
    s2 = TT._read_parquet(spark, dst).schema
    assert s1 != s2
    assert s2.fieldNames() == ["other"]


def test_load_tables_results_identical_with_memo(spark):
    """load_tables through the memo returns frames whose schema AND rows
    match a direct spark.read.parquet of the same file."""
    TT._SCHEMA_MEMO.clear()
    t1 = TT.load_tables(spark, SF_DIR, ("customer",))["customer"]
    assert TT._SCHEMA_MEMO
    t2 = TT.load_tables(spark, SF_DIR, ("customer",))["customer"]  # memo hit
    direct = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    assert t1.schema == direct.schema == t2.schema
    assert sorted(map(tuple, t1.collect())) == sorted(map(tuple, direct.collect()))


@pytest.mark.parametrize(
    "opname",
    ["cosine_topk_ivf", "pq_ivf", "cosine_topk_lsh"],
)
def test_ann_probe_side_broadcast_plan(spark, opname):
    """The IVF / IVF-PQ / multi-table-LSH probe joins must be broadcast
    hash joins (probe side is small by contract) — never a sort-merge
    join on the few-valued cell/bucket key (r12 optimization)."""
    from eventbridge_etl_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5), 1.0, 0.5]) for i in range(40)],
        ["vec_id", "embedding"],
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    if opname == "cosine_topk_ivf":
        out = S.cosine_topk_ivf(emb, queries, k=3, nlist=4, nprobe=2)
    elif opname == "cosine_topk_lsh":
        out = S.cosine_topk_lsh(emb, queries, k=3, dim=4, n_planes=2, n_tables=2)
    else:
        books = S.pq_train(emb, m=2, subdim=2, k=4)
        out = S.pq_topk_ivf_adc(emb, queries, books, subdim=2, k=3, nlist=4, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
