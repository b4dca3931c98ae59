"""Training-set assembly tests: sequence packing invariants, shuffle
determinism/permutation properties, k-means on known geometry,
SemDeDup on planted duplicates, unigram LM on a hand-computed corpus."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from eventbridge_etl_spark.operators import packing as P
from eventbridge_etl_spark.operators import similarity as S
from eventbridge_etl_spark.operators.text import unigram_logprob


# ------------------------------------------------------------ packing

def _docs(spark, n=40):
    return spark.createDataFrame(
        [(i, 10 + (i * 7) % 50) for i in range(n)], ["doc_id", "nt"]
    )


def test_pack_sequences_offsets_are_contiguous_per_shard(spark):
    out = P.pack_sequences(_docs(spark), "doc_id", "nt", capacity=64, n_shards=4)
    rows = out.orderBy("shard", "doc_id").collect()
    # within a shard, each doc starts exactly where the previous ended
    expect = {}
    for r in rows:
        assert r["start_offset"] == expect.get(r["shard"], 0)
        expect[r["shard"]] = r["start_offset"] + r["nt"]
        assert r["seq_id"] == r["start_offset"] // 64


def test_pack_sequences_is_partitioning_invariant(spark):
    df = _docs(spark)
    a = P.pack_sequences(df, "doc_id", "nt", capacity=64, n_shards=4)
    b = P.pack_sequences(df.repartition(7), "doc_id", "nt", capacity=64, n_shards=4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pack_sequences_rejects_bad_capacity(spark):
    with pytest.raises(ValueError):
        P.pack_sequences(_docs(spark), "doc_id", "nt", capacity=0)


def test_shuffle_shards_is_a_permutation_and_deterministic(spark):
    df = _docs(spark)
    a = P.shuffle_shards(df, "doc_id", seed=1, n_shards=4)
    # ranks are dense 1..n within each shard
    per_shard = (
        a.groupBy("shard")
        .agg(F.count("*").alias("n"), F.max("shuffle_rank").alias("mx"),
             F.min("shuffle_rank").alias("mn"))
        .collect()
    )
    for r in per_shard:
        assert (r["mn"], r["mx"]) == (1, r["n"])
    # repartitioning the input changes nothing
    b = P.shuffle_shards(df.repartition(5), "doc_id", seed=1, n_shards=4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # a different seed produces a different permutation
    c = P.shuffle_shards(df, "doc_id", seed=2, n_shards=4)
    pos_a = {r["doc_id"]: (r["shard"], r["shuffle_rank"]) for r in a.collect()}
    pos_c = {r["doc_id"]: (r["shard"], r["shuffle_rank"]) for r in c.collect()}
    assert pos_a != pos_c


# ------------------------------------------------------------ k-means

def _clustered(spark):
    """Three well-separated 2-d blobs, 6 points each."""
    pts = []
    for cid, (cx, cy) in enumerate([(0.0, 0.0), (10.0, 0.0), (0.0, 10.0)]):
        for j in range(6):
            pts.append((cid * 6 + j, [cx + 0.1 * j, cy - 0.1 * j]))
    return spark.createDataFrame(pts, ["vec_id", "embedding"])


def test_kmeans_recovers_separated_blobs(spark):
    df = _clustered(spark)
    cents = S.kmeans_fit(df, k=3, iters=3)
    out = S.kmeans_assign(df, cents).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], set()).add(r["vec_id"] // 6)
    # each k-means cluster contains exactly one true blob
    assert all(len(v) == 1 for v in by_cluster.values())
    assert len(by_cluster) == 3


def test_kmeans_assign_tie_breaks_to_lowest_cluster(spark):
    df = spark.createDataFrame([(0, [0.0, 0.0])], ["vec_id", "embedding"])
    cents = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])]
    r = S.kmeans_assign(df, cents).collect()[0]
    assert r["cluster"] == 0 and r["sqdist"] == 1.0


def test_semantic_dedup_drops_planted_duplicates(spark):
    # 0 and 999 point the same direction (cosine 1); 1 sits ~29deg away
    # (cosine ~0.874 < tau); 998 is a zero vector (cosine defined as 0).
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.5]),
            (998, [0.0, 0.0]),
            (999, [2.0, 0.0]),
        ],
        ["vec_id", "embedding"],
    )
    out = {r["id"]: r["kept"] for r in
           S.semantic_dedup(df, tau=0.999, k=2, iters=1).collect()}
    assert out[0] is True          # lowest id of the duplicate pair survives
    assert out[999] is False       # its same-direction twin is dropped
    assert out[1] is True          # merely-similar neighbor survives
    assert out[998] is True        # zero vector matches nothing


def test_semantic_dedup_salting_is_lossless(spark):
    """The r13 per-cluster salted self-join must yield the identical
    verdict set for ANY salt factor: salt_target=1 forces s_c=|cluster|
    (every pair crosses a salt-cell boundary), the default leaves
    s_c=1 — both must equal each other on a fixture with multi-member
    duplicate groups spread across clusters."""
    import random

    rng = random.Random(3)
    rows = []
    for i in range(60):
        if i % 3 == 0:
            v = [1.0, 0.0, 0.0]          # duplicate blob (cosine 1.0)
        elif i % 3 == 1:
            v = [0.0, 1.0, rng.random() * 1e-9]  # near-dup blob
        else:
            v = [rng.gauss(0, 1) for _ in range(3)]
        rows.append((i, v))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    base = sorted(
        tuple(r) for r in S.semantic_dedup(df, tau=0.999, k=3, iters=1).collect()
    )
    salted = sorted(
        tuple(r)
        for r in S.semantic_dedup(
            df, tau=0.999, k=3, iters=1, salt_target=1
        ).collect()
    )
    assert base == salted


# --------------------------------------------------------- unigram LM

def test_unigram_logprob_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], ["doc_id", "text"]
    )
    # tf: a=2 b=2 c=1, N=5, V=3 -> p(a)=3/8, p(b)=3/8, p(c)=2/8
    out = {r["id"]: r for r in unigram_logprob(df).collect()}
    lp = lambda c: math.log((c + 1) / 8.0)
    assert out[1]["n_tokens"] == 3
    assert out[1]["avg_logprob"] == round((2 * lp(2) + lp(2)) / 3, 4)
    assert out[2]["n_tokens"] == 2
    assert out[2]["avg_logprob"] == round((lp(2) + lp(1)) / 2, 4)
