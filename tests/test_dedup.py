"""Dedup operator unit tests on synthetic corpora where ground truth is
computable by brute force in Python."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from eventbridge_etl_spark.operators import dedup as D


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
        (3, "alpha beta gamma delta epsilon eta"),  # near dup of 1 (5/7)
        (4, "totally different words here entirely now"),
        (5, "Alpha  Beta gamma delta epsilon zeta"),  # ws/case variant of 1
        (6, "alpha beta"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_collapses(spark, corpus):
    out = D.exact_dedup(corpus, "doc_id", ["text"])
    rows = {r["doc_id"]: r["n_duplicates"] for r in out.collect()}
    # doc 1+2 identical bytes; 5 differs in raw bytes (case/space)
    assert rows[1] == 2
    assert 2 not in rows  # collapsed into representative 1
    assert rows[4] == 1 and rows[5] == 1 and rows[6] == 1


def test_jaccard_prefix_equals_bruteforce(spark, corpus):
    """Prefix filtering must be lossless: compare against an in-Python
    brute force over token sets (same lower/trim/split contract)."""
    import itertools

    texts = {r["doc_id"]: r["text"] for r in corpus.collect()}
    toks = {i: set(t.lower().split()) for i, t in texts.items()}
    tau = 0.5
    expected = set()
    for a, b in itertools.combinations(sorted(toks), 2):
        j = len(toks[a] & toks[b]) / len(toks[a] | toks[b])
        if round(j, 6) >= tau:
            expected.add((a, b))
    out = D.jaccard_pairs_prefix_filtered(corpus, "doc_id", "text", tau)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == expected
    assert (1, 2) in got and (1, 5) in got  # exact + normalized variants


def test_minhash_identical_docs_always_pair(spark, corpus):
    out = D.minhash_lsh_pairs(corpus, "doc_id", "text", tau=0.99)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    # identical token sets have identical signatures -> always candidates
    assert got[(1, 2)] == 1.0
    assert got[(1, 5)] == 1.0  # tokenization normalizes case/whitespace
    assert (1, 4) not in got


def test_minhash_group_collapse_is_order_and_multiplicity_insensitive(spark):
    """The r13 rep selection groups on the SORTED distinct-token array:
    docs whose token sets are equal but arrive in different order or
    with repeats must still collapse into one exact-dup group (pairs at
    jaccard 1.0), and a strict-subset doc must not."""
    df = spark.createDataFrame(
        [
            (10, "alpha beta gamma"),
            (11, "gamma alpha beta"),          # permuted order
            (12, "beta beta gamma alpha alpha"),  # repeats
            (13, "alpha beta"),                # strict subset
        ],
        ["doc_id", "text"],
    )
    out = D.minhash_lsh_pairs(df, "doc_id", "text", tau=0.99)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert got[(10, 11)] == 1.0
    assert got[(10, 12)] == 1.0
    assert got[(11, 12)] == 1.0
    assert (10, 13) not in got


def test_simhash_matches_bruteforce_hamming(spark):
    """simhash_pairs (banded candidates) must equal a brute-force
    Hamming scan over the full fingerprint set — bands are lossless for
    hamming <= 3 by pigeonhole."""
    import itertools

    rows = [(i, f"tok{i % 4} common words shared {' '.join('w' + str(j) for j in range(i % 7))}") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fp = {r["doc_id"]: r["simhash_bits"] for r in D.simhash(df, "doc_id", "text").collect()}
    expected = set()
    for a, b in itertools.combinations(sorted(fp), 2):
        ham = sum(x != y for x, y in zip(fp[a], fp[b]))
        if ham <= 3:
            expected.add((a, b, ham))
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_pairs(df, "doc_id", "text", max_hamming=3).collect()
    }
    assert got == expected
    assert len(got) > 0  # the synthetic corpus does contain near-dups


def test_band_candidates_matches_bruteforce(spark):
    """The shared LSH kernel emits exactly the id pairs that share a
    non-NULL value at the same band position: once per pair however
    many bands collide, id_a < id_b, the pair predicate applied to each
    band-join row BEFORE the distinct, and carried columns never change
    the pair set."""
    import itertools

    bands = {
        1: ["x", "p", "m"],
        2: ["x", "p", "n"],  # shares bands 0 AND 1 with 1: one pair
        3: ["y", "q", "m"],  # shares band 2 with 1
        4: ["p", "x", "z"],  # 1's values at other positions: no pair
        5: [None, "q", "o"],  # shares band 1 with 3
        6: [None, "r", "o"],  # NULL band 0 never pairs; band 2 with 5
        7: ["y", "q", "m"],  # identical to 3
        8: [],  # empty band arrays never pair, not even with each other
        9: [],
    }
    df = spark.createDataFrame(
        [(i, b, 10 * i) for i, b in bands.items()], "_id long, _bands array<string>, _w long"
    )

    def shared(a, b):
        return {k for k, (x, y) in enumerate(zip(bands[a], bands[b])) if x is not None and x == y}

    expected = {(a, b) for a, b in itertools.combinations(sorted(bands), 2) if shared(a, b)}
    assert (1, 2) in expected and (1, 4) not in expected and (5, 6) in expected

    out = D.band_candidates(df)
    assert out.columns == ["_ida", "_idb", "_wa", "_wb"]
    rows = out.collect()
    assert len(rows) == len(expected)  # a multi-band pair appears once
    assert {(r["_ida"], r["_idb"]) for r in rows} == expected
    assert all(r["_ida"] < r["_idb"] for r in rows)
    assert all((r["_wa"], r["_wb"]) == (10 * r["_ida"], 10 * r["_idb"]) for r in rows)

    bare = D.band_candidates(df.drop("_w"))
    assert bare.columns == ["_ida", "_idb"]
    assert {tuple(r) for r in bare.collect()} == expected

    # a predicate over carried columns
    heavy = D.band_candidates(df, F.col("_wa") + F.col("_wb") > 60)
    assert {(r["_ida"], r["_idb"]) for r in heavy.collect()} == {
        (a, b) for a, b in expected if 10 * a + 10 * b > 60
    }
    # the predicate sees each band-join row, before the distinct: pairs
    # colliding ONLY on band 0 drop, pairs that also collide elsewhere stay
    not_band0 = D.band_candidates(df, F.col("_band") != 0)
    assert {(r["_ida"], r["_idb"]) for r in not_band0.collect()} == {
        (a, b) for a, b in expected if shared(a, b) - {0}
    }


def test_minhash_bands_share_one_encoding(spark):
    """The minhash pair path (band_candidates over _minhash_bands) and
    the admission index rows (_band_rows) use one band encoding: the
    kernel's pairs are exactly the pairs sharing an index (_band, _bh)
    row, and carrying the token-set size ``_n`` changes nothing."""
    import itertools

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a"), (3, "a b c d"), (4, "x y z"), (5, "x y z")],
        ["doc_id", "text"],
    )
    t = D._token_sets(df, "doc_id", "text")
    index = {}
    for r in D._band_rows(t, 16, 2).collect():
        index.setdefault(r["_id"], set()).add((r["_band"], r["_bh"]))
    expected = {
        (a, b) for a, b in itertools.combinations(sorted(index), 2) if index[a] & index[b]
    }
    assert {(1, 2), (4, 5)} <= expected

    bare = D.band_candidates(D._minhash_bands(t, 16, 2))
    assert {tuple(r) for r in bare.collect()} == expected
    with_n = D.band_candidates(D._minhash_bands(t, 16, 2, "_n")).collect()
    assert {(r["_ida"], r["_idb"]) for r in with_n} == expected
    sizes = {1: 3, 2: 3, 3: 4, 4: 3, 5: 3}
    assert all((r["_na"], r["_nb"]) == (sizes[r["_ida"]], sizes[r["_idb"]]) for r in with_n)


def test_embedding_near_dup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),  # ~same direction as 1
        (3, [0.0, 1.0, 0.0]),  # orthogonal
        (4, [-1.0, 0.0, 0.0]),  # opposite
        (5, [0.0, 0.0, 0.0]),  # zero vector: cosine defined as 0
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.embedding_near_dup_pairs(df, "vec_id", "embedding", 0.95).collect()
    }
    assert set(out) == {(1, 2)}
    assert out[(1, 2)] > 0.99


def test_near_dup_clusters_chain_and_singletons(spark):
    """Min-label propagation must cross multi-hop chains (several
    iterations), keep singletons as their own cluster, and match the
    transitive closure exactly."""
    from eventbridge_etl_spark.operators.dedup import near_dup_clusters

    nodes = spark.createDataFrame([(i,) for i in range(1, 11)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(2, 3), (3, 4), (4, 5), (5, 6), (8, 9)], ["id_a", "id_b"]
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in near_dup_clusters(nodes, pairs, "doc_id").collect()
    }
    assert out == {1: 1, 2: 2, 3: 2, 4: 2, 5: 2, 6: 2, 7: 7, 8: 8, 9: 8, 10: 10}


def test_near_dup_clusters_empty_pairs(spark):
    from eventbridge_etl_spark.operators.dedup import near_dup_clusters

    nodes = spark.createDataFrame([(1,), (2,)], ["doc_id"])
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    out = {r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(nodes, pairs).collect()}
    assert out == {1: 1, 2: 2}


def test_ngram_contamination_edges(spark):
    from eventbridge_etl_spark.operators.dedup import ngram_contamination

    corpus = spark.createDataFrame(
        [
            (1, "a b c d e f g h tail tokens here"),  # shares the 8-gram a..h
            (2, "totally disjoint words without any overlap at all"),
            (3, "short doc"),  # < n tokens: no grams, never flagged
            (4, "a b c d e f g h a b c d e f g h"),  # dup grams count once
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "prefix a b c d e f g h suffix")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r["n_contaminated"]
        for r in ngram_contamination(corpus, bench, "doc_id", "text", n=8).collect()
    }
    assert out == {1: 1, 4: 1}
    # empty benchmark -> nothing flagged
    assert (
        ngram_contamination(
            corpus, bench.filter("doc_id < 0"), "doc_id", "text", n=8
        ).count()
        == 0
    )


class TestMinhashAdmission:
    def _mk(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_exact_dup_rejected_fresh_admitted(self, spark):
        from eventbridge_etl_spark.operators.dedup import (
            minhash_admission,
            minhash_band_index,
        )

        store = self._mk(
            spark,
            [(1, "the quick brown fox jumps over the lazy dog today"),
             (2, "completely unrelated archival content lives here now")],
        )
        batch = self._mk(
            spark,
            [(10, "the quick brown fox jumps over the lazy dog today"),  # dup
             (11, "zebra xylophone quark nebula grapefruit mantis")],     # new
        )
        idx = minhash_band_index(store, "doc_id", "text")
        out = {r["doc_id"]: r["admitted"]
               for r in minhash_admission(batch, idx, "doc_id", "text").collect()}
        assert out == {10: False, 11: True}

    def test_every_batch_row_gets_a_verdict(self, spark):
        from eventbridge_etl_spark.operators.dedup import (
            minhash_admission,
            minhash_band_index,
        )

        store = self._mk(spark, [(1, "alpha beta gamma delta")])
        batch = self._mk(
            spark, [(i, f"doc number {i} words vary") for i in range(5)]
        )
        idx = minhash_band_index(store, "doc_id", "text")
        assert minhash_admission(batch, idx, "doc_id", "text").count() == 5

    def test_index_is_compact_and_text_free(self, spark):
        from eventbridge_etl_spark.operators.dedup import minhash_band_index

        store = self._mk(
            spark, [(i, f"shared boilerplate plus {i}") for i in range(10)]
        )
        idx = minhash_band_index(store, "doc_id", "text", bands=2)
        assert idx.columns == ["_band", "_bh"]  # no ids, no text
        assert idx.count() <= 20  # <= bands rows per doc, deduped


def test_exact_dedup_null_columns_distinct(spark):
    """r6 review fix: concat_ws SKIPS nulls, so ('x', NULL) and
    (NULL, 'x') used to share a digest and merge."""
    from eventbridge_etl_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "x", None), (2, None, "x"), (3, "x", None)],
        "id long, a string, b string",
    )
    out = exact_dedup(df, "id", ["a", "b"])
    assert out.count() == 2  # rows 1+3 merge; row 2 is DIFFERENT content
    by_id = {r["id"]: r["n_duplicates"] for r in out.collect()}
    assert by_id == {1: 2, 2: 1}


def test_jaccard_prefix_exact_tau_boundary(spark):
    """r6 review fix: at tau=0.9 a 9-token subset of a 10-token doc has
    Jaccard exactly 0.9 — the float ceil(0.9*10)=10 shortened the
    prefix and the size prefilter rejected 9 >= 9.000000000000002,
    losing the pair twice over."""
    from eventbridge_etl_spark.operators.dedup import (
        jaccard_pairs_prefix_filtered,
    )

    toks = [f"w{i}" for i in range(10)]
    df = spark.createDataFrame(
        [(1, " ".join(toks)), (2, " ".join(toks[:9]))],
        "doc_id long, text string",
    )
    out = jaccard_pairs_prefix_filtered(df, "doc_id", "text", tau=0.9).collect()
    assert len(out) == 1
    assert out[0]["jaccard"] == 0.9


def test_chunk_dedup_null_text_round_trips(spark):
    """r6 review fix: NULL-text docs used to vanish (NULL chunk key
    never equi-joins); they now round-trip as empty."""
    from eventbridge_etl_spark.operators.dedup import chunk_dedup

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in chunk_dedup(df, chunk_tokens=4).collect()}
    assert set(out) == {1, 2}
    assert out[1]["new_text"] == "a b c d"
    assert out[2]["new_text"] == "" and out[2]["n_removed"] == 0


def test_minhash_base_value_forms_agree(spark):
    """The MinHash base value x = conv(md5(tok)[:8], 16, 10) % PRIME is
    written twice — SQL-string form in _sign_token_sets, Column-API
    form in source_overlap — and the cross-operator estimator-family
    claim ('same frozen affine family as document minhash') holds only
    while they stay bit-identical.  Pin them against each other on a
    token sample covering ASCII/unicode/empty (review r7)."""
    from pyspark.sql import functions as F

    from eventbridge_etl_spark.operators.dedup import MINHASH_PRIME

    toks = spark.createDataFrame(
        [("the",), ("straße",), ("数据库",), ("",), ("tok99999",)], ["tok"]
    )
    sql_form = F.expr(
        f"CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT)"
        f" % {MINHASH_PRIME}"
    )
    col_form = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
        % F.lit(MINHASH_PRIME)
    )
    rows = toks.select(sql_form.alias("a"), col_form.alias("b")).collect()
    assert all(r["a"] == r["b"] for r in rows), rows


def test_tfidf_on_candidates_is_allpairs_restricted_to_lsh(spark):
    """Compositional contract of the 100 TB recipe (round 9): the
    composed operator must equal the ALL-PAIRS tf-idf verifier
    restricted to the MinHash-LSH candidate set — same weighting, same
    rounding, no extra or missing pairs.  The candidate set is read off
    ``minhash_lsh_pairs`` at tau=0.0 (every bucket collision verifies
    at jaccard >= 0), so the test re-derives it through the public API
    rather than trusting the implementation's internal banding twice."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (3, "alpha beta gamma delta epsilon eta"),
        (4, "totally different words here entirely now"),
        (6, "alpha beta"),
        (7, "alpha beta gamma delta epsilon zeta theta"),
        (8, "words here entirely different now totally"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    tau = 0.1
    cand = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(df, "doc_id", "text", tau=0.0).collect()
    }
    assert cand, "fixture produced no LSH candidates — test is vacuous"
    allpairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.tfidf_cosine_pairs(df, "doc_id", "text", tau=tau).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.tfidf_cosine_on_candidates(
            df, "doc_id", "text", tau=tau
        ).collect()
    }
    want = {k: v for k, v in allpairs.items() if k in cand}
    assert got == want
    # the restriction must be REAL on this fixture: at least one
    # above-tau all-pairs pair is not an LSH candidate (8 vs 4 share
    # every token but LSH at 16/2 need not bucket them -- if it does,
    # the sets coincide and this assert flags the fixture for rework)
    assert set(allpairs) - cand, "fixture: candidate set covers all pairs"


def test_tfidf_on_candidates_chunked_union(spark):
    """Staged-run contract (VERDICT r9 #1, scripts/staged_tfidf_sf1.py):
    verifying hash-disjoint candidate SHARDS with
    ``tfidf_cosine_verify_candidates`` and unioning the outputs must be
    value-identical to the fused ``tfidf_cosine_on_candidates`` — the
    property that makes the sf1 checkpointed run evidence FOR the gate
    rather than for a different pipeline."""
    from pyspark.sql import functions as F

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (3, "alpha beta gamma delta epsilon eta"),
        (4, "totally different words here entirely now"),
        (6, "alpha beta"),
        (7, "alpha beta gamma delta epsilon zeta theta"),
        (8, "words here entirely different now totally"),
        (9, "alpha beta gamma delta epsilon zeta"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    tau = 0.1
    fused = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.tfidf_cosine_on_candidates(
            df, "doc_id", "text", tau=tau
        ).collect()
    }
    assert fused, "fixture produced no verified pairs — test is vacuous"

    cand = D.lsh_candidate_pairs(df, "doc_id", "text").withColumn(
        "_chunk", F.pmod(F.xxhash64("id_a", "id_b"), F.lit(3))
    )
    # shards must be a real partition of the candidate set
    chunks = sorted(
        r["_chunk"] for r in cand.select("_chunk").distinct().collect()
    )
    assert len(chunks) > 1, "fixture: all candidates hashed to one shard"
    staged: dict[tuple, float] = {}
    for k in chunks:
        part = cand.where(F.col("_chunk") == k).select("id_a", "id_b")
        for r in D.tfidf_cosine_verify_candidates(
            df, part, "doc_id", "text", tau=tau
        ).collect():
            key = (r["id_a"], r["id_b"])
            assert key not in staged, f"pair {key} verified in two shards"
            staged[key] = r["cosine"]
    assert staged == fused


def test_tfidf_staged_equals_fused(spark, tmp_path):
    """``tfidf_cosine_staged`` (the production wrapper, VERDICT r10 #6)
    must equal the fused operator AND resume: a second call with the
    same checkpoint dir re-reads completed stages instead of
    recomputing, and a shard whose ``_SUCCESS`` marker is gone is the
    only one re-run."""
    import os

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (3, "alpha beta gamma delta epsilon eta"),
        (4, "totally different words here entirely now"),
        (6, "alpha beta"),
        (7, "alpha beta gamma delta epsilon zeta theta"),
        (8, "words here entirely different now totally"),
        (9, "alpha beta gamma delta epsilon zeta"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    tau = 0.1
    fused = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.tfidf_cosine_on_candidates(
            df, "doc_id", "text", tau=tau
        ).collect()
    }
    assert fused, "fixture produced no verified pairs — test is vacuous"

    ckpt = str(tmp_path / "ckpt")
    out = D.tfidf_cosine_staged(df, ckpt, "doc_id", "text", tau=tau, shards=3)
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in out.collect()}
    assert got == fused

    # resume: poison the candidate stage's data but keep its _SUCCESS —
    # a re-run must SKIP both stages (same results), proving the skip
    # logic actually gates on the markers
    mtimes = {
        k: os.path.getmtime(f"{ckpt}/verified/chunk={k}/_SUCCESS")
        for k in range(3)
    }
    again = D.tfidf_cosine_staged(df, ckpt, "doc_id", "text", tau=tau, shards=3)
    assert {(r["id_a"], r["id_b"]): r["cosine"] for r in again.collect()} == fused
    for k in range(3):
        assert os.path.getmtime(f"{ckpt}/verified/chunk={k}/_SUCCESS") == mtimes[k]

    # kill one shard's marker: exactly that shard re-runs
    os.remove(f"{ckpt}/verified/chunk=1/_SUCCESS")
    rerun = D.tfidf_cosine_staged(df, ckpt, "doc_id", "text", tau=tau, shards=3)
    assert {(r["id_a"], r["id_b"]): r["cosine"] for r in rerun.collect()} == fused
    assert os.path.getmtime(f"{ckpt}/verified/chunk=1/_SUCCESS") > mtimes[1]
    assert os.path.getmtime(f"{ckpt}/verified/chunk=0/_SUCCESS") == mtimes[0]


def test_tfidf_staged_repairs_corrupt_shard(spark, tmp_path):
    """VERDICT r11 #4: the repair path the 100 TB story depends on.
    Simulate a shard JVM dying MID-WRITE — its parquet part file is
    truncated garbage and its ``_SUCCESS`` marker never landed — and
    assert the re-run repairs exactly that shard: the corrupt bytes are
    replaced (overwrite mode), untouched shards keep their markers'
    mtimes, and the final result equals the fused operator."""
    import glob
    import os

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (3, "alpha beta gamma delta epsilon eta"),
        (4, "totally different words here entirely now"),
        (6, "alpha beta"),
        (7, "alpha beta gamma delta epsilon zeta theta"),
        (8, "words here entirely different now totally"),
        (9, "alpha beta gamma delta epsilon zeta"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    tau = 0.1
    fused = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.tfidf_cosine_on_candidates(
            df, "doc_id", "text", tau=tau
        ).collect()
    }
    ckpt = str(tmp_path / "ckpt")
    D.tfidf_cosine_staged(df, ckpt, "doc_id", "text", tau=tau, shards=3).collect()
    mtimes = {
        k: os.path.getmtime(f"{ckpt}/verified/chunk={k}/_SUCCESS")
        for k in range(3)
    }

    # mid-write death: truncate every part file in shard 2 to garbage
    # and remove the marker (a real kill leaves exactly this shape)
    shard = f"{ckpt}/verified/chunk=2"
    parts = glob.glob(f"{shard}/part-*.parquet")
    assert parts, "fixture shard has no parquet parts — test is vacuous"
    for p in parts:
        with open(p, "wb") as fh:
            fh.write(b"PAR1 truncated mid-write")
    os.remove(f"{shard}/_SUCCESS")

    rerun = D.tfidf_cosine_staged(df, ckpt, "doc_id", "text", tau=tau, shards=3)
    assert {(r["id_a"], r["id_b"]): r["cosine"] for r in rerun.collect()} == fused
    # the corrupt shard was rewritten, the healthy shards untouched
    assert os.path.getmtime(f"{shard}/_SUCCESS") > mtimes[2]
    for k in (0, 1):
        assert os.path.getmtime(f"{ckpt}/verified/chunk={k}/_SUCCESS") == mtimes[k]
    for p in glob.glob(f"{shard}/part-*.parquet"):
        with open(p, "rb") as fh:
            assert fh.read(24) != b"PAR1 truncated mid-write"


def test_tfidf_staged_manifest_guards_resume(spark, tmp_path):
    """ADVICE r11 (medium): a resume whose parameters differ from the
    checkpoint's manifest must RAISE, not silently reuse stale stages.
    The sharpest trap — a smaller ``shards`` than the writing run —
    would skip candidate regeneration yet read only a prefix of the old
    chunk modulus, silently dropping pairs."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (3, "alpha beta gamma delta epsilon eta"),
        (7, "alpha beta gamma delta epsilon zeta theta"),
        (9, "alpha beta gamma delta epsilon zeta"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    ckpt = str(tmp_path / "ckpt")
    first = D.tfidf_cosine_staged(df, ckpt, "doc_id", "text", tau=0.1, shards=3)
    expected = {(r["id_a"], r["id_b"]): r["cosine"] for r in first.collect()}
    assert expected

    # same-parameter resume: fine
    again = D.tfidf_cosine_staged(df, ckpt, "doc_id", "text", tau=0.1, shards=3)
    assert {(r["id_a"], r["id_b"]): r["cosine"] for r in again.collect()} == expected

    # shrunken shard modulus: must raise, not drop pairs
    with pytest.raises(ValueError, match="shards"):
        D.tfidf_cosine_staged(df, ckpt, "doc_id", "text", tau=0.1, shards=2)
    # changed admission threshold / signature geometry: must raise
    with pytest.raises(ValueError, match="tau"):
        D.tfidf_cosine_staged(df, ckpt, "doc_id", "text", tau=0.5, shards=3)
    with pytest.raises(ValueError, match="num_hashes"):
        D.tfidf_cosine_staged(
            df, ckpt, "doc_id", "text", tau=0.1, num_hashes=32, bands=2, shards=3
        )

    # pre-manifest checkpoint (written before r12): first touch adopts
    # the caller's parameters and proceeds
    import shutil

    shutil.rmtree(f"{ckpt}/_manifest")
    adopted = D.tfidf_cosine_staged(df, ckpt, "doc_id", "text", tau=0.1, shards=3)
    assert {(r["id_a"], r["id_b"]): r["cosine"] for r in adopted.collect()} == expected
    with pytest.raises(ValueError, match="shards"):
        D.tfidf_cosine_staged(df, ckpt, "doc_id", "text", tau=0.1, shards=2)


def test_quadratic_guard_trips(spark, corpus):
    """VERDICT r10 #4: the quadratic-verifier contract is mechanical.
    Over-budget inputs raise unless the caller declares the input
    pre-blocked (``within_buckets=True``) or, for tf-idf, caps the Zipf
    head with ``max_df``."""
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="row budget"):
        D.embedding_near_dup_pairs(
            emb, "vec_id", "embedding", 0.9, row_budget=3
        ).collect()
    # within_buckets / bigger budget: runs
    D.embedding_near_dup_pairs(
        emb, "vec_id", "embedding", 0.9, within_buckets=True, row_budget=3
    ).collect()
    D.embedding_near_dup_pairs(emb, "vec_id", "embedding", 0.9).collect()

    with pytest.raises(ValueError, match="row budget"):
        D.tfidf_cosine_pairs(corpus, "doc_id", "text", row_budget=3).collect()
    # max_df bounds the per-token candidate blowup by construction
    D.tfidf_cosine_pairs(corpus, "doc_id", "text", max_df=5, row_budget=3).collect()
    # ...but only a REAL cap exempts: an astronomically large max_df
    # (larger than any achievable df) bounds nothing and must not
    # bypass the guard (ADVICE r11)
    with pytest.raises(ValueError, match="row budget"):
        D.tfidf_cosine_pairs(
            corpus, "doc_id", "text", max_df=10**12, row_budget=3
        ).collect()


def test_tfidf_staged_empty_corpus(spark, tmp_path):
    """Zero candidate pairs (empty or fully-disjoint corpus) must
    degrade to an EMPTY result frame, exactly like the fused operator.
    Regression: a partitionBy write of zero rows emits only _SUCCESS,
    and schema inference on the file-less read-back raised
    AnalysisException (caught by the empty-fixture battery, r11) —
    the read-backs now carry the writer's schema."""
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    out = D.tfidf_cosine_staged(
        empty, str(tmp_path / "ckpt"), "doc_id", "text", shards=2
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id_a", "id_b", "cosine"]


def test_exact_dedup_casefold_merges_case_and_ligature_variants(spark):
    """Case variants AND SpecialCasing-expansion variants fold
    together: 'Fußball', 'FUSSBALL' and 'fussball' all upper-fold to
    'FUSSBALL' (ß→SS is the expansion lower() could not merge);
    'ﬁne print'/'FINE PRINT'/'fine print' likewise via ﬁ→FI.  Distinct
    contents stay distinct, NULL folds to its own group, and the
    winner is the min id."""
    rows = [
        (1, "Fußball"),
        (2, "FUSSBALL"),
        (3, "fussball"),
        (4, "ﬁne print"),
        (5, "FINE PRINT"),
        (6, "fine print"),
        (7, "different"),
        (8, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["n_duplicates"]
        for r in D.exact_dedup_casefold(df, "doc_id", "text").collect()
    }
    assert out == {1: 3, 4: 3, 7: 1, 8: 1}
