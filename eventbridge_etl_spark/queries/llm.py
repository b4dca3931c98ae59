"""E1-E4 LLM-data-pipeline queries over documents/embeddings.

The dedup family (exact, prefix-filtered Jaccard, MinHash-LSH, SimHash),
similarity search (brute-force + hyperplane LSH), text analysis
(tokens, quality, lang-ID, fingerprints), and the multimodal pandas-UDF
plumbing.  DuckDB oracles replicate the *same deterministic algorithm*
(md5-derived hashing, ordered double folds) so even the approximate
operators hash-match; the two genuinely seed-dependent ops (hyperplane
LSH, SimHash banding internals) run rows-only with unit-test coverage in
``tests/``.

Tokenization contract shared by query & oracle: lower -> trim ->
split on whitespace runs -> distinct.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from eventbridge_etl_spark.operators import dedup as D
from eventbridge_etl_spark.operators import similarity as S
from eventbridge_etl_spark.operators import text as X
from eventbridge_etl_spark.operators.multimodal import attach_payload, decode_media
from eventbridge_etl_spark.queries import query
from eventbridge_etl_spark.queries._sqlfrag import (
    SQL_TOKS_RAW,
    SQL_TOKS_SET,
    SQL_UPPER,
    tfidf_weighting_ctes,
)
from eventbridge_etl_spark.sources.tables import load_tables

#: DuckDB rendering of the shared tokenization contract (one source:
#: queries/_sqlfrag.py; kept under the historical name for importers).
_SQL_TOKS = SQL_TOKS_SET

JACCARD_TAU = 0.95
MINHASH_TAU = 0.9
COSINE_TAU = 0.4


def _doc(spark, sf_dir):
    return load_tables(spark, sf_dir, ("documents",))["documents"]


def _emb(spark, sf_dir):
    return load_tables(spark, sf_dir, ("embeddings",))["embeddings"]


# ------------------------------------------------------------- text (E4)

@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text, ' '), '\\s+'))   AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]')) AS n_bpe_tokens,
           n_chars
    FROM documents
    """,
)
def text_token_stats(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish subword estimate."""
    doc = _doc(spark, sf_dir)
    return doc.select(
        "doc_id",
        X.token_count("text").alias("n_tokens"),
        X.bpe_token_count("text").alias("n_bpe_tokens"),
        "n_chars",
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             length(text) AS nc,
             len({SQL_TOKS_RAW}) AS nt,
             len(list_distinct({SQL_TOKS_RAW})) AS ndt,
             len(regexp_extract_all(text, '[^a-zA-Z0-9_ \\t\\n\\x0b\\f\\r]')) AS np
      FROM documents
    )
    SELECT doc_id,
           CAST(floor((0.4 * (CASE WHEN nt BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.3 END)
               + 0.3 * (1 - least(np / greatest(nc, 1) * 10, 1.0))
               + 0.3 * (ndt / nt::DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS quality
    FROM feat
    """,
)
def text_quality_score(spark, sf_dir):
    """Composite quality score in integer micros (length band,
    punctuation density, lexical diversity) — the filter you'd run
    before training-set admission.  Integer output because floor+scale
    is bit-reproducible across engines where decimal round isn't."""
    doc = _doc(spark, sf_dir)
    return doc.select("doc_id", X.quality_score("text").alias("quality"))


@query(
    "text_lang_scores",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, {_SQL_TOKS} AS s FROM documents),
    sc AS (
      SELECT doc_id, lang,
        round(len(list_intersect(s, ['the','and','of','to','a','in','is','that'])) / 8.0, 6) AS score_en,
        round(len(list_intersect(s, ['le','la','et','les','des','un','une','est'])) / 8.0, 6) AS score_fr,
        round(len(list_intersect(s, ['el','la','de','que','los','una','es','en'])) / 8.0, 6) AS score_es,
        round(len(list_intersect(s, ['der','die','und','das','ein','ist','nicht','mit'])) / 8.0, 6) AS score_de
      FROM toks
    )
    SELECT doc_id, lang, score_en, score_fr, score_es, score_de,
           -- NULL text -> NULL verdict (no signal, engine contract r7);
           -- all-zero scores -> 'und'; otherwise argmax with the
           -- alphabetical tiebreak encoded by the comparison order
           CASE WHEN score_en IS NULL THEN NULL
                WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                WHEN score_fr > score_es AND score_fr > score_en AND score_fr > score_de THEN 'fr'
                WHEN score_es > score_en AND score_es > score_de THEN 'es'
                WHEN score_en > score_de THEN 'en'
                ELSE 'de' END AS predicted_lang
    FROM sc
    """,
)
def text_lang_scores(spark, sf_dir):
    """Language-ID marker scoring + argmax prediction (alphabetical
    tiebreak, 'und' when no marker hits).  The fixture corpus shares one
    vocabulary across its lang labels, so prediction quality is data-
    limited — the operator (broadcast lexicon overlap scoring) is the
    deliverable."""
    doc = _doc(spark, sf_dir)
    scores = X.lang_scores(F.col("text"))
    return doc.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"score_{lang}") for lang in ["en", "fr", "es", "de"]],
        X.lang_id(F.col("text")).alias("predicted_lang"),
    )


@query(
    "text_fingerprint",
    oracle="""
    -- exploded chars + lead() windows: the substr-in-lambda form is
    -- quadratic in DuckDB on MB-scale documents, exactly like the
    -- engine's expression-level substr (longtext probe, round 7)
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS c,
             unnest(range(1, length(text) + 1)) AS pos
      FROM documents WHERE length(text) >= 8
    ),
    w AS (
      SELECT doc_id, pos,
             md5(c || lead(c, 1) OVER win || lead(c, 2) OVER win
                   || lead(c, 3) OVER win || lead(c, 4) OVER win
                   || lead(c, 5) OVER win || lead(c, 6) OVER win
                   || lead(c, 7) OVER win) AS h,
             COUNT(*) OVER (PARTITION BY doc_id) AS n
      FROM ch WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ),
    agg AS (SELECT doc_id, MIN(h) AS fp FROM w WHERE pos <= n - 7 GROUP BY doc_id)
    SELECT d.doc_id,
           CASE WHEN length(d.text) >= 8 THEN a.fp ELSE md5(d.text) END
             AS fingerprint,
           md5(d.text) AS exact_digest
    FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    """,
)
def text_fingerprint(spark, sf_dir):
    """Rolling-hash content fingerprint (min-md5 over char 8-gram
    shingles) alongside the exact digest — the linear char-array
    formulation (operators/text.fingerprint_docs)."""
    return X.fingerprint_docs(_doc(spark, sf_dir), "text", "doc_id", k=8)


# ------------------------------------------------------------ dedup (E1)

@query(
    "dedup_exact",
    oracle="""
    SELECT md5(coalesce(text, chr(0))) AS content_digest, min(doc_id) AS doc_id,
           count(*) AS n_duplicates
    FROM documents
    GROUP BY md5(coalesce(text, chr(0)))
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup by content digest (fixture has no exact dups, so
    every group has n_duplicates=1 — the synthetic-dup unit tests in
    tests/test_dedup.py exercise the collapse path)."""
    doc = _doc(spark, sf_dir)
    out = D.exact_dedup(doc, "doc_id", ["text"])
    return out.select("content_digest", "doc_id", "n_duplicates")


@query(
    "dedup_exact_casefold",
    oracle=f"""
    SELECT md5(coalesce({SQL_UPPER}, chr(0))) AS content_digest,
           min(doc_id) AS doc_id,
           count(*) AS n_duplicates
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_casefold(spark, sf_dir):
    """Case-insensitive exact dedup (operators/dedup.py::
    exact_dedup_casefold): digest over Java ``upper(text)``, one
    representative per fold group.  This gate is ALSO the upper()
    oracle-surface witness (VERDICT r11 #6 follow-through): its DuckDB
    oracle applies the ``SQL_UPPER`` SpecialCasing recipe to document
    text, so the unicode fixture's German/Greek ligature buckets sweep
    the Java-vs-DuckDB upper boundary that was previously documented
    as out-of-domain."""
    doc = _doc(spark, sf_dir)
    out = D.exact_dedup_casefold(doc, "doc_id", "text")
    return out.select("content_digest", "doc_id", "n_duplicates")


@query(
    "dedup_jaccard_prefix",
    oracle=f"""
    -- exhaustive postings join, not list_intersect over all id pairs
    -- (215 s vs ~10 s on the wide-vocab longtext docs; zero-overlap
    -- pairs have jaccard 0 and cannot reach tau, so the result set is
    -- identical and the oracle stays filter-free — it independently
    -- checks the engine's prefix-filter recall claim)
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS s FROM documents),
    f AS (SELECT doc_id, unnest(s) AS tok FROM toks),
    lens AS (SELECT doc_id, len(s) AS n FROM toks),
    ov AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM f a JOIN f b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b,
             round(n_shared::DOUBLE / (la.n + lb.n - n_shared), 6)
               AS jaccard
      FROM ov JOIN lens la ON la.doc_id = id_a
              JOIN lens lb ON lb.doc_id = id_b
    )
    SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= {JACCARD_TAU}
    """,
)
def dedup_jaccard_prefix(spark, sf_dir):
    """Prefix-filtered AllPairs Jaccard join at tau=0.95.  The oracle is
    the O(n^2) brute force — prefix filtering is lossless, so the result
    sets must be identical; that equality is exactly what this check
    proves."""
    doc = _doc(spark, sf_dir)
    return D.jaccard_pairs_prefix_filtered(doc, "doc_id", "text", JACCARD_TAU)


#: Shared CTE chain of the MinHash-LSH oracle (signature -> bands ->
#: candidates), reused by the pair query and the cluster-collapse query
#: so the two can never drift apart.  Replicates the engine's family
#: exactly (operators.dedup.minhash_signatures): one md5 per token, the
#: first 8 hex chars as a 32-bit base value, then 16 affine hashes
#: (a_i*x + b_i) mod 2^31-1 with the frozen coefficient literals.
_MINHASH_A_SQL = "[" + ", ".join(str(a) for a in D.MINHASH_A) + "]"
_MINHASH_B_SQL = "[" + ", ".join(str(b) for b in D.MINHASH_B) + "]"
_MINHASH_CTES = f"""toks AS (SELECT doc_id, {_SQL_TOKS} AS s FROM documents),
    xs AS (
      SELECT doc_id,
             list_transform(s, tok ->
               ('0x' || substr(md5(tok), 1, 8))::BIGINT % {D.MINHASH_PRIME}) AS xv
      FROM toks
    ),
    flat AS (
      -- scalar-only unnest BEFORE the ×16 cross join: the lateral
      -- `xs t, UNNEST(t.xv) u(x), range(16)` form carries the whole
      -- token-hash list through the join — 158 s on one 74k-distinct
      -- wide-vocab doc vs 1.1 s for this form (longtext class, r7 s4)
      SELECT doc_id, unnest(xv) AS x FROM xs
    ),
    sig AS (
      SELECT doc_id, r.i AS i,
             min(({_MINHASH_A_SQL}[r.i + 1] * x + {_MINHASH_B_SQL}[r.i + 1])
                 % {D.MINHASH_PRIME}) AS h
      FROM flat, range(16) r(i)
      GROUP BY doc_id, r.i
    ),
    bands AS (
      SELECT doc_id, i // 8 AS band, string_agg(h::VARCHAR, ',' ORDER BY i) AS bh
      FROM sig GROUP BY doc_id, i // 8
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
                  AND a.doc_id < b.doc_id
    )"""

_MINHASH_VERIFY = f"""SELECT id_a, id_b,
           round(len(list_intersect(ta.s, tb.s))::DOUBLE
                 / (len(ta.s) + len(tb.s) - len(list_intersect(ta.s, tb.s))), 6) AS jaccard
    FROM cand JOIN toks ta ON ta.doc_id = id_a JOIN toks tb ON tb.doc_id = id_b
    WHERE round(len(list_intersect(ta.s, tb.s))::DOUBLE
                / (len(ta.s) + len(tb.s) - len(list_intersect(ta.s, tb.s))), 6)
          >= {MINHASH_TAU}"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_MINHASH_CTES}
    {_MINHASH_VERIFY}
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup pairs (16 affine min-hashes over one md5
    base per token, 2 bands of 8, verify at tau=0.9).  The oracle
    replicates signature, banding, and verification exactly — the
    md5+affine hash family is engine-independent, so even this
    'approximate' operator hash-matches."""
    doc = _doc(spark, sf_dir)
    return D.minhash_lsh_pairs(doc, "doc_id", "text", MINHASH_TAU, num_hashes=16, bands=2)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct({SQL_TOKS_RAW})) AS tok
      FROM documents
    ),
    hx AS (SELECT doc_id, md5(tok) AS h FROM toks),
    votes AS (
      SELECT doc_id, r.j AS j,
             SUM(CASE WHEN ascii(substr(h, r.j + 1, 1)) % 2 = 1 THEN 1 ELSE -1 END) AS v
      FROM hx CROSS JOIN range(32) r(j)
      GROUP BY doc_id, r.j
    ),
    fp AS (
      SELECT doc_id,
             string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bits
      FROM votes GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, r.b AS b, substr(bits, r.b * 8 + 1, 8) AS bh
      FROM fp CROSS JOIN range(4) r(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM banded a JOIN banded c ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id
    )
    SELECT id_a, id_b,
           len(list_filter(range(1, 33),
                           i -> substr(fa.bits, i, 1) <> substr(fb.bits, i, 1))) AS hamming
    FROM cand JOIN fp fa ON fa.doc_id = id_a JOIN fp fb ON fb.doc_id = id_b
    WHERE len(list_filter(range(1, 33),
                          i -> substr(fa.bits, i, 1) <> substr(fb.bits, i, 1))) <= 3
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (32-bit fingerprints from md5-hex-digit
    parity votes, Hamming <= 3 via 4-band pigeonhole candidates).  The
    md5-derived bit votes are engine-independent, so the oracle
    replicates fingerprint, banding, and verification exactly — full
    hash-match despite being a 'fuzzy' operator."""
    doc = _doc(spark, sf_dir)
    return D.simhash_pairs(doc, "doc_id", "text", max_hamming=3)


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_CTES},
    pairs AS ({_MINHASH_VERIFY}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
      WHERE r.lbl < e.dst
    )
    SELECT id AS doc_id, MIN(lbl) AS cluster_id
    FROM reach GROUP BY id
    """,
)
def dedup_clusters(spark, sf_dir):
    """Near-dup cluster collapse: the MinHash-LSH pair graph reduced to
    connected components by min-label propagation
    (operators.dedup.near_dup_clusters) — every document mapped to the
    smallest doc_id reachable through near-dup pairs (singletons map to
    themselves).  Keeping rows where doc_id == cluster_id IS the
    deduped corpus; the DuckDB oracle computes the same fixpoint with a
    recursive CTE over the identical pair SQL."""
    doc = _doc(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(
        doc, "doc_id", "text", MINHASH_TAU, num_hashes=16, bands=2
    )
    return D.near_dup_clusters(doc, pairs, "doc_id")


#: One oracle for BOTH composed-recipe gates (fused and staged): the
#: staged form is value-identical by construction (per-pair verify over
#: a disjoint-shard union), so the gates must share one SQL source —
#: two copies could drift.
_TFIDF_ON_CAND_ORACLE = f"""
    WITH {_MINHASH_CTES},
    {tfidf_weighting_ctes(toks_cte="wtoks")}
    SELECT c.id_a, c.id_b,
           CAST(round(SUM(CAST(round(a.u * b.u, 15) AS DECIMAL(38,15))), 6)
                AS DOUBLE) AS cosine
    FROM cand c
      JOIN unit a ON a.id = c.id_a
      JOIN unit b ON b.id = c.id_b AND b.token = a.token
    GROUP BY c.id_a, c.id_b
    HAVING CAST(round(SUM(CAST(round(a.u * b.u, 15) AS DECIMAL(38,15))), 6)
                AS DOUBLE) >= 0.8
    """


@query("dedup_tfidf_on_candidates", oracle=_TFIDF_ON_CAND_ORACLE)
def dedup_tfidf_on_candidates(spark, sf_dir):
    """THE composed 100 TB dedup recipe (VERDICT r8 item 4): MinHash-LSH
    banded buckets generate candidate pairs, exact tf-idf cosine
    verifies only those pairs (operators/dedup.py::
    tfidf_cosine_on_candidates).  This is the gate the sf1 all-pairs
    kill demanded — candidate volume tracks near-dup density
    (O(docs x bands) bucket rows) instead of the vocabulary's Zipf head
    (Σ df² = 45.1B at sf1, SCALE.md r8).  The oracle composes the SAME
    banding CTEs as dedup_minhash_lsh with the SAME weighting CTEs as
    dedup_tfidf_cosine, so neither half can drift from its parent gate;
    the weighting recipe is shared engine-side too
    (_tfidf_unit_weights)."""
    doc = _doc(spark, sf_dir)
    return D.tfidf_cosine_on_candidates(
        doc, "doc_id", "text", tau=0.8, num_hashes=16, bands=2
    )


@query("dedup_tfidf_staged", oracle=_TFIDF_ON_CAND_ORACLE)
def dedup_tfidf_staged(spark, sf_dir):
    """The composed recipe in its PRODUCTION staging (VERDICT r10 item
    6): ``tfidf_cosine_staged`` checkpoints the LSH candidate pairs to
    parquet and verifies them in hash-partitioned shards — the
    resumable shape that completed sf1 where the fused plan exhausted
    shuffle scratch (SCALE.md r10).  Gated against the SAME oracle as
    the fused gate because the shard union is value-identical by
    construction; this gate proves the checkpoint/resume plumbing
    (write → partition-pruned read-back → union) end-to-end, not just
    the arithmetic."""
    import atexit
    import shutil
    import tempfile

    doc = _doc(spark, sf_dir)
    ckpt = tempfile.mkdtemp(prefix="tfidf_staged_")
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    return D.tfidf_cosine_staged(
        doc, ckpt, "doc_id", "text", tau=0.8, num_hashes=16, bands=2, shards=4
    )


def _cos_sql(x: str, y: str) -> str:
    """DuckDB cosine(x, y) for 64-dim list columns, rounded to 6dp —
    the SQL rendering of operators.similarity.cosine, INCLUDING its
    zero-vector contract: the engine returns 0.0 when either norm is
    zero, while a bare 0/0 is NULL in DuckDB and would rank below
    negative cosines under DESC NULLS LAST instead of above them
    (review finding, round 8)."""
    nx = (f"sqrt(list_sum(list_transform(range(1,65), "
          f"i -> {x}[i]::DOUBLE * {x}[i]::DOUBLE)))")
    ny = (f"sqrt(list_sum(list_transform(range(1,65), "
          f"i -> {y}[i]::DOUBLE * {y}[i]::DOUBLE)))")
    dot = (f"list_sum(list_transform(range(1,65), "
           f"i -> {x}[i]::DOUBLE * {y}[i]::DOUBLE))")
    return (f"round(CASE WHEN {nx} * {ny} = 0 THEN 0.0 "
            f"ELSE {dot} / ({nx} * {ny}) END, 6)")


#: The dedup-family pair cosine — the SAME renderer as the similarity
#: oracles, aliased a/b (two verbatim copies drifted-by-luck before;
#: review finding, round 8).
_COS_SQL = _cos_sql("a.embedding", "b.embedding")


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_SQL} AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_COS_SQL} >= {COSINE_TAU}
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs at tau=0.4 (exact threshold
    self-join; the within-bucket verifier of the LSH scale path).
    Vectors fold to double in index order on both engines, so the
    cosines are bit-identical."""
    emb = _emb(spark, sf_dir)
    as_double = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    return D.embedding_near_dup_pairs(as_double, "vec_id", "embedding", COSINE_TAU)


def _lsh_bucket_sql(vec: str, seed: int, n_planes: int) -> str:
    """Render one LSH table's bucket id (hyperplane sign pattern packed
    to an int) as DuckDB SQL with the seeded planes embedded as float
    literals — the ONE renderer both LSH oracles use (review r6: it was
    duplicated verbatim in each, leaving the shared-plane invariant to
    luck)."""
    from eventbridge_etl_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, n_planes, seed)
    terms = []
    for i, p in enumerate(planes):
        lits = ",".join(repr(x) for x in p)
        dot = (
            f"list_sum(list_transform(range(1,65), "
            f"j -> {vec}[j]::DOUBLE * ([{lits}])[j]))"
        )
        terms.append(
            f"(CASE WHEN {dot} >= 0 THEN {2 ** (n_planes - 1 - i)} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def _embedding_lsh_oracle_sql(
    tau: float, n_planes: int = 4, n_tables: int = 8
) -> str:
    """Generate the DuckDB oracle for dedup_embedding_lsh.

    Same construction as ``_lsh_oracle_sql`` below: the seeded
    hyperplanes embed as float literals, so the oracle replicates bucket
    assignment, the pair candidate join, and the within-bucket cosine
    verification exactly — even though the operator is probabilistic,
    both engines prune the same pairs."""
    def bucket(vec: str, seed: int) -> str:
        return _lsh_bucket_sql(vec, seed, n_planes)

    cb = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, "
        f"{bucket('embedding', 42 + t)} AS bkt FROM embeddings"
        for t in range(n_tables)
    )
    return f"""
    WITH cb AS ({cb}),
    cand AS (
      SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
      FROM cb x JOIN cb y ON x.tbl = y.tbl AND x.bkt = y.bkt
                AND x.vec_id < y.vec_id
    )
    SELECT id_a, id_b, {_COS_SQL} AS cosine
    FROM cand JOIN embeddings a ON a.vec_id = id_a
              JOIN embeddings b ON b.vec_id = id_b
    WHERE {_COS_SQL} >= {tau}
    """


@query("dedup_embedding_lsh", oracle=_embedding_lsh_oracle_sql(COSINE_TAU))
def dedup_embedding_lsh(spark, sf_dir):
    """Embedding near-dup at the 100 TB shape: hyperplane-LSH bucketed
    candidates -> within-bucket exact cosine verify (no all-pairs
    crossJoin anywhere — asserted in tests/test_plans.py).  The exact
    companion (dedup_embedding_cosine) stays as the verification-grade
    oracle of the *scores*; this query gates the scale path itself."""
    emb = _emb(spark, sf_dir)
    as_double = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    return D.embedding_near_dup_pairs_lsh(
        as_double, "vec_id", "embedding", COSINE_TAU, dim=64, n_planes=4, n_tables=8
    )


# ------------------------------------------------------- similarity (E2)

#: Brute-force top-10 oracle SELECT, shared with similarity_ivf_recall.
_BRUTE_TOPK_SQL = f"""
    WITH scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COS_SQL} AS cosine
      FROM embeddings a JOIN embeddings b ON a.vec_id < 5
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """


@query("similarity_topk_bruteforce", oracle=_BRUTE_TOPK_SQL)
def similarity_topk_bruteforce(spark, sf_dir):
    """Exact cosine top-10 for 5 query vectors against the corpus —
    broadcast queries, one corpus scan, per-query window top-k
    (WindowGroupLimit keeps the sort partial)."""
    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.cosine_topk_bruteforce(emb, queries, k=10)


#: IVF top-10 oracle SELECT, shared with similarity_ivf_recall.
_IVF_TOPK_SQL = f"""
    WITH cent AS (
      SELECT vec_id AS cent_id, embedding AS cent
      FROM embeddings ORDER BY vec_id LIMIT 16
    ),
    assign AS (
      SELECT neighbor_id, cell, nv FROM (
        SELECT v.vec_id AS neighbor_id, c.cent_id AS cell, v.embedding AS nv,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY {_cos_sql('v.embedding', 'c.cent')} DESC, c.cent_id) AS rn
        FROM embeddings v CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT query_id, cell, qv FROM (
        SELECT q.vec_id AS query_id, c.cent_id AS cell, q.embedding AS qv,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_cos_sql('q.embedding', 'c.cent')} DESC, c.cent_id) AS rn
        FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 5
      ) WHERE rn <= 4
    ),
    scored AS (
      SELECT p.query_id, a.neighbor_id, {_cos_sql('p.qv', 'a.nv')} AS cosine
      FROM probe p JOIN assign a ON p.cell = a.cell
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """


@query("similarity_topk_ivf", oracle=_IVF_TOPK_SQL)
def similarity_topk_ivf(spark, sf_dir):
    """IVF-indexed approximate top-10 (nlist=16 cells, nprobe=4): cell
    assignment by nearest centroid, probe the 4 nearest cells per query,
    exact re-rank inside — the 100 TB ANN path where the corpus is
    stored partitioned by cell id.  Centroids are the 16 smallest-id
    vectors (deterministic k-means stand-in), so the DuckDB oracle
    replicates the full index build + probe + re-rank exactly."""
    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.cosine_topk_ivf(emb, queries, k=10, nlist=16, nprobe=4)


@query(
    "similarity_ivf_recall",
    oracle=f"""
    WITH brute AS ({_BRUTE_TOPK_SQL}),
         ivf AS ({_IVF_TOPK_SQL})
    SELECT b.query_id,
           ROUND(COUNT(i.neighbor_id)::DOUBLE / 10, 4) AS recall_at_10
    FROM brute b
    LEFT JOIN ivf i ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def similarity_ivf_recall(spark, sf_dir):
    """Recall@10 of the IVF index against exact brute force, per query —
    the quantity that justifies shipping an *approximate* ANN path at
    all.  Both sides are deterministic and SQL-expressible, so unlike
    the usual epsilon-band treatment of approximate operators this gate
    is an EXACT value compare: the oracle rebuilds both result sets and
    computes the identical intersection fraction."""
    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = S.cosine_topk_bruteforce(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    ivf = S.cosine_topk_ivf(emb, queries, k=10, nlist=16, nprobe=4).select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    return (
        # broadcast the approximate side: both sides are k x n_queries
        # rows (the recall check runs over a query sample by design);
        # without the hint the planner sort-merge-joins two tiny
        # un-estimable window subtrees (r12 plan census)
        brute.join(F.broadcast(ivf), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.round(F.count("_hit") / 10.0, 4).alias("recall_at_10"))
    )


def _lsh_oracle_sql(n_planes: int = 4, n_tables: int = 8) -> str:
    """Generate the DuckDB oracle for similarity_topk_lsh.

    The hyperplanes are deterministic constants (seeded in
    operators.similarity._hyperplanes), so they embed into the SQL as
    float literals — the full multi-table bucket build, candidate join,
    and re-rank replicate exactly.  ~90 KB of SQL, machine-written here
    rather than hand-maintained."""
    def bucket(vec: str, seed: int) -> str:
        return _lsh_bucket_sql(vec, seed, n_planes)

    cb = " UNION ALL ".join(
        f"SELECT vec_id AS neighbor_id, {t} AS tbl, "
        f"{bucket('embedding', 42 + t)} AS bkt FROM embeddings"
        for t in range(n_tables)
    )
    qb = " UNION ALL ".join(
        f"SELECT vec_id AS query_id, {t} AS tbl, "
        f"{bucket('embedding', 42 + t)} AS bkt FROM embeddings WHERE vec_id < 5"
        for t in range(n_tables)
    )
    cos = _cos_sql("q.embedding", "c.embedding")
    return f"""
    WITH cb AS ({cb}),
    qb AS ({qb}),
    cand AS (
      SELECT DISTINCT qb.query_id, cb.neighbor_id
      FROM qb JOIN cb ON qb.tbl = cb.tbl AND qb.bkt = cb.bkt
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id, {cos} AS cosine
      FROM cand JOIN embeddings q ON q.vec_id = cand.query_id
                JOIN embeddings c ON c.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """


@query("similarity_topk_lsh", oracle=_lsh_oracle_sql())
def similarity_topk_lsh(spark, sf_dir):
    """Approximate top-10 via 4-table random-hyperplane LSH; recall vs
    the brute-force baseline is asserted in tests/test_similarity.py.
    The seeded hyperplanes embed as literals in the generated oracle, so
    even this randomized-construction operator hash-matches."""
    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # short hashes + more tables: this corpus is near-uniform (worst case
    # for LSH), so favor recall; clustered real corpora would use 8+ planes
    return S.cosine_topk_lsh(emb, queries, k=10, dim=64, n_planes=4, n_tables=8)


# ------------------------------------------------------- multimodal (E3)

@query(
    "multimodal_byte_histogram",
    oracle="""
    -- exploded chars, not substr(text,i,1)-in-lambda: DuckDB substr
    -- positioning is O(i), so the lambda form is quadratic per document
    -- (the longtext class — it ground for 7+ min on one 2 MB doc)
    WITH d AS (
      SELECT doc_id, text, length(text) AS n FROM documents
      -- ASCII-only pin (both sides): this oracle counts CODE POINTS
      -- while the engine histograms UTF-8 BYTES; the two agree exactly
      -- iff the text is pure ASCII, so the gate asserts that
      -- restriction instead of silently assuming it of the fixture
      WHERE doc_id < 200 AND regexp_matches(text, '^[\\x00-\\x7f]*$')
    ),
    ch AS (
      SELECT doc_id, ascii(unnest(string_split(text, ''))) % 4 AS b
      FROM d WHERE n > 0
    ),
    agg AS (
      SELECT doc_id,
             count(*) FILTER (b = 0) AS b0, count(*) FILTER (b = 1) AS b1,
             count(*) FILTER (b = 2) AS b2, count(*) FILTER (b = 3) AS b3
      FROM ch GROUP BY doc_id
    )
    SELECT d.doc_id AS id, d.n AS n_bytes,
           coalesce(a.b0, 0) AS bucket_0, coalesce(a.b1, 0) AS bucket_1,
           coalesce(a.b2, 0) AS bucket_2, coalesce(a.b3, 0) AS bucket_3
    FROM d LEFT JOIN agg a USING (doc_id)
    """,
)
def multimodal_byte_histogram(spark, sf_dir):
    """The multimodal plumbing end-to-end with a deterministic fake
    decode: text bytes wrapped as a binary payload+meta struct, decoded
    via Arrow-batched mapInPandas into bucket-count features.  Proves
    the schema/batch/partition contract that a real codec would slot
    into (operators.multimodal)."""
    doc = _doc(spark, sf_dir).filter(
        (F.col("doc_id") < 200)
        # ASCII pin mirrored from the oracle (bytes == code points)
        & F.col("text").rlike("^[\\x00-\\x7F]*$")
    )
    wrapped = attach_payload(doc, "text", mime="text/plain")
    decoded = decode_media(wrapped, "doc_id", fake=True, n_buckets=4)
    # counts (exact ints) rather than ratios: cross-engine float-free
    return decoded.select(
        "id",
        "n_bytes",
        *[
            F.round(F.col("features")[i] * F.col("n_bytes")).cast("long").alias(f"bucket_{i}")
            for i in range(4)
        ],
    )


# -------------------------------------------------------- sampling (E1+)

@query(
    "sample_deterministic",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UINT64 AS DOUBLE)
          / 4294967296.0 < 0.1
    """,
)
def sample_deterministic(spark, sf_dir):
    """Reproducible ~10% sample by key hash (operators.sampling): the
    same doc_ids are kept on every run, partitioning, and engine —
    unlike df.sample's per-partition RNG.  Pure projection+filter: no
    shuffle, composes with pushdown."""
    from eventbridge_etl_spark.operators.sampling import deterministic_sample

    doc = _doc(spark, sf_dir)
    return deterministic_sample(doc, "doc_id", 0.1).select("doc_id", "lang", "n_chars")


@query(
    "sample_train_test_split",
    oracle="""
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM (
      SELECT n_chars,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UINT64 AS DOUBLE)
                       / 4294967296.0 < 0.2
                  THEN 'test' ELSE 'train' END AS split
      FROM documents
    )
    GROUP BY split
    """,
)
def sample_train_test_split(spark, sf_dir):
    """Key-stable train/test tagging (20% test): a document's split
    assignment never changes as the corpus grows — the property that
    keeps held-out sets uncontaminated across dataset versions."""
    from eventbridge_etl_spark.operators.sampling import train_test_split

    doc = _doc(spark, sf_dir)
    return (
        train_test_split(doc, "doc_id", test_fraction=0.2)
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


@query(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UINT64 AS DOUBLE)
          / 4294967296.0
          < (CASE lang WHEN 'en' THEN 0.05 WHEN 'fr' THEN 0.5
                       WHEN 'es' THEN 0.25 ELSE 1.0 END)
    """,
)
def sample_stratified(spark, sf_dir):
    """Corpus balancing: per-language keep fractions (downsample the
    over-represented stratum, keep all of the rare ones) with the same
    key-stable md5 bucketing as sample_deterministic — reprocessing or
    growing the corpus never flips a kept row."""
    from eventbridge_etl_spark.operators.sampling import stratified_sample

    doc = _doc(spark, sf_dir)
    return stratified_sample(
        doc, "doc_id", "lang",
        {"en": 0.05, "fr": 0.5, "es": 0.25},
        default_fraction=1.0,
    ).select("doc_id", "lang", "n_chars")


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(unnest(range(0, (n_chars // 64) - 1 + 1, 4)) AS BIGINT) AS frame_idx
    FROM documents
    WHERE doc_id < 300 AND n_chars // 64 > 0
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Frame-sampling plan for video payloads (every 4th frame index per
    document, n_frames derived from payload size at 64 bytes/frame) —
    pure sequence+explode row generation; each sampled frame would then
    flow through decode_media.  Proves the multimodal row-multiplying
    plumbing with an exact SQL oracle."""
    from eventbridge_etl_spark.operators.multimodal import frame_sample

    doc = (
        _doc(spark, sf_dir)
        .filter(F.col("doc_id") < 300)
        .withColumn("n_frames", (F.col("n_chars") / 64).cast("int"))
    )
    out = frame_sample(doc, "doc_id", "n_frames", every_n=4)
    return out.select("doc_id", F.col("frame_idx").cast("long").alias("frame_idx"))


@query(
    "similarity_quantize_int8",
    oracle="""
    WITH q AS (
      SELECT vec_id AS id,
             list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS max_abs
      FROM embeddings
    ),
    ex AS (
      SELECT e.vec_id AS id, generate_subscripts(e.embedding, 1) - 1 AS pos,
             unnest(e.embedding) AS val
      FROM embeddings e
    )
    SELECT ex.id, CAST(ex.pos AS BIGINT) AS pos,
           CAST(floor(ex.val::DOUBLE
                      * (CASE WHEN q.max_abs = 0 THEN 0.0
                              ELSE 127.0 / q.max_abs END) + 0.5) AS INTEGER) AS qval,
           ROUND(CASE WHEN q.max_abs = 0 THEN 0.0
                      ELSE 127.0 / q.max_abs END, 6) AS scale
    FROM ex JOIN q ON ex.id = q.id
    WHERE ex.id < 100
    """,
)
def similarity_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization (the 4-8x ANN storage
    shrink), emitted exploded as (id, pos, qval, scale) scalar rows for
    the 100 smallest ids.  floor(x+0.5) tie-break is engine-identical;
    the oracle replicates scale and quantized values exactly."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 100)
    q = S.quantize_embeddings_int8(emb, "vec_id", "embedding")
    return (
        q.select("id", "scale", F.posexplode("qvec").alias("pos", "qval"))
        .select("id", F.col("pos").cast("long").alias("pos"), "qval", "scale")
    )


@query(
    "pipeline_corpus_admission",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, text, lang, n_chars,
             length(text) AS nc,
             len({SQL_TOKS_RAW}) AS nt,
             len(list_distinct({SQL_TOKS_RAW})) AS ndt,
             len(regexp_extract_all(text, '[^a-zA-Z0-9_ \\t\\n\\x0b\\f\\r]')) AS np
      FROM documents
    ),
    scored AS (
      SELECT doc_id, text, lang, n_chars, nt,
             CAST(floor((0.4 * (CASE WHEN nt BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.3 END)
                 + 0.3 * (1 - least(np / greatest(nc, 1) * 10, 1.0))
                 + 0.3 * (ndt / nt::DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS quality
      FROM feat
    ),
    admitted AS (
      SELECT * FROM scored WHERE quality >= 700000 AND n_chars >= 100
    ),
    deduped AS (
      SELECT md5(coalesce(text, chr(0))) AS content_digest, min(doc_id) AS doc_id,
             count(*) AS n_duplicates
      FROM admitted GROUP BY md5(coalesce(text, chr(0)))
    )
    SELECT d.doc_id, a.lang, a.quality, a.nt AS n_tokens, d.n_duplicates
    FROM deduped d JOIN admitted a ON a.doc_id = d.doc_id
    """,
)
def pipeline_corpus_admission(spark, sf_dir):
    """The LLM-training-data admission pipeline as ONE declarative plan:
    quality gate -> length gate -> exact dedup (keep smallest id per
    content digest) -> admitted corpus with stats.  Composes the text
    and dedup operators; Catalyst fuses the gates into the scan and the
    whole thing runs with two shuffles (dedup groupBy + the join back).
    At 100 TB each stage stays map-side except those two exchanges."""
    from eventbridge_etl_spark.operators.dedup import exact_dedup

    doc = _doc(spark, sf_dir)
    admitted = (
        doc.withColumn("quality", X.quality_score("text"))
        .withColumn("n_tokens", X.token_count(F.lower(F.col("text"))))
        .filter((F.col("quality") >= 700000) & (F.col("n_chars") >= 100))
    )
    survivors = exact_dedup(admitted, "doc_id", ["text"]).select(
        "doc_id", "n_duplicates"
    )
    return survivors.join(admitted, "doc_id").select(
        "doc_id", "lang", "quality", "n_tokens", "n_duplicates"
    )


@query(
    "text_chunk_windows",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text, ' '), '\\s+') AS s
      FROM documents
    ),
    -- exploded (token, position) + membership arithmetic: with a
    -- 32-token window every 24 tokens, token at pos belongs to chunk
    -- (pos-1)//24 and, when (pos-1) % 24 <= 7, also to the previous
    -- chunk.  The earlier unnest-in-SELECT carried the WHOLE token
    -- list per chunk row and sliced it — quadratic in DuckDB on
    -- MB-scale documents (longtext probe, round 7)
    e AS (
      SELECT doc_id, unnest(s) AS tok, unnest(range(1, len(s) + 1)) AS pos
      FROM toks
    ),
    m AS (
      SELECT doc_id, (pos - 1) // 24 AS i, pos, tok FROM e
      UNION ALL
      SELECT doc_id, (pos - 1) // 24 - 1 AS i, pos, tok FROM e
      WHERE (pos - 1) // 24 >= 1 AND (pos - 1) % 24 <= 7
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_id,
           string_agg(tok, ' ' ORDER BY pos) AS chunk_text,
           CAST(COUNT(*) AS BIGINT) AS n_chunk_tokens
    FROM m GROUP BY doc_id, i
    """,
)
def text_chunk_windows(spark, sf_dir):
    """Overlapping token-window chunking (32-token chunks every 24
    tokens -> 8-token overlap): the context-window prep step before
    embedding/tokenizing a corpus.  Generator-side built-ins only."""
    return X.chunk_documents(
        _doc(spark, sf_dir), chunk_size=32, stride=24
    )


@query(
    "text_document_frequency",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest({SQL_TOKS_RAW}) AS token
      FROM documents
    )
    SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df,
           -- N = rankable docs (id+text non-null): the shared IDF contract
           ROUND(LN((SELECT COUNT(DISTINCT doc_id) FROM documents
                     WHERE doc_id IS NOT NULL AND text IS NOT NULL)
                    / COUNT(DISTINCT doc_id)), 6) AS idf
    FROM tok
    GROUP BY token
    ORDER BY tf DESC, token
    LIMIT 50
    """,
)
def text_document_frequency(spark, sf_dir):
    """Corpus vocabulary head: per-token tf/df/idf, top-50 by total
    frequency.  One explode, one aggregate; corpus size stays in-plan
    as a broadcast 1-row aggregate."""
    return (
        X.document_frequency(_doc(spark, sf_dir))
        .orderBy(F.col("tf").desc(), "token")
        .limit(50)
    )


@query(
    "similarity_label_centroids",
    oracle="""
    WITH ex AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             unnest(embedding) AS val
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    pp AS (
      SELECT label, pos, ROUND(AVG(CAST(val AS DOUBLE)), 4) AS av
      FROM ex GROUP BY label, pos
    ),
    -- NULL-vector rows are dropped on the engine side too (they cannot
    -- contribute to a mean); n_vectors counts contributing vectors
    cnt AS (SELECT label, COUNT(*) AS n_vectors FROM embeddings
            WHERE embedding IS NOT NULL GROUP BY label)
    SELECT pp.label, CAST(pp.pos - 1 AS BIGINT) AS pos, pp.av AS centroid_val,
           cnt.n_vectors
    -- null-safe join: a NULL label is a legitimate group on both sides
    FROM pp JOIN cnt ON pp.label IS NOT DISTINCT FROM cnt.label
    ORDER BY pp.label, pos
    """,
)
def similarity_label_centroids(spark, sf_dir):
    """Per-label embedding centroids (operators/similarity.py::
    label_centroids): one posexplode -> groupBy(label, pos) mean, so a
    skewed label spreads across all partitions — the same per-position
    mean, rounded to 4dp, that the oracle's unnest computes.

    Emitted exploded as (label, pos, centroid_val, n_vectors) scalar
    rows — array-valued result columns aren't sortable by the driver's
    pandas canonicalizer."""
    cent = S.label_centroids(_emb(spark, sf_dir))
    return cent.select(
        "label",
        F.posexplode("centroid").alias("pos", "centroid_val"),
        "n_vectors",
    ).withColumn("pos", F.col("pos").cast("long"))


# ------------------------------------- corpus hygiene (E1/E4, round 3)

#: Redaction chain rendered for DuckDB ('g' = replace all, matching
#: Spark's regexp_replace); patterns come straight from the operator so
#: query and oracle can never drift.
_PII_RED_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(text, '"
    + X.PII_PATTERNS["EMAIL"] + "', '<EMAIL>', 'g'), '"
    + X.PII_PATTERNS["IP"] + "', '<IP>', 'g'), '"
    + X.PII_PATTERNS["PHONE"] + "', '<PHONE>', 'g')"
)

_PII_AUG_SQL = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 3 = 0
                   THEN ' contact u' || doc_id || '@example.com now' ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN ' from 10.0.' || (doc_id % 256) || '.7' ELSE '' END
           || CASE WHEN doc_id % 7 = 0
                   THEN ' call +3531700' || (doc_id % 10000) ELSE '' END AS text
    FROM documents
"""


@query(
    "text_pii_redact",
    oracle="WITH aug AS (" + _PII_AUG_SQL + ")\n"
    "SELECT doc_id,\n"
    "       len(regexp_extract_all(text, '" + X.PII_PATTERNS["EMAIL"] + "')) AS n_email,\n"
    "       len(regexp_extract_all(text, '" + X.PII_PATTERNS["IP"] + "')) AS n_ip,\n"
    "       len(regexp_extract_all(text, '" + X.PII_PATTERNS["PHONE"] + "')) AS n_phone,\n"
    "       " + _PII_RED_SQL + " AS redacted\n"
    "FROM aug",
)
def text_pii_redact(spark, sf_dir):
    """PII scrubbing (operators.text.pii_columns): emails, IPv4
    literals, and phone numbers redacted to typed markers, with
    per-class counts taken on the original text.  The fixture corpus is
    PII-free word salad, so the query deterministically injects
    addresses into a rotating subset of documents (same CASE logic in
    the oracle) — the gate exercises real replacements, not a no-op.
    Map-only regex chain, scan-bound at 100 TB."""
    doc = _doc(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact u"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" call +3531700"), (F.col("doc_id") % 10000).cast("string")
                ),
            ).otherwise(F.lit("")),
        ),
    )
    cols = X.pii_columns("text")
    return doc.select(
        "doc_id",
        cols["n_email"].cast("long").alias("n_email"),
        cols["n_ip"].cast("long").alias("n_ip"),
        cols["n_phone"].cast("long").alias("n_phone"),
        cols["redacted"].alias("redacted"),
    )


@query(
    "dedup_contamination_flag",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t) + 1)) AS pos
      FROM (SELECT doc_id,
                   {SQL_TOKS_RAW} AS t
            FROM documents)
    ),
    -- 8-gram via lead() over exploded tokens: the slice-in-lambda form
    -- is quadratic in DuckDB on MB docs (longtext probe, round 7)
    g8 AS (
      SELECT doc_id, pos,
             tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
                 || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w
                 || ' ' || lead(tok, 5) OVER w || ' ' || lead(tok, 6) OVER w
                 || ' ' || lead(tok, 7) OVER w AS g,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_tok
      FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    ng AS (SELECT DISTINCT doc_id, g FROM g8 WHERE pos <= n_tok - 7),
    bench AS (SELECT DISTINCT g FROM ng WHERE doc_id % 20 = 0),
    corp  AS (SELECT doc_id, g FROM ng WHERE doc_id % 20 != 0)
    SELECT c.doc_id, COUNT(*) AS n_contaminated
    FROM corp c JOIN bench b ON c.g = b.g
    GROUP BY c.doc_id
    """,
)
def dedup_contamination_flag(spark, sf_dir):
    """Benchmark decontamination (operators.dedup.ngram_contamination):
    every 20th document plays the held-out eval set; corpus documents
    sharing any word 8-gram with it are flagged with their distinct
    overlapping-gram count.  The engine joins on xxhash64 of the gram
    (broadcast of the tiny benchmark side, ints on the wire); the oracle
    joins on the gram strings themselves — counts agree because the
    count is hash-independent."""
    doc = _doc(spark, sf_dir)
    bench = doc.filter(F.col("doc_id") % 20 == 0)
    corpus = doc.filter(F.col("doc_id") % 20 != 0)
    return D.ngram_contamination(corpus, bench, "doc_id", "text", n=8)


@query(
    "sample_source_cap",
    oracle="""
    SELECT doc_id, source, n_chars FROM documents
    QUALIFY row_number() OVER (PARTITION BY source
                               ORDER BY n_chars DESC, doc_id) <= 10
    """,
)
def sample_source_cap(spark, sf_dir):
    """Per-source cap (operators.sampling.cap_per_group): at most 10
    documents per source, preferring the longest (n_chars DESC, doc_id
    tie-break — a total order, so the kept set is run-stable).  The
    anti-domination step of a crawl pipeline; WindowGroupLimit turns the
    rank filter into a map-side partial top-n so hot domains never
    materialize through the shuffle."""
    from eventbridge_etl_spark.operators.sampling import cap_per_group

    doc = _doc(spark, sf_dir)
    return cap_per_group(
        doc, "source", [F.col("n_chars").desc(), "doc_id"], 10
    ).select("doc_id", "source", "n_chars")


@query(
    "text_repetition_stats",
    oracle=f"""
    -- grouped mode counts over a zipped unnest, not
    -- list_transform(list_distinct(t), x -> len(list_filter(...))):
    -- that form is O(distinct × n) per document — quadratic on natural
    -- text where distinct ≈ n (the longtext class, round 7)
    WITH tok AS (
      SELECT doc_id, {SQL_TOKS_RAW} AS t
      FROM documents
    ),
    flat AS (
      SELECT doc_id, unnest(t) AS x, unnest(range(1, len(t) + 1)) AS pos
      FROM tok
    ),
    tc AS (
      SELECT doc_id, max(c) AS topc, sum(c) AS n FROM (
        SELECT doc_id, x, count(*) AS c FROM flat GROUP BY doc_id, x)
      GROUP BY doc_id
    ),
    bg AS (
      SELECT doc_id,
             x || ' ' || lead(x) OVER (PARTITION BY doc_id ORDER BY pos)
               AS g
      FROM flat
    ),
    bc AS (
      SELECT doc_id, max(c) AS topb, sum(c) AS ng FROM (
        SELECT doc_id, g, count(*) AS c FROM bg
        WHERE g IS NOT NULL GROUP BY doc_id, g)
      GROUP BY doc_id
    )
    SELECT tok.doc_id,
           -- two-step CASE: empty -> 0.0, NULL text -> NULL (a bare
           -- ELSE would also catch the null case)
           CASE WHEN len(t) > 0 THEN round(tc.topc::DOUBLE / tc.n, 6)
                WHEN len(t) = 0 THEN 0.0 END AS top_token_frac,
           CASE WHEN len(t) >= 2 THEN round(bc.topb::DOUBLE / bc.ng, 6)
                WHEN len(t) >= 0 THEN 0.0 END AS top_bigram_frac
    FROM tok LEFT JOIN tc USING (doc_id) LEFT JOIN bc USING (doc_id)
    """,
)
def text_repetition_stats(spark, sf_dir):
    """Repetition quality signals (operators.text.repetition_features):
    most-frequent-token and most-frequent-bigram document fractions, the
    Gopher-style boilerplate/looping-generation filters.  Map-only
    higher-order array expressions; the oracle recomputes the mode
    fraction with the identical list algebra."""
    doc = _doc(spark, sf_dir)
    feats = X.repetition_features("text")
    return doc.select(
        "doc_id",
        feats["top_token_frac"].alias("top_token_frac"),
        feats["top_bigram_frac"].alias("top_bigram_frac"),
    )


@query(
    "pipeline_training_mix",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, text, lang, source, n_chars,
             length(text) AS nc,
             {SQL_TOKS_RAW} AS t,
             len({SQL_TOKS_RAW}) AS nt,
             len(list_distinct({SQL_TOKS_RAW})) AS ndt,
             len(regexp_extract_all(text, '[^a-zA-Z0-9_ \\t\\n\\x0b\\f\\r]')) AS np
      FROM documents
    ),
    tmode AS (
      -- grouped mode, not list_filter-per-distinct: O(distinct × n)
      -- is quadratic on natural text (the longtext class, round 7)
      SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6) AS ttf FROM (
        SELECT doc_id, x, count(*) AS c FROM (
          SELECT doc_id, unnest(t) AS x FROM feat) GROUP BY doc_id, x)
      GROUP BY doc_id
    ),
    scored AS (
      SELECT f.doc_id, f.text, f.lang, f.source, f.n_chars, f.nt,
             CAST(floor((0.4 * (CASE WHEN nt BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.3 END)
                 + 0.3 * (1 - least(np / greatest(nc, 1) * 10, 1.0))
                 + 0.3 * (ndt / nt::DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS quality,
             m.ttf
      FROM feat f LEFT JOIN tmode m USING (doc_id)
    ),
    adm AS (
      SELECT * FROM scored
      WHERE quality >= 700000 AND n_chars >= 100 AND ttf <= 0.15
    ),
    ded AS (
      SELECT min(doc_id) AS doc_id, count(*) AS n_duplicates
      FROM adm GROUP BY md5(coalesce(text, chr(0)))
    ),
    kept AS (
      SELECT a.doc_id, a.lang, a.source, a.quality, a.nt, d.n_duplicates
      FROM adm a JOIN ded d ON a.doc_id = d.doc_id
    ),
    capped AS (
      SELECT * FROM kept
      QUALIFY row_number() OVER (PARTITION BY source
                                 ORDER BY quality DESC, doc_id) <= 15
    )
    SELECT doc_id, lang, source, quality, nt AS n_tokens, n_duplicates
    FROM capped
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UINT64 AS DOUBLE)
          / 4294967296.0
          < (CASE lang WHEN 'en' THEN 0.5 ELSE 1.0 END)
    """,
)
def pipeline_training_mix(spark, sf_dir):
    """The full training-data curation pipeline as ONE declarative
    Catalyst plan — the showcase composition a corpus team would
    actually run:

      quality gate (score >= 0.7, length >= 100)
      -> repetition gate (top-token fraction <= 0.15, Gopher-style)
      -> exact dedup (keep smallest doc_id per content digest)
      -> per-source cap (<= 15 docs, best-quality-first anti-domination)
      -> language rebalance (keep 50% of en, all of the rest,
         key-stable md5 buckets)

    Two to three exchanges total at any scale: the dedup groupBy, the
    per-source window (WindowGroupLimit map-side top-n), and the join
    back — which AQE downgrades to a broadcast when the surviving set
    is small (it is at sf0.01; plan-asserted).  Every gate and the
    sampling stage fuse into the scans around them.
    Demonstrates that the operator family composes as plain DataFrame
    algebra — no materialization boundaries between stages."""
    from eventbridge_etl_spark.operators.dedup import exact_dedup
    from eventbridge_etl_spark.operators.sampling import (
        cap_per_group,
        stratified_sample,
    )

    doc = _doc(spark, sf_dir)
    rep = X.repetition_features("text")
    adm = (
        doc.withColumn("quality", X.quality_score("text"))
        .withColumn("n_tokens", X.token_count(F.lower(F.col("text"))))
        .withColumn("ttf", rep["top_token_frac"])
        .filter(
            (F.col("quality") >= 700000)
            & (F.col("n_chars") >= 100)
            & (F.col("ttf") <= 0.15)
        )
    )
    survivors = exact_dedup(adm, "doc_id", ["text"]).select("doc_id", "n_duplicates")
    kept = survivors.join(adm, "doc_id").select(
        "doc_id", "lang", "source", "quality", "n_tokens", "n_duplicates"
    )
    capped = cap_per_group(kept, "source", [F.col("quality").desc(), "doc_id"], 15)
    return stratified_sample(
        capped, "doc_id", "lang", {"en": 0.5}, default_fraction=1.0
    ).select("doc_id", "lang", "source", "quality", "n_tokens", "n_duplicates")


# ------------------------------------------- training-set assembly

from eventbridge_etl_spark.operators import packing as P  # noqa: E402

#: DuckDB rendering of packing._md5_u32(doc_id, seed) % 8.
def _shard8_sql(seed: int) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{seed}'), 1, 8))"
        f"::UINT64 % 8 AS INTEGER)"
    )


@query(
    "pack_token_sequences",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text, ' '), '\\s+')) AS nt,
             {_shard8_sql(0)} AS shard
      FROM documents
    ),
    c AS (
      SELECT doc_id, shard, nt,
             SUM(nt) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM d
    )
    SELECT doc_id, shard,
           CAST(cum - nt AS BIGINT) AS start_offset,
           CAST(floor((cum - nt) / 512) AS BIGINT) AS seq_id
    FROM c
    """,
)
def pack_token_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (capacity 512, 8 shards):
    which fixed-length training sequence does each document start in.
    Integer-exact window math, one hash shuffle
    (operators/packing.py:pack_sequences)."""
    doc = _doc(spark, sf_dir)
    with_nt = doc.select("doc_id", X.token_count("text").alias("nt"))
    packed = P.pack_sequences(with_nt, "doc_id", "nt", capacity=512, n_shards=8)
    return packed.select("doc_id", "shard", "start_offset", "seq_id")


@query(
    "sample_global_shuffle",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || ':7') AS hx,
             {_shard8_sql(7)} AS shard
      FROM documents
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (
                PARTITION BY shard
                ORDER BY hx, CAST(doc_id AS VARCHAR)) AS INTEGER) AS shuffle_rank
    FROM h
    """,
)
def sample_global_shuffle(spark, sf_dir):
    """Seeded deterministic corpus shuffle: every row gets a stable
    (shard, rank) position from md5(key, seed) — the reproducible
    alternative to ORDER BY rand() that never needs a global sort
    (operators/packing.py:shuffle_shards)."""
    doc = _doc(spark, sf_dir)
    out = P.shuffle_shards(doc.select("doc_id"), "doc_id", seed=7, n_shards=8)
    return out.select("doc_id", "shard", "shuffle_rank")


# ------------------------------------------------- k-means / SemDeDup

def _kmeans_cte_sql(k: int, iters: int, dim: int = 64, decimals: int = 4) -> str:
    """CTE chain replicating kmeans_fit + final kmeans_assign exactly:
    deterministic lowest-id init, ordered-fold squared distances
    (bit-identical to the Spark fold), per-(cluster,pos) means rounded
    to ``decimals`` so float accumulation order cannot flip a boundary
    assignment.  Final assignment lands in ``a_{iters+1}(vec_id, cid,
    d)``."""

    def dist(e: str, c: str) -> str:
        return (
            f"list_sum(list_transform(range(1,{dim + 1}), j -> "
            f"({e}[j]::DOUBLE - {c}[j]) * ({e}[j]::DOUBLE - {c}[j])))"
        )

    parts = [
        f"""c_0 AS (
      SELECT (row_number() OVER (ORDER BY vec_id) - 1) AS cid,
             list_transform(embedding, x -> x::DOUBLE) AS c
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {k})
    )"""
    ]
    for i in range(1, iters + 2):
        parts.append(
            f"""a_{i} AS (
      SELECT vec_id, cid, d FROM (
        SELECT vec_id, cid, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM (SELECT e.vec_id, c.cid, {dist('e.embedding', 'c.c')} AS d
              FROM embeddings e CROSS JOIN c_{i - 1} c)
      ) WHERE rn = 1
    )"""
        )
        if i <= iters:
            parts.append(
                f"""c_{i} AS (
      SELECT cid, list(av ORDER BY pos) AS c FROM (
        SELECT a.cid, t.pos,
               round(avg(e.embedding[t.pos]::DOUBLE), {decimals}) AS av
        FROM a_{i} a JOIN embeddings e USING (vec_id)
        CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS pos) t
        GROUP BY a.cid, t.pos
      ) GROUP BY cid
    )"""
            )
    return "WITH " + ",\n".join(parts)


@query(
    "similarity_kmeans_refine",
    oracle=_kmeans_cte_sql(8, 2)
    + """
    SELECT vec_id, CAST(cid AS INTEGER) AS cluster, round(d, 6) AS sqdist
    FROM a_3
    """,
)
def similarity_kmeans_refine(spark, sf_dir):
    """Two Lloyd iterations of k-means (k=8, deterministic init,
    quantized centroids) then the final assignment — the coarse
    quantizer training step IVF and SemDeDup both sit on.
    operators/similarity.py:kmeans_fit runs the PQ training kernel
    (``_lloyd``) with one subspace as wide as the vector: assignment is
    map-only with plan-literal centroids, and each update is one
    posexplode aggregate and one bounded collect."""
    emb = _emb(spark, sf_dir)
    cents = S.kmeans_fit(emb, k=8, iters=2)
    out = S.kmeans_assign(emb, cents)
    return out.select("vec_id", "cluster", F.round("sqdist", 6).alias("sqdist"))


@query(
    "dedup_semantic",
    oracle=_kmeans_cte_sql(8, 1)
    + f"""
    , assigned AS (SELECT vec_id, cid FROM a_2),
    pairs AS (
      SELECT y.vec_id AS id_b
      FROM assigned x
      JOIN assigned y ON x.cid = y.cid AND x.vec_id < y.vec_id
      JOIN embeddings a ON a.vec_id = x.vec_id
      JOIN embeddings b ON b.vec_id = y.vec_id
      WHERE {_COS_SQL} >= {COSINE_TAU}
    )
    SELECT s.vec_id AS id, CAST(s.cid AS INTEGER) AS cluster,
           (s.vec_id NOT IN (SELECT id_b FROM pairs)) AS kept
    FROM assigned s
    """,
)
def dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic dedup: k-means clusters bound the
    candidate pairs, then any vector with a cosine>=tau neighbor of
    lower id inside its cluster is dropped
    (operators/similarity.py:semantic_dedup).  Pairwise work is
    per-cluster, never corpus-wide."""
    emb = _emb(spark, sf_dir)
    return S.semantic_dedup(emb, tau=COSINE_TAU, k=8, iters=1)


# ------------------------------------------------- unigram LM scoring

@query(
    "text_unigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest({SQL_TOKS_RAW}) AS token
      FROM documents
    ),
    tf AS (SELECT token, count(*) AS tf FROM toks GROUP BY token),
    tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n, count(*) AS v FROM tf),
    lm AS (
      SELECT token, ln((tf + 1)::DOUBLE / (n + v)::DOUBLE) AS logp
      FROM tf CROSS JOIN tot
    )
    SELECT t.id, count(*) AS n_tokens, round(avg(lm.logp), 4) AS avg_logprob
    FROM toks t JOIN lm USING (token)
    GROUP BY t.id
    """,
)
def text_unigram_logprob(spark, sf_dir):
    """Corpus-trained add-one unigram LM score per document — the
    perplexity-bucket proxy of CCNet-style quality filtering
    (operators/text.py:unigram_logprob)."""
    doc = _doc(spark, sf_dir)
    return X.unigram_logprob(doc)


@query(
    "dedup_cluster_sizes",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_CTES},
    pairs AS ({_MINHASH_VERIFY}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
      WHERE r.lbl < e.dst
    ),
    comp AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
    sizes AS (SELECT cluster_id, COUNT(*) AS n_members FROM comp GROUP BY cluster_id)
    SELECT n_members, COUNT(*) AS n_clusters
    FROM sizes GROUP BY n_members
    """,
)
def dedup_cluster_sizes(spark, sf_dir):
    """Cluster-size distribution of the near-dup graph — the corpus
    duplication profile (how much boilerplate, how big the biggest
    template family).  Two tiny aggregates on top of the
    connected-components output; the oracle extends the dedup_clusters
    recursive CTE with the same rollup."""
    doc = _doc(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(
        doc, "doc_id", "text", MINHASH_TAU, num_hashes=16, bands=2
    )
    clusters = D.near_dup_clusters(doc, pairs, "doc_id")
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("n_members"))
        .groupBy("n_members")
        .agg(F.count("*").alias("n_clusters"))
    )


def _pq_dist_sql(sv: str, c: str, sub: int) -> str:
    """Squared euclidean over a subspace — the same left-to-right fold
    order as the engine's sq_dist, so the doubles are bit-identical."""
    return (
        f"list_sum(list_transform(range(1,{sub + 1}), t -> "
        f"({sv}[t] - {c}[t]) * ({sv}[t] - {c}[t])))"
    )


def _pq_books_parts(m: int, sub: int, k: int, decimals: int) -> list[str]:
    """Unrolled PQ codebook CTEs (mirrors operators.similarity.pq_train
    with iters=1 + pq_encode): per subspace j — raw subvectors s_j,
    deterministic init c0_j (k lowest vec_ids), one Lloyd step (assign
    a1_j, rounded per-position means c1_j), final code assignment a2_j.
    Shared by the PQ and IVF-PQ oracles."""

    def dist(sv: str, c: str) -> str:
        return _pq_dist_sql(sv, c, sub)

    parts = []
    for j in range(m):
        parts.append(
            f"""s_{j} AS (
      SELECT vec_id, list_transform(range(1,{sub + 1}),
                                    t -> embedding[{j * sub}+t]::DOUBLE) AS sv
      FROM embeddings
    )"""
        )
        parts.append(
            f"""c0_{j} AS (
      SELECT (row_number() OVER (ORDER BY vec_id) - 1) AS cid, sv AS c
      FROM (SELECT * FROM s_{j} ORDER BY vec_id LIMIT {k})
    )"""
        )
        parts.append(
            f"""a1_{j} AS (
      SELECT vec_id, cid FROM (
        SELECT s.vec_id, c.cid,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY {dist('s.sv', 'c.c')}, c.cid) AS rn
        FROM s_{j} s CROSS JOIN c0_{j} c
      ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""c1_{j} AS (
      SELECT cid, list(av ORDER BY pos) AS c FROM (
        SELECT a.cid, t.pos, round(avg(s.sv[t.pos]), {decimals}) AS av
        FROM a1_{j} a JOIN s_{j} s USING (vec_id)
        CROSS JOIN (SELECT unnest(range(1,{sub + 1})) AS pos) t
        GROUP BY a.cid, t.pos
      ) GROUP BY cid
    )"""
        )
        parts.append(
            f"""a2_{j} AS (
      SELECT vec_id, cid FROM (
        SELECT s.vec_id, c.cid,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY {dist('s.sv', 'c.c')}, c.cid) AS rn
        FROM s_{j} s CROSS JOIN c1_{j} c
      ) WHERE rn = 1
    )"""
        )
    return parts


def _pq_cte_sql(m: int, sub: int, k: int, decimals: int) -> str:
    """Full PQ-ADC oracle: codebook CTEs + brute ADC scoring (the sum
    over subspaces of dist(raw query subvector, codeword))."""

    def dist(sv: str, c: str) -> str:
        return _pq_dist_sql(sv, c, sub)

    parts = _pq_books_parts(m, sub, k, decimals)
    q_joins = "\n      ".join(
        f"JOIN s_{j} q{j} ON q{j}.vec_id = q0.vec_id" for j in range(1, m)
    )
    a_joins = "\n      ".join(
        f"JOIN a2_{j} a{j} ON a{j}.vec_id = a0.vec_id" for j in range(1, m)
    )
    k_joins = "\n      ".join(
        f"JOIN c1_{j} k{j} ON k{j}.cid = a{j}.cid" for j in range(m)
    )
    d_sum = " + ".join(dist(f"q{j}.sv", f"k{j}.c") for j in range(m))
    parts.append(
        f"""scored AS (
      SELECT q0.vec_id AS query_id, a0.vec_id AS neighbor_id,
             round({d_sum}, 6) AS approx_sqdist
      FROM s_0 q0
      {q_joins}
      CROSS JOIN a2_0 a0
      {a_joins}
      {k_joins}
      WHERE q0.vec_id < 5
    )"""
    )
    return "WITH " + ",\n".join(parts)


#: Full PQ-ADC top-10 oracle, shared with similarity_pq_recall.
_PQ_TOPK_SQL = _pq_cte_sql(4, 16, 8, 4) + """
    SELECT query_id, neighbor_id, approx_sqdist, rank FROM (
      SELECT query_id, neighbor_id, approx_sqdist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY approx_sqdist, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """


@query("similarity_topk_pq", oracle=_PQ_TOPK_SQL)
def similarity_topk_pq(spark, sf_dir):
    """Product-quantization ADC top-10 (m=4 subspaces × 16 dims, k=8
    codewords, one Lloyd step): the storage half of IVF-PQ — the
    corpus scan reads m one-byte codes per vector instead of the raw
    floats (operators/similarity.pq_train/pq_encode/pq_topk_adc)."""
    emb = _emb(spark, sf_dir)
    books = S.pq_train(emb, m=4, subdim=16, k=8, iters=1)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.pq_topk_adc(emb, queries, books, subdim=16, k=10)


def _ivfpq_sql(m: int, sub: int, k: int, decimals: int,
               nlist: int, nprobe: int) -> str:
    """IVF-PQ oracle: the IVF coarse CTEs (cent/assign/probe — the
    similarity_topk_ivf convention: lowest-nlist-id centroids, rounded
    cosine ranking) pruning WHICH neighbors score, the PQ codebook CTEs
    supplying the codes, ADC on the probed cells only."""
    books = _pq_books_parts(m, sub, k, decimals)
    coarse = [
        f"""cent AS (
      SELECT vec_id AS cent_id, embedding AS cent
      FROM embeddings ORDER BY vec_id LIMIT {nlist}
    )""",
        f"""cassign AS (
      SELECT neighbor_id, cell FROM (
        SELECT v.vec_id AS neighbor_id, c.cent_id AS cell,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY {_cos_sql('v.embedding', 'c.cent')} DESC, c.cent_id) AS rn
        FROM embeddings v CROSS JOIN cent c
      ) WHERE rn = 1
    )""",
        f"""cprobe AS (
      SELECT query_id, cell FROM (
        SELECT q.vec_id AS query_id, c.cent_id AS cell,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_cos_sql('q.embedding', 'c.cent')} DESC, c.cent_id) AS rn
        FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 5
      ) WHERE rn <= {nprobe}
    )""",
    ]
    b_joins = "\n      ".join(
        f"JOIN a2_{j} b{j} ON b{j}.vec_id = ca.neighbor_id" for j in range(m)
    )
    k_joins = "\n      ".join(
        f"JOIN c1_{j} k{j} ON k{j}.cid = b{j}.cid" for j in range(m)
    )
    q_joins = "\n      ".join(
        f"JOIN s_{j} q{j} ON q{j}.vec_id = cp.query_id" for j in range(m)
    )
    d_sum = " + ".join(
        _pq_dist_sql(f"q{j}.sv", f"k{j}.c", sub) for j in range(m)
    )
    scored = f"""scored AS (
      SELECT cp.query_id, ca.neighbor_id, round({d_sum}, 6) AS approx_sqdist
      FROM cprobe cp
      JOIN cassign ca ON ca.cell = cp.cell
      {b_joins}
      {k_joins}
      {q_joins}
    )"""
    return "WITH " + ",\n".join(books + coarse + [scored])


@query(
    "similarity_topk_ivfpq",
    oracle=_ivfpq_sql(4, 16, 8, 4, 16, 4)
    + """
    SELECT query_id, neighbor_id, approx_sqdist, rank FROM (
      SELECT query_id, neighbor_id, approx_sqdist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY approx_sqdist, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def similarity_topk_ivfpq(spark, sf_dir):
    """IVF-PQ approximate top-10 (nlist=16 cells, nprobe=4, m=4 × 16-dim
    subspaces, k=8 codewords): coarse cells prune WHICH vectors score,
    PQ codes shrink WHAT the scoring touches — the corpus side of the
    probe shuffle carries m+1 small ints per vector, never raw floats
    (operators/similarity.pq_topk_ivf_adc)."""
    emb = _emb(spark, sf_dir)
    books = S.pq_train(emb, m=4, subdim=16, k=8, iters=1)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.pq_topk_ivf_adc(
        emb, queries, books, subdim=16, k=10, nlist=16, nprobe=4
    )


@query(
    "similarity_pq_recall",
    oracle=f"""
    WITH brute AS ({_BRUTE_TOPK_SQL}),
         pq AS ({_PQ_TOPK_SQL})
    SELECT b.query_id,
           ROUND(COUNT(p.neighbor_id)::DOUBLE / 10, 4) AS recall_at_10
    FROM brute b
    LEFT JOIN pq p ON p.query_id = b.query_id AND p.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def similarity_pq_recall(spark, sf_dir):
    """Recall@10 of PQ-ADC against exact brute force, per query — the
    compression-vs-quality number that sizes m and k in a deployment.
    Both sides deterministic and SQL-expressible, so this is an EXACT
    value compare (the similarity_ivf_recall treatment), not an
    epsilon band.

    Honest read of the absolute numbers: the synthetic embeddings are
    ISOTROPIC (near-random) vectors — the adversarial case for PQ,
    which exploits correlated structure real embedding manifolds have.
    Measured at sf0.01: mean recall 0.30 at m=4/k=8 (9 bits), rising
    only to 0.46 at m=16/k=16 (64 bits); the metric-matched euclidean
    baseline gives identical recall, so the loss is quantization, not
    the cosine-vs-L2 mismatch.  The gate pins the exact value; the
    IVF path (exact re-rank inside cells, recall 0.92 here) is the
    recall-preserving alternative when codes alone aren't enough."""
    emb = _emb(spark, sf_dir)
    as_double = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = as_double.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = S.cosine_topk_bruteforce(as_double, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    books = S.pq_train(emb, m=4, subdim=16, k=8, iters=1)
    pq = S.pq_topk_adc(emb, queries, books, subdim=16, k=10).select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    return (
        # broadcast the approximate side (same rationale as
        # similarity_ivf_recall: k x n_queries rows by design)
        brute.join(F.broadcast(pq), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.round(F.count("_hit") / 10.0, 4).alias("recall_at_10"))
    )
