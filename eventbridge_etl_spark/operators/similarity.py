"""Similarity search over embedding columns (E2): exact brute-force
cosine top-k as the correctness baseline, random-hyperplane LSH
bucketing, IVF cells and product quantization as the approximate scale
paths.

Vector arithmetic is pure higher-order-function SQL (zip_with +
aggregate) — JVM-side, no Python, no UDF.  At 100 TB the brute-force
path is a broadcast of the (small) query set against a scan of the
corpus — linear, shuffle-free until the final per-query top-k; the LSH
path prunes the corpus scan to matching buckets first.

Shared kernels: every ranking in this module — the top-k tail of all
five ANN operators and the IVF cell assignment and probe selection —
is ``_top_n`` (rounded score, ties to the lower id, first n per key),
and both IVF operators pick their cells through ``_nearest_cells`` from
the same default centroids (``_lowest_id_centroids``).  Centroid
training is one Lloyd kernel, ``_lloyd``: k-means (``kmeans_fit``) is
PQ training (``pq_train``) with one subspace.  Every nearest-codeword
assignment (``kmeans_assign``, ``pq_encode``, each Lloyd step) is one
expression, ``_nearest``, and every centroid mean, ``label_centroids``
included, is rounded to ``CENTROID_DECIMALS``.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eventbridge_etl_spark.cache import scoped_persist
from eventbridge_etl_spark.operators.partitioning import fan_out as _fan_out

#: Decimals every centroid mean is rounded to, so float accumulation
#: order (across engines, runs and partitionings) cannot flip a later
#: boundary assignment.
CENTROID_DECIMALS = 4


def dot(a: Column, b: Column) -> Column:
    """Elementwise dot product of two array<float/double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 for zero vectors instead of NaN."""
    denom = norm(a) * norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def _top_n(
    df: DataFrame, key: str, score: str, descending: bool, tiebreak: str, n: int
) -> DataFrame:
    """The first ``n`` rows per ``key`` by ``score`` (``descending`` or
    ascending), ties to the lower ``tiebreak``, numbered in ``rank``.

    Scores are rounded by the callers before ranking (the registry's
    cross-engine ranking contract), so the order is total and portable.
    The row_number window under a rank filter compiles to
    WindowGroupLimit — a partial per-partition top-n before the shuffle.
    """
    order = F.col(score).desc() if descending else F.col(score)
    w = Window.partitionBy(key).orderBy(order, F.col(tiebreak))
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= n)


def _lowest_id_centroids(corpus: DataFrame, nlist: int, id_col: str, vec_col: str) -> DataFrame:
    """Default IVF coarse centroids: the corpus rows with the ``nlist``
    lowest ids, as (_cent_id, _cent)."""
    return (
        corpus.orderBy(id_col)
        .limit(nlist)
        .select(F.col(id_col).alias("_cent_id"), F.col(vec_col).alias("_cent"))
    )


def _nearest_cells(
    df: DataFrame, centroids: DataFrame, key: str, vec: str, n: int, *keep: str
) -> DataFrame:
    """The ``n`` most cosine-similar centroids per ``key`` (6dp, ties to
    the lower centroid id) as (key, _cell, *keep): ``n = 1`` is the cell
    assignment of a corpus vector, ``n = nprobe`` the probe selection of
    a query.  Centroids are broadcast into the cross join."""
    scored = df.crossJoin(F.broadcast(centroids)).withColumn(
        "_ccos", F.round(cosine(F.col(vec), F.col("_cent")), 6)
    )
    return _top_n(scored, key, "_ccos", True, "_cent_id", n).select(
        key, F.col("_cent_id").alias("_cell"), *keep
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query vector.

    ``queries`` (query_id, vector) is broadcast; the corpus streams once;
    per-query ranking is a window top-k (compiles to WindowGroupLimit —
    partial per-partition top-k before the shuffle).  Self-matches are
    kept (a query that exists in the corpus ranks itself first) — filter
    afterwards if undesired.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    scored = (
        _fan_out(corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")))
        .crossJoin(F.broadcast(q))
        .withColumn("cosine", F.round(cosine(F.col("_qv"), F.col("_cv")), 6))
    )
    return _top_n(scored, "query_id", "cosine", True, "neighbor_id", k).select(
        "query_id", "neighbor_id", "cosine", "rank"
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index.

    Classic two-level ANN: (1) partition the corpus into ``nlist`` cells
    by nearest centroid, (2) per query, score only the cells of its
    ``nprobe`` nearest centroids, (3) exact cosine re-rank inside the
    probed cells.  Expected scan fraction vs brute force ~= nprobe/nlist.

    ``centroids`` defaults to the corpus rows with the ``nlist`` smallest
    ids — a deterministic stand-in for k-means training (pluggable: pass
    a k-means result for real deployments).  Determinism keeps the whole
    operator expressible in the SQL oracle; the assignment / probing /
    in-cell re-rank plumbing — the part that matters at 100 TB — is
    identical either way.

    Plan shape: centroids broadcast twice (cell assignment of the
    corpus, probe selection of the queries); the per-vector argmax
    window is one shuffle of the corpus ids, the probe join a second.
    A map-only assignment variant (plan-literal centroids, argmax over
    explicit struct expressions) was measured in r12 and REJECTED: it
    removes the assignment shuffle but runs ~3x slower at sf0.1
    (interpreted-HOF cosine expressions per row vs codegen over the
    joined form; interleaved isolated floors 1.6 s vs 4.5 s).  At
    100 TB the cell assignment would be precomputed once and the
    corpus stored partitioned/bucketed by cell id, making the probe
    join shuffle-free — the right fix is layout, not expression
    gymnastics.
    """
    c = _fan_out(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    )
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    if centroids is None:
        centroids = _lowest_id_centroids(corpus, nlist, id_col, vec_col)
    else:
        centroids = centroids.select(
            F.col(centroids.columns[0]).alias("_cent_id"),
            F.col(centroids.columns[1]).alias("_cent"),
        )

    # (1) cell assignment: argmax-cosine centroid per corpus vector;
    # (2) probe selection: nprobe nearest centroids per query
    assigned = _nearest_cells(c, centroids, "neighbor_id", "_cv", 1, "_cv")
    probed = _nearest_cells(q, centroids, "query_id", "_qv", nprobe, "_qv")

    # (3) exact re-rank within probed cells.  The probe side is
    # queries x nprobe rows — the small side BY DESIGN (same contract as
    # cosine_topk_bruteforce, which broadcasts the query set) — so
    # broadcast it explicitly: the planner can't estimate the window
    # subtree's size and falls back to a sort-merge join keyed on
    # _cell, i.e. a shuffle of the whole assigned corpus into at most
    # nlist partitions (measured r12: 2 exchanges + 2 sorts on a
    # 16-value skewed key).  Broadcasting the probes keeps the corpus
    # un-shuffled and streaming (at 100 TB the corpus is stored
    # partitioned by cell id; the probe lookup stays map-side either
    # way).
    scored = assigned.join(F.broadcast(probed), "_cell").withColumn(
        "cosine", F.round(cosine(F.col("_qv"), F.col("_cv")), 6)
    )
    return _top_n(scored, "query_id", "cosine", True, "neighbor_id", k).select(
        "query_id", "neighbor_id", "cosine", "rank"
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (literal constants in
    the plan — broadcast for free)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        s = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / s for x in v])
    return planes


def hyperplane_lsh_bucket(
    vec: Column, dim: int, n_planes: int = 8, seed: int = 42
) -> Column:
    """Sign-pattern LSH bucket id: bit i = sign(v . plane_i).  Collision
    probability is 1 - theta/pi per bit, so cosine-close vectors land in
    the same bucket with high probability."""
    planes = _hyperplanes(dim, n_planes, seed)
    bits = [
        F.when(
            dot(vec, F.array(*[F.lit(float(x)) for x in plane])) >= 0, F.lit(1)
        ).otherwise(F.lit(0))
        for plane in planes
    ]
    bucket = F.lit(0)
    for bit in bits:
        bucket = bucket * 2 + bit
    return bucket


def hyperplane_lsh_bands(
    vec: Column, dim: int, n_planes: int, n_tables: int, seed: int = 42
) -> Column:
    """Array of ``n_tables`` independent sign-pattern buckets, table t
    seeded ``seed + t`` — every table in ONE pass over the vectors (a
    union of per-table branches would re-scan the corpus ``n_tables``
    times).  Position t of the array is table t's bucket."""
    return F.array(
        *[
            hyperplane_lsh_bucket(vec, dim, n_planes, seed=seed + t)
            for t in range(n_tables)
        ]
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH candidate
    generation, exact re-ranking within the union of matching buckets.

    ``n_tables`` independent hash tables raise recall (a neighbor is
    considered if it collides in ANY table); per-table bucket count
    2^n_planes bounds each bucket to corpus/2^n_planes rows — that
    quotient is the scan-pruning factor vs brute force.

    All tables' bucket assignments are computed in ONE pass over each
    side (``hyperplane_lsh_bands``, exploded) — a union of per-table
    branches would re-scan the corpus ``n_tables`` times, which at
    100 TB is the difference between one pass and four.
    """
    c = _fan_out(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    )
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv"))

    def _banded(df, vcol):
        tables = hyperplane_lsh_bands(F.col(vcol), dim, n_planes, n_tables)
        return df.select("*", F.posexplode(tables).alias("_tbl", "_bkt"))

    c_b = _banded(c, "_cv")
    q_b = _banded(q, "_qv")
    # query side broadcast (same contract as cosine_topk_bruteforce:
    # queries are the small side by design — n_queries x n_tables rows).
    # Without the hint the planner sort-merge-joins on (_tbl, _bkt),
    # shuffling every corpus bucket row into n_tables x 2^n_planes
    # partitions; broadcasting keeps the corpus streaming map-side.
    #
    # Score BEFORE the multi-table dedup (r12): cosine is deterministic
    # per (query, neighbor), so scoring duplicated candidates and
    # deduping on (query_id, neighbor_id, cosine) yields the identical
    # set — but the distinct's exchange then moves ~24 bytes/row
    # instead of two embedding vectors (~1 KB/row at dim=64, and the
    # whole vector payload at any dim).  The duplicate scoring work is
    # map-side and embarrassingly parallel; the vector columns never
    # cross an exchange at all now (broadcast join -> map-side score ->
    # project ids+score).
    scored = (
        c_b.join(F.broadcast(q_b), ["_tbl", "_bkt"])
        .withColumn("cosine", F.round(cosine(F.col("_qv"), F.col("_cv")), 6))
        .select("query_id", "neighbor_id", "cosine")
        .distinct()
    )
    return _top_n(scored, "query_id", "cosine", True, "neighbor_id", k).select(
        "query_id", "neighbor_id", "cosine", "rank"
    )


def quantize_embeddings_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = 127/max(|v_i|),
    q_i = floor(v_i * scale + 0.5).

    The ANN storage path at 100 TB — int8 vectors are 4x smaller than
    float32 (8x vs float64), shrinking every scan, shuffle, and bucket
    file in the similarity pipeline; re-ranking dequantizes with the
    stored scale.  All higher-order built-ins, map-only, no shuffle.
    ``floor(x + 0.5)`` rather than ``round`` so the tie-break is
    explicit and engine-identical (HALF_UP vs banker's rounding).

    Returns (id, qvec array<int>, scale double, max_abs double).
    """
    v = F.col(vec_col)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(max_abs == 0, F.lit(0.0)).otherwise(127.0 / max_abs)
    qvec = F.transform(
        v, lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("int")
    )
    return df.select(
        F.col(id_col).alias("id"),
        qvec.alias("qvec"),
        F.round(scale, 6).alias("scale"),
        F.round(max_abs, 6).alias("max_abs"),
    )


def _rounded_mean(c: str) -> Column:
    """Mean of one centroid position as ``_av``, rounded to
    ``CENTROID_DECIMALS`` (HALF_UP, as DuckDB's ROUND)."""
    return F.round(F.avg(F.col(c).cast("double")), CENTROID_DECIMALS).alias("_av")


def label_centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label embedding centroid (element-wise mean) + group size —
    the class-prototype computation behind nearest-centroid dedup
    triage, IVF coarse quantizer training, and cluster drift checks.

    posexplode -> groupBy(label, pos) avg -> re-assemble the ordered
    array.  The per-position partial aggregation spreads one label's
    rows across ALL partitions, so a skewed label (half the corpus in
    one class) never serializes into one task.

    NULL-vector rows cannot contribute to a mean and are dropped up
    front, so ``n_vectors`` counts contributing vectors.  A NULL
    *label* remains its own group, as in any GROUP BY.
    """
    per_pos = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(label_col), F.posexplode(F.col(vec_col)).alias("_pos", "_v"))
        .groupBy(label_col, "_pos")
        .agg(_rounded_mean("_v"), F.count("*").alias("_n"))
    )
    return per_pos.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_av"))),
            lambda s: s["_av"],
        ).alias("centroid"),
        F.first("_n").alias("n_vectors"),
    )


# ----------------------------------------------------------- k-means

def sq_dist(a: Column, b: Column) -> Column:
    """Squared euclidean distance — ordered left fold, so both engines
    (and any two runs) produce bit-identical doubles."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _centroid_struct_array(centroids: list[tuple[int, list[float]]]) -> Column:
    """Literal array<struct<cid,c>> — centroids travel inside the plan
    (constant-folded, broadcast with the task binary), so assignment is
    a map-only projection with zero joins."""
    return F.array(
        *[
            F.struct(
                F.lit(int(cid)).alias("cid"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("c"),
            )
            for cid, vec in centroids
        ]
    )


def _subvec(vec_col: str, j: int, subdim: int) -> Column:
    """Subspace ``j``'s slice of the vector, as doubles."""
    return F.slice(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        j * subdim + 1,
        subdim,
    )


def _nearest(codebook: list[tuple[int, list[float]]], v: Column) -> Column:
    """struct<d, cid>: the codeword of a non-empty ``codebook`` nearest
    to the double array ``v`` (squared euclidean, ties to the lowest
    cid) — every k-means and PQ assignment in this module.

    ``array_min`` over struct<d,cid> IS the argmin — struct comparison
    is lexicographic, so the tie-break is explicit and engine-portable.
    The codebook is a plan literal, so assignment is map-only.
    """
    # NB: a (s, v=v) default-arg lambda would be read by pyspark as a
    # TWO-parameter HOF lambda and receive the array INDEX as its second
    # argument; pyspark invokes the lambda immediately at expression-
    # build time, so a plain closure is safe.
    return F.array_min(
        F.transform(
            _centroid_struct_array(codebook),
            lambda s: F.struct(sq_dist(s["c"], v).alias("d"), s["cid"].alias("cid")),
        )
    )


def kmeans_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (``_nearest``: squared
    euclidean, ties to the lowest cluster id).  Map-only: no join, no
    shuffle; the centroid table rides along as a plan literal (fine for
    the k <= a few thousand of a coarse quantizer).  Adds ``cluster``
    and ``sqdist`` (raw double) columns.

    An EMPTY centroid list (k-means over an empty corpus — r7
    empty-fixture crash: ``F.array()`` of zero structs cannot be
    typed) assigns NULL cluster/sqdist to every row instead of
    raising, so empty-input pipelines flow through to empty results.
    """
    if not centroids:
        return df.withColumn("cluster", F.lit(None).cast("int")).withColumn(
            "sqdist", F.lit(None).cast("double")
        )
    best = _nearest(centroids, F.transform(F.col(vec_col), lambda x: x.cast("double")))
    return df.withColumn("cluster", best["cid"]).withColumn("sqdist", best["d"])


def _lowest_id_vectors(
    df: DataFrame, k: int, id_col: str, vec_col: str
) -> list[list[float]]:
    """Deterministic Lloyd init: the k lowest-id vectors in id order, in
    one bounded collect (a sorted limit — a TakeOrdered, not a full
    sort)."""
    rows = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy("_id")
        .limit(k)
        .collect()
    )
    return [[float(x) for x in r["_v"]] for r in rows]


def _lloyd(
    df: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    subdim: int,
    iters: int,
    vec_col: str,
) -> list[list[tuple[int, list[float]]]]:
    """Lloyd's iterations for ``len(books)`` independent k-means, one
    per contiguous ``subdim``-wide subspace, trained JOINTLY from the
    initial codebooks ``books``: k-means is one subspace as wide as the
    vector, PQ training is m of them.

    Each iteration is one corpus scan, one aggregate and one bounded
    collect for ALL subspaces: the map-only ``_nearest`` assignment per
    subspace, then a single posexplode keyed by (subspace, cluster,
    position-within-subspace), whose partials combine map-side — the
    skew-proof per-position mean of ``label_centroids``.  Each mean is
    rounded to ``CENTROID_DECIMALS`` so the cross-engine / cross-run
    float-accumulation-order difference is quantized away before it
    can flip a boundary assignment next round.  Only m*k*subdim rounded
    doubles reach the driver per iteration — the same driver-side
    footprint as Spark MLlib's KMeans.  Clusters that lose all members
    are dropped (ids of survivors are stable).  Empty codebooks (an
    empty corpus) are returned as they are.
    """
    if not all(books):
        return books
    m = len(books)
    for _ in range(int(iters)):
        codes = F.array(
            *[_nearest(cb, _subvec(vec_col, j, subdim))["cid"] for j, cb in enumerate(books)]
        )
        per = (
            df.select(codes.alias("_codes"), F.posexplode(F.col(vec_col)).alias("_pos", "_x"))
            .filter(F.col("_pos") < m * subdim)
            .select(
                (F.col("_pos") / F.lit(subdim)).cast("int").alias("_j"),
                (F.col("_pos") % F.lit(subdim)).alias("_subpos"),
                F.col("_codes"),
                F.col("_x"),
            )
            .withColumn("_cluster", F.element_at("_codes", F.col("_j") + 1))
            .filter(F.col("_cluster").isNotNull())
            .groupBy("_j", "_cluster", "_subpos")
            .agg(_rounded_mean("_x"))
            .collect()
        )
        acc: list[dict[int, dict[int, float]]] = [dict() for _ in range(m)]
        for r in per:
            acc[int(r["_j"])].setdefault(int(r["_cluster"]), {})[
                int(r["_subpos"])
            ] = float(r["_av"])
        books = [
            [(cid, [d[s] for s in sorted(d)]) for cid, d in sorted(acc[j].items())]
            for j in range(m)
        ]
    return books


def kmeans_fit(
    df: DataFrame,
    k: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """k-means centroids as (cluster id, centroid): the k lowest-id
    vectors (cluster id = rank) refined by ``iters`` rounds of
    ``_lloyd`` over one subspace as wide as the vector.  ``iters=0``
    returns the init."""
    init = _lowest_id_vectors(df, k, id_col, vec_col)
    dim = len(init[0]) if init else 0
    return _lloyd(df, [list(enumerate(init))], dim, iters, vec_col)[0]


def semantic_dedup(
    df: DataFrame,
    tau: float,
    k: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt_target: int = 4096,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means the corpus, then
    within each cluster drop every vector that has a higher-similarity
    (cosine >= tau) neighbor with a lower id.

    The cluster is the candidate-bounding device — pairwise comparison
    happens only inside a cluster, never across the corpus, so the cost
    is sum(|cluster|^2) instead of n^2.  The self-join key has only k
    distinct values, so without help one hot cluster serializes into a
    single straggler task (guide §2.5 — AQE skew split cannot divide
    one key).  r13: the join is SALTED per cluster with a dynamic
    factor s_c = ceil(|c| / salt_target): side A carries its hash
    bucket p = xxhash64(id) mod s_c and replicates across q = 0..s_c-1,
    side B symmetrically, and the join keys on (cluster, p, q) — every
    pair lands in exactly ONE (p, q) cell (the one addressed by both
    ids' own buckets), so the pair set, and therefore the result, is
    bit-identical to the unsalted join while the biggest task shrinks
    from |c|^2 to ~salt_target^2 comparisons.  Clusters at or below
    ``salt_target`` rows get s_c = 1 — zero replication, the exact
    join the unskewed case always had.  Replicated rows are bounded by
    sum(|c| * s_c) ≈ pairs / salt_target per side.

    The assignment frame is persisted: it feeds FOUR consumers (the
    salt-factor aggregate, both join sides, the final verdict join), so
    the corpus is scanned and nearest-centroid-folded once instead of
    four times.  Measured trade at sf0.1 (unskewed fixture, ~0.2 s on a
    1.2 s non-headline gate): the salting+persist insurance costs ~15%
    locally and is kept deliberately — the skewed case is the one it
    exists for (synthetic fixture, 90% of the vectors in one tight
    blob, full-output digests identical: in the shuffle-join regime,
    ``autoBroadcastJoinThreshold=-1`` with 6k vectors and
    salt_target=512, unsalted 171.0 s vs salted 15.7 s — one hot-key
    task vs 121 balanced cells; broadcast regime, 24k vectors, 148.3 s
    vs 120.8 s), and sum-of-scans dominates at scale.  Returns (id,
    cluster, kept boolean).
    """
    cents = kmeans_fit(df, k, iters, id_col, vec_col)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    assigned = scoped_persist(
        kmeans_assign(df, cents, id_col, vec_col).select(
            F.col(id_col).alias("id"), "cluster", v.alias("_v")
        )
    )
    sizes = assigned.groupBy("cluster").agg(
        F.greatest(F.lit(1), F.ceil(F.count("*") / F.lit(int(salt_target))))
        .cast("int")
        .alias("_s")
    )
    salted = assigned.join(F.broadcast(sizes), "cluster")
    bucket = F.pmod(F.xxhash64("id"), F.col("_s")).cast("int")
    rep = F.explode(F.sequence(F.lit(0), F.col("_s") - 1))
    a = salted.select("cluster", "id", "_v", bucket.alias("_p"), rep.alias("_q"))
    b = salted.select(
        "cluster",
        F.col("id").alias("_idb"),
        F.col("_v").alias("_vb"),
        rep.alias("_p"),
        bucket.alias("_q"),
    )
    dropped = (
        a.join(b, ["cluster", "_p", "_q"])
        .filter(F.col("id") < F.col("_idb"))
        .filter(F.round(cosine(F.col("_v"), F.col("_vb")), 6) >= tau)
        .select(F.col("_idb").alias("id"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("_dropped", F.lit(True)), "id", "left")
        .select(
            "id",
            "cluster",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
    )


def _empty_adc_result(
    corpus: DataFrame, queries: DataFrame, id_col: str, query_id_col: str
) -> DataFrame:
    """Typed empty ADC result with id types DERIVED from the inputs —
    a hardcoded long/long schema would diverge from the non-empty
    path's caller types exactly when the training corpus is empty,
    breaking downstream unions only on that path."""
    return (
        queries.select(F.col(query_id_col).alias("query_id"))
        .limit(0)
        .crossJoin(
            corpus.select(F.col(id_col).alias("neighbor_id")).limit(0)
        )
        .withColumn("approx_sqdist", F.lit(None).cast("double"))
        .withColumn("rank", F.lit(None).cast("int"))
    )


def _validate_pq_books(
    codebooks: list[list[tuple[int, list[float]]]], subdim: int
) -> None:
    """Fail fast when m*subdim overruns the vector dimension: F.slice
    silently truncates past the array end, so an oversized subspace
    trains on short/empty slices and zip_with's null padding turns the
    ADC fold into NULL distances — garbage codes with no error.  A
    truncated slice is visible in the trained centroid lengths."""
    for j, cb in enumerate(codebooks):
        for cid, vec in cb:
            if len(vec) != subdim:
                raise ValueError(
                    f"PQ codebook {j} centroid {cid} has {len(vec)} dims, "
                    f"expected subdim={subdim} — m*subdim likely exceeds "
                    "the embedding dimension (F.slice truncates silently)"
                )


def pq_train(
    df: DataFrame,
    m: int,
    subdim: int,
    k: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """Train product-quantization codebooks: an independent k-means
    per contiguous ``subdim``-wide subspace — ``_lloyd`` over m
    subspaces, initialised from the k lowest-id vectors sliced
    driver-side, so each iteration costs ONE corpus scan and ONE
    aggregate for all m subspaces.

    PQ is the storage half of the IVF-PQ architecture every billion-
    vector ANN deployment uses (Jégou et al. 2011): a d-dim float
    vector compresses to ``m`` one-byte codes (here m log2(k) bits),
    so 100 TB of raw embeddings become ~1.5 TB of codes that FIT the
    cluster's memory while distances stay approximately rankable.
    Driver footprint: k init vectors, then m × k × subdim rounded
    doubles per iteration — the same two bounded collects as
    kmeans_fit.
    """
    init = _lowest_id_vectors(df, k, id_col, vec_col)
    books = [
        [(i, v[j * subdim : (j + 1) * subdim]) for i, v in enumerate(init)]
        for j in range(m)
    ]
    _validate_pq_books(books, subdim)
    books = _lloyd(df, books, subdim, iters, vec_col)
    _validate_pq_books(books, subdim)
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    subdim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Add ``_code_j`` columns: nearest codeword per subspace
    (``_nearest``, the ``kmeans_assign`` argmin; NULL for an empty
    codebook).  Map-only: codebooks are plan literals, zero joins."""
    _validate_pq_books(codebooks, subdim)
    out = df
    for j, cb in enumerate(codebooks):
        if not cb:
            out = out.withColumn(f"_code_{j}", F.lit(None).cast("int"))
            continue
        out = out.withColumn(f"_code_{j}", _nearest(cb, _subvec(vec_col, j, subdim))["cid"])
    return out


def _adc_expr(codebooks: list[list[tuple[int, list[float]]]]) -> Column:
    """Asymmetric-distance Column over ``_q_j`` (raw query subvectors)
    and ``_code_j`` (corpus codes): Σ_j ||q_j − codebook_j[code_j]||².
    Codeword lookup is an O(k) literal-array probe (plain single-param
    closures — see the ``_nearest`` lambda note)."""
    approx = None
    for j, cb in enumerate(codebooks):
        code = F.col(f"_code_{j}")
        word = F.element_at(
            F.filter(_centroid_struct_array(cb), lambda s: s["cid"] == code),
            1,
        )["c"]
        d = sq_dist(F.col(f"_q_{j}"), word)
        approx = d if approx is None else approx + d
    return approx


def pq_topk_adc(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    subdim: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance top-k: the RAW query subvectors score
    against the corpus's QUANTIZED codewords — approx_sqdist(q, x) =
    Σ_j ||q_j − codebook_j[code_j(x)]||².

    Scale shape: the corpus is represented by its codes (m small ints
    per vector — the only corpus-side state the scan touches after
    encoding), queries and codebooks are broadcast/plan literals, and
    the ranking is the same WindowGroupLimit partial top-k as the
    brute-force path.  At 100 TB the win is bandwidth: the ADC scan
    reads codes, not vectors.  Codeword lookup is an O(k) literal-array
    probe per subspace (k <= 256 by construction — the whole point of
    PQ is tiny codebooks).

    Returns ``(query_id, neighbor_id, approx_sqdist, rank)`` with
    approx_sqdist rounded to 6dp BEFORE ranking (the registry's
    cross-engine ranking contract); ties break to the lowest
    neighbor_id.  Empty codebooks (empty training corpus) return an
    empty result with the same schema.
    """
    _validate_pq_books(codebooks, subdim)
    if any(not cb for cb in codebooks):
        return _empty_adc_result(corpus, queries, id_col, query_id_col)
    encoded = pq_encode(corpus, codebooks, subdim, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        *[F.col(f"_code_{j}") for j in range(len(codebooks))],
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        *[
            _subvec(vec_col, j, subdim).alias(f"_q_{j}")
            for j in range(len(codebooks))
        ],
    )
    approx = _adc_expr(codebooks)
    scored = (
        _fan_out(encoded)
        .crossJoin(F.broadcast(q))
        .withColumn("approx_sqdist", F.round(approx, 6))
    )
    return _top_n(scored, "query_id", "approx_sqdist", False, "neighbor_id", k).select(
        "query_id", "neighbor_id", "approx_sqdist", "rank"
    )


def pq_topk_ivf_adc(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    subdim: int,
    k: int,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ: the complete billion-vector ANN architecture — coarse
    IVF cells prune WHICH vectors are scored (~nprobe/nlist of the
    corpus), PQ codes shrink WHAT each scoring touches (m one-byte
    codes, not the raw floats).

    Plan shape: PQ encoding is map-side (codebooks as plan literals);
    cell assignment is the broadcast-centroid cross join + per-vector
    argmax window — which IS one extra shuffle of the corpus ids.  A
    fully map-only variant (centroids as plan literals, argmax via
    array_sort/least over explicit struct expressions) was built and
    measured in r12: it removes that shuffle but runs ~3x slower at
    sf0.1 — sixteen inlined interpreted-HOF cosine expressions per row
    lose to codegen over the joined form by more than the shuffle
    costs (interleaved isolated floors: 1.6 s joined vs 4.5 s
    literal).  The honest 100 TB answer is neither: precompute the
    assignment once and store the corpus bucketed by cell id (the
    codes-only layout), making BOTH the assignment and the probe join
    shuffle-free at query time.  After assignment the corpus side
    drops its raw vectors, so the probe-join shuffle moves m+1 small
    ints per vector — ~5 bytes instead of ~400.  Ranking is the usual
    WindowGroupLimit partial top-k on the rounded ADC distance.

    Coarse centroids follow the :func:`cosine_topk_ivf` convention
    (the ``nlist`` lowest-id corpus vectors — deterministic, so the
    oracle replicates; swap in k-means output for deployment).
    Returns ``(query_id, neighbor_id, approx_sqdist, rank)``.
    """
    _validate_pq_books(codebooks, subdim)
    if any(not cb for cb in codebooks):
        return _empty_adc_result(corpus, queries, id_col, query_id_col)
    m = len(codebooks)
    codes = [f"_code_{j}" for j in range(m)]
    subvecs = [f"_q_{j}" for j in range(m)]
    centroids = _lowest_id_centroids(corpus, nlist, id_col, vec_col)

    # corpus side: PQ codes + coarse cell, raw vector DROPPED after
    enc = pq_encode(corpus, codebooks, subdim, id_col, vec_col)
    c = _fan_out(
        enc.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"), *codes
        )
    )
    assigned = _nearest_cells(c, centroids, "neighbor_id", "_cv", 1, *codes)

    # query side: raw subvectors for ADC + probed cells
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        *[_subvec(vec_col, j, subdim).alias(subvecs[j]) for j in range(m)],
    )
    probed = _nearest_cells(q, centroids, "query_id", "_qv", nprobe, *subvecs)

    # probe side broadcast for the same reason as cosine_topk_ivf: it is
    # queries x nprobe rows by design, and without the hint the planner
    # sort-merge-joins on the nlist-valued (skewed) cell key, shuffling
    # the whole encoded corpus.
    scored = assigned.join(F.broadcast(probed), "_cell").withColumn(
        "approx_sqdist", F.round(_adc_expr(codebooks), 6)
    )
    return _top_n(scored, "query_id", "approx_sqdist", False, "neighbor_id", k).select(
        "query_id", "neighbor_id", "approx_sqdist", "rank"
    )
