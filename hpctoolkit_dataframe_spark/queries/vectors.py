"""Similarity search over the ``embeddings`` table (scale extension).

Brute-force cosine top-k as the correctness baseline, plus a
random-hyperplane LSH-bucketed near-duplicate variant as the scale
path.  All dot products and norms use quantized integer arithmetic
(round(x*10000) per element) so sums are order-independent and the
final cosine is a single exact-integer -> double expression — bit-
identical between Spark and DuckDB.

The hyperplane signs are derived driver-side from hashlib.md5 (pure
Python, engine-independent) and embedded as literals in BOTH the Spark
plan and the oracle SQL.

Spark-side compute stays JVM-native: ``transform``/``zip_with``/
``aggregate`` higher-order functions per row — no Python UDF, no
explode.  At scale: queries are broadcast (small side), the corpus
scan is embarrassingly parallel; the LSH variant turns the quadratic
all-pairs problem into a per-bucket self-join keyed by an 8-bit
signature.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import load_table, register, session_memo

QUANT = 10_000
N_QUERIES = 5
TOP_K = 3
N_PLANES = 8
DIM = 64
NEAR_DUP_COSINE = 0.35
# Max vectors per hyperplane bucket before the bucket is excluded from
# pair generation (zero-ish/duplicate embeddings collapse into one
# bucket; a 10^6-member bucket would emit ~10^12 candidate pairs).
# Measured max frequency: 7 at sf0.01, 23 at sf0.1 — 64 leaves the
# fixtures untouched while bounding any bucket's pair count at 64^2/2.
BUCKET_CAP = 64


def _plane(k: int) -> list[int]:
    """Deterministic pseudo-random +-1 hyperplane from md5 (k, i)."""
    return [1 if hashlib.md5(f"{k}:{i}".encode()).digest()[0] % 2 == 0 else -1
            for i in range(DIM)]


PLANES = [_plane(k) for k in range(N_PLANES)]


def _qint(col):
    """Quantized integer embedding: exact, order-independent sums."""
    return F.transform(col, lambda x: F.round(x.cast("double") * QUANT)
                       .cast("long"))


_QINT_SQL = ("list_transform({col}, x -> "
             f"CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))")


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, v: acc + v)


def _norm2(col):
    return F.aggregate(
        _qint(col), F.lit(0).cast("long"), lambda acc, v: acc + v * v)


_NORM2_SQL = ("list_sum(list_transform(" + _QINT_SQL + ", v -> v * v))")


def _nonzero_embedding(col):
    """Pushdown-cheap exact twin of ``_norm2(col) > 0`` on the RAW array.

    n2 = sum(qe^2) is NULL iff the array is NULL or has a NULL element,
    and 0 iff every element quantizes to 0; qe[i] = ROUND(x*QUANT)
    (HALF_UP, away from zero) != 0  <=>  |CAST(x AS DOUBLE) * QUANT|
    >= 0.5 evaluated on the very same double.  Filtering the RAW column
    instead of the computed n2 matters: predicate pushdown substitutes
    the alias, so ``filter(n2 > 0)`` re-evaluates the whole interpreted
    O(dim) norm lambda in a Filter node below the Project that computes
    it again (r8 matched-load A/B: knn_cosine x1.3 from exactly this).
    Both exists() scans short-circuit at the first hit.  The DuckDB
    oracles keep ``WHERE n2 > 0`` — the equivalence is engine-internal.
    """
    q = F.lit(float(QUANT))
    return (~F.exists(col, lambda x: x.isNull())) & F.exists(
        col, lambda x: F.abs(x.cast("double") * q) >= F.lit(0.5))


# ---------------------------------------------------------------------------
# brute-force cosine top-k (correctness baseline)
# ---------------------------------------------------------------------------
@register("knn_cosine", sql=f"""
WITH e AS (
  SELECT vec_id, {_QINT_SQL.format(col='embedding')} AS qe,
         CAST({_NORM2_SQL.format(col='embedding')} AS BIGINT) AS n2
  FROM embeddings
  WHERE CAST({_NORM2_SQL.format(col='embedding')} AS BIGINT) > 0
),
q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, {DIM} + 1),
              i -> q.qe[i] * c.qe[i])) AS BIGINT) AS dot,
         q.n2 AS qn2, c.n2 AS cn2
  FROM q JOIN e c ON c.vec_id != q.vec_id
),
scored AS (
  SELECT query_id, neighbor_id,
         CAST(dot AS DOUBLE)
           / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) AS cos,
         CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY CAST(dot AS DOUBLE)
             / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) DESC,
           neighbor_id ASC) AS BIGINT) AS rk
  FROM pairs
)
SELECT query_id, neighbor_id, rk, cos FROM scored WHERE rk <= {TOP_K}""")
def knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _exact_topk(spark, sf_dir, TOP_K)


def _exact_topk(spark: SparkSession, sf_dir: str,
                k: int = TOP_K) -> DataFrame:
    """Brute-force exact cosine top-k — the ground truth every ANN
    variant's recall is measured against (tests/test_vectors.py recall
    curves).

    r13 (guide §4.2, VERDICT r12 #1): the broadcast-nested-loop join of
    the 5 query vectors against the corpus plus the interpreted 64-lane
    ``aggregate`` dot per pair is now ONE mapInPandas int64 GEMM over
    the corpus against the driver-collected bounded query matrix
    (N_QUERIES rows by construction), emitting only (query_id,
    neighbor_id, cos) — each batch additionally pre-pruned to the
    query's top-k under the final window's exact (cos DESC, neighbor
    ASC) order, which is a sound reduction because that order is total.
    dot stays exact int64 and cos the identical IEEE expression, so
    every surviving row is bit-identical (the semantic_decontaminate
    precedent)."""
    from ._veckernel import knn_pair_scores

    emb = load_table(spark, sf_dir, "embeddings").filter(
        _nonzero_embedding(F.col("embedding"))).select(
        "vec_id", _qint(F.col("embedding")).alias("qe"),
        _norm2(F.col("embedding")).alias("n2"))
    # zero-norm vectors have no cosine (ANSI DIVIDE_BY_ZERO otherwise —
    # adversarial-embeddings probe); WHERE n2 > 0 in the SQL
    qrows = (emb.filter(F.col("vec_id") < N_QUERIES)
             .select("vec_id", "qe", "n2").collect())
    pairs = knn_pair_scores(emb, qrows, DIM, k)
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        pairs
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "rk", "cos")
    )


# ---------------------------------------------------------------------------
# IVF-style ANN: coarse-quantize into cells, probe the nearest cells only.
# Centroids are the first N_CELLS corpus vectors (deterministic — real
# k-means iteration would converge engine-dependently); assignment is
# exact integer L2.  The scale story: the corpus scan partitions by cell,
# a query touches N_PROBE cells instead of everything.
# ---------------------------------------------------------------------------
N_CELLS = 8
N_PROBE = 2

_L2_SQL = (f"CAST(list_sum(list_transform(range(1, {DIM} + 1), "
           "i -> (a.qe[i] - c.qe[i]) * (a.qe[i] - c.qe[i]))) AS BIGINT)")

# probe tail shared by ivf_ann (first-N centroids) and ivf_ann_trained
# (Lloyd's-trained centroids): expects CTEs `e` (vec_id, qe, n2) and
# `cent` (cell, qe) to be in scope
_IVF_TAIL_SQL = f"""assigned AS (
  SELECT a.vec_id, a.qe, a.n2, c.cell,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY {_L2_SQL} ASC, c.cell ASC) AS crk
  FROM e a CROSS JOIN cent c
  WHERE a.n2 > 0
),
cells AS (SELECT vec_id, qe, n2, cell FROM assigned WHERE crk = 1),
probes AS (
  SELECT a.vec_id AS query_id, a.qe AS qqe, a.n2 AS qn2, c.cell,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY {_L2_SQL} ASC, c.cell ASC) AS prk
  FROM e a CROSS JOIN cent c
  WHERE a.vec_id < {N_QUERIES} AND a.n2 > 0
),
cand AS (
  SELECT p.query_id, v.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, {DIM} + 1),
              i -> p.qqe[i] * v.qe[i])) AS BIGINT) AS dot,
         p.qn2, v.n2
  FROM probes p JOIN cells v ON v.cell = p.cell
  WHERE p.prk <= {N_PROBE} AND v.vec_id != p.query_id
)
SELECT query_id, neighbor_id, rk, cos FROM (
  SELECT query_id, neighbor_id,
         CAST(dot AS DOUBLE)
           / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE))) AS cos,
         CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY CAST(dot AS DOUBLE)
             / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE))) DESC,
           neighbor_id ASC) AS BIGINT) AS rk
  FROM cand
) WHERE rk <= {TOP_K}"""


def _ivf_probe(emb: DataFrame, cent: DataFrame,
               n_probe: int = N_PROBE, top_k: int = TOP_K) -> DataFrame:
    """Spark twin of _IVF_TAIL_SQL: assign corpus + queries to cells by
    exact integer L2 against ``cent`` (cell, ce), join per cell, rank by
    cosine.  ``cent`` is always tiny (N_CELLS rows) — broadcast.

    n2 > 0: a zero-norm vector has no defined cosine, and under ANSI
    mode a single one THROWS DIVIDE_BY_ZERO and kills the whole job
    (the r7 adversarial-embeddings probe finding) — the cosine family
    excludes them from both the query and candidate sets.

    r13 (guide §2.4 + §4.2, VERDICT r12 #1): assignment + probe + score
    fused into ONE mapInPandas pass — each corpus row is assigned to
    its nearest cell by the exact int64 argmin and scored (int64 GEMM)
    against the bounded set of queries probing that cell; the per-cell
    equi-join and the interpreted per-candidate 64-lane dot disappear,
    and each batch pre-prunes to the query's top-k under the final
    window's total order (sound: at most k-1 rows order before a
    surviving row anywhere).  The query probe ranking (N_QUERIES
    bounded rows) moves driver-side with the identical (dk, cell)
    rule.  dot/cos arithmetic is bit-for-bit the r12 expression."""
    from pyspark.sql import Window

    from ._veckernel import _ranked_exact, ivf_candidate_scores

    emb = emb.filter(F.col("n2") > 0)
    book = _codebook_rows(cent)

    qrows = (emb.filter(F.col("vec_id") < N_QUERIES)
             .select("vec_id", "qe", "n2").collect())
    probe_rows = [
        (int(r[0]), r[1], r[2],
         _ranked_exact(None if r[1] is None else list(r[1]),
                       book, n_probe))
        for r in qrows]
    cand = ivf_candidate_scores(emb, book, _book_dim(book), probe_rows,
                                top_k)
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        cand
        .withColumn("rk", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rk") <= top_k)
        .select("query_id", "neighbor_id", "rk", "cos")
    )


@register("ivf_ann", sql=f"""
WITH e AS (
  SELECT vec_id, {_QINT_SQL.format(col='embedding')} AS qe,
         CAST({_NORM2_SQL.format(col='embedding')} AS BIGINT) AS n2
  FROM embeddings
),
cent AS (SELECT vec_id AS cell, qe FROM e WHERE vec_id < {N_CELLS}),
{_IVF_TAIL_SQL}""")
def ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, cent = _ivf_flat_index(spark, sf_dir)
    return _ivf_probe(emb, cent)


def _ivf_flat_index(spark: SparkSession, sf_dir: str):
    """(corpus, first-N_CELLS centroids) pair behind ivf_ann — shared
    with the recall sweep so parameter variations probe the SAME
    index."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _qint(F.col("embedding")).alias("qe"),
        _norm2(F.col("embedding")).alias("n2"))
    emb = emb.localCheckpoint(eager=True)  # feeds centroid + corpus branches
    cent = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("qe").alias("ce"))
    return emb, cent


# ---------------------------------------------------------------------------
# LSH-bucketed near-duplicate pairs (the scale path for all-pairs)
# ---------------------------------------------------------------------------
def _bucket_sql() -> str:
    parts = []
    for k, plane in enumerate(PLANES):
        lit = "[" + ", ".join(str(s) for s in plane) + "]"
        parts.append(
            f"(CASE WHEN list_sum(list_transform(range(1, {DIM} + 1), "
            f"i -> qe[i] * ({lit}::BIGINT[])[i])) >= 0 "
            f"THEN {1 << k} ELSE 0 END)")
    return " + ".join(parts)


_BUCKETED_CACHE: dict = {}


@register("lsh_near_dup_pairs", sql=f"""
WITH e AS (
  SELECT vec_id, {_QINT_SQL.format(col='embedding')} AS qe,
         CAST({_NORM2_SQL.format(col='embedding')} AS BIGINT) AS n2
  FROM embeddings
  WHERE CAST({_NORM2_SQL.format(col='embedding')} AS BIGINT) > 0
),
bucketed AS (
  SELECT vec_id, qe, n2, CAST({_bucket_sql()} AS BIGINT) AS bucket FROM e
),
rare AS (
  SELECT bucket FROM bucketed GROUP BY bucket HAVING COUNT(*) <= {BUCKET_CAP}
),
pruned AS (
  SELECT b.* FROM bucketed b SEMI JOIN rare r ON r.bucket = b.bucket
),
cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(list_sum(list_transform(range(1, {DIM} + 1),
              i -> a.qe[i] * b.qe[i])) AS BIGINT) AS dot,
         a.n2 AS an2, b.n2 AS bn2
  FROM pruned a JOIN pruned b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
       CAST(dot AS DOUBLE)
         / (sqrt(CAST(an2 AS DOUBLE)) * sqrt(CAST(bn2 AS DOUBLE))) AS cos
FROM cand
WHERE CAST(dot AS DOUBLE)
        / (sqrt(CAST(an2 AS DOUBLE)) * sqrt(CAST(bn2 AS DOUBLE)))
      >= {NEAR_DUP_COSINE}""")
def lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the checkpointed bucketed table is memoized per (session, sf_dir)
    # like textops' band keys: embedding_dup_clusters and repeated bench
    # samples re-enter this pipeline, and the quantization + 8 plane
    # dots per vector are its shared prefix
    def build():
        from ._veckernel import hyperplane_bucket_udf

        emb = load_table(spark, sf_dir, "embeddings").filter(
            _nonzero_embedding(F.col("embedding"))).select(
            "vec_id", _qint(F.col("embedding")).alias("qe"),
            _norm2(F.col("embedding")).alias("n2"))
        # zero-norm: no cosine (ANSI div-by-zero)
        # r13: the 8 interpreted 64-lane plane dots per row became one
        # Arrow int64 GEMM (same sign/NULL semantics — _veckernel);
        # runs inside the checkpoint, so the query plan is unchanged
        bucket = hyperplane_bucket_udf(PLANES)(F.col("qe"))
        # spread the single input split, then materialize: quantization
        # + 8 plane dots per vector would otherwise run once PER
        # SELF-JOIN SIDE
        return (
            emb.repartition(spark.sparkContext.defaultParallelism, "vec_id")
            .withColumn("bucket", bucket.cast("long"))
            .localCheckpoint(eager=True))

    bucketed = session_memo(_BUCKETED_CACHE, spark, sf_dir, build=build)
    # Exclude hot buckets BEFORE the self-join: degenerate embeddings
    # (zeros, duplicates) collapse into one bucket, and a 10^6-member
    # bucket would emit ~10^12 candidate pairs.  Same recipe as the
    # shingle/band-key caps in textops.py; plan shape asserted in
    # tests/test_plans.py::test_lsh_near_dup_prunes_before_selfjoin.
    rare = (bucketed.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= BUCKET_CAP)
            .select("bucket"))
    bucketed = bucketed.join(rare, "bucket", "left_semi")
    a = bucketed.select(F.col("vec_id").alias("vec_a"),
                        F.col("qe").alias("qe_a"),
                        F.col("n2").alias("n2_a"), "bucket")
    b = bucketed.select(F.col("vec_id").alias("vec_b"),
                        F.col("qe").alias("qe_b"),
                        F.col("n2").alias("n2_b"),
                        F.col("bucket").alias("bucket_b"))
    cos = (_dot(F.col("qe_a"), F.col("qe_b")).cast("double")
           / (F.sqrt(F.col("n2_a").cast("double"))
              * F.sqrt(F.col("n2_b").cast("double"))))
    return (
        a.join(b, (F.col("bucket") == F.col("bucket_b"))
               & (F.col("vec_a") < F.col("vec_b")))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= NEAR_DUP_COSINE)
        .select("vec_a", "vec_b", "cos")
    )


_VEC_PAIRS_CACHE: dict = {}


def vec_pairs_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed hyperplane-LSH cosine near-dup pairs, memoized per
    (session, sf_dir) — the vector twin of textops'
    lsh_pairs_materialized.  embedding_dup_clusters re-ran the
    cap+self-join+cosine tail (with its 64-lane interpreted dot per
    candidate) on top of the memoized bucket table; the registry entry
    keeps the un-memoized plan so the cap-below-self-join pin stays
    testable."""
    return session_memo(_VEC_PAIRS_CACHE, spark, sf_dir, build=lambda: (
        lsh_near_dup_pairs(spark, sf_dir).localCheckpoint(eager=True)))


# ---------------------------------------------------------------------------
# Nearest-cell assignment (r12: map-only projection over the bounded
# driver-collected codebook — no join, no window, no exchange; r13:
# the interpreted transform/zip_with/aggregate argmin (512 interpreted
# element ops per row — the measured 8-core CPU floor, VERDICT r12 #1)
# becomes ONE Arrow int64 kernel per pass (_veckernel): numpy computes
# the identical exact distances, the identical (coalesce(d,-1), cell)
# argmin, with exact Python fallbacks for degenerate rows.  The UDF is
# non-deterministic so alias pushdown cannot re-evaluate it below a
# Filter (guide §4.4) — replacing the r12 explode substitution
# barrier.
# ---------------------------------------------------------------------------
def _codebook_rows(cent: DataFrame) -> list[tuple]:
    """Driver-collect a BOUNDED (cell, ce) codebook, sorted by cell for
    deterministic literal order."""
    rows = cent.select("cell", "ce").collect()
    return sorted(((r[0], list(r[1]) if r[1] is not None else None)
                   for r in rows), key=lambda t: t[0])


def _book_dim(book, default: int = DIM) -> int:
    """Dominant centroid width — the kernels' vectorized-path width
    (rows/centroids of any other width take the exact fallback)."""
    for _cell, ce in book:
        if ce is not None and not any(v is None for v in ce):
            return len(ce)
    return default


def _nearest_cell(emb: DataFrame, book, with_d: bool = True) -> DataFrame:
    """emb's columns + (cell, d): each row's nearest codebook cell as
    one Arrow int64 kernel projection (bit-identical argmin; see
    _veckernel.nearest_cell_udf)."""
    if not book:
        cols = [F.col(c) for c in emb.columns] + [
            F.lit(None).cast("long").alias("cell")]
        if with_d:
            cols.append(F.lit(None).cast("long").alias("d"))
        return emb.filter(F.lit(False)).select(*cols)
    from ._veckernel import nearest_cell_udf

    udf = nearest_cell_udf(book, _book_dim(book))
    tmp = emb.withColumn("__s", udf(F.col("qe")))
    cols = [F.col(c) for c in emb.columns] + [
        F.col("__s")["cell"].alias("cell")]
    if with_d:
        cols.append(F.col("__s")["d"].alias("d"))
    return tmp.select(*cols)


def _ranked_cells(emb: DataFrame, book, n_best: int) -> DataFrame:
    """emb's columns + cell, one row per (input row, nearest cell rank
    1..n_best) — the probe-width twin of _nearest_cell (Arrow kernel
    emitting the first-n_best cells in (dk, cell) order + explode)."""
    if not book:
        return emb.filter(F.lit(False)).select(
            *[F.col(c) for c in emb.columns],
            F.lit(None).cast("long").alias("cell"))
    from ._veckernel import ranked_cells_udf

    udf = ranked_cells_udf(book, _book_dim(book), n_best)
    tmp = emb.withColumn("__c", F.explode(udf(F.col("qe"))))
    return tmp.select(*[F.col(c) for c in emb.columns],
                      F.col("__c").alias("cell"))


# ---------------------------------------------------------------------------
# Lloyd's k-means training (fixed iterations, deterministic): assign
# each vector to its nearest centroid by exact integer L2, re-estimate
# each centroid as ROUND(SUM(component)::DOUBLE / COUNT) — quantized
# back to BIGINT so the next iteration's distances stay exact-integer
# and the whole training run is bit-reproducible across engines (IEEE
# division of exact <2^53 ints + half-away-from-zero rounding are
# identical in Spark and DuckDB).  Ties break (distance, cell) ASC.
# At scale each iteration is one broadcast-join assignment pass plus a
# map-side-combined (cell, position) partial-sum shuffle; the centroid
# table (N_CELLS x DIM ints) is checkpointed between iterations.
# ---------------------------------------------------------------------------
KMEANS_ITERS = 2


def _kmeans_ctes() -> str:
    """CTE chain e, c0, a1, s1, p1, c1, ..., a{K}, s{K}, p{K}, c{K}."""
    l2 = (f"CAST(list_sum(list_transform(range(1, {DIM} + 1), "
          "i -> (e.qe[i] - c.ce[i]) * (e.qe[i] - c.ce[i]))) AS BIGINT)")
    parts = [f"""e AS (
  SELECT vec_id, {_QINT_SQL.format(col='embedding')} AS qe,
         CAST({_NORM2_SQL.format(col='embedding')} AS BIGINT) AS n2
  FROM embeddings
),
c0 AS (SELECT vec_id AS cell, qe AS ce FROM e WHERE vec_id < {N_CELLS})"""]
    for k in range(1, KMEANS_ITERS + 1):
        parts.append(f"""a{k} AS (
  SELECT e.vec_id, e.qe, c.cell, {l2} AS d,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {l2} ASC, c.cell ASC) AS rk
  FROM e CROSS JOIN c{k - 1} c
),
s{k} AS (SELECT vec_id, qe, cell, d FROM a{k} WHERE rk = 1),
p{k} AS (
  SELECT cell, i,
         CAST(ROUND(CAST(SUM(qe[CAST(i AS BIGINT)]) AS DOUBLE)
                    / COUNT(*), 0) AS BIGINT) AS m
  FROM s{k} CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS i)
  GROUP BY cell, i
),
c{k} AS (SELECT cell, list(m ORDER BY i) AS ce FROM p{k} GROUP BY cell)""")
    return ",\n".join(parts)


_CORPUS_CACHE: dict = {}


def _quantized_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed (vec_id, qe, n2) corpus — the training loop and the
    probe/candidate branches all reuse one materialization.

    r12: memoized per (session, sf_dir) — nine registry entries
    (kmeans/ivf/pq/ivfpq/semdedup families) each re-quantized and
    re-checkpointed the identical corpus; one materialization per
    session is the deployment shape (guide §5: reuse + recompute cost)."""
    def build():
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _qint(F.col("embedding")).alias("qe"),
            _norm2(F.col("embedding")).alias("n2"))
        return emb.repartition(
            spark.sparkContext.defaultParallelism, "vec_id"
        ).localCheckpoint(eager=True)

    return session_memo(_CORPUS_CACHE, spark, sf_dir, build=build)


def _lloyd(emb: DataFrame, iters: int = KMEANS_ITERS,
           n_cells: int = N_CELLS) -> tuple[DataFrame, DataFrame]:
    """``iters`` Lloyd's steps over the checkpointed quantized corpus;
    returns (final centroids (cell, ce), last assignment
    (vec_id, qe, cell, d)) — the oracle's c{K} and s{K}.

    r12 shape (guide §2.4): each iteration is ONE map-only assignment
    projection feeding a 512-group aggregation whose result (the next
    codebook, n_cells x DIM ints — bounded) is collected to the driver
    and re-embedded as literals; the former per-iteration broadcast
    join + row_number window (Exchange + Sort over the rows x cells
    explosion) and per-iteration localCheckpoint are gone.  The
    re-estimate expression is verbatim the old one, so every centroid
    and assignment row is bit-identical."""
    spark = emb.sparkSession
    if iters == 0:
        # before the seed collect: the iters == 0 path discards the
        # collected book, so collecting first paid a wasted Spark job
        # (ADVICE r12)
        cents = emb.filter(F.col("vec_id") < n_cells).select(
            F.col("vec_id").alias("cell"), F.col("qe").alias("ce"))
        return cents, None
    book = _codebook_rows(
        emb.filter(F.col("vec_id") < n_cells)
        .select(F.col("vec_id").alias("cell"), F.col("qe").alias("ce")))
    assigned = None
    for _ in range(iters):
        # ONE job per iteration: the re-estimate collect materializes
        # the LAZY checkpoint's blocks as it scans (the argmin runs
        # once; consumers of the returned assignment read the blocks)
        assigned = (_nearest_cell(emb, book)
                    .select("vec_id", "qe", "cell", "d")
                    .localCheckpoint(eager=False))
        rows = (
            assigned.select("cell", F.posexplode("qe").alias("i", "v"))
            .groupBy("cell", "i")
            .agg(F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 0)
                 .cast("long").alias("mv"))
            .collect())
        bycell: dict = {}
        for r in rows:
            bycell.setdefault(r["cell"], {})[r["i"]] = r["mv"]
        book = sorted(
            ((cell, [pos[i] for i in sorted(pos)])
             for cell, pos in bycell.items()), key=lambda t: t[0])
    # like the old loop, the returned assignment is against the
    # PENULTIMATE codebook (the last iteration's argmin ran before its
    # re-estimate) and is materialized for the multi-consumer entries
    cents = spark.createDataFrame(
        [(cell, ce) for cell, ce in book], "cell long, ce array<long>")
    return cents, assigned


_LLOYD_CACHE: dict = {}


def _lloyd_trained(spark: SparkSession,
                   sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Memoized default-args Lloyd run over the quantized corpus, per
    (session, sf_dir) — the trained coarse codebook + final assignment
    that five registry entries (kmeans_centroids, ivf_ann_trained,
    ivfpq_ann, semdedup_prune, semdedup_cell_pressure) each re-trained
    from scratch (KMEANS_ITERS broadcast-join+window+re-estimate rounds
    apiece).  Training is the materialized index a deployment persists
    (same argument as _pq_train); memoizing it removes the repeated
    iteration rounds without changing a single output row.  ``cents``
    is checkpointed too (N_CELLS rows) so consumers don't re-run the
    two re-estimate aggregations per action."""
    def build():
        cents, assigned = _lloyd(_quantized_corpus(spark, sf_dir))
        return cents.localCheckpoint(eager=True), assigned

    return session_memo(_LLOYD_CACHE, spark, sf_dir, build=build)


@register("kmeans_centroids", sql=f"""
WITH {_kmeans_ctes()},
fin AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(SUM(d) AS BIGINT) AS inertia
  FROM s{KMEANS_ITERS} GROUP BY cell
)
SELECT f.cell, f.n_vecs, f.inertia,
       array_to_string(c.ce, '/') AS centroid_q
FROM fin f JOIN c{KMEANS_ITERS} c ON c.cell = f.cell""")
def kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration Lloyd's training; outputs per-cell membership
    count, the final assignment cost (exact integer inertia), and the
    re-estimated centroid (quantized ints, '/'-joined)."""
    cents, assigned = _lloyd_trained(spark, sf_dir)
    fin = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("d").cast("long").alias("inertia"))
    return (
        fin.join(F.broadcast(cents), "cell")
        .select("cell", "n_vecs", "inertia",
                F.array_join(F.transform("ce", lambda x: x.cast("string")),
                             "/").alias("centroid_q"))
    )


@register("ivf_ann_trained", sql=f"""
WITH {_kmeans_ctes()},
cent AS (SELECT cell, ce AS qe FROM c{KMEANS_ITERS}),
{_IVF_TAIL_SQL}""")
def ivf_ann_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe against Lloyd's-TRAINED centroids instead of the
    first-{N_CELLS} corpus vectors: the real trained-ANN pipeline —
    train (fixed deterministic iterations), assign, probe."""
    emb = _quantized_corpus(spark, sf_dir)
    cents, _ = _lloyd_trained(spark, sf_dir)
    return _ivf_probe(emb, cents)


# ---------------------------------------------------------------------------
# element-wise centroids per label — the aggregation that IVF training
# runs at scale: posexplode -> (label, position) partial sums (map-side
# combined), exact quantized-int arithmetic so the oracle hashes match.
# ---------------------------------------------------------------------------
@register("embedding_centroids", sql=f"""
WITH q AS (
  SELECT label, {_QINT_SQL.format(col='embedding')} AS qe FROM embeddings
),
pos AS (
  SELECT label, i, CAST(SUM(qe[CAST(i AS BIGINT)]) AS BIGINT) AS s
  FROM q CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS i)
  GROUP BY label, i
),
cnt AS (SELECT label, COUNT(*) AS n FROM q GROUP BY label)
SELECT p.label,
       CAST(c.n AS BIGINT) AS n_vecs,
       string_agg(CAST(p.s AS VARCHAR), '/' ORDER BY p.i) AS centroid_q
FROM pos p JOIN cnt c ON c.label = p.label
GROUP BY p.label, c.n""")
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("label", _qint(F.col("embedding")).alias("qe"))
    pos = (
        q.select("label", F.posexplode("qe").alias("i", "v"))
        .groupBy("label", "i")
        .agg(F.sum("v").alias("s"))
    )
    cnt = q.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    agg = pos.groupBy("label").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("i", "s"))),
                        lambda x: x["s"].cast("string")), "/")
        .alias("centroid_q"))
    return (
        agg.join(F.broadcast(cnt), "label")
        .select("label", F.col("n_vecs").cast("long").alias("n_vecs"),
                "centroid_q")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): split each vector into M_SUB subspaces,
# train a tiny codebook per subspace (the SAME deterministic integer
# Lloyd's as above, just narrower), and represent every vector by
# M_SUB small codes.  This is ANN's MEMORY story at 100 TB: a 64-dim
# float vector (256 B) compresses to M_SUB bytes, so a billion-vector
# index lives in executor memory and search scans codes, not vectors.
# Query-time distances are asymmetric (ADC): the exact query subvector
# against each codebook centroid gives an (N_QUERIES x K_PQ) lookup
# table per subspace — broadcast-sized — and a corpus row costs M_SUB
# table lookups + adds instead of a DIM-wide dot product.  Everything
# stays exact-integer, so both queries are hash-exact cross-engine.
# In production PQ composes with IVF (probe cells, then ADC-scan only
# the probed cells' codes); kept orthogonal here so each is oracled
# independently.
# ---------------------------------------------------------------------------
M_SUB = 4
SUBDIM = DIM // M_SUB
K_PQ = 8


def _pq_ctes() -> str:
    """Per-subspace kmeans CTE chains b{m}c0..b{m}c{K}, b{m}s{K}."""
    parts = [f"""eq AS (
  SELECT vec_id, {_QINT_SQL.format(col='embedding')} AS qe FROM embeddings
)"""]
    l2 = (f"CAST(list_sum(list_transform(range(1, {SUBDIM} + 1), "
          "i -> (e.qe[i] - c.ce[i]) * (e.qe[i] - c.ce[i]))) AS BIGINT)")
    for m in range(M_SUB):
        lo, hi = m * SUBDIM + 1, (m + 1) * SUBDIM
        parts.append(
            f"e{m} AS (SELECT vec_id, list_slice(qe, {lo}, {hi}) AS qe"
            f" FROM eq),\n"
            f"b{m}c0 AS (SELECT vec_id AS cell, qe AS ce FROM e{m}"
            f" WHERE vec_id < {K_PQ})")
        for k in range(1, KMEANS_ITERS + 1):
            parts.append(f"""b{m}a{k} AS (
  SELECT e.vec_id, e.qe, c.cell, {l2} AS d,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {l2} ASC, c.cell ASC) AS rk
  FROM e{m} e CROSS JOIN b{m}c{k - 1} c
),
b{m}s{k} AS (SELECT vec_id, qe, cell, d FROM b{m}a{k} WHERE rk = 1),
b{m}p{k} AS (
  SELECT cell, i,
         CAST(ROUND(CAST(SUM(qe[CAST(i AS BIGINT)]) AS DOUBLE)
                    / COUNT(*), 0) AS BIGINT) AS m
  FROM b{m}s{k} CROSS JOIN (SELECT unnest(range(1, {SUBDIM} + 1)) AS i)
  GROUP BY cell, i
),
b{m}c{k} AS (SELECT cell, list(m ORDER BY i) AS ce FROM b{m}p{k}
             GROUP BY cell)""")
    return ",\n".join(parts)


_PQ_CACHE: dict = {}


def _pq_assigned(emb: DataFrame, books: list[list[tuple]]) -> DataFrame:
    """(m, vec_id, qe, cell, d): every vector's nearest codebook cell
    in every subspace — ONE Arrow int64 kernel crossing for all M_SUB
    books (r13; was M_SUB interpreted argmin columns) + explode.  The
    emitted ``qe`` is the m-th slice, computed JVM-side after the
    explode.  ``books[m]`` is subspace m's bounded codebook; a
    subspace with an empty codebook emits no rows (the old join-on-m
    drop semantics)."""
    if not any(books[m] for m in range(M_SUB)):
        return emb.filter(F.lit(False)).select(
            F.lit(None).cast("int").alias("m"), "vec_id",
            F.lit(None).cast("array<long>").alias("qe"),
            F.lit(None).cast("long").alias("cell"),
            F.lit(None).cast("long").alias("d"))
    from ._veckernel import pq_assign_udf

    udf = pq_assign_udf(books, SUBDIM)
    tmp = emb.withColumn("__s", F.explode(udf(F.col("qe"))))
    return tmp.select(
        F.col("__s")["m"].alias("m"), "vec_id",
        F.expr(f"slice(qe, `__s`.m * {SUBDIM} + 1, {SUBDIM})").alias("qe"),
        F.col("__s")["cell"].alias("cell"),
        F.col("__s")["d"].alias("d"))


def _pq_train(spark: SparkSession, sf_dir: str):
    """All M_SUB codebooks trained in ONE Lloyd pipeline — identical
    per-subspace semantics (same seeds, same (d, cell) tie-break).
    Memoized per (session, sf_dir) like build_cct: training is the
    materialized index a deployment persists; pq_codes and pq_ann both
    read it.  Returns (emb, cents (m, cell, ce),
    assigned (m, vec_id, cell, d)).

    r12 shape (guide §2.4, same rewrite as _lloyd): per iteration one
    map-only assignment + one bounded (m, cell, i) aggregation
    collected to the driver (M_SUB x K_PQ x SUBDIM = 512 ints) —
    replaces the per-iteration broadcast join + row_number window
    (Exchange + Sort over the 4x-exploded corpus) + localCheckpoint.
    Re-estimate arithmetic verbatim, outputs bit-identical."""
    return session_memo(_PQ_CACHE, spark, sf_dir,
                        build=lambda: _pq_build(spark, sf_dir))


def _pq_build(spark: SparkSession, sf_dir: str):
    emb = _quantized_corpus(spark, sf_dir)
    seed = sorted(emb.filter(F.col("vec_id") < K_PQ)
                  .select("vec_id", "qe").collect(),
                  key=lambda r: r["vec_id"])
    books: list[list[tuple]] = []
    for m in range(M_SUB):
        bm = []
        for r in seed:
            qe = r["qe"]
            ce = (None if qe is None
                  else list(qe[m * SUBDIM:(m + 1) * SUBDIM]))
            bm.append((int(r["vec_id"]), ce))
        books.append(bm)
    assigned = None
    for _ in range(KMEANS_ITERS):
        # ONE job per iteration: lazy checkpoint materialized by the
        # re-estimate collect (same shape as _lloyd)
        assigned = _pq_assigned(emb, books).localCheckpoint(eager=False)
        rows = (
            assigned.select("m", "cell", F.posexplode("qe").alias("i", "v"))
            .groupBy("m", "cell", "i")
            .agg(F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 0)
                 .cast("long").alias("c"))
            .collect())
        bykey: dict = {}
        for r in rows:
            bykey.setdefault((r["m"], r["cell"]), {})[r["i"]] = r["c"]
        books = [
            sorted(((cell, [pos[i] for i in sorted(pos)])
                    for (m2, cell), pos in bykey.items() if m2 == m),
                   key=lambda t: t[0])
            for m in range(M_SUB)]
    cents = spark.createDataFrame(
        [(m, cell, ce) for m in range(M_SUB) for cell, ce in books[m]],
        "m int, cell long, ce array<long>")
    return emb, cents, assigned


_K = KMEANS_ITERS
_CODE_SQL = " || '/' || ".join(
    f"CAST(b{m}s{_K}.cell AS VARCHAR)" for m in range(M_SUB))
_QERR_SQL = " + ".join(f"b{m}s{_K}.d" for m in range(M_SUB))
_CODE_JOINS = "\n".join(
    f"JOIN b{m}s{_K} ON b{m}s{_K}.vec_id = b0s{_K}.vec_id"
    for m in range(1, M_SUB))


@register("pq_codes", sql=f"""
WITH {_pq_ctes()}
SELECT b0s{_K}.vec_id, {_CODE_SQL} AS code,
       CAST({_QERR_SQL} AS BIGINT) AS qerr
FROM b0s{_K}
{_CODE_JOINS}""")
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector's PQ code ('/'-joined per-subspace codebook cells)
    plus its exact integer quantization error — the compressed index a
    billion-vector deployment would persist instead of raw vectors."""
    _, _, assigned = _pq_train(spark, sf_dir)
    # one conditional-aggregation shuffle pivots (m, cell, d) wide
    out = assigned.groupBy("vec_id").agg(
        *[F.max(F.when(F.col("m") == m, F.col("cell"))).alias(f"k{m}")
          for m in range(M_SUB)],
        F.sum("d").cast("long").alias("qerr"))
    code = F.concat_ws(
        "/", *[F.col(f"k{m}").cast("string") for m in range(M_SUB)])
    return out.select("vec_id", code.alias("code"), "qerr")


_ADC_TABLES = ",\n".join(f"""t{m} AS (
  SELECT q.vec_id AS query_id, c.cell,
         CAST(list_sum(list_transform(range(1, {SUBDIM} + 1),
              i -> (q.qe[i] - c.ce[i]) * (q.qe[i] - c.ce[i])))
           AS BIGINT) AS d
  FROM e{m} q CROSS JOIN b{m}c{_K} c WHERE q.vec_id < {N_QUERIES}
)""" for m in range(M_SUB))

_ADC_JOINS = "\n".join(
    f"  JOIN t{m} ON t{m}.cell = x.k{m} AND t{m}.query_id = t0.query_id"
    for m in range(1, M_SUB))


@register("pq_ann", sql=f"""
WITH {_pq_ctes()},
codes AS (
  SELECT b0s{_K}.vec_id, {', '.join(f'b{m}s{_K}.cell AS k{m}'
                                    for m in range(M_SUB))}
  FROM b0s{_K}
  {_CODE_JOINS}
),
{_ADC_TABLES},
scored AS (
  SELECT t0.query_id, x.vec_id AS neighbor_id,
         CAST({' + '.join(f't{m}.d' for m in range(M_SUB))} AS BIGINT)
           AS adc_d
  FROM codes x
  JOIN t0 ON t0.cell = x.k0
{_ADC_JOINS}
  WHERE x.vec_id != t0.query_id
)
SELECT query_id, neighbor_id, rk, adc_d FROM (
  SELECT query_id, neighbor_id, adc_d,
         CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY adc_d ASC, neighbor_id ASC) AS BIGINT) AS rk
  FROM scored
) WHERE rk <= {TOP_K}""")
def pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the PQ codes: per subspace
    an (N_QUERIES x K_PQ) exact-integer lookup table broadcasts, the
    corpus contributes only its codes, and each candidate costs M_SUB
    lookups + adds.  Ranking is (adc distance ASC, neighbor ASC) —
    deterministic, so the oracle hashes exactly."""
    return _pq_topk(spark, sf_dir)


def _pq_topk(spark: SparkSession, sf_dir: str,
             top_k: int = TOP_K) -> DataFrame:
    """pq_ann's body with k as a parameter (recall sweep)."""
    from pyspark.sql import Window

    emb, cents, assigned = _pq_train(spark, sf_dir)
    codes = assigned.groupBy("vec_id").agg(
        *[F.max(F.when(F.col("m") == m, F.col("cell"))).alias(f"k{m}")
          for m in range(M_SUB)])
    l2 = F.aggregate(
        F.zip_with(F.col("qe"), F.col("ce"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    # ADC lookup tables: query subvectors x codebook centroids, all
    # subspaces in one frame (N_QUERIES x M_SUB x K_PQ rows — broadcast)
    qsub = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(F.array(*[
            F.slice("qe", m * SUBDIM + 1, SUBDIM) for m in range(M_SUB)
        ])).alias("m", "qe"))
    table = (qsub.join(F.broadcast(cents), "m").withColumn("d", l2)
             .select("query_id", "m", "cell", "d")
             .localCheckpoint(eager=True))
    scored = codes
    for m in range(M_SUB):
        t = table.filter(F.col("m") == m).select(
            "query_id", F.col("cell").alias(f"k{m}"),
            F.col("d").alias(f"d{m}"))
        scored = scored.join(
            F.broadcast(t), [f"k{m}"] if m == 0 else ["query_id", f"k{m}"])
    adc = None
    for m in range(M_SUB):
        adc = F.col(f"d{m}") if adc is None else adc + F.col(f"d{m}")
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d").asc(), F.col("neighbor_id").asc())
    return (scored
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    adc.cast("long").alias("adc_d"))
            .withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= top_k)
            .select("query_id", "neighbor_id", "rk", "adc_d"))


# ---------------------------------------------------------------------------
# IVF + PQ composed (the production layout: probe coarse cells, then
# ADC-scan only the probed cells' CODES).  Coarse quantizer = the same
# deterministic Lloyd's as ivf_ann_trained; fine codes = pq_codes'
# per-subspace codebooks over the raw vectors (flat PQ — residual
# encoding would change the oracle story without changing the plan
# shape).  At 100 TB: the coarse assignment prunes ~(1 - n_probe/
# n_cells) of the corpus BEFORE any distance work, and what remains is
# scanned as M_SUB-byte codes against broadcast lookup tables.
# ---------------------------------------------------------------------------
_IVFPQ_PROBE_SQL = f"""probe AS (
  SELECT a.vec_id AS query_id, c.cell,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY {_L2_SQL} ASC, c.cell ASC) AS prk
  FROM e a CROSS JOIN (SELECT cell, ce AS qe FROM c{_K}) c
  WHERE a.vec_id < {N_QUERIES}
),
ivf_cand AS (
  SELECT p.query_id, s.vec_id
  FROM probe p JOIN s{_K} s ON s.cell = p.cell
  WHERE p.prk <= {N_PROBE} AND s.vec_id != p.query_id
)"""


@register("ivfpq_ann", sql=f"""
WITH {_kmeans_ctes()},
{_pq_ctes()},
codes AS (
  SELECT b0s{_K}.vec_id, {', '.join(f'b{m}s{_K}.cell AS k{m}'
                                    for m in range(M_SUB))}
  FROM b0s{_K}
  {_CODE_JOINS}
),
{_ADC_TABLES},
{_IVFPQ_PROBE_SQL},
scored AS (
  SELECT c.query_id, x.vec_id AS neighbor_id,
         CAST({' + '.join(f't{m}.d' for m in range(M_SUB))} AS BIGINT)
           AS adc_d
  FROM ivf_cand c
  JOIN codes x ON x.vec_id = c.vec_id
  JOIN t0 ON t0.query_id = c.query_id AND t0.cell = x.k0
{_ADC_JOINS.replace('t0.query_id', 'c.query_id')}
)
SELECT query_id, neighbor_id, rk, adc_d FROM (
  SELECT query_id, neighbor_id, adc_d,
         CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY adc_d ASC, neighbor_id ASC) AS BIGINT) AS rk
  FROM scored
) WHERE rk <= {TOP_K}""")
def ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe the trained coarse cells, then rank ONLY those cells'
    members by PQ asymmetric distance.  The coarse centroid table and
    every per-query ADC lookup table broadcast; the corpus contributes
    one coarse-assignment row and one code row per vector — no
    full-dimension distance against any non-probed vector anywhere in
    the plan."""
    return _ivfpq_topk(spark, sf_dir)


def _ivfpq_topk(spark: SparkSession, sf_dir: str,
                n_probe: int = N_PROBE, top_k: int = TOP_K) -> DataFrame:
    """ivfpq_ann's body with the probe width and k as parameters (the
    recall sweep varies them; the registered entry uses the
    defaults)."""
    from pyspark.sql import Window

    emb = _quantized_corpus(spark, sf_dir)
    coarse_cents, coarse_assigned = _lloyd_trained(spark, sf_dir)
    _, pq_cents, pq_assigned = _pq_train(spark, sf_dir)
    codes = pq_assigned.groupBy("vec_id").agg(
        *[F.max(F.when(F.col("m") == m, F.col("cell"))).alias(f"k{m}")
          for m in range(M_SUB)])
    l2 = F.aggregate(
        F.zip_with(F.col("qe"), F.col("ce"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    # r12: probe ranking as a map-only sorted-slice over the collected
    # coarse codebook (was crossJoin + row_number window)
    probes = _ranked_cells(
        emb.filter(F.col("vec_id") < N_QUERIES), _codebook_rows(coarse_cents),
        n_probe).select(F.col("vec_id").alias("query_id"), "cell")
    cand = (
        probes.join(coarse_assigned.select("vec_id", "cell"), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id"))
    # per-query ADC lookup tables, same construction as pq_ann
    qsub = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(F.array(*[
            F.slice("qe", m * SUBDIM + 1, SUBDIM) for m in range(M_SUB)
        ])).alias("m", "qe"))
    table = (qsub.join(F.broadcast(pq_cents), "m").withColumn("d", l2)
             .select("query_id", "m", "cell", "d")
             .localCheckpoint(eager=True))
    scored = cand.join(codes, "vec_id")
    for m in range(M_SUB):
        t = table.filter(F.col("m") == m).select(
            "query_id", F.col("cell").alias(f"k{m}"),
            F.col("d").alias(f"d{m}"))
        scored = scored.join(F.broadcast(t), ["query_id", f"k{m}"])
    adc = None
    for m in range(M_SUB):
        adc = F.col(f"d{m}") if adc is None else adc + F.col(f"d{m}")
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("adc_d").asc(), F.col("neighbor_id").asc())
    return (scored
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    adc.cast("long").alias("adc_d"))
            .withColumn("rk", F.row_number().over(w_rank).cast("long"))
            .filter(F.col("rk") <= top_k)
            .select("query_id", "neighbor_id", "rk", "adc_d"))


# ---------------------------------------------------------------------------
# IVF index maintenance: the coarse codebook is trained ONCE (the
# expensive pass); from then on new vectors get assigned to their
# nearest fixed cell and land in the cell-partitioned store
# (streaming/vectors.py) — queries probe cells against the store
# without ever touching raw history.
# ---------------------------------------------------------------------------
def assign_to_cells(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, qe, n2, cell): nearest-centroid assignment by exact
    integer L2 with the (d, cell) tie-break — the same rule the trainer
    and the oracle use.  ``cents`` is N_CELLS rows — driver-collected
    and embedded as literals (r12): the per-batch assignment is a
    map-only projection with no Exchange, the right shape for a
    streaming ingest pass at scale."""
    return _nearest_cell(emb, _codebook_rows(cents), with_d=False).select(
        "vec_id", "qe", "n2", "cell")


def probe_cells(queries_emb: DataFrame, cents: DataFrame,
                cells: DataFrame) -> DataFrame:
    """Top-k cosine against an assigned-cells frame: probe N_PROBE
    nearest cells per query, rank only those cells' vectors.  ``cells``
    may be an in-memory assignment (twin tests) or the persisted store
    (streaming/vectors.py) — identical semantics either way.

    n2 > 0 on BOTH inputs: the cosine-family zero-norm exclusion
    (_ivf_probe docstring) applied here too — the streaming store is
    filtered at ingest, but an in-memory assignment or a raw query
    frame may still carry a zero-norm vector, and one throws ANSI
    DIVIDE_BY_ZERO (found by the r8 streaming x skew x adversarial
    probe: the skewadv clone's zero-norm query vector killed every
    store probe).  Both frames carry a MATERIALIZED n2 column
    (checkpoint / parquet store), so this is a cheap column predicate,
    not the aliased-lambda double-eval the census bans."""
    from pyspark.sql import Window

    queries_emb = queries_emb.filter(F.col("n2") > 0)
    cells = cells.filter(F.col("n2") > 0)

    # r12: probe ranking as a map-only sorted-slice over the collected
    # bounded codebook (was crossJoin + row_number window)
    probes = _ranked_cells(
        queries_emb, _codebook_rows(cents), N_PROBE
    ).select(F.col("vec_id").alias("query_id"),
             F.col("qe").alias("qqe"),
             F.col("n2").alias("qn2"), "cell")
    cand = probes.join(cells.withColumnRenamed("cell", "vcell"),
                       (F.col("vcell") == F.col("cell"))
                       & (F.col("vec_id") != F.col("query_id")))
    cos = (_dot(F.col("qqe"), F.col("qe")).cast("double")
           / (F.sqrt(F.col("qn2").cast("double"))
              * F.sqrt(F.col("n2").cast("double"))))
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (cand.select("query_id", F.col("vec_id").alias("neighbor_id"),
                        cos.alias("cos"))
            .withColumn("rk", F.row_number().over(w_rank).cast("long"))
            .filter(F.col("rk") <= TOP_K)
            .select("query_id", "neighbor_id", "rk", "cos"))


# ---------------------------------------------------------------------------
# Recall/parameter sweep (VERDICT r6 next #4): recall@k of each ANN
# variant against the brute-force exact twin, as a function of the
# probe width.  Makes the accuracy-cost trade explicit and guards the
# codebooks — a silent centroid/codebook regression shows up as a
# recall drop before any oracle notices.  Driver-side sets are bounded
# by N_QUERIES x k (<= 50 rows); the distance work stays distributed.
# ---------------------------------------------------------------------------
def recall_curve(spark: SparkSession, sf_dir: str, variant: str = "ivf",
                 probes=(1, 2, 4, 8), k: int = TOP_K) -> list[tuple[int, float]]:
    """[(n_probe, recall@k), ...] for ``variant`` in {'ivf',
    'ivf_trained', 'ivfpq'} vs the exact cosine top-k.  Probing all
    N_CELLS cells makes the flat-IVF candidate set exhaustive, so its
    recall is 1.0 at n_probe=N_CELLS by construction; ivfpq stays
    below that ceiling by its quantization error."""
    exact = {(r["query_id"], r["neighbor_id"])
             for r in _exact_topk(spark, sf_dir, k).collect()}
    if variant in ("ivf", "ivf_trained"):
        if variant == "ivf":
            emb, cent = _ivf_flat_index(spark, sf_dir)
        else:
            emb = _quantized_corpus(spark, sf_dir)
            cent, _ = _lloyd_trained(spark, sf_dir)
        ann = lambda p: _ivf_probe(emb, cent, n_probe=p, top_k=k)  # noqa: E731
    elif variant == "ivfpq":
        ann = lambda p: _ivfpq_topk(spark, sf_dir, n_probe=p, top_k=k)  # noqa: E731
    else:
        raise ValueError(variant)
    curve = []
    for p in probes:
        got = {(r["query_id"], r["neighbor_id"]) for r in ann(p).collect()}
        curve.append((p, len(got & exact) / len(exact)))
    return curve


def pq_recall(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> float:
    """recall@k of the full-scan ADC ranking (pq_ann) vs exact — the
    pure quantization-error measurement, no probe pruning involved."""
    exact = {(r["query_id"], r["neighbor_id"])
             for r in _exact_topk(spark, sf_dir, k).collect()}
    got = {(r["query_id"], r["neighbor_id"])
           for r in _pq_topk(spark, sf_dir, k).collect()}
    return len(got & exact) / len(exact)
