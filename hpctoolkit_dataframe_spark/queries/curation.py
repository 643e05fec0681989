"""Curation-policy, governance, and ranking queries: the decision layer
a production training-data pipeline runs AFTER dedup/quality primitives
exist.

- ``bm25_topk``: full BM25 document ranking (Robertson k1=1.2 b=0.75) —
  upgrade of the integer-IDF ``keyword_search_topk``.  The TF-saturation
  term is kept as ONE division of exact integers (so it is bit-identical
  across engines); the only transcendental (``ln`` in the IDF) is
  micro-quantized immediately (ROUND(*1e6)) per the repo rule that any
  gate column fed by libm must be quantized (CLAUDE.md: Math.pow is
  JIT-bistable; ln shares the hazard class).
- ``semdedup_prune``: SemDeDup-style semantic dedup (Abbas et al. 2023,
  arXiv:2303.09540): cluster embeddings with the existing deterministic
  integer-Lloyd k-means, then drop any vector whose cosine to a
  lower-id vector IN THE SAME CLUSTER clears a threshold.  The cosine
  gate is evaluated as an EXACT integer comparison (dot>0 and
  400*dot^2 >= 49*|a|^2*|b|^2  <=>  cos >= 0.35) in DECIMAL(38)/HUGEINT
  — no sqrt, no doubles, no threshold-boundary hazard.
- ``dedup_keep_best``: curation policy over near-dup clusters — instead
  of keep-lowest-id, keep the member with the best quality score
  (chars-per-token density, the ``quality_top_decile`` metric).
- ``dq_report``: declarative data-quality expectations over the TPC-H
  tables (null/domain/range checks as ONE conditional-aggregation scan
  per table, plus referential and temporal checks as anti-join /
  join counts) unpivoted into a (check_id, tbl, violations, total)
  report — the validation gate a 100 TB ingest runs before publishing.
- ``scd2_customer_history``: slowly-changing-dimension type-2 merge of
  two deterministic customer snapshots (change + delete simulation)
  into validity intervals via gaps-and-islands windows — the CDC/upsert
  pattern of warehouse ingestion.
- ``er_part_pairs``: record linkage over structured rows (vs the text
  near-dup suite): blocking on (name noun, brand), edit-distance
  verification, all-JVM levenshtein — the classic entity-resolution
  two-phase shape.

Reference parity note: mbdevpl/hpctoolkit_dataframe has none of this
surface; these extend the LLM-pipeline suite (SURVEY.md §6).

100 TB shapes: bm25 is two token-keyed exchanges (tf, df) + one
broadcast of the per-token IDF table; semdedup bounds the quadratic
verify inside k-means cells (n_cells scales with corpus size; cells are
the IVF cells already used for ANN); dq_report is one scan per table +
key-partitioned anti-joins; scd2 is a single (custkey)-shuffle of the
two snapshots; er_part_pairs' candidate set is |block|^2 with blocks
keyed by (noun, brand) — multi-pass blocking, not a cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from . import REGISTRY, load_table, register, session_memo
from .vectors import (
    DIM, KMEANS_ITERS, _NORM2_SQL, _QINT_SQL, _kmeans_ctes,
    _lloyd_trained, _nonzero_embedding, _norm2, _qint, _quantized_corpus)

# ---------------------------------------------------------------------------
# BM25 top-k ranking
# ---------------------------------------------------------------------------
BM25_TOKENS = ("spark", "join", "window")
BM25_TOP_K = 10
IDF_MICRO = 1_000_000
# k1 = 6/5, b = 3/4.  score_term = idf * tf*(k1+1) / (tf + k1*(1-b) +
# k1*b*dl/avgdl) with avgdl = T/D; multiplying through by 10*T gives
#   idf * 22*T*tf / (10*T*tf + 3*T + 9*dl*D)
# — numerator and denominator are exact BIGINTs, so the per-term value
# is ONE IEEE division, identical across engines.

_BM25_QT_SQL = "[" + ", ".join(f"'{t}'" for t in BM25_TOKENS) + "]"


# shared CTE chain ending in s(doc_id, score_u, n_terms) — bm25_topk
# consumes it directly; hybrid_search_rrf fuses it with the dense leg
_BM25_CORE_CTES = f"""d AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS toks
  FROM documents WHERE text IS NOT NULL
),
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
g AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS tt
      FROM dl),
tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
       WHERE token IN (SELECT unnest({_BM25_QT_SQL}))
       GROUP BY doc_id, token),
idf AS (
  SELECT token,
         CAST(ROUND(ln(1 + CAST(2 * g.nd - 2 * df + 1 AS DOUBLE)
                           / CAST(2 * df + 1 AS DOUBLE))
                    * {IDF_MICRO}, 0) AS BIGINT) AS idf_u
  FROM (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf
        GROUP BY token) CROSS JOIN g
),
term AS (
  SELECT t.doc_id,
         CAST(ROUND(CAST(i.idf_u * 22 * g.tt * t.tf AS DOUBLE)
                    / CAST(10 * g.tt * t.tf + 3 * g.tt
                           + 9 * l.dl * g.nd AS DOUBLE), 0) AS BIGINT)
           AS term_u
  FROM tf t
  JOIN idf i ON i.token = t.token
  JOIN dl l ON l.doc_id = t.doc_id
  CROSS JOIN g
),
s AS (SELECT doc_id, CAST(SUM(term_u) AS BIGINT) AS score_u,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM term GROUP BY doc_id)"""


@register("bm25_topk", sql=f"""
WITH {_BM25_CORE_CTES}
SELECT doc_id, CAST(score_u AS DOUBLE) / {IDF_MICRO} AS bm25, n_terms
FROM s ORDER BY score_u DESC, doc_id ASC LIMIT {BM25_TOP_K}""")
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k: two token exchanges (tf, df) + a broadcast IDF dim.
    The corpus scalars (doc count, total tokens) ride a broadcast 1-row
    frame; ordering ties break on the exact integer micro-score, never
    on a double."""
    s = _bm25_scores(spark, sf_dir)
    return (s.orderBy(F.col("score_u").desc(), F.col("doc_id").asc())
            .limit(BM25_TOP_K)
            .select("doc_id",
                    (F.col("score_u").cast("double") / IDF_MICRO)
                    .alias("bm25"),
                    "n_terms"))


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score_u, n_terms) for every document matching >= 1
    query token — the shared sparse-scoring core."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull())
         .select("doc_id", F.split(F.col("text"), r"\s+").alias("toks")))
    dl = d.select("doc_id", F.size("toks").cast("long").alias("dl"))
    g = dl.agg(F.count(F.lit(1)).cast("long").alias("nd"),
               F.sum("dl").cast("long").alias("tt"))
    tf = (d.select("doc_id", F.explode("toks").alias("token"))
          .filter(F.col("token").isin(list(BM25_TOKENS)))
          .groupBy("doc_id", "token")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    idf = (tf.groupBy("token")
           .agg(F.count(F.lit(1)).cast("long").alias("df"))
           .crossJoin(F.broadcast(g))
           .select("token", F.expr(
               f"cast(round(ln(1 + cast(2 * nd - 2 * df + 1 as double)"
               f" / cast(2 * df + 1 as double)) * {IDF_MICRO}, 0)"
               " as bigint)").alias("idf_u")))
    term = (tf.join(F.broadcast(idf), "token")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(g))
            .select("doc_id", F.expr(
                "cast(round(cast(idf_u * 22 * tt * tf as double)"
                " / cast(10 * tt * tf + 3 * tt + 9 * dl * nd as double),"
                " 0) as bigint)").alias("term_u")))
    return term.groupBy("doc_id").agg(
        F.sum("term_u").cast("long").alias("score_u"),
        F.count(F.lit(1)).cast("long").alias("n_terms"))


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion of the BM25 leg with a
# dense cosine leg (query = embedding of vec_id 0, the knn_cosine
# idiom: bit-identical single-division cosine, ties broken on id).
# RRF contribution is exact integer floor division, so fusion scores
# and ordering are engine-exact.
# ---------------------------------------------------------------------------
RRF_K = 60
RRF_SCALE = 1_000_000_000
HYBRID_LEG_K = 100
HYBRID_TOP_K = 20
_HYBRID_QVEC = 0

_COS_SQL = ("CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE))"
            " * sqrt(CAST(cn2 AS DOUBLE)))")


@register("hybrid_search_rrf", sql=f"""
WITH {_BM25_CORE_CTES},
srank AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score_u DESC, doc_id ASC)
              AS BIGINT) AS r_sparse
  FROM s QUALIFY r_sparse <= {HYBRID_LEG_K}
),
e AS (
  SELECT vec_id, {_QINT_SQL.format(col='embedding')} AS qe,
         CAST({_NORM2_SQL.format(col='embedding')} AS BIGINT) AS n2
  FROM embeddings
  WHERE CAST({_NORM2_SQL.format(col='embedding')} AS BIGINT) > 0
),
qv AS (SELECT * FROM e WHERE vec_id = {_HYBRID_QVEC}),
dpair AS (
  SELECT c.vec_id,
         CAST(list_sum(list_transform(range(1, {DIM} + 1),
              i -> qv.qe[i] * c.qe[i])) AS BIGINT) AS dot,
         qv.n2 AS qn2, c.n2 AS cn2
  FROM qv JOIN e c ON c.vec_id != {_HYBRID_QVEC}
),
drank AS (
  SELECT vec_id,
         CAST(row_number() OVER (ORDER BY {_COS_SQL} DESC, vec_id ASC)
              AS BIGINT) AS r_dense
  FROM dpair QUALIFY r_dense <= {HYBRID_LEG_K}
),
fused AS (
  SELECT COALESCE(s.doc_id, d.vec_id) AS doc_id,
         CAST(COALESCE(s.r_sparse, 0) AS BIGINT) AS r_sparse,
         CAST(COALESCE(d.r_dense, 0) AS BIGINT) AS r_dense,
         CAST(COALESCE({RRF_SCALE} // ({RRF_K} + s.r_sparse), 0)
              + COALESCE({RRF_SCALE} // ({RRF_K} + d.r_dense), 0)
              AS BIGINT) AS rrf_nano
  FROM srank s FULL OUTER JOIN drank d ON d.vec_id = s.doc_id
)
SELECT doc_id, r_sparse, r_dense, rrf_nano FROM fused
ORDER BY rrf_nano DESC, doc_id ASC LIMIT {HYBRID_TOP_K}""")
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid sparse+dense retrieval: each leg is bounded top-K
    (sparse = BM25 exchanges; dense = broadcast-query cosine scan —
    swap in ivf_ann's probe for the 100 TB path), fused by reciprocal
    rank, so the join is two K-row frames regardless of corpus size."""
    # top-K the leg FIRST (TakeOrdered — distributed, no global sort),
    # then rank inside the K-row result: the window's single partition
    # holds K rows, not the corpus
    s = (_bm25_scores(spark, sf_dir)
         .orderBy(F.col("score_u").desc(), F.col("doc_id").asc())
         .limit(HYBRID_LEG_K))
    ws = Window.orderBy(F.col("score_u").desc(), F.col("doc_id").asc())
    srank = (s.withColumn("r_sparse", F.row_number().over(ws).cast("long"))
             .select("doc_id", "r_sparse"))
    # cosine-family zero-norm exclusion (one degenerate vector
    # otherwise throws ANSI DIVIDE_BY_ZERO — adversarial probe); the
    # raw-array predicate avoids re-evaluating the norm lambda in the
    # pushed-down filter (vectors._nonzero_embedding docstring)
    emb = load_table(spark, sf_dir, "embeddings").filter(
        _nonzero_embedding(F.col("embedding"))).select(
        "vec_id", _qint(F.col("embedding")).alias("qe"),
        _norm2(F.col("embedding")).alias("n2"))
    # r13 (guide §4.2, with knn_cosine): the broadcast query-vector
    # join + interpreted 64-lane dot per corpus row becomes one
    # mapInPandas int64 GEMM against the driver-collected single-row
    # query matrix, pre-pruned per batch to the leg's top-K under the
    # same total order (cos DESC, vec_id ASC) the TakeOrdered applies —
    # identical surviving rows, bit-identical cos.
    from ._veckernel import knn_pair_scores

    qrows = (emb.filter(F.col("vec_id") == _HYBRID_QVEC)
             .select("vec_id", "qe", "n2").collect())
    wd = Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    drank = (knn_pair_scores(emb, qrows, DIM, HYBRID_LEG_K)
             .select(F.col("neighbor_id").alias("vec_id"), "cos")
             .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
             .limit(HYBRID_LEG_K)
             .withColumn("r_dense", F.row_number().over(wd).cast("long"))
             .select("vec_id", "r_dense"))
    fused = (srank.join(drank, srank.doc_id == drank.vec_id, "full_outer")
             .select(
                 F.coalesce("doc_id", "vec_id").alias("doc_id"),
                 F.coalesce("r_sparse", F.lit(0)).cast("long")
                 .alias("r_sparse"),
                 F.coalesce("r_dense", F.lit(0)).cast("long")
                 .alias("r_dense"),
                 (F.coalesce(F.expr(f"{RRF_SCALE} div ({RRF_K} + r_sparse)"),
                             F.lit(0))
                  + F.coalesce(F.expr(f"{RRF_SCALE} div ({RRF_K} + r_dense)"),
                               F.lit(0))).cast("long").alias("rrf_nano")))
    return (fused.orderBy(F.col("rrf_nano").desc(), F.col("doc_id").asc())
            .limit(HYBRID_TOP_K))


# ---------------------------------------------------------------------------
# SemDeDup: k-means-cell-bounded semantic dedup
# ---------------------------------------------------------------------------
# cos >= 0.35  <=>  dot > 0 AND 400*dot^2 >= 49*n2a*n2b  (exact ints;
# 0.35^2 = 49/400).  dot over QUANT-scaled BIGINTs can reach ~1e11, so
# the square needs 128-bit: DECIMAL(38,0) on Spark, HUGEINT on DuckDB.
SEMDEDUP_NUM = 49
SEMDEDUP_DEN = 400

_N2_FROM_QE = "CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT)"


_SEMDEDUP_SQL = f"""
WITH {_kmeans_ctes()},
n AS (
  SELECT vec_id, cell, qe, {_N2_FROM_QE} AS n2 FROM s{KMEANS_ITERS}
),
p AS (
  SELECT a.vec_id AS hi
  FROM n a JOIN n b ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE list_sum(list_transform(range(1, len(a.qe) + 1),
                                i -> a.qe[i] * b.qe[i])) > 0
    AND CAST(list_sum(list_transform(range(1, len(a.qe) + 1),
                                     i -> a.qe[i] * b.qe[i])) AS HUGEINT)
        * list_sum(list_transform(range(1, len(a.qe) + 1),
                                  i -> a.qe[i] * b.qe[i]))
        * {SEMDEDUP_DEN}
        >= {SEMDEDUP_NUM} * CAST(a.n2 AS HUGEINT) * b.n2
)
SELECT vec_id, cell,
       CAST(vec_id IN (SELECT hi FROM p) AS INTEGER) AS is_semdup
FROM n"""


def _semdedup_mark_pair(_key, pdf):
    """Chunk-pair verify kernel (runs worker-side under applyInPandas).

    The group key is (cell, __pair) where __pair = (probe_chunk << 31)
    | ref_chunk (a long — 31 bits per side cannot collide at any
    reachable cell size); chunks are contiguous CAP-sized runs of the cell's
    vec_id-sorted members.  A probe row is a semdup iff SOME lower-id
    cell member clears the cosine threshold — chunk ordering makes
    every ref-chunk member lower-id than every probe-chunk member, so
    cross-chunk pairs need no triangular mask and within-chunk pairs
    (probe == ref chunk) keep the j < i mask.  ORing the per-pair
    verdicts (the groupBy max downstream) reproduces the single-cell
    kernel EXACTLY while a degenerate giant cell fans out over
    O((n/CAP)^2) parallel tasks instead of one (SKEW_r07's x4.4 worst
    entry; x23.7 at 30x skew).

    Numerics unchanged from r6: one exact int64 GEMM (|dot| <= ~1e11),
    threshold 400*dot^2 >= 49*n2a*n2b decided by a float64 prefilter
    with a 1e-9 relative margin (six orders above the ~5e-16 compute
    error), boundary pairs re-checked in arbitrary-precision ints."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    if len(pdf) == 0:
        return pd.DataFrame({"vec_id": [], "cell": [], "is_semdup": []})
    pair = int(pdf["__pair"].iloc[0])
    p_chunk, r_chunk = pair >> 31, pair & 0x7FFFFFFF
    triangular = p_chunk == r_chunk
    probes = pdf[pdf["__chunk"] == p_chunk].reset_index(drop=True)
    refs = probes if triangular else \
        pdf[pdf["__chunk"] == r_chunk].reset_index(drop=True)
    qp = np.array(probes["qe"].tolist(), dtype=np.int64)
    qr = qp if triangular else np.array(refs["qe"].tolist(),
                                        dtype=np.int64)
    n2p_i = np.einsum("ij,ij->i", qp, qp)
    n2r_i = n2p_i if triangular else np.einsum("ij,ij->i", qr, qr)
    n2p, n2r = n2p_i.astype(np.float64), n2r_i.astype(np.float64)
    n_p, n_r = len(qp), len(qr)
    dup = np.zeros(n_p, dtype=bool)
    # row-blocked GEMM: peak extra memory is O(block * n_r), never
    # O(n^2), so even the within-chunk CAP x CAP block stays bounded
    block = max(256, min(n_p, 4_194_304 // max(n_r, 1) + 1))
    for lo in range(1 if triangular else 0, n_p, block):
        hi = min(lo + block, n_p)
        g = qp[lo:hi] @ qr.T                     # exact int64 dots
        lhs = SEMDEDUP_DEN * g.astype(np.float64) ** 2
        rhs = SEMDEDUP_NUM * np.outer(n2p[lo:hi], n2r)
        cand = g > 0
        if triangular:
            col = np.arange(n_r)[None, :]
            cand &= col < np.arange(lo, hi)[:, None]  # j < i
        certain = cand & (lhs >= rhs * (1 + 1e-9))
        near = cand & ~certain & (lhs >= rhs * (1 - 1e-9))
        dup[lo:hi] |= certain.any(axis=1)
        for bi, j in zip(*np.nonzero(near)):
            i = lo + bi
            if not dup[i]:
                d = int(g[bi, j])
                if (SEMDEDUP_DEN * d * d
                        >= SEMDEDUP_NUM * int(n2p_i[i]) * int(n2r_i[j])):
                    dup[i] = True
    return pd.DataFrame({
        "vec_id": probes["vec_id"],
        "cell": probes["cell"],
        "is_semdup": dup.astype("int32"),
    })


SEMDEDUP_CELL_CAP = 2048  # rows per chunk of a cell's verify GEMM


@register("semdedup_prune", sql=_SEMDEDUP_SQL)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: the quadratic cosine verify runs INSIDE k-means cells
    (the same cells the IVF index probes), so candidates are
    |cell|^2, not |corpus|^2 — at 100 TB n_cells grows with the corpus
    and the per-cell work stays bounded (one Arrow batch + one int64
    GEMM per cell, the CLAUDE.md numpy-for-array-algorithms rule; a
    JVM zip_with self-join ran the same dots interpreted per element
    at ~4 s vs ~0.3 s here at sf0.1).  Keep-lowest-id policy; the
    threshold compare is exact integer arithmetic (float prefilter,
    big-int boundary check).

    Giant-cell cap (r8, the last uncapped degenerate-bucket knob —
    SKEW_r07's worst entry): cells above SEMDEDUP_CELL_CAP members are
    sub-split into vec_id-contiguous chunks and the verify runs per
    (probe_chunk, ref_chunk <= probe_chunk) pair — exact semantics
    (cross-chunk refs are ALL lower-id by the sort; within-chunk keeps
    j < i), with the one giant task fanned out over (n/CAP)^2 parallel
    ones.  Each row is shuffled ceil(n_cell/CAP) times, so total I/O
    is O(n * n/CAP) rows — bounded by the same quadratic the verify
    itself already pays, but parallel.  Cells at or under the cap take
    the identical single-group path as before."""
    from .._pickle import register_module_by_value

    register_module_by_value(__name__)  # kernel runs worker-side
    _, assigned = _lloyd_trained(spark, sf_dir)
    # r12 (VERDICT r11 next #6): collapse byte-identical qe groups per
    # cell BEFORE the quadratic verify.  Exact-semantics argument: the
    # threshold depends only on qe values, and the group rep carries
    # the group's MIN vec_id, so (a) every non-rep member with a
    # nonzero norm has a lower-id identical twin at cos=1 -> semdup=1
    # (all-zero qe never clears the dot>0 gate -> 0, matching the
    # kernel's cand mask); (b) for any probe i and group g, "some
    # member of g with id<i clears the threshold" iff "the rep of g
    # has id<i and clears it" (the dot is identical for every member,
    # min id decides the existential) — so the reps-only GEMM computes
    # the identical verdict set.  At the skew clones the giant cell IS
    # ~27% byte-identical copies of one vector: this turns its
    # O((n/CAP)^2) chunk-pair fan-out into one chunk (skew-100x Spark
    # side 477.7s -> see PERF.md r12), and at 100 TB exact-dup
    # populations are the dominant degenerate shape (web corpora).
    # Uniform-scale premium: one extra (cell, qe) hash shuffle, partly
    # paid back because the chunk fan-out below then shuffles reps
    # only.
    grp = Window.partitionBy("cell", "qe")
    keyed = assigned.select(
        "vec_id", "cell", "qe",
        F.min("vec_id").over(grp).alias("__rep"),
        F.exists("qe", lambda x: x != F.lit(0)).alias("__nz"))
    ident_dups = (keyed.filter(F.col("vec_id") != F.col("__rep"))
                  .select("vec_id", "cell",
                          F.col("__nz").cast("int").alias("is_semdup")))
    base = (keyed.filter(F.col("vec_id") == F.col("__rep"))
            .select("vec_id", "cell", "qe"))
    wc = Window.partitionBy("cell").orderBy("vec_id")
    wall = wc.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
    cap = F.lit(SEMDEDUP_CELL_CAP)
    ranked = base.select(
        "vec_id", "cell", "qe",
        F.floor((F.row_number().over(wc) - 1) / cap)
        .cast("int").alias("__chunk"),
        F.ceil(F.count(F.lit(1)).over(wall) / cap)
        .cast("int").alias("__nch"))
    # group memberships of a chunk-c row: probe in pairs (c, 0..c),
    # ref in pairs (c+1..K-1, c); pair key = (probe << 31) | ref as a
    # LONG — 31 bits per side holds 2^31 chunks (4.4e12 rows per cell
    # at CAP=2048) where the r8 15-bit int key silently collided past
    # 32768 chunks (~67M rows in ONE cell), mis-assigning chunk roles
    # in the kernel with no error (ADVICE r8)
    as_probe = F.transform(
        F.sequence(F.lit(0), F.col("__chunk")),
        lambda r: F.shiftleft(F.col("__chunk").cast("long"), 31)
        + r.cast("long"))
    as_ref = F.when(
        F.col("__chunk") < F.col("__nch") - 1,
        F.transform(F.sequence(F.col("__chunk") + 1, F.col("__nch") - 1),
                    lambda p: F.shiftleft(p.cast("long"), 31)
                    + F.col("__chunk").cast("long"))
    ).otherwise(F.array().cast("array<long>"))
    fanned = ranked.select(
        "vec_id", "cell", "qe", "__chunk",
        F.explode(F.concat(as_probe, as_ref)).alias("__pair"))
    marked = (fanned.groupBy("cell", "__pair")
              .applyInPandas(_semdedup_mark_pair,
                             "vec_id long, cell long, is_semdup int"))
    # OR the per-pair verdicts; single-chunk cells (the normal case)
    # emit exactly one verdict per row and pass through unchanged
    return (marked.groupBy("vec_id", "cell")
            .agg(F.max("is_semdup").cast("int").alias("is_semdup"))
            .select("vec_id", "cell", "is_semdup")
            .unionByName(ident_dups))


@register("semdedup_cell_pressure", sql=f"""
WITH {_kmeans_ctes()},
a AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS members
  FROM s{KMEANS_ITERS} GROUP BY cell
)
SELECT cell, members,
       CAST((members + {SEMDEDUP_CELL_CAP - 1}) // {SEMDEDUP_CELL_CAP}
            AS BIGINT) AS chunks,
       CAST(((members + {SEMDEDUP_CELL_CAP - 1}) // {SEMDEDUP_CELL_CAP})
            * ((members + {SEMDEDUP_CELL_CAP - 1}) // {SEMDEDUP_CELL_CAP}
               + 1) // 2 AS BIGINT) AS chunk_pairs,
       CAST(members * ((members + {SEMDEDUP_CELL_CAP - 1})
                       // {SEMDEDUP_CELL_CAP}) AS BIGINT) AS fanout_rows
FROM a""")
def semdedup_cell_pressure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight pressure report for semdedup_prune's giant-cell cap
    (VERDICT r9 #7 observability ask): per k-means cell, the member
    count and the fan-out the cap will generate — `chunks` CAP-sized
    sub-splits, `chunk_pairs` parallel GEMM tasks (the quadratic
    verify cost, (n/CAP)^2-ish), and `fanout_rows` shuffled rows (each
    member ships once per chunk it pairs with).  One groupBy over the
    assignment — no GEMM, no pair explosion — so an operator can audit
    a skewed corpus's worst cell BEFORE paying for the verify (the
    skew clone's byte-identical 30% lands in one cell; this is the
    query that says so in seconds)."""
    _, assigned = _lloyd_trained(spark, sf_dir)
    # integer div end-to-end (repo scaled-BIGINT rule): the oracle's
    # `//` is exact, so a double round-trip here would diverge past 2^53
    ch = f"((members + {SEMDEDUP_CELL_CAP - 1}) div {SEMDEDUP_CELL_CAP})"
    return (assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).cast("long").alias("members"))
            .select(
                "cell", "members",
                F.expr(ch).alias("chunks"),
                F.expr(f"({ch} * ({ch} + 1)) div 2").alias("chunk_pairs"),
                F.expr(f"members * {ch}").cast("long")
                .alias("fanout_rows")))


# ---------------------------------------------------------------------------
# keep-best dedup policy: quality argmax per near-dup cluster
# ---------------------------------------------------------------------------
_CLUSTERS_SQL = REGISTRY["dedup_clusters"].sql


@register("dedup_keep_best", sql=f"""
WITH clus AS ({_CLUSTERS_SQL}),
q AS (
  SELECT doc_id,
         CAST((length(text) * 1000)
              // len(string_split_regex(text, '\\s+')) AS BIGINT)
           AS density_milli
  FROM documents WHERE text IS NOT NULL
),
r AS (
  SELECT c.doc_id, c.cluster_id, q.density_milli,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.density_milli DESC, c.doc_id ASC)
           AS rk
  FROM clus c JOIN q ON q.doc_id = c.doc_id
)
SELECT doc_id, cluster_id, density_milli,
       CAST(rk = 1 AS INTEGER) AS is_kept
FROM r""")
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation policy: within each near-dup cluster keep the member
    with the highest chars-per-token density (ties break on doc_id).
    Composes the registered cluster pipeline with the registered
    quality metric — one extra (cluster_id) window over the labeling."""
    clus = REGISTRY["dedup_clusters"].fn(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    q = docs.select(
        "doc_id",
        F.expr("length(text) * 1000 div size(split(text, '\\\\s+'))")
        .alias("density_milli"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("density_milli").desc(), F.col("doc_id").asc())
    return (clus.join(q, "doc_id")
            .select("doc_id", "cluster_id", "density_milli",
                    (F.row_number().over(w) == 1).cast("int")
                    .alias("is_kept")))


# ---------------------------------------------------------------------------
# data-quality expectations report
# ---------------------------------------------------------------------------
@register("dq_report", sql="""
SELECT * FROM (
  SELECT 'customer_dup_key' AS check_id, 'customer' AS tbl,
         CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
           AS violations,
         CAST(COUNT(*) AS BIGINT) AS total
  FROM customer
  UNION ALL
  SELECT 'customer_null_name', 'customer',
         CAST(COUNT(*) FILTER (c_name IS NULL) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM customer
  UNION ALL
  SELECT 'orders_status_domain', 'orders',
         CAST(COUNT(*) FILTER (o_orderstatus NOT IN ('O', 'F', 'P'))
              AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders_nonpositive_total', 'orders',
         CAST(COUNT(*) FILTER (o_totalprice <= 0) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders_orphan_custkey', 'orders',
         CAST(COUNT(*) FILTER (c.c_custkey IS NULL) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
  UNION ALL
  SELECT 'lineitem_qty_range', 'lineitem',
         CAST(COUNT(*) FILTER (l_quantity < 1 OR l_quantity > 50)
              AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_discount_range', 'lineitem',
         CAST(COUNT(*) FILTER (l_discount < 0 OR l_discount > 0.1)
              AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_orphan_orderkey', 'lineitem',
         CAST(COUNT(*) FILTER (o.o_orderkey IS NULL) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
  UNION ALL
  SELECT 'lineitem_ship_before_order', 'lineitem',
         CAST(COUNT(*) FILTER (l.l_shipdate < o.o_orderdate) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  UNION ALL
  SELECT 'part_dup_key', 'part',
         CAST(COUNT(*) - COUNT(DISTINCT p_partkey) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM part
  UNION ALL
  SELECT 'part_nonpositive_price', 'part',
         CAST(COUNT(*) FILTER (p_retailprice <= 0) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM part
)""")
def dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation checks: per-table null/domain/range rules share ONE
    conditional-aggregation scan per table; referential and temporal
    rules are key-partitioned outer joins.  At 100 TB each check's cost
    is a scan (or one keyed join) with a scalar result — nothing
    materializes violation rows."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    def _cnt(cond):
        return F.sum(cond.cast("long")).alias("v")

    def _unpivot(agg_df, tbl, names):
        # one scan produced v0..vN + total; unpivot to report rows
        # coalesce makes every branch non-null BIGINT — stack() rejects
        # mixed nullability (count-distinct arithmetic is NOT NULL,
        # sum(when) is nullable)
        rows = ", ".join(
            f"'{name}', coalesce(v{i}, cast(0 as bigint))"
            for i, name in enumerate(names))
        return agg_df.selectExpr(
            f"stack({len(names)}, {rows}) as (check_id, violations)",
            f"'{tbl}' as tbl", "total").select(
                "check_id", "tbl",
                F.coalesce("violations", F.lit(0)).cast("long")
                .alias("violations"),
                F.col("total").cast("long").alias("total"))

    cust_checks = _unpivot(
        cust.agg(
            (F.count(F.lit(1)) - F.countDistinct("c_custkey"))
            .alias("v0"),
            _cnt(F.col("c_name").isNull()).alias("v1"),
            F.count(F.lit(1)).alias("total")),
        "customer", ["customer_dup_key", "customer_null_name"])
    ord_checks = _unpivot(
        orders.agg(
            _cnt(~F.col("o_orderstatus").isin("O", "F", "P")).alias("v0"),
            _cnt(F.col("o_totalprice") <= 0).alias("v1"),
            F.count(F.lit(1)).alias("total")),
        "orders", ["orders_status_domain", "orders_nonpositive_total"])
    li_checks = _unpivot(
        li.agg(
            _cnt((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50))
            .alias("v0"),
            _cnt((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1))
            .alias("v1"),
            F.count(F.lit(1)).alias("total")),
        "lineitem", ["lineitem_qty_range", "lineitem_discount_range"])
    part_checks = _unpivot(
        part.agg(
            (F.count(F.lit(1)) - F.countDistinct("p_partkey"))
            .alias("v0"),
            _cnt(F.col("p_retailprice") <= 0).alias("v1"),
            F.count(F.lit(1)).alias("total")),
        "part", ["part_dup_key", "part_nonpositive_price"])

    orphan_orders = (
        orders.join(F.broadcast(cust.select("c_custkey")),
                    orders.o_custkey == F.col("c_custkey"), "left")
        .agg(_cnt(F.col("c_custkey").isNull()).alias("v0"),
             F.count(F.lit(1)).alias("total")))
    orphan_orders = _unpivot(orphan_orders, "orders",
                             ["orders_orphan_custkey"])
    orphan_li = (
        li.join(orders.select("o_orderkey"),
                li.l_orderkey == F.col("o_orderkey"), "left")
        .agg(_cnt(F.col("o_orderkey").isNull()).alias("v0"),
             F.count(F.lit(1)).alias("total")))
    orphan_li = _unpivot(orphan_li, "lineitem",
                         ["lineitem_orphan_orderkey"])
    ship_before = (
        li.join(orders.select("o_orderkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .agg(_cnt(F.col("l_shipdate") < F.col("o_orderdate")).alias("v0"),
             F.count(F.lit(1)).alias("total")))
    ship_before = _unpivot(ship_before, "lineitem",
                           ["lineitem_ship_before_order"])

    out = cust_checks
    for piece in (ord_checks, li_checks, part_checks, orphan_orders,
                  orphan_li, ship_before):
        out = out.unionByName(piece)
    return out


# ---------------------------------------------------------------------------
# SCD2 snapshot merge (CDC/upsert pattern)
# ---------------------------------------------------------------------------
# Deterministic change simulation: snapshot 2 re-segments custkey%7==0
# and deletes custkey%17==0.  The merge itself is generic
# gaps-and-islands over any number of snapshots.
_SNAPSHOTS_SQL = """
  SELECT c_custkey, CAST(1 AS BIGINT) AS snap, c_mktsegment AS seg
  FROM customer
  UNION ALL
  SELECT c_custkey, CAST(2 AS BIGINT) AS snap,
         CASE WHEN c_custkey % 7 = 0 THEN 'SEGMENT-X'
              ELSE c_mktsegment END AS seg
  FROM customer WHERE c_custkey % 17 <> 0
"""


def scd2_snapshots(spark: SparkSession,
                   sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The deterministic two-snapshot change simulation (re-segment
    %7, delete %17) — ONE definition shared by this batch query and
    its oracle SQL (_SNAPSHOTS_SQL mirrors it), so the two cannot
    drift."""
    cust = load_table(spark, sf_dir, "customer")
    s1 = cust.select("c_custkey", F.lit(1).cast("long").alias("snap"),
                     F.col("c_mktsegment").alias("seg"))
    s2 = (cust.filter(F.col("c_custkey") % 17 != 0)
          .select("c_custkey", F.lit(2).cast("long").alias("snap"),
                  F.when(F.col("c_custkey") % 7 == 0, "SEGMENT-X")
                  .otherwise(F.col("c_mktsegment")).alias("seg")))
    return s1, s2


@register("scd2_customer_history", sql=f"""
WITH snaps AS ({_SNAPSHOTS_SQL}),
chg AS (
  SELECT c_custkey, snap, seg,
         CASE WHEN lag(seg) OVER w IS DISTINCT FROM seg
              THEN 1 ELSE 0 END AS is_chg
  FROM snaps
  WINDOW w AS (PARTITION BY c_custkey ORDER BY snap)
),
isl AS (
  SELECT c_custkey, snap, seg,
         CAST(SUM(is_chg) OVER (PARTITION BY c_custkey ORDER BY snap
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS island
  FROM chg
)
SELECT c_custkey, seg,
       CAST(MIN(snap) AS BIGINT) AS eff_from,
       CAST(MAX(snap) AS BIGINT) AS eff_to,
       CAST(MAX(snap) = 2 AS INTEGER) AS is_current
FROM isl GROUP BY c_custkey, seg, island""")
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension history: one (custkey) shuffle carries the lag
    window, the island sum, and the interval group-by — changed rows
    open a new interval, deleted keys simply stop extending theirs
    (is_current=0).  Adding snapshot N+1 re-runs the same plan over
    store+delta; nothing is quadratic in history length."""
    s1, s2 = scd2_snapshots(spark, sf_dir)
    snaps = s1.unionByName(s2)
    w = Window.partitionBy("c_custkey").orderBy("snap")
    chg = snaps.withColumn(
        "is_chg",
        F.expr("case when lag(seg) over (partition by c_custkey"
               " order by snap) is distinct from seg then 1 else 0 end"))
    isl = chg.withColumn(
        "island",
        F.sum("is_chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"))
    return (isl.groupBy("c_custkey", "seg", "island")
            .agg(F.min("snap").cast("long").alias("eff_from"),
                 F.max("snap").cast("long").alias("eff_to"))
            .select("c_custkey", "seg", "eff_from", "eff_to",
                    (F.col("eff_to") == 2).cast("int").alias("is_current")))


# ---------------------------------------------------------------------------
# entity resolution / record linkage on structured rows
# ---------------------------------------------------------------------------
ER_LEV_MAX = 3


ER_BLOCK_CAP = 10_000  # degenerate blocks are excluded BELOW the join


@register("er_part_pairs", sql=f"""
WITH p0 AS (
  SELECT p_partkey, p_name, p_brand, p_type,
         regexp_extract(p_name, '(\\S+)$', 1) AS noun,
         length(p_name) AS nlen,
         CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS cents
  FROM part
),
ok_blocks AS (
  SELECT noun, p_brand FROM p0 GROUP BY noun, p_brand
  HAVING COUNT(*) <= {ER_BLOCK_CAP}
),
p AS (
  SELECT p0.* FROM p0 SEMI JOIN ok_blocks k
    ON k.noun = p0.noun AND k.p_brand = p0.p_brand
),
cand AS (
  SELECT b.p_partkey AS part_a, a.p_partkey AS part_b,
         CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev,
         CAST(a.p_type = b.p_type AS INTEGER) AS same_type,
         CAST(abs(a.cents - b.cents) AS BIGINT) AS price_delta_cents
  FROM p a JOIN p b
    ON a.noun = b.noun AND a.p_brand = b.p_brand
   AND b.p_partkey < a.p_partkey
   AND abs(a.nlen - b.nlen) <= {ER_LEV_MAX}
)
SELECT * FROM cand WHERE lev <= {ER_LEV_MAX}""")
def er_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase record linkage: block on (name noun, brand) — an
    equi-join, never a cross join — then verify candidates with
    edit distance (JVM levenshtein, whole-stage codegen).  A block
    bigger than ER_BLOCK_CAP is excluded BELOW the self-join (same
    hot-key recipe as the LSH/band caps): a degenerate catalog key
    cannot materialize |block|^2 pairs; such blocks need an extended
    blocking pass (type, size band), not a wider join.  At 100 TB the
    block key is the shuffle key.  A length-band join predicate
    (|len(a)-len(b)| <= ER_LEV_MAX, a necessary condition for the
    edit-distance threshold) prunes candidates with one integer
    compare before the O(len^2) levenshtein DP runs."""
    # spread=True: the one-row-group testdata file is physically
    # unsplittable, which would run every levenshtein DP of the
    # self-join on a single core (a real deployment's multi-file part
    # table splits naturally)
    p0 = load_table(spark, sf_dir, "part", spread=True).select(
        "p_partkey", "p_name", "p_brand", "p_type",
        F.regexp_extract("p_name", r"(\S+)$", 1).alias("noun"),
        F.length("p_name").alias("nlen"),
        F.round(F.col("p_retailprice") * 100, 0).cast("long")
        .alias("cents"))
    ok = (p0.groupBy("noun", "p_brand")
          .agg(F.count(F.lit(1)).alias("bn"))
          .filter(F.col("bn") <= ER_BLOCK_CAP)
          .select("noun", "p_brand"))
    p = p0.join(ok, ["noun", "p_brand"], "left_semi")
    a = p.alias("a")
    b = p.alias("b")
    return (a.join(b, (F.col("a.noun") == F.col("b.noun"))
                   & (F.col("a.p_brand") == F.col("b.p_brand"))
                   & (F.col("b.p_partkey") < F.col("a.p_partkey"))
                   & (F.abs(F.col("a.nlen") - F.col("b.nlen"))
                      <= ER_LEV_MAX))
            .withColumn("lev", F.levenshtein(F.col("a.p_name"),
                                             F.col("b.p_name")))
            .filter(F.col("lev") <= ER_LEV_MAX)
            .select(F.col("b.p_partkey").alias("part_a"),
                    F.col("a.p_partkey").alias("part_b"),
                    F.col("lev").cast("long").alias("lev"),
                    (F.col("a.p_type") == F.col("b.p_type")).cast("int")
                    .alias("same_type"),
                    F.abs(F.col("a.cents") - F.col("b.cents"))
                    .cast("long").alias("price_delta_cents")))


# ---------------------------------------------------------------------------
# PMI collocations: adjacent-bigram co-occurrence vs unigram frequency.
# PMI = ln(c_xy * T^2 / (N * c_x * c_y)) is monotone in the rational
# inside the log, so ranking uses the EXACT-integer numerator/
# denominator with ONE IEEE division (bit-identical across engines) and
# no transcendental at all.  Pair key is the lexicographically sorted
# token pair (unordered co-occurrence).
# ---------------------------------------------------------------------------
PMI_MIN_PAIR = 5
PMI_TOP_K = 50


@register("pmi_top_pairs", sql=f"""
WITH d AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS toks
  FROM documents WHERE text IS NOT NULL
),
uni AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM
    (SELECT unnest(toks) AS token FROM d) GROUP BY token
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM uni),
big AS (
  SELECT least(toks[i], toks[i + 1]) AS tok_a,
         greatest(toks[i], toks[i + 1]) AS tok_b
  FROM d, unnest(range(1, len(toks))) AS r(i)
),
pc AS (
  SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM big GROUP BY tok_a, tok_b
  HAVING COUNT(*) >= {PMI_MIN_PAIR}
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM big),
scored AS (
  SELECT p.tok_a, p.tok_b, p.c_xy, a.c AS c_a, b.c AS c_b,
         CAST(CAST(p.c_xy AS HUGEINT) * t.t * t.t AS DOUBLE)
           / CAST(CAST(n.n AS HUGEINT) * a.c * b.c AS DOUBLE) AS pmi_ratio
  FROM pc p
  JOIN uni a ON a.token = p.tok_a
  JOIN uni b ON b.token = p.tok_b
  CROSS JOIN tot t CROSS JOIN n
)
SELECT tok_a, tok_b, c_xy, c_a, c_b, pmi_ratio FROM scored
ORDER BY pmi_ratio DESC, tok_a ASC, tok_b ASC LIMIT {PMI_TOP_K}""")
def pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: one token exchange for unigrams, one
    bigram-pair exchange, two joins against the unigram dim (broadcast
    at vocab scale), two broadcast scalars — the classic map-side-heavy
    counting shape that survives any corpus size.  Ordering ties break
    on the token pair.  The products run in exact wide integers —
    DECIMAL(38,0) / HUGEINT, the r7 adversarial-moments pattern — with
    ONE int->double rounding per side and one division: c_xy*T^2 blew
    past 2^63 at the 100x clone's 2.6e9-token corpus (the r9 sweep
    caught the documented "~10^9 token" cliff as a live ANSI
    ArithmeticException); 38 digits hold to ~10^12 tokens per side."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull())
         .select("doc_id", F.split(F.col("text"), r"\s+").alias("toks")))
    uni = (d.select(F.explode("toks").alias("token"))
           .groupBy("token")
           .agg(F.count(F.lit(1)).cast("long").alias("c")))
    tot = uni.agg(F.sum("c").cast("long").alias("t"))
    # transform's lambda index i is 0-based over the slice and Spark's
    # array[] access is 0-based too, so slice element i pairs with the
    # original array's element i+1 (DuckDB's twin is 1-based on both)
    pairs = F.expr(
        "transform(slice(toks, 1, size(toks) - 1),"
        " (x, i) -> struct(least(x, toks[i + 1]) as tok_a,"
        "                  greatest(x, toks[i + 1]) as tok_b))")
    big = (d.filter(F.size("toks") >= 2)
           .select(F.explode(pairs).alias("p"))
           .select("p.tok_a", "p.tok_b"))
    pc = (big.groupBy("tok_a", "tok_b")
          .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
          .filter(F.col("c_xy") >= PMI_MIN_PAIR))
    n = big.agg(F.count(F.lit(1)).cast("long").alias("n"))
    uni_a = uni.select(F.col("token").alias("tok_a"), F.col("c").alias("c_a"))
    uni_b = uni.select(F.col("token").alias("tok_b"), F.col("c").alias("c_b"))
    scored = (pc.join(uni_a, "tok_a").join(uni_b, "tok_b")
              .crossJoin(F.broadcast(tot))
              .crossJoin(F.broadcast(n))
              .select("tok_a", "tok_b", "c_xy", "c_a", "c_b",
                      ((F.col("c_xy").cast("decimal(38,0)")
                        * F.col("t") * F.col("t"))
                       .cast("double")
                       / (F.col("n").cast("decimal(38,0)")
                          * F.col("c_a") * F.col("c_b"))
                       .cast("double")).alias("pmi_ratio")))
    return (scored.orderBy(F.col("pmi_ratio").desc(), F.col("tok_a").asc(),
                           F.col("tok_b").asc())
            .limit(PMI_TOP_K)
            .select("tok_a", "tok_b", "c_xy", "c_a", "c_b", "pmi_ratio"))


# ---------------------------------------------------------------------------
# Bigram-LM pseudo-perplexity scoring ("perplexity filtering"): train
# add-1-smoothed bigram probabilities on the corpus itself, score each
# document's mean negative log-likelihood.  Each bigram's logprob is
# ln of ONE exact-integer division (then micro-quantized — the repo's
# transcendental rule); per-doc totals are BIGINT sums, and the mean
# NLL is a single long->double division.  Scoring the training corpus
# means every scored bigram exists in the model (no backoff needed).
# ---------------------------------------------------------------------------
LM_MICRO = 1_000_000


@register("bigram_lm_score", sql=f"""
WITH d AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS toks
  FROM documents WHERE text IS NOT NULL AND len(string_split_regex(text, '\\s+')) >= 2
),
big AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM d, unnest(range(1, len(toks))) AS r(i)
),
bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM big
       GROUP BY w1, w2),
ctx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cc FROM bc GROUP BY w1),
v AS (SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS v FROM big),
lp AS (
  SELECT b.w1, b.w2,
         CAST(ROUND(ln(CAST(b.c + 1 AS DOUBLE)
                       / CAST(x.cc + v.v AS DOUBLE))
                    * {LM_MICRO}, 0) AS BIGINT) AS lp_u
  FROM bc b JOIN ctx x ON x.w1 = b.w1 CROSS JOIN v
),
scored AS (
  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(l.lp_u) AS BIGINT) AS sum_lp_u
  FROM big g JOIN lp l ON l.w1 = g.w1 AND l.w2 = g.w2
  GROUP BY g.doc_id
)
SELECT doc_id, n_bigrams,
       CAST(-sum_lp_u AS DOUBLE) / (n_bigrams * {LM_MICRO}) AS avg_nll
FROM scored""")
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring at corpus scale: the bigram model is
    two token-pair exchanges (counts, contexts); scoring joins doc
    bigrams to the probability dim on the pair key — a plain shuffled
    equi-join that never materializes vocab^2, only OBSERVED bigrams.
    At 100 TB the dim is bucketed on (w1, w2) like the gram store."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull())
         .select("doc_id", F.split(F.col("text"), r"\s+").alias("toks"))
         .filter(F.size("toks") >= 2))
    pairs = F.expr(
        "transform(slice(toks, 1, size(toks) - 1),"
        " (x, i) -> struct(x as w1, toks[i + 1] as w2))")
    big = (d.select("doc_id", F.explode(pairs).alias("p"))
           .select("doc_id", "p.w1", "p.w2"))
    bc = (big.groupBy("w1", "w2")
          .agg(F.count(F.lit(1)).cast("long").alias("c")))
    ctx = bc.groupBy("w1").agg(F.sum("c").cast("long").alias("cc"))
    v = big.agg(F.countDistinct("w2").cast("long").alias("v"))
    lp = (bc.join(ctx, "w1")
          .crossJoin(F.broadcast(v))
          .select("w1", "w2", F.expr(
              f"cast(round(ln(cast(c + 1 as double)"
              f" / cast(cc + v as double)) * {LM_MICRO}, 0) as bigint)")
              .alias("lp_u")))
    scored = (big.join(lp, ["w1", "w2"])
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                   F.sum("lp_u").cast("long").alias("sum_lp_u")))
    return scored.select(
        "doc_id", "n_bigrams",
        ((-F.col("sum_lp_u")).cast("double")
         / (F.col("n_bigrams") * LM_MICRO).cast("double")).alias("avg_nll"))


# ---------------------------------------------------------------------------
# Market-basket association rules: co-purchased part pairs ranked by
# lift.  lift = c_ab * N / (c_a * c_b) — exact integers, ONE division
# (the engine-safe ranking-double rule), ties broken on the pair key.
# The pair generation is a within-order self-join: candidates are
# bounded by basket size (<= ~7 lineitems), never |parts|^2.
# ---------------------------------------------------------------------------
BASKET_MIN_SUP = 2
BASKET_TOP_K = 50
# degenerate-basket exclusion: pair generation is quadratic in basket
# size, so one bot/ETL-artifact basket dominates the whole job (the
# skew-100x clone's 8 hot orders hold ~17.6k distinct parts each =
# ~1.2e9 pairs; every legitimate basket at every probed scale is <= 17
# items).  Standard market-basket practice: baskets above the cap are
# excluded from the analysis entirely (n, item counts, and pairs all
# computed over included baskets) — deterministic, engine-identical.
BASKET_SIZE_CAP = 1024


@register("copurchase_lift", sql=f"""
WITH b0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
b AS (
  SELECT l_orderkey, l_partkey FROM b0
  QUALIFY COUNT(*) OVER (PARTITION BY l_orderkey) <= {BASKET_SIZE_CAP}
),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM b),
ic AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM b
       GROUP BY l_partkey),
pc AS (
  SELECT l.l_partkey AS part_a, r.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM b l JOIN b r ON l.l_orderkey = r.l_orderkey
                   AND l.l_partkey < r.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {BASKET_MIN_SUP}
),
scored AS (
  SELECT p.part_a, p.part_b, p.c_ab, a.c AS c_a, bb.c AS c_b,
         CAST(p.c_ab * n.n AS DOUBLE) / CAST(a.c * bb.c AS DOUBLE)
           AS lift
  FROM pc p
  JOIN ic a ON a.l_partkey = p.part_a
  JOIN ic bb ON bb.l_partkey = p.part_b
  CROSS JOIN n
)
SELECT part_a, part_b, c_ab, c_a, c_b, lift FROM scored
ORDER BY lift DESC, part_a ASC, part_b ASC LIMIT {BASKET_TOP_K}""")
def copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining shape: baskets distinct once, pairs via
    an (orderkey)-keyed self-join whose fan-out is basket-size-bounded,
    item counts broadcast back onto the surviving >= min-support pairs.
    At 100 TB the basket frame shuffles on orderkey once and everything
    downstream is proportional to observed pairs, not the catalog."""
    b = (load_table(spark, sf_dir, "lineitem")
         .select("l_orderkey", "l_partkey").distinct())
    # degenerate-basket cap (BASKET_SIZE_CAP docstring): the window
    # count costs one (l_orderkey) exchange on top of the distinct's
    # (l_orderkey, l_partkey) hash partitioning — accepted as the
    # skew-insurance premium; everything downstream (n, item counts,
    # pairs) sees only included baskets
    wb = Window.partitionBy("l_orderkey")
    b = (b.withColumn("__bsz", F.count(F.lit(1)).over(wb))
         .filter(F.col("__bsz") <= BASKET_SIZE_CAP)
         .drop("__bsz"))
    # four consumers (n, item counts, both self-join sides) would each
    # re-run the distinct + basket-size window — and relation dedup
    # does not share work across the self-join (CLAUDE.md multi-branch
    # rule); materialize the slim basket table once
    b = b.localCheckpoint(eager=True)
    n = b.agg(F.countDistinct("l_orderkey").cast("long").alias("n"))
    ic = (b.groupBy("l_partkey")
          .agg(F.count(F.lit(1)).cast("long").alias("c")))
    left = b.select(F.col("l_orderkey").alias("ok"),
                    F.col("l_partkey").alias("part_a"))
    right = b.select(F.col("l_orderkey").alias("ok"),
                     F.col("l_partkey").alias("part_b"))
    pc = (left.join(right, ["ok"])
          .filter(F.col("part_a") < F.col("part_b"))
          .groupBy("part_a", "part_b")
          .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
          .filter(F.col("c_ab") >= BASKET_MIN_SUP))
    ica = ic.select(F.col("l_partkey").alias("part_a"),
                    F.col("c").alias("c_a"))
    icb = ic.select(F.col("l_partkey").alias("part_b"),
                    F.col("c").alias("c_b"))
    scored = (pc.join(ica, "part_a").join(icb, "part_b")
              .crossJoin(F.broadcast(n))
              .select("part_a", "part_b", "c_ab", "c_a", "c_b",
                      ((F.col("c_ab") * F.col("n")).cast("double")
                       / (F.col("c_a") * F.col("c_b")).cast("double"))
                      .alias("lift")))
    return (scored.orderBy(F.col("lift").desc(), F.col("part_a").asc(),
                           F.col("part_b").asc())
            .limit(BASKET_TOP_K)
            .select("part_a", "part_b", "c_ab", "c_a", "c_b", "lift"))


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 Table A1) —
# the classic pretraining-corpus document filters, restricted to the
# rules meaningful for this corpus (single-line texts: the bullet /
# ellipsis-line rules have no lines to measure).  EVERY rule is
# evaluated in pure integer arithmetic (mean-word-length bounds as
# cross-multiplications, ratios as scaled integer compares), so the
# whole report is bit-identical cross-engine with no float anywhere.
# At 100 TB this is one narrow projection + per-row array work fused
# into the scan — no shuffle at all until a downstream consumer
# aggregates the keep flags.
# ---------------------------------------------------------------------------
from .textops import STOPWORDS  # noqa: E402  (registered before curation)

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000


@register("gopher_quality_flags", sql=f"""
WITH d AS (
  SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks
  FROM documents WHERE text IS NOT NULL),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(toks, t -> length(t)))
              AS BIGINT) AS sum_len,
         CAST(len(list_filter(toks,
              t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT)
           AS n_alpha,
         CAST(len(list_filter(toks,
              t -> list_contains({STOPWORDS!r}, t))) AS BIGINT)
           AS n_stop,
         CAST(length(text) - length(replace(text, '#', ''))
              + (length(text) - length(replace(text, '...', ''))) // 3
              AS BIGINT) AS n_sym
  FROM d)
SELECT doc_id, n_words, sum_len, n_alpha, n_stop, n_sym,
       CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
            AS INTEGER) AS flag_word_count,
       CAST(3 * n_words <= sum_len AND sum_len <= 10 * n_words
            AS INTEGER) AS flag_mean_word_len,
       CAST(5 * n_alpha >= 4 * n_words AS INTEGER) AS flag_alpha,
       CAST(n_stop >= 2 AS INTEGER) AS flag_stop,
       CAST(10 * n_sym <= n_words AS INTEGER) AS flag_symbol,
       CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
            AND 3 * n_words <= sum_len AND sum_len <= 10 * n_words
            AND 5 * n_alpha >= 4 * n_words
            AND n_stop >= 2
            AND 10 * n_sym <= n_words AS INTEGER) AS keep
FROM m""", doc="""
Gopher-rule quality filter report: per-doc word count, mean-word-length
bounds, alphabetic-word fraction, stopword floor and symbol ratio —
each rule an integer comparison (mean in [3,10] as 3n <= sum_len <=
10n; >=80% alpha as 5*n_alpha >= 4*n; symbol ratio <= 0.1 as 10*n_sym
<= n) so no float exists anywhere in the report.""")
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import _tokens

    docs = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("text").isNotNull())
    toks = _tokens()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    m = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(F.transform(toks, F.length),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("sum_len"),
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
        .cast("long").alias("n_alpha"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
        .cast("long").alias("n_stop"),
        (F.length("text") - F.length(F.expr("replace(text, '#', '')"))
         + F.expr("(length(text) - length(replace(text, '...', '')))"
                  " div 3")).cast("long").alias("n_sym"))
    word_ok = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    len_ok = ((3 * F.col("n_words") <= F.col("sum_len"))
              & (F.col("sum_len") <= 10 * F.col("n_words")))
    alpha_ok = 5 * F.col("n_alpha") >= 4 * F.col("n_words")
    stop_ok = F.col("n_stop") >= 2
    sym_ok = 10 * F.col("n_sym") <= F.col("n_words")
    return m.select(
        "doc_id", "n_words", "sum_len", "n_alpha", "n_stop", "n_sym",
        word_ok.cast("int").alias("flag_word_count"),
        len_ok.cast("int").alias("flag_mean_word_len"),
        alpha_ok.cast("int").alias("flag_alpha"),
        stop_ok.cast("int").alias("flag_stop"),
        sym_ok.cast("int").alias("flag_symbol"),
        (word_ok & len_ok & alpha_ok & stop_ok & sym_ok)
        .cast("int").alias("keep"))


# ---------------------------------------------------------------------------
# DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): score every raw document by the hashed-feature
# log-likelihood ratio between a target distribution (here: the
# lang='en' slice standing in for "looks like the domain we train
# for") and the raw corpus distribution.  The published estimator is
# exactly this shape: hash n-grams into B buckets, fit two smoothed
# multinomial bag-of-buckets models, weight = sum over token
# occurrences of log(p_target[b]/p_raw[b]).
#
# Scale shape (the reason DSIR wins at 100 TB): both models are ONE
# map-side-combined count aggregation each — B=1024 rows total — and
# scoring is a broadcast join of that tiny weight table against the
# token stream plus a per-doc integer sum.  No iteration, no
# similarity search, no quadratic anything.  Determinism: each
# bucket's log-ratio is computed from exact BIGINT counts with ONE
# double division and micro-quantized immediately (the bm25-idf rule);
# per-doc scores are then BIGINT sums of those quantized weights.
# ---------------------------------------------------------------------------
DSIR_B = 1024
DSIR_TARGET_LANG = "en"


def _dsir_hash_sql(tok_expr: str) -> str:
    from . import hash8_sql
    return f"({hash8_sql(tok_expr)}) % {DSIR_B}"


@register("dsir_importance_weights", sql=f"""
WITH tb AS (
  SELECT doc_id, lang, {_dsir_hash_sql('tok')} AS b
  FROM (SELECT doc_id, lang,
               unnest(string_split_regex(text, '\\s+')) AS tok
        FROM documents WHERE text IS NOT NULL)
  WHERE tok <> ''),
rc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rc FROM tb GROUP BY b),
tc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS tc FROM tb
       WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b),
tot AS (SELECT CAST(SUM(rc) AS BIGINT) AS r_tot,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM tb
                WHERE lang = '{DSIR_TARGET_LANG}') AS t_tot
        FROM rc),
w AS (
  SELECT rc.b,
         CAST(ROUND(ln(
             CAST((COALESCE(tc.tc, 0) + 1) * (tot.r_tot + {DSIR_B})
                  AS DOUBLE)
             / CAST((rc.rc + 1) * (tot.t_tot + {DSIR_B}) AS DOUBLE))
             * {IDF_MICRO}, 0) AS BIGINT) AS lr_u
  FROM rc LEFT JOIN tc ON tc.b = rc.b CROSS JOIN tot)
SELECT tb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(w.lr_u) AS BIGINT) AS score_u
FROM tb JOIN w ON w.b = tb.b
GROUP BY tb.doc_id""", doc="""
DSIR hashed-feature importance weights: per-doc micro-quantized
log-likelihood ratio between the smoothed bag-of-hashed-buckets model
of the lang='en' target slice and the raw corpus model.  Positive
score = doc looks more target-like than the corpus average; resampling
keeps docs proportionally.  B=1024 buckets, add-1 smoothing.""")
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: memoized per (session, sf_dir) — curation_funnel_report
    # re-ran the whole tokenize->bucket->model->score pipeline on top
    # of this entry's own run (the scored table is the artifact a DSIR
    # resampling pass persists)
    def build():
        docs = load_table(spark, sf_dir, "documents", spread=True).filter(
            F.col("text").isNotNull())
        tb = dsir_token_buckets(docs).localCheckpoint(eager=True)
        w = dsir_weights_from_model(dsir_count_model(tb))
        return dsir_score(tb, w).localCheckpoint(eager=True)

    return session_memo(_DSIR_CACHE, spark, sf_dir, build=build)


_DSIR_CACHE: dict = {}


def dsir_token_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, b): one row per token occurrence, hashed into the
    B feature buckets (the engine-identical md5-hash8 primitive)."""
    bucket = (F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10)
              .cast("long") % DSIR_B)
    return (docs.select("doc_id", "lang",
                        F.explode(F.split("text", r"\s+")).alias("tok"))
            .filter(F.col("tok") != "")
            .select("doc_id", "lang", bucket.alias("b")))


def dsir_count_model(tb: DataFrame) -> DataFrame:
    """(b, rc, tc): raw and target bucket counts in ONE conditional
    aggregation — the entire DSIR 'model', <= B rows.  MERGEABLE:
    cell-wise SUM of per-batch models equals the model of the unioned
    input (associative integer addition) — what the ``dsir`` store of
    streaming/curation.py exploits to maintain the model incrementally."""
    return tb.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("rc"),
        F.sum(F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0))
        .cast("long").alias("tc"))


def dsir_weights_from_model(model: DataFrame) -> DataFrame:
    """(b, lr_u): micro-quantized smoothed log-likelihood ratio per
    bucket — exact BIGINT counts, one double division, ln, round."""
    tot = model.agg(F.sum("rc").cast("long").alias("r_tot"),
                    F.sum("tc").cast("long").alias("t_tot"))
    return (model.crossJoin(F.broadcast(tot))
            .select("b", F.expr(
                f"cast(round(ln(cast((tc + 1)"
                f" * (r_tot + {DSIR_B}) as double)"
                f" / cast((rc + 1) * (t_tot + {DSIR_B}) as double))"
                f" * {IDF_MICRO}, 0) as bigint)").alias("lr_u")))


def dsir_score(tb: DataFrame, w: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, score_u): broadcast weight join + per-doc
    integer sum — the linear scoring pass."""
    return (tb.join(F.broadcast(w), "b")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                 F.sum("lr_u").cast("long").alias("score_u")))


# ---------------------------------------------------------------------------
# The curation funnel, end to end, as ONE declarative plan: canonical
# dedup -> Gopher quality gate -> DSIR target-likeness gate, reported
# per source.  This is the composition a pipeline owner actually ships
# (tools/curation_run.py is the materializing variant); expressing it
# as a single registry query shows the engine's stages COMPOSE — the
# oracle literally embeds the gopher and dsir oracle SQL as CTEs, and
# the Spark side reuses the registered query functions, so the funnel
# can never drift from its stages.  Every stage count is integer
# arithmetic end-to-end.
# ---------------------------------------------------------------------------
def _funnel_sql() -> str:
    from .textops import _CANON_SQL

    return f"""
WITH gq AS ({REGISTRY['gopher_quality_flags'].sql}),
dw AS ({REGISTRY['dsir_importance_weights'].sql}),
base AS (
  SELECT doc_id, source, {_CANON_SQL} AS ch
  FROM documents WHERE text IS NOT NULL),
keeper AS (
  SELECT doc_id, source FROM (
    SELECT doc_id, source,
           MIN(doc_id) OVER (PARTITION BY ch) AS rep FROM base)
  WHERE doc_id = rep),
j AS (
  SELECT k.source, gq.keep, gq.n_words, dw.score_u
  FROM keeper k
  JOIN gq ON gq.doc_id = k.doc_id
  LEFT JOIN dw ON dw.doc_id = k.doc_id),
a1 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
       FROM base GROUP BY source),
a2 AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_canonical,
         CAST(SUM(keep) AS BIGINT) AS n_quality,
         CAST(SUM(CASE WHEN keep = 1 AND score_u >= 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(SUM(CASE WHEN keep = 1 AND score_u >= 0
                       THEN n_words ELSE 0 END) AS BIGINT) AS tokens_kept
  FROM j GROUP BY source)
SELECT a1.source, a1.n_docs, a2.n_canonical, a2.n_quality, a2.n_kept,
       a2.tokens_kept
FROM a1 JOIN a2 ON a2.source = a1.source"""


@register("curation_funnel_report", doc="""
Per-source counts through the full curation funnel — canonical-dedup
keepers, Gopher-quality survivors, DSIR target-likeness survivors
(score_u >= 0: at least corpus-average target-likeness) and the token
budget they carry.  One declarative plan composing three registered
stages; at 100 TB each stage is the shuffle shape already audited for
it (canon hash-shuffle, scan-fused flags, broadcast DSIR weights) and
the report adds only a per-source rollup.""")
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import _canon_hash

    docs = (load_table(spark, sf_dir, "documents", spread=True)
            .filter(F.col("text").isNotNull()))
    base = docs.select("doc_id", "source", _canon_hash().alias("ch"))
    rep = F.min("doc_id").over(Window.partitionBy("ch"))
    keeper = (base.select("doc_id", "source", rep.alias("rep"))
              .filter(F.col("doc_id") == F.col("rep"))
              .select("doc_id", "source"))
    gq = REGISTRY["gopher_quality_flags"].fn(spark, sf_dir).select(
        "doc_id", "n_words", "keep")
    dw = REGISTRY["dsir_importance_weights"].fn(spark, sf_dir).select(
        "doc_id", "score_u")
    j = keeper.join(gq, "doc_id").join(dw, "doc_id", "left")
    kept = (F.col("keep") == 1) & (F.col("score_u") >= 0)
    a1 = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    a2 = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_canonical"),
        F.sum("keep").cast("long").alias("n_quality"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_words")).otherwise(0)).cast("long")
        .alias("tokens_kept"))
    return a1.join(a2, "source").select(
        "source", "n_docs", "n_canonical", "n_quality", "n_kept",
        "tokens_kept")


REGISTRY["curation_funnel_report"].sql = _funnel_sql()


# ---------------------------------------------------------------------------
# Semantic decontamination: the embedding-space complement of the
# n-gram `decontaminate` entry.  Benchmark/eval items arrive as a
# labeled embedding set (testdata convention: label 9 plays the
# held-out benchmark); every training vector is scored against its
# NEAREST benchmark vector by exact quantized-integer cosine, and
# anything above the near-dup threshold is flagged as semantic
# leakage.  100 TB shape: the benchmark side is small BY DEFINITION
# (eval suites are thousands of items), so it broadcasts and the
# training corpus streams through in one scan — the only exchange is
# the per-vector rank window; for corpus-side blow-ups the IVF/PQ
# probes bound the candidate set the same way knn's ANN variants do.
# Determinism: cosine is one double division of exact BIGINTs
# (bit-identical both engines), ranking ties break on benchmark id,
# and the threshold compare uses the identical literal on both sides
# (the lsh_near_dup_pairs pattern).
# ---------------------------------------------------------------------------
SEM_LEAK_COSINE = 0.35  # == vectors.NEAR_DUP_COSINE
# Driver-collect ceiling for the broadcast benchmark matrix: 2M rows of
# (id + ~64-int qe + n2) is ~1-2 GB broadcast — already past where a
# real deployment should shard the benchmark instead (ADVICE r8: the
# collect grows linearly with corpus scale in this synthetic labeling).
SEM_BENCH_ROW_CAP = 2_000_000


def _sem_decon_sql(probe_pred: str = "TRUE") -> str:
    """The semantic-decontamination oracle, parameterized by a probe-
    side predicate.  The registry twin uses TRUE (whole corpus); the
    SAMPLED twin (queries/sampled.py) restricts the PROBE side to a
    deterministic residue class, which divides the oracle's inherently
    quadratic |train| x |bench| pair count by the modulus while keeping
    every sampled verdict EXACT (each verdict depends on the probe row
    and the FULL benchmark side, which is never sampled)."""
    return f"""
WITH e AS (
  SELECT vec_id, label, {_QINT_SQL.format(col='embedding')} AS qe,
         CAST({_NORM2_SQL.format(col='embedding')} AS BIGINT) AS n2
  FROM embeddings
),
-- n2 > 0 both sides: zero-norm vectors have no cosine (same filter as
-- the Spark side; without it Spark ANSI throws DIVIDE_BY_ZERO)
b AS (SELECT vec_id AS b_id, qe AS b_qe, n2 AS b_n2 FROM e
      WHERE label = 9 AND n2 > 0),
t AS (SELECT vec_id, qe, n2 FROM e
      WHERE label <> 9 AND n2 > 0 AND ({probe_pred})),
scored AS (
  SELECT t.vec_id, b.b_id,
         CAST(list_sum(list_transform(range(1, {DIM} + 1),
              i -> t.qe[i] * b.b_qe[i])) AS BIGINT) AS dot,
         t.n2, b.b_n2
  FROM t CROSS JOIN b
),
ranked AS (
  SELECT vec_id, b_id,
         CAST(dot AS DOUBLE)
           / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(b_n2 AS DOUBLE))) AS cos,
         row_number() OVER (PARTITION BY vec_id
           ORDER BY CAST(dot AS DOUBLE)
             / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(b_n2 AS DOUBLE))) DESC,
           b_id ASC) AS rk
  FROM scored
)
SELECT vec_id AS doc_id, b_id AS nearest_bench, cos AS max_cos,
       CAST(cos >= {SEM_LEAK_COSINE} AS INTEGER) AS is_leaked
FROM ranked WHERE rk = 1"""


@register("semantic_decontaminate", sql=_sem_decon_sql())
def semantic_decontaminate(spark: SparkSession, sf_dir: str,
                           sample_mod: int | None = None) -> DataFrame:
    """One training-corpus scan against a broadcast benchmark matrix.

    r8 rewrite: the original crossJoin + interpreted zip_with dot +
    row_number window shipped |train|x|bench| pair ROWS through an
    exchange and ran the O(dim) dot INTERPRETED per pair — the 100x
    clone (180k x 19.2k = 3.5e9 pairs) timed out a 2400 s chunk.  Now
    the quantized bench matrix (bounded by definition: eval suites)
    collects once, broadcasts, and a mapInPandas int64 GEMM scores
    each Arrow batch of training vectors, emitting only the per-vector
    argmax — ZERO exchanges, no pair materialization (the semdedup /
    CLAUDE.md numpy-for-array-algorithms recipe; quantization and
    norms stay JVM-side).  Determinism is unchanged: the dot is exact
    int64 (same values the JVM fold produced), cos is the identical
    IEEE expression double(dot) / (sqrt(double(n2)) * sqrt(double(
    b_n2))) — every op correctly rounded, bit-equal both engines —
    and the argmax scans bench columns in ascending b_id order, so
    equal-cos ties break on the smallest b_id exactly like the SQL
    row_number's (cos DESC, b_id ASC)."""
    import numpy as np

    from .._pickle import register_module_by_value

    register_module_by_value(__name__)  # kernel runs worker-side
    # zero-norm exclusion on BOTH sides: a zero-norm vector has no
    # defined cosine — without the filter one degenerate vector THROWS
    # Spark's ANSI DIVIDE_BY_ZERO and kills the whole job (the r7
    # adversarial-embeddings probe finding); excluded-no-verdict is the
    # same convention winnow applies to NULL text.  Raw-array predicate
    # per vectors._nonzero_embedding (no double norm evaluation).
    emb = load_table(spark, sf_dir, "embeddings", spread=True).filter(
        _nonzero_embedding(F.col("embedding"))).select(
        "vec_id", "label", _qint(F.col("embedding")).alias("qe"),
        _norm2(F.col("embedding")).alias("n2"))
    out_schema = ("doc_id long, nearest_bench long, max_cos double, "
                  "is_leaked int")
    # bounded collect (the audited-collect convention): the benchmark
    # side is an eval suite, small by definition — but in THIS corpus
    # label==9 is a constant fraction of embeddings, so the collect
    # grows linearly with scale (19.2k rows at 100x; unbounded beyond).
    # Count first and fail loudly above the cap instead of silently
    # eating driver memory (ADVICE r8); the count scans only (label),
    # one cheap column-pruned job.
    bench = emb.filter(F.col("label") == 9)
    n_bench = bench.count()
    if n_bench > SEM_BENCH_ROW_CAP:
        raise ValueError(
            f"semantic_decontaminate: benchmark side has {n_bench} rows, "
            f"above the driver-collect cap {SEM_BENCH_ROW_CAP}; shard the "
            "benchmark or raise SEM_BENCH_ROW_CAP knowingly — the bench "
            "matrix is broadcast whole to every executor")
    brows = (bench.select("vec_id", "qe", "n2").orderBy("vec_id").collect())
    if not brows:
        return spark.createDataFrame([], out_schema)
    b_ids = np.array([r["vec_id"] for r in brows], dtype=np.int64)
    b_qe_t = np.array([r["qe"] for r in brows], dtype=np.int64).T.copy()
    b_rt = np.sqrt(np.array([r["n2"] for r in brows], dtype=np.int64)
                   .astype(np.float64))
    bc = spark.sparkContext.broadcast((b_ids, b_qe_t, b_rt))
    thr = float(SEM_LEAK_COSINE)
    # sub-chunk rows so the per-chunk cos matrix stays ~32 M doubles
    # regardless of benchmark width
    rows_per = max(16, (1 << 25) // len(b_ids))

    def _score(batches):
        import numpy as _np
        import pandas as _pd
        ids, qt, rt = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            q = _np.stack(pdf["qe"].to_numpy()).astype(_np.int64)
            r = _np.sqrt(pdf["n2"].to_numpy()
                         .astype(_np.int64).astype(_np.float64))
            best_j = _np.empty(len(pdf), dtype=_np.int64)
            best_c = _np.empty(len(pdf), dtype=_np.float64)
            for lo in range(0, len(pdf), rows_per):
                hi = min(lo + rows_per, len(pdf))
                dots = q[lo:hi] @ qt                      # exact int64
                cos = dots.astype(_np.float64) / (
                    r[lo:hi, None] * rt[None, :])
                j = _np.argmax(cos, axis=1)               # first max:
                best_j[lo:hi] = j                         # lowest b_id
                best_c[lo:hi] = cos[_np.arange(hi - lo), j]
            yield _pd.DataFrame({
                "doc_id": pdf["vec_id"].to_numpy(),
                "nearest_bench": ids[best_j],
                "max_cos": best_c,
                "is_leaked": (best_c >= thr).astype("int32"),
            })

    train = emb.filter(F.col("label") != 9)
    if sample_mod:
        # SAMPLED-twin mode (queries/sampled.py): deterministic probe
        # subset — verdicts for sampled probes are exact (the bench
        # side above is never sampled)
        train = train.filter(F.col("vec_id") % sample_mod == 0)
    return train.select("vec_id", "qe", "n2").mapInPandas(_score,
                                                          out_schema)
