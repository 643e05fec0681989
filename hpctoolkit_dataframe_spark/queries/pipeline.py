"""Training-data curation queries: deterministic stratified sampling,
global-percentile quality filtering, inverted-index posting lists, and
per-document top terms.

These extend the LLM-pipeline suite (SURVEY.md §6) beyond dedup and
similarity: the selection/curation steps that decide WHICH documents
(and which vocabulary) feed a training run.  All hashing goes through
the shared md5-prefix primitive (`hash8_sql`) so sampling is
reproducible across engines; scoring stays in exact integer/rational
arithmetic — no libm transcendentals — because cross-engine `ln` can
differ by 1 ULP (same hazard class as the JIT-bistable `Math.pow`
documented in CLAUDE.md), which would poison both value hashes and
top-k tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from . import hash8_sql, load_table, register

SAMPLE_PER_GROUP = 3
_DOC_HASH_SQL = hash8_sql("CAST(doc_id AS VARCHAR)")


def _doc_hash():
    return F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
        16, 10).cast("long")


# ---------------------------------------------------------------------------
# stratified sample: k docs per (lang, source) stratum, chosen by a
# content-independent hash so the sample is stable under reruns and
# insert order.  One shuffle (the window partition); each stratum's
# state is a k-row heap, never the stratum itself — at 100 TB the same
# plan holds as long as no single stratum's ROW COUNT overwhelms a
# partition, and strata here are bounded-cardinality metadata pairs.
# ---------------------------------------------------------------------------
@register("stratified_sample", sql=f"""
WITH h AS (
  SELECT doc_id, lang, source, {_DOC_HASH_SQL} AS hkey FROM documents
),
r AS (
  SELECT doc_id, lang, source,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang, source
                                 ORDER BY hkey, doc_id) AS BIGINT) AS rk
  FROM h
)
SELECT doc_id, lang, source, rk FROM r WHERE rk <= {SAMPLE_PER_GROUP}""")
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = (Window.partitionBy("lang", "source")
         .orderBy(_doc_hash(), F.col("doc_id")))
    return (docs
            .select("doc_id", "lang", "source",
                    F.row_number().over(w).cast("long").alias("rk"))
            .filter(F.col("rk") <= SAMPLE_PER_GROUP))


# ---------------------------------------------------------------------------
# global-percentile quality gate: keep documents whose chars-per-token
# density clears the corpus P90.  The score is a scaled-BIGINT ratio
# (exact in both engines); the threshold is one exact percentile over
# those integers (interpolation of identical integers is bit-identical
# across engines).
# Two-pass shape: pass 1 is a single scalar aggregate (percentile
# buffer), pass 2 a scan-side filter against the broadcast scalar — at
# 100 TB swap the exact percentile for approx_percentile and keep the
# identical plan.
# ---------------------------------------------------------------------------
@register("quality_top_decile", sql="""
WITH s AS (
  SELECT doc_id,
         (length(text) * 1000) // len(string_split_regex(text, '\\s+'))
           AS density_milli
  FROM documents WHERE text IS NOT NULL
),
t AS (SELECT quantile_cont(density_milli, 0.9) AS thr FROM s)
SELECT s.doc_id, CAST(s.density_milli AS BIGINT) AS density_milli
FROM s, t WHERE s.density_milli >= t.thr""")
def quality_top_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    toks = F.split(F.col("text"), r"\s+")
    s = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_toks"),
    ).select(
        "doc_id",
        # `div` = integer division, the twin of DuckDB's `//` (both
        # positive here, so floor == truncate)
        F.expr("n_chars * 1000 div n_toks").alias("density_milli"))
    # scalar threshold via a 1-row cross join: Catalyst broadcasts it,
    # so pass 2 stays a map-side filter over the scan
    thr = s.agg(F.percentile("density_milli", F.lit(0.9)).alias("thr"))
    return (s.crossJoin(F.broadcast(thr))
            .filter(F.col("density_milli") >= F.col("thr"))
            .select("doc_id", F.col("density_milli").cast("long")
                    .alias("density_milli")))


# ---------------------------------------------------------------------------
# inverted index: token -> document frequency + a bounded posting
# sample.  The scale trap is collect_list over an unbounded group (a
# stopword's postings = the whole corpus); rank-prune INSIDE the window
# shuffle first, so the collected list is provably <= POSTING_CAP rows
# and df still counts everything.  Window count + row_number share one
# (token)-hash exchange; the final groupBy reuses it (AQE) or is a
# second small shuffle over <= cap rows per token.
# ---------------------------------------------------------------------------
POSTING_CAP = 8


@register("posting_lists", sql=f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+')))
           AS token
  FROM documents WHERE text IS NOT NULL
),
r AS (
  SELECT token, doc_id,
         CAST(COUNT(*) OVER (PARTITION BY token) AS BIGINT) AS df,
         ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id) AS rk
  FROM tok
)
SELECT token, df,
       array_to_string(list_sort(list(doc_id)), '/') AS postings
FROM r WHERE rk <= {POSTING_CAP}
GROUP BY token, df""")
def posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    toks = F.split(F.col("text"), r"\s+")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(toks)).alias("token"))
    w = Window.partitionBy("token")
    r = tok.select(
        "token", "doc_id",
        F.count(F.lit(1)).over(w).cast("long").alias("df"),
        F.row_number().over(w.orderBy("doc_id")).alias("rk"))
    return (r.filter(F.col("rk") <= POSTING_CAP)
            .groupBy("token", "df")
            .agg(F.array_join(F.sort_array(F.collect_list("doc_id")), "/")
                 .alias("postings")))


# ---------------------------------------------------------------------------
# per-document top terms by tf/df (exact-rational tf-idf surrogate:
# monotone in term frequency and rarity, free of the cross-engine ln
# drift a log-idf would introduce — see module docstring).  Shuffles:
# (doc_id, token) groupBy, then a token window for df, then a doc_id
# window for the top-k; each is a plain hash exchange, state bounded by
# per-doc vocabulary.
# ---------------------------------------------------------------------------
TOP_TERMS_K = 3


@register("top_terms_per_doc", sql=f"""
WITH tf AS (
  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token
  FROM documents WHERE text IS NOT NULL
),
counts AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tf GROUP BY doc_id, token
),
scored AS (
  SELECT doc_id, token, tf,
         CAST(COUNT(*) OVER (PARTITION BY token) AS BIGINT) AS df
  FROM counts
),
ranked AS (
  SELECT doc_id, token, tf, df,
         CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) AS score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id
           ORDER BY CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) DESC, token
         ) AS BIGINT) AS rk
  FROM scored
)
SELECT doc_id, token, tf, df, score, rk
FROM ranked WHERE rk <= {TOP_TERMS_K}""")
def top_terms_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    toks = F.split(F.col("text"), r"\s+")
    counts = (docs.select("doc_id", F.explode(toks).alias("token"))
              .groupBy("doc_id", "token")
              .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    scored = counts.select(
        "doc_id", "token", "tf",
        F.count(F.lit(1)).over(Window.partitionBy("token"))
        .cast("long").alias("df"))
    score = F.col("tf").cast("double") / F.col("df").cast("double")
    ranked = scored.select(
        "doc_id", "token", "tf", "df", score.alias("score"),
        F.row_number().over(
            Window.partitionBy("doc_id")
            .orderBy(score.desc(), F.col("token"))).cast("long").alias("rk"))
    return ranked.filter(F.col("rk") <= TOP_TERMS_K)


# ---------------------------------------------------------------------------
# the end-to-end curation manifest: which documents feed the training
# run.  Composes three registered stages — near-dup clustering
# (canonical member only), the P90 quality gate, embedding coverage —
# and assigns a deterministic shard.  The oracle SQL REUSES the
# registered SQL of both upstream queries as CTEs, so the composition
# cannot drift from its parts.  Scale shape: every stage is a key join
# on doc_id (the natural partitioning); the flags are left joins, the
# shard a stateless hash — nothing here adds a new shuffle class.
# ---------------------------------------------------------------------------
N_SHARDS = 8


def _manifest_sql() -> str:
    from . import REGISTRY

    clusters = REGISTRY["dedup_clusters"].sql
    quality = REGISTRY["quality_top_decile"].sql
    return f"""
WITH clus AS ({clusters}),
q AS ({quality}),
emb AS (SELECT DISTINCT vec_id FROM embeddings)
SELECT c.doc_id,
       c.cluster_size,
       CAST(CASE WHEN q.doc_id IS NULL THEN 0 ELSE 1 END AS INTEGER)
         AS quality_pass,
       CAST(CASE WHEN emb.vec_id IS NULL THEN 0 ELSE 1 END AS INTEGER)
         AS has_embedding,
       CAST({hash8_sql("CAST(c.doc_id AS VARCHAR)")} % {N_SHARDS}
            AS INTEGER) AS shard
FROM clus c
LEFT JOIN q ON q.doc_id = c.doc_id
LEFT JOIN emb ON emb.vec_id = c.doc_id
WHERE c.is_canonical = 1"""


@register("training_shard_manifest", sql=_manifest_sql(), doc="""
One row per canonical (near-dup-surviving) document: its cluster size,
whether it clears the corpus-P90 quality gate, whether an embedding
exists for it, and its hash shard — the manifest a 100 TB training
pipeline hands to the data loader.""")
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import REGISTRY

    canon = (REGISTRY["dedup_clusters"].fn(spark, sf_dir)
             .filter(F.col("is_canonical") == 1)
             .select("doc_id", "cluster_size"))
    quality = (REGISTRY["quality_top_decile"].fn(spark, sf_dir)
               .select("doc_id", F.lit(1).alias("qp")))
    emb = (load_table(spark, sf_dir, "embeddings")
           .select("vec_id").distinct())
    return (canon
            .join(quality, "doc_id", "left")
            .join(emb, canon.doc_id == emb.vec_id, "left")
            .select(
                "doc_id", "cluster_size",
                F.coalesce(F.col("qp"), F.lit(0)).cast("int")
                .alias("quality_pass"),
                F.when(F.col("vec_id").isNull(), 0).otherwise(1)
                .cast("int").alias("has_embedding"),
                (F.conv(F.substring(
                    F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
                 .cast("long") % N_SHARDS).cast("int").alias("shard")))


# ---------------------------------------------------------------------------
# sparse keyword retrieval: the lexical twin of the dense knn_cosine /
# ivf_ann queries — score documents against a fixed keyword query with
# QUANTIZED-INTEGER idf weights (w_t = SCALE div df_t), so the score is
# an integer SUM (order-independent across engines and partitions; a
# float tf-idf sum would drift by reduction order, the module-docstring
# hazard).  Scale shape: the explode is filtered to the query's tokens
# BEFORE the shuffle (a ~|query| whitelist, map-side), df comes from
# one token-key aggregate over those few tokens, the weights broadcast,
# and the top-k is TakeOrdered — never a full sort.
# ---------------------------------------------------------------------------
QUERY_TOKENS = ("spark", "join", "window")
IDF_SCALE = 1_000_000
SEARCH_TOP_K = 10

_QT_SQL = "[" + ", ".join(f"'{t}'" for t in QUERY_TOKENS) + "]"

@register("keyword_search_topk", sql=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token
  FROM documents WHERE text IS NOT NULL
),
qtok AS (SELECT doc_id, token FROM tok
         WHERE token IN (SELECT unnest({_QT_SQL}))),
tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
       FROM qtok GROUP BY doc_id, token),
df AS (SELECT token,
              CAST({IDF_SCALE} // COUNT(DISTINCT doc_id) AS BIGINT) AS w
       FROM qtok GROUP BY token),
scored AS (
  SELECT t.doc_id, CAST(SUM(t.tf * d.w) AS BIGINT) AS score,
         CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM tf t JOIN df d ON d.token = t.token
  GROUP BY t.doc_id
)
SELECT doc_id, score, n_terms FROM scored
ORDER BY score DESC, doc_id ASC LIMIT {SEARCH_TOP_K}""")
def keyword_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    qtok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("token")
    ).filter(F.col("token").isin(list(QUERY_TOKENS)))
    tf = (qtok.groupBy("doc_id", "token")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    df_w = (qtok.groupBy("token")
            .agg(F.expr(f"{IDF_SCALE} div count(distinct doc_id)")
                 .cast("long").alias("w")))
    scored = (tf.join(F.broadcast(df_w), "token")
              .groupBy("doc_id")
              .agg(F.sum(F.col("tf") * F.col("w")).cast("long")
                   .alias("score"),
                   F.count(F.lit(1)).cast("long").alias("n_terms")))
    return (scored.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(SEARCH_TOP_K)
            .select("doc_id", "score", "n_terms"))


# ---------------------------------------------------------------------------
# the dataset card: per-(lang, source) corpus health rollup composing
# three registered stages — near-dup clustering (how much of each slice
# survives canonicalization), the P90 quality gate, and embedding
# coverage.  At 100 TB this is the report a curation run publishes:
# every input is a doc_id-keyed join (the corpus' natural partitioning)
# followed by ONE low-cardinality (lang, source) aggregate; rates are
# exact integer counts with a single final division each.
# ---------------------------------------------------------------------------
def _report_sql() -> str:
    from . import REGISTRY

    manifest = _manifest_sql()
    return f"""
WITH manifest AS ({manifest})
SELECT d.lang, d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(m.doc_id) AS BIGINT) AS n_canonical,
       CAST(SUM(CASE WHEN m.quality_pass = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_quality,
       CAST(SUM(CASE WHEN m.has_embedding = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_embedded,
       CAST(COUNT(m.doc_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS keep_rate
FROM documents d
LEFT JOIN manifest m ON m.doc_id = d.doc_id
GROUP BY d.lang, d.source"""


@register("corpus_report", sql=_report_sql(), doc="""
Per-(lang, source) dataset card: document counts, canonical
(near-dup-surviving) counts, quality-gate and embedding coverage, and
the keep rate — the health report a curation run publishes alongside
its shard manifest.""")
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import REGISTRY

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source")
    m = REGISTRY["training_shard_manifest"].fn(spark, sf_dir).select(
        F.col("doc_id").alias("m_doc"), "quality_pass", "has_embedding")
    j = docs.join(m, docs.doc_id == m.m_doc, "left")
    return (j.groupBy("lang", "source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.count("m_doc").cast("long").alias("n_canonical"),
                 F.sum(F.when(F.col("quality_pass") == 1, 1).otherwise(0))
                 .cast("long").alias("n_quality"),
                 F.sum(F.when(F.col("has_embedding") == 1, 1).otherwise(0))
                 .cast("long").alias("n_embedded"))
            .withColumn("keep_rate",
                        F.col("n_canonical").cast("double")
                        / F.col("n_docs").cast("double")))
