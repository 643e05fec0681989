"""Near-duplicate CLUSTERING: transitive closure over LSH candidate
pairs, one canonical document per component.

The pair queries (``minhash_lsh_pairs`` etc.) stop at A~B edges; a real
dedup pass needs components — if A~B and B~C, exactly one of {A,B,C}
survives.  ``operators/graph.py`` supplies distributed connected
components (alternating large-star/small-star, O(log^2 n) rounds); this
module wires it to the documents table and oracles it against a DuckDB
recursive-CTE reachability closure — the labeling (component minimum) is
deterministic in both engines, so the comparison is hash-exact.

Reference parity note: mbdevpl/hpctoolkit_dataframe has no dedup or
graph surface at all; this is part of the LLM-data-pipeline extension
(SURVEY.md §6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..operators.graph import connected_components
from . import REGISTRY, hash8_sql, load_table, register, session_memo
from .textops import lsh_pairs_materialized

# the oracle reuses the full minhash->band->cap->self-join pipeline SQL
# registered by textops so the two can never drift
_PAIRS_SQL = REGISTRY["minhash_lsh_pairs"].sql

# AS MATERIALIZED on the multiply-referenced CTEs: DuckDB re-executes
# an inlined CTE per reference, so the recursive closure re-ran the
# whole MinHash pair pipeline every iteration — 192.8 s -> 12.5 s on
# pagerank at sf0.1, and the difference between a 2 300 s row and a
# timeout at the 100x clone.  Values are unchanged (same plan output,
# forced spool), so the oracle stays hash-exact.
_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({_PAIRS_SQL}),
e AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL SELECT doc_b AS s, doc_a AS d FROM pairs),
r(n, root) AS (
  SELECT s, s FROM e GROUP BY s
  UNION
  SELECT e.d, r.root FROM r JOIN e ON e.s = r.n
),
lab AS (SELECT n AS doc_id, CAST(MIN(root) AS BIGINT) AS cluster_id
        FROM r GROUP BY n),
full_lab AS (
  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id)
SELECT doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         AS cluster_size,
       CAST(doc_id = cluster_id AS INTEGER) AS is_canonical
FROM full_lab
"""


@register("dedup_clusters", sql=_CLUSTERS_SQL, doc="""
Every document labeled with its near-dup cluster (component minimum of
the minhash-LSH pair graph), the cluster's size, and a keep/drop flag
(canonical = the minimum doc_id).  Scale shape: the pair pipeline is
hot-bucket-capped (textops BAND_DF_CAP), the component step is
O(log^2 n) rounds of hash joins on a shrinking edge set, and the final
labeling is one left join + one window over documents — no step holds a
component in memory or on the driver.""")
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clusters_materialized(spark, sf_dir)


_CLUSTERS_CACHE: dict = {}


def clusters_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed cluster labeling, memoized per (session, sf_dir).

    r12: leakage_safe_split, training_shard_manifest and corpus_report
    each re-ran the full pairs->connected-components->label pipeline
    (corpus_report paid it a third-hand time through the manifest).
    The labeling is documents-cardinality (4 skinny columns) and the
    CC step is the iterative part — exactly the materialized-view
    shape build_cct already memoizes."""
    return session_memo(_CLUSTERS_CACHE, spark, sf_dir,
                        build=lambda: _label_clusters(spark, sf_dir))


def _label_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = lsh_pairs_materialized(spark, sf_dir)
    labels = connected_components(pairs)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    lab = (docs.join(labels, docs.doc_id == labels.node, "left")
           .select(docs.doc_id,
                   F.coalesce(labels.component, docs.doc_id)
                   .alias("cluster_id")))
    w = Window.partitionBy("cluster_id")
    return lab.select(
        "doc_id", "cluster_id",
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).cast("int")
        .alias("is_canonical")).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# same clustering operator, embedding-space edges: cosine near-dup pairs
# from the hyperplane-LSH query become components — proving
# connected_components is source-agnostic (text LSH above, vector LSH
# here).  Only vectors appearing in some pair are emitted (the
# embedding table has no "all rows" identity need — callers union
# singletons if they want full coverage, cf. dedup_clusters).
# ---------------------------------------------------------------------------
_VEC_PAIRS_SQL = REGISTRY["lsh_near_dup_pairs"].sql

# CTE names must not collide with the embedded pairs SQL's own CTEs
# (it defines `e`); DuckDB resolves the inner reference against the
# OUTER name otherwise.
_VEC_CLUSTERS_SQL = f"""
WITH RECURSIVE vpairs AS MATERIALIZED ({_VEC_PAIRS_SQL}),
vedges AS MATERIALIZED (SELECT vec_a AS s, vec_b AS d FROM vpairs
           UNION ALL SELECT vec_b AS s, vec_a AS d FROM vpairs),
vreach(n, root) AS (
  SELECT s, s FROM vedges GROUP BY s
  UNION
  SELECT vedges.d, vreach.root FROM vreach
  JOIN vedges ON vedges.s = vreach.n
)
SELECT n AS vec_id, CAST(MIN(root) AS BIGINT) AS cluster_id
FROM vreach GROUP BY n
"""


@register("embedding_dup_clusters", sql=_VEC_CLUSTERS_SQL, doc="""
Connected components over the hyperplane-LSH cosine near-dup pair
graph: every vector that near-duplicates another, labeled with its
component minimum.""")
def embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vectors import vec_pairs_materialized

    pairs = vec_pairs_materialized(spark, sf_dir)
    labels = connected_components(pairs.select("vec_a", "vec_b"))
    return labels.select(F.col("node").alias("vec_id"),
                         F.col("component").alias("cluster_id"))


# ---------------------------------------------------------------------------
# exact verification of the LSH CANDIDATES: MinHash banding over-
# approximates (hash collisions, lucky bands), so a production dedup
# pass re-checks each candidate pair with a real distance before
# dropping documents.  Levenshtein is the strongest check both engines
# share bit-exactly (classic DP, integer result; corpus is ASCII so
# byte-vs-char semantics cannot drift).  Scale shape: the pair set is
# already hot-bucket-capped upstream, so the O(len_a * len_b) DP runs
# on a BOUNDED candidate list, never all-pairs; attaching the two text
# columns is two hash joins on doc_id (the corpus' natural key), and
# the gate is exact integer arithmetic (lev * 1000 vs max_len), no
# floats to drift.
# ---------------------------------------------------------------------------
LEV_SIM_MILLI = 700  # keep pairs with 1 - lev/max_len >= 0.700

_LEV_VERIFY_SQL = f"""
WITH cand AS ({_PAIRS_SQL}),
scored AS (
  SELECT c.doc_a, c.doc_b,
         CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
         CAST(greatest(length(da.text), length(db.text)) AS BIGINT)
           AS max_len
  FROM cand c
  JOIN documents da ON da.doc_id = c.doc_a
  JOIN documents db ON db.doc_id = c.doc_b
)
SELECT doc_a, doc_b, lev, max_len,
       CAST(lev * 1000 <= (1000 - {LEV_SIM_MILLI}) * max_len AS INTEGER)
         AS verified
FROM scored
"""


@register("lsh_verified_pairs", sql=_LEV_VERIFY_SQL, doc="""
Edit-distance verification of every MinHash-LSH candidate pair: exact
levenshtein over the two texts plus an integer-rational similarity
gate (verified = lev/max_len <= 0.3).  Emits the distance for every
candidate rather than only survivors so precision of the LSH stage is
directly measurable (SUM(verified)/COUNT(*)).""")
def lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = lsh_pairs_materialized(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.select(F.col("doc_id").alias("doc_a"),
                    F.col("text").alias("text_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"),
                    F.col("text").alias("text_b"))
    scored = (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .select("doc_a", "doc_b",
                F.levenshtein("text_a", "text_b").cast("long").alias("lev"),
                F.greatest(F.length("text_a"), F.length("text_b"))
                .cast("long").alias("max_len")))
    return scored.select(
        "doc_a", "doc_b", "lev", "max_len",
        (F.col("lev") * 1000 <= (1000 - LEV_SIM_MILLI) * F.col("max_len"))
        .cast("int").alias("verified"))


# ---------------------------------------------------------------------------
# incremental dedup: the production shape.  A continuously-ingesting
# pipeline never re-deduplicates the whole corpus; it checks each NEW
# batch against a persisted fingerprint store.  Here the batch is a
# deterministic 1/DELTA_MOD hash split of `documents` (stable under
# reruns, like shaping.EVAL_MOD) and the "store" is the rest of the
# corpus reduced to two fingerprint sets: md5(text) for exact dups and
# the shared 64-bit simhash fold for near dups.  Scale shape: the
# corpus collapses to DISTINCT fingerprints (32 B + 8 B per doc — the
# only thing read from 100 TB of history).  Both fingerprint sets are
# corpus-cardinality (64-bit simhash does not saturate like the old
# 16-bit fold, VERDICT r4 #1), so
# in production it persists as a table BUCKETED on the fingerprint and
# re-checks join shuffle-free from the bucket layout (round-trip
# proven in tests/test_dedup_stages.py).  No step compares delta docs
# to corpus BYTES, only to fingerprints.
# ---------------------------------------------------------------------------
DELTA_MOD = 10

_SIMHASH_SQL = REGISTRY["simhash64"].sql
_INCR_DOC_HASH = hash8_sql("CAST(d.doc_id AS VARCHAR)")

_INCR_SQL = f"""
WITH sh AS ({_SIMHASH_SQL}),
split AS (
  SELECT d.doc_id, md5(d.text) AS th, s.simhash,
         {_INCR_DOC_HASH} % {DELTA_MOD} AS bucket
  FROM documents d JOIN sh s ON s.doc_id = d.doc_id
),
ce AS (SELECT DISTINCT th FROM split WHERE bucket != 0),
cs AS (SELECT DISTINCT simhash FROM split WHERE bucket != 0)
SELECT t.doc_id,
       CAST(ce.th IS NOT NULL AS INTEGER) AS exact_dup,
       CAST(cs.simhash IS NOT NULL AS INTEGER) AS near_dup
FROM (SELECT doc_id, th, simhash FROM split WHERE bucket = 0) t
LEFT JOIN ce ON ce.th = t.th
LEFT JOIN cs ON cs.simhash = t.simhash
"""


@register("incremental_dedup", sql=_INCR_SQL, doc="""
Delta-vs-corpus dedup: every document in the incoming hash-split batch
flagged for exact (md5 text) and near (64-bit simhash, hamming 0)
duplication against the rest of the corpus, touching only the corpus'
fingerprint store, never its bytes.""")
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fingerprint once, reuse for both the store and the delta: the two
    # branches would otherwise each re-run the simhash fold (CLAUDE.md
    # multi-branch rule)
    split = fingerprint_split(spark, sf_dir)
    corpus = split.filter(F.col("bucket") != 0)
    ce = corpus.select("th").distinct().withColumn("exact_dup", F.lit(1))
    cs = (corpus.select("simhash").distinct()
          .withColumn("near_dup", F.lit(1)))
    delta = split.filter(F.col("bucket") == 0)
    return (delta.join(ce, "th", "left").join(cs, "simhash", "left")
            .select("doc_id",
                    F.coalesce(F.col("exact_dup"), F.lit(0))
                    .cast("int").alias("exact_dup"),
                    F.coalesce(F.col("near_dup"), F.lit(0))
                    .cast("int").alias("near_dup")))


# ---------------------------------------------------------------------------
# snapshot-RESUMABLE incremental dedup (VERDICT r4 #5): the store is no
# longer recomputed per run — it persists as a managed table BUCKETED on
# the exact-dup fingerprint, run N+1 reads only that table plus the new
# batch (zero corpus bytes, plan-asserted in tests/test_dedup_stages.py),
# and each run appends the batch's previously-unseen fingerprints so the
# next run resumes from the grown snapshot.  The registry query drives a
# real two-batch sequence through the store; its oracle states the same
# sequence declaratively (batch 1 checks against buckets >= 2, batch 2
# against buckets >= 1 — i.e. the appended store).
# ---------------------------------------------------------------------------
FP_STORE_TABLE = "incr_fp_store"
FP_STORE_BUCKETS = 8


_FPS_CACHE: dict = {}


def fingerprint_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, th, simhash, bucket) for every non-NULL-text document,
    materialized once (the store build and every batch reuse it).

    r12: memoized per (session, sf_dir) — incremental_dedup and
    incremental_dedup_resume each re-ran the simhash fold +
    checkpoint over the identical corpus."""
    from .textops import with_simhash64

    def build():
        docs = load_table(spark, sf_dir, "documents", spread=True).filter(
            F.col("text").isNotNull())
        doc_hash = F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
            16, 10).cast("long")
        return with_simhash64(docs).select(
            "doc_id", F.md5("text").alias("th"), "simhash",
            (doc_hash % DELTA_MOD).alias("bucket")).localCheckpoint(eager=True)

    return session_memo(_FPS_CACHE, spark, sf_dir, build=build)


def write_fingerprint_store(fps: DataFrame, table: str = FP_STORE_TABLE,
                            n_buckets: int = FP_STORE_BUCKETS) -> None:
    """Initialize the persistent store: DISTINCT (th, simhash) rows,
    bucketed+sorted on th so exact-dup joins read bucket-aligned."""
    from ..sources.sinks import write_bucketed_table

    write_bucketed_table(fps.select("th", "simhash").distinct(), table,
                         bucket_cols=("th",), n_buckets=n_buckets,
                         sort_cols=("th",))


def check_batch_against_store(spark: SparkSession, batch: DataFrame,
                              table: str = FP_STORE_TABLE) -> DataFrame:
    """Flag each batch doc for exact (th) / near (simhash) duplication
    against the persisted store — the corpus' bytes are never read."""
    store = spark.table(table)
    ce = store.select("th").distinct().withColumn("exact_dup", F.lit(1))
    cs = (store.select("simhash").distinct()
          .withColumn("near_dup", F.lit(1)))
    return (batch.join(ce, "th", "left").join(cs, "simhash", "left")
            .select("doc_id",
                    F.coalesce(F.col("exact_dup"), F.lit(0))
                    .cast("int").alias("exact_dup"),
                    F.coalesce(F.col("near_dup"), F.lit(0))
                    .cast("int").alias("near_dup")))


def append_new_fingerprints(spark: SparkSession, batch: DataFrame,
                            table: str = FP_STORE_TABLE,
                            n_buckets: int = FP_STORE_BUCKETS) -> None:
    """Grow the snapshot: append the batch's fingerprint PAIRS not yet
    in the store (anti-join on th — the exact-dup key — keeps growth
    bounded by genuinely-new content).  Appends preserve the bucket
    spec, so later runs still join bucket-aligned."""
    from ..sources.sinks import write_bucketed_table

    store = spark.table(table)
    new = (batch.select("th", "simhash").distinct()
           .join(store.select("th"), "th", "left_anti"))
    write_bucketed_table(new, table, bucket_cols=("th",),
                         n_buckets=n_buckets, sort_cols=("th",),
                         mode="append")
    spark.catalog.refreshTable(table)


def delete_orphan_location(spark: SparkSession, table: str) -> None:
    """Delete ``table``'s managed warehouse directory if it exists.  A
    session that died mid-write leaves that directory behind with no
    catalog entry; the next saveAsTable then fails
    LOCATION_ALREADY_EXISTS (CLAUDE.md rule)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.lower())
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)


def drop_fingerprint_store(spark: SparkSession,
                           table: str = FP_STORE_TABLE) -> None:
    """DROP the store AND its managed location."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    delete_orphan_location(spark, table)


def incremental_dedup_resume_frames(
        spark: SparkSession, sf_dir: str,
        table: str = FP_STORE_TABLE) -> tuple[DataFrame, DataFrame]:
    """Run the two-batch store sequence; returns (batch-1 flags already
    materialized, batch-2 flags still lazy — its executed plan proves
    the store path never rescans the corpus)."""
    split = fingerprint_split(spark, sf_dir)
    drop_fingerprint_store(spark, table)
    write_fingerprint_store(split.filter(F.col("bucket") >= 2), table)
    b1 = split.filter(F.col("bucket") == 1)
    # materialize batch 1's flags BEFORE the append: they are defined
    # against the pre-append snapshot, and a lazy plan executed later
    # would see the appended files
    out1 = check_batch_against_store(spark, b1, table) \
        .localCheckpoint(eager=True)
    append_new_fingerprints(spark, b1, table)
    out2 = check_batch_against_store(
        spark, split.filter(F.col("bucket") == 0), table)
    return out1, out2


_RESUME_SQL = f"""
WITH sh AS ({_SIMHASH_SQL}),
split AS (
  SELECT d.doc_id, md5(d.text) AS th, s.simhash,
         {_INCR_DOC_HASH} % {DELTA_MOD} AS bucket
  FROM documents d JOIN sh s ON s.doc_id = d.doc_id
),
ce1 AS (SELECT DISTINCT th FROM split WHERE bucket >= 2),
cs1 AS (SELECT DISTINCT simhash FROM split WHERE bucket >= 2),
ce2 AS (SELECT DISTINCT th FROM split WHERE bucket >= 1),
cs2 AS (SELECT DISTINCT simhash FROM split WHERE bucket >= 1)
SELECT t.doc_id, CAST(1 AS INTEGER) AS batch,
       CAST(ce1.th IS NOT NULL AS INTEGER) AS exact_dup,
       CAST(cs1.simhash IS NOT NULL AS INTEGER) AS near_dup
FROM (SELECT doc_id, th, simhash FROM split WHERE bucket = 1) t
LEFT JOIN ce1 ON ce1.th = t.th
LEFT JOIN cs1 ON cs1.simhash = t.simhash
UNION ALL
SELECT t.doc_id, CAST(2 AS INTEGER) AS batch,
       CAST(ce2.th IS NOT NULL AS INTEGER) AS exact_dup,
       CAST(cs2.simhash IS NOT NULL AS INTEGER) AS near_dup
FROM (SELECT doc_id, th, simhash FROM split WHERE bucket = 0) t
LEFT JOIN ce2 ON ce2.th = t.th
LEFT JOIN cs2 ON cs2.simhash = t.simhash
"""


@register("incremental_dedup_resume", sql=_RESUME_SQL, doc="""
Two consecutive dedup runs through the PERSISTED bucketed fingerprint
store: batch 1 (hash bucket 1) checks against the initial snapshot,
its new fingerprints append, then batch 2 (bucket 0) checks against
the grown snapshot — run N+1 reads only the store table plus its own
batch, never corpus bytes.""")
def incremental_dedup_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    out1, out2 = incremental_dedup_resume_frames(spark, sf_dir)
    one = F.lit(1).cast("int").alias("batch")
    two = F.lit(2).cast("int").alias("batch")
    return (out1.select("doc_id", one, "exact_dup", "near_dup")
            .unionAll(out2.select("doc_id", two, "exact_dup", "near_dup")))


# ---------------------------------------------------------------------------
# split leakage: decontaminate (shaping.py) guards n-gram overlap with
# a benchmark; this guards NEAR-DUP leakage across a train/eval hash
# split — an eval doc whose near-duplicate sits in train inflates
# scores just as surely as a verbatim leak.  Composes the capped LSH
# pair pipeline with the same content-independent hash split as
# incremental_dedup; output is the one-row audit a pipeline publishes
# next to its split definition.
# ---------------------------------------------------------------------------
_SPLIT_SQL = (f"SELECT doc_id, {hash8_sql('CAST(doc_id AS VARCHAR)')} "
              f"% {DELTA_MOD} AS b FROM documents")

_LEAKAGE_SQL = f"""
WITH lpairs AS ({_PAIRS_SQL}),
s AS ({_SPLIT_SQL})
SELECT CAST(COUNT(*) AS BIGINT) AS total_pairs,
       CAST(SUM(CASE WHEN (sa.b = 0) != (sb.b = 0) THEN 1 ELSE 0 END)
            AS BIGINT) AS cross_pairs,
       CAST(SUM(CASE WHEN sa.b = 0 AND sb.b = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS eval_internal_pairs
FROM lpairs p
JOIN s sa ON sa.doc_id = p.doc_a
JOIN s sb ON sb.doc_id = p.doc_b
"""


@register("split_leakage_report", sql=_LEAKAGE_SQL, doc="""
One-row audit of near-dup leakage across the train/eval hash split:
how many LSH candidate pairs cross the boundary (leaked eval content)
vs sit inside each side.""")
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = lsh_pairs_materialized(spark, sf_dir)
    doc_hash = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
        16, 10).cast("long")
    split = load_table(spark, sf_dir, "documents").select(
        "doc_id", (doc_hash % DELTA_MOD == 0).alias("is_eval"))
    a = split.select(F.col("doc_id").alias("doc_a"),
                     F.col("is_eval").alias("eval_a"))
    b = split.select(F.col("doc_id").alias("doc_b"),
                     F.col("is_eval").alias("eval_b"))
    j = pairs.join(F.broadcast(a), "doc_a").join(F.broadcast(b), "doc_b")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("total_pairs"),
        F.sum((F.col("eval_a") != F.col("eval_b")).cast("int"))
        .cast("long").alias("cross_pairs"),
        F.sum((F.col("eval_a") & F.col("eval_b")).cast("int"))
        .cast("long").alias("eval_internal_pairs"))


# ---------------------------------------------------------------------------
# PageRank over the near-dup graph — "which documents sit at the center
# of a duplication web" (boilerplate hubs rank highest).  Fixed
# deterministic iterations in EXACT integer arithmetic: ranks scaled to
# 1e12, per-edge contribution (r * 85) div (100 * deg) — positive
# BIGINTs, so DuckDB's truncating // and Spark's div floor identically
# and the oracle is hash-exact (the usual float PageRank would drift
# with aggregation order).  Per iteration: one join + one groupBy on
# the node key; edges checkpoint once and re-broadcast nothing.
# ---------------------------------------------------------------------------
PR_SCALE = 1_000_000_000_000  # initial rank per node
PR_ITERS = 3
_PR_BASE = 15 * PR_SCALE // 100


def _pr_iter_sql(k: int) -> str:
    return f"""r{k} AS (
  SELECT dg.n, CAST({_PR_BASE} + COALESCE(SUM(x.c), 0) AS BIGINT) AS r
  FROM deg dg LEFT JOIN (
    SELECT e.d AS n, (r.r * 85) // (100 * sdeg.deg) AS c
    FROM e JOIN r{k - 1} r ON r.n = e.s JOIN deg sdeg ON sdeg.n = e.s
  ) x ON x.n = dg.n GROUP BY dg.n)"""


@register("pagerank_dup_graph", sql=f"""
WITH pairs AS MATERIALIZED ({_PAIRS_SQL}),
e AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL SELECT doc_b AS s, doc_a AS d FROM pairs),
deg AS MATERIALIZED (SELECT s AS n, CAST(COUNT(*) AS BIGINT) AS deg
                     FROM e GROUP BY s),
r0 AS (SELECT n, CAST({PR_SCALE} AS BIGINT) AS r FROM deg),
{', '.join(_pr_iter_sql(k) for k in range(1, PR_ITERS + 1))}
SELECT deg.n AS doc_id, deg.deg, r{PR_ITERS}.r AS rank_e12
FROM deg JOIN r{PR_ITERS} ON r{PR_ITERS}.n = deg.n""")
def pagerank_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = lsh_pairs_materialized(spark, sf_dir)
    e = (pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
         .union(pairs.select(F.col("doc_b").alias("s"),
                             F.col("doc_a").alias("d"))))
    deg = e.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    edges = (e.join(deg, "s")
             .select("s", "d", "deg")
             .localCheckpoint(eager=True))  # reused every iteration
    nodes = deg.withColumnRenamed("s", "n").localCheckpoint(eager=True)
    r = nodes.select("n", F.lit(PR_SCALE).cast("long").alias("r"))
    for _ in range(PR_ITERS):
        contrib = (edges.join(r, edges.s == r.n)
                   .select(F.col("d").alias("n"),
                           F.expr("(r * 85) div (100 * deg)").alias("c")))
        r = (nodes.join(contrib.groupBy("n").agg(F.sum("c").alias("sc")),
                        "n", "left")
             .select("n", (F.lit(_PR_BASE)
                           + F.coalesce("sc", F.lit(0)))
                     .cast("long").alias("r")))
    return (nodes.join(r, "n")
            .select(F.col("n").alias("doc_id"), "deg",
                    F.col("r").alias("rank_e12")))


@register("triangle_count_dup_graph", sql=f"""
WITH pairs AS MATERIALIZED ({_PAIRS_SQL}),
e AS MATERIALIZED (
  SELECT DISTINCT LEAST(doc_a, doc_b) AS a, GREATEST(doc_a, doc_b) AS b
  FROM pairs),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1 JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
       CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges
FROM tri""")
def triangle_count_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over the near-dup graph — the clustering-
    coefficient numerator (dup graphs are clique-heavy, so triangles
    per edge distinguish boilerplate webs from chance pairs).  Edges
    orient low->high once, so each triangle materializes exactly once
    via two hash joins (the standard distributed formulation; at scale
    the first join's fan-out is bounded by orienting each edge at its
    LOWER-degree endpoint — unnecessary at fixture degrees)."""
    pairs = lsh_pairs_materialized(spark, sf_dir)
    e = (pairs.select(F.least("doc_a", "doc_b").alias("a"),
                      F.greatest("doc_a", "doc_b").alias("b"))
         .distinct().localCheckpoint(eager=True))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (e1.join(e2, F.col("e2.a") == F.col("e1.b"))
           .join(e3, (F.col("e3.a") == F.col("e1.a"))
                 & (F.col("e3.b") == F.col("e2.b"))))
    return tri.agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")).crossJoin(
        F.broadcast(e.agg(F.count(F.lit(1)).cast("long")
                          .alias("n_edges"))))


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split: assign splits by hash of the
# near-dup CLUSTER representative, never the document — a near-dup pair
# split across train and test is silent evaluation leakage that
# doc-level hash splitting produces by construction.  Published
# pipelines dedup across split boundaries for exactly this reason;
# doing the assignment at cluster granularity makes the property hold
# by construction instead of by a post-hoc decontamination pass.
# Scale shape: dedup_clusters' own shapes + one hash expression — the
# split adds no shuffle at all.
# ---------------------------------------------------------------------------
SPLIT_TRAIN_PCT = 90
SPLIT_VAL_PCT = 5  # test gets the remainder


@register("leakage_safe_split", sql=f"""
WITH cc AS ({_CLUSTERS_SQL}),
h AS (
  SELECT doc_id, cluster_id,
         {hash8_sql("CAST(cluster_id AS VARCHAR) || ':split'")} % 100
           AS bucket
  FROM cc)
SELECT doc_id, cluster_id,
       CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM h""", doc="""
90/5/5 train/val/test assignment hashed on the near-dup cluster id:
every member of a cluster lands in the SAME split, so near-duplicate
evaluation leakage is impossible by construction (the doc-level hash
split it replaces scatters clusters across splits).  Deterministic —
the same engine-identical md5 hash as every sampling query.""")
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = REGISTRY["dedup_clusters"].fn(spark, sf_dir)
    bucket = (F.conv(F.substring(F.md5(
        F.concat(F.col("cluster_id").cast("string"), F.lit(":split"))),
        1, 8), 16, 10).cast("long") % 100)
    return cc.select(
        "doc_id", "cluster_id",
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test").alias("split"))
