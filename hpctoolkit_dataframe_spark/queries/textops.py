"""Text-analysis + deduplication operators over the ``documents`` table.

Scale extensions beyond the reference (task brief): exact dedup,
MinHash signatures + LSH banding, n-gram Jaccard similarity, SimHash
fingerprinting, token/quality statistics, language guessing.

Everything is expressed with built-in JVM-side column functions — no
Python UDFs — so the hot path stays inside whole-stage codegen:
tokenization via ``split``, shingling via ``transform``+``slice`` over
the token array (per-row, no explode), MinHash via ``array_min`` over
md5 hex strings (md5 is identical in Spark and DuckDB, which is what
makes the oracles exact).

At 100 TB: per-doc signature computation is embarrassingly parallel
(narrow); the only shuffles are the band-key / shingle-key self-joins,
which are classic skew-prone joins — mitigated here by capping shingle
document-frequency before the join (hot-shingle salting would be the
next lever at larger scale).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf

from . import hash8_sql, load_table, register, session_memo

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on"]
N_HASHES = 8
N_BANDS = 4  # 2 hashes per band
SHINGLE_DF_CAP = 50
# Max docs per LSH band key before the key is excluded from pair
# generation (degenerate content — empty/boilerplate docs — collapses
# to one signature; a 10^6-member band key would emit ~10^12 pairs).
# Measured max frequency: 3 at sf0.01, 13 at sf0.1 — 64 leaves the
# fixtures untouched while bounding any bucket's pair count at 64^2/2.
BAND_DF_CAP = 64
JACCARD_THRESHOLD = 0.5


def _tokens(col="text"):
    return F.split(F.col(col), r"\s+")


_TOKENS_SQL = "string_split_regex(text, '\\s+')"


def _shingles(tokens):
    """Distinct 3-token shingles, computed per-row (no explode)."""
    n = F.greatest(F.size(tokens) - 2, F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n),
                    lambda j: F.array_join(F.slice(tokens, j, 3), " ")))


_SHINGLES_SQL = f"""list_distinct(list_transform(
  range(1, greatest(len({_TOKENS_SQL}) - 2, 1) + 1),
  j -> array_to_string(list_slice({_TOKENS_SQL}, j, j + 2), ' ')))"""


# ---------------------------------------------------------------------------
# token / quality statistics
# ---------------------------------------------------------------------------
@register("doc_stats", sql=f"""
SELECT doc_id,
       CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_m,
       CAST(len(list_filter({_TOKENS_SQL},
            t -> list_contains({STOPWORDS!r}, t))) AS DOUBLE)
         / CAST(len({_TOKENS_SQL}) AS DOUBLE) AS stop_ratio,
       CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
         / CAST(len({_TOKENS_SQL}) AS DOUBLE) AS avg_token_len
FROM documents""")
def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks).cast("long")
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_m"),
        (F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
         .cast("double") / n_tokens.cast("double")).alias("stop_ratio"),
        (F.length(F.regexp_replace("text", r"\s", "")).cast("double")
         / n_tokens.cast("double")).alias("avg_token_len"),
    )


# ---------------------------------------------------------------------------
# language guess (marker-word heuristic; deterministic CASE priority)
# ---------------------------------------------------------------------------
_MARKERS = {
    "en": ["the", "a", "value", "fast"],
    "de": ["und", "der", "nicht", "das"],
    "fr": ["le", "la", "les", "est"],
}


def _hits_sql(words):
    return f"len(list_filter({_TOKENS_SQL}, t -> list_contains({words!r}, t)))"


@register("lang_guess", sql=f"""
SELECT doc_id, lang,
       CASE WHEN {_hits_sql(_MARKERS['de'])} > {_hits_sql(_MARKERS['en'])}
              AND {_hits_sql(_MARKERS['de'])} >= {_hits_sql(_MARKERS['fr'])}
            THEN 'de'
            WHEN {_hits_sql(_MARKERS['fr'])} > {_hits_sql(_MARKERS['en'])}
            THEN 'fr'
            WHEN {_hits_sql(_MARKERS['en'])} > 0 THEN 'en'
            ELSE 'unknown' END AS guess
FROM documents""")
def lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()

    def hits(words):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    en, de, fr = (hits(_MARKERS[k]) for k in ("en", "de", "fr"))
    return docs.select(
        "doc_id", "lang",
        F.when((de > en) & (de >= fr), "de")
        .when(fr > en, "fr")
        .when(en > 0, "en")
        .otherwise("unknown").alias("guess"))


@register("source_token_totals", sql=f"""
SELECT source, COUNT(*) AS docs,
       CAST(SUM(CAST(len({_TOKENS_SQL}) AS BIGINT)) AS BIGINT)
         AS total_tokens,
       CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars
FROM documents GROUP BY source""")
def source_token_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("docs"),
             F.sum(F.size(_tokens()).cast("long")).cast("long")
             .alias("total_tokens"),
             F.sum(F.length("text").cast("long")).cast("long")
             .alias("total_chars"))
    )


# ---------------------------------------------------------------------------
# exact deduplication: content-hash grouping (hash-groupBy; one shuffle)
# ---------------------------------------------------------------------------
@register("dedup_exact", sql="""
SELECT md5(text) AS text_hash,
       CAST(MIN(doc_id) AS BIGINT) AS rep_doc,
       COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)""")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").cast("long").alias("rep_doc"),
             F.count(F.lit(1)).alias("n_copies"))
    )


_CANON_SQL = ("md5(trim(regexp_replace(regexp_replace(lower(text), "
              "'[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')))")


def _canon_hash():
    """C4-style canonical text hash (shared with curation_funnel_report)."""
    return F.md5(F.trim(F.regexp_replace(F.regexp_replace(
        F.lower(F.col("text")), "[^a-z0-9\\s]", ""), "\\s+", " ")))


@register("canonical_dedup", sql=f"""
SELECT {_CANON_SQL} AS canon_hash,
       CAST(MIN(doc_id) AS BIGINT) AS rep_doc,
       COUNT(*) AS n_copies,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_raw_variants
FROM documents GROUP BY 1""", doc="""
Exact dedup AFTER text canonicalization (the C4/CCNet staple:
lowercase, strip non-alphanumerics, collapse whitespace) — catches the
trivial near-dups (case, punctuation, spacing edits) that raw-hash
dedup_exact misses, at identical cost: one hash-groupBy, no pairwise
anything.  n_raw_variants counts how many RAW hashes each canonical
group collapses (>1 = a catch the raw pass missed).  At 100 TB this is
the same map-side-combined single-shuffle shape as dedup_exact.""")
def canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (docs.groupBy(_canon_hash().alias("canon_hash"))
            .agg(F.min("doc_id").cast("long").alias("rep_doc"),
                 F.count(F.lit(1)).alias("n_copies"),
                 F.countDistinct(F.md5("text")).cast("long")
                 .alias("n_raw_variants")))


# ---------------------------------------------------------------------------
# MinHash signatures (k=8) — min of md5(seed:shingle) per seed, per row
# ---------------------------------------------------------------------------
def _mh_cols():
    # reads a pre-materialized "sh" shingle column: tokenize+shingle once
    # instead of once per hash seed (8x less string work per row)
    return [
        F.array_min(F.transform(F.col("sh"), lambda s: F.md5(F.concat(
            F.lit(f"{i}:"), s)))).alias(f"mh{i}")
        for i in range(N_HASHES)
    ]


def _mh_sql(i):
    return (f"list_aggregate(list_transform({_SHINGLES_SQL}, "
            f"s -> md5('{i}:' || s)), 'min')")


@register("minhash_signatures", sql="SELECT doc_id, "
          + ", ".join(f"{_mh_sql(i)} AS mh{i}" for i in range(N_HASHES))
          + " FROM documents")
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the documents table arrives as one parquet file -> one input split;
    # spread the (CPU-bound) hashing across the cluster first
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    shingled = docs.select("doc_id", _shingles(_tokens()).alias("sh"))
    return shingled.select("doc_id", *_mh_cols())


# ---------------------------------------------------------------------------
# MinHash LSH candidate pairs: band the signature, self-join on band key
# ---------------------------------------------------------------------------
_KEYS_CACHE: dict = {}

_BAND_SQL = ", ".join(
    f"md5(mh{2*b} || mh{2*b+1}) AS band{b}" for b in range(N_BANDS))

@register("minhash_lsh_pairs", sql=f"""
WITH sig AS (
  SELECT doc_id, {", ".join(f"{_mh_sql(i)} AS mh{i}" for i in range(N_HASHES))}
  FROM documents
),
bands AS (
  SELECT doc_id, {_BAND_SQL} FROM sig
),
keys AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_idx, band{b} AS key FROM bands"
                      for b in range(N_BANDS))}
),
rare AS (
  SELECT band_idx, key FROM keys
  GROUP BY band_idx, key HAVING COUNT(*) <= {BAND_DF_CAP}
),
pruned AS (
  SELECT k.* FROM keys k SEMI JOIN rare r
    ON r.band_idx = k.band_idx AND r.key = k.key
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM pruned a JOIN pruned b
  ON a.band_idx = b.band_idx AND a.key = b.key AND a.doc_id < b.doc_id""")
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the checkpointed band-key table is memoized per (session, sf_dir)
    # like build_cct: dedup_clusters and training_shard_manifest re-run
    # this pipeline, and the materialized keys are the shared prefix
    def band_keys():
        sig = minhash_signatures(spark, sf_dir)
        # posexplode instead of a 4-way union so the signature
        # computation runs once, not once per band branch
        keys = sig.select(
            "doc_id",
            F.posexplode(F.array(
                *[F.md5(F.concat(F.col(f"mh{2*b}"), F.col(f"mh{2*b+1}")))
                  for b in range(N_BANDS)])).alias("band_idx", "key"))
        # materialize: the whole shingle->minhash->band pipeline would
        # otherwise run once per self-join side
        return keys.localCheckpoint(eager=True)

    keys = session_memo(_KEYS_CACHE, spark, sf_dir, build=band_keys)
    # Exclude hot band keys BEFORE the self-join (same failure class as
    # the shingle DF cap one layer down): degenerate content collapses
    # to identical signatures, and one 10^6-member band key would emit
    # ~10^12 candidate pairs.  The semi-join shuffles on the same
    # (band_idx, key) the self-join needs, so the exchange is reused.
    # Plan shape asserted in
    # tests/test_plans.py::test_minhash_lsh_prunes_before_selfjoin.
    rare = (keys.groupBy("band_idx", "key")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= BAND_DF_CAP)
            .select("band_idx", "key"))
    pruned = keys.join(rare, ["band_idx", "key"], "left_semi")
    a = pruned.alias("a")
    b = pruned.alias("b")
    return (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


_PAIRS_CACHE: dict = {}


def lsh_pairs_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed MinHash-LSH candidate pairs, memoized per
    (session, sf_dir).

    r12: seven registry consumers (dedup_clusters -> manifest ->
    corpus_report chain, lsh_verified_pairs, pagerank, triangles,
    leakage_safe_split, split_leakage_report) each re-ran the
    band->cap->self-join->distinct tail on top of the memoized band
    keys.  The pair graph is the natural shared materialization — a
    deployment computes it once per corpus snapshot (guide §5 reuse
    rule).  The registry entry itself stays un-memoized so its plan
    keeps showing the cap-below-self-join contract (pinned in
    tests/test_plans.py); consumers import this helper instead."""
    return session_memo(_PAIRS_CACHE, spark, sf_dir, build=lambda: (
        minhash_lsh_pairs(spark, sf_dir).localCheckpoint(eager=True)))


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs via shared-shingle candidates
# ---------------------------------------------------------------------------
@register("ngram_jaccard_pairs", sql=f"""
WITH doc_sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM doc_sh GROUP BY doc_id),
rare AS (
  SELECT sh FROM doc_sh GROUP BY sh HAVING COUNT(*) <= {SHINGLE_DF_CAP}
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM doc_sh a JOIN doc_sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  JOIN rare r ON r.sh = a.sh
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(c.inter AS DOUBLE)
         / CAST(sa.sz + sb.sz - c.inter AS DOUBLE) AS jaccard
FROM cand c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE CAST(c.inter AS DOUBLE)
        / CAST(sa.sz + sb.sz - c.inter AS DOUBLE) >= {JACCARD_THRESHOLD}""")
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    doc_sh = docs.select(
        "doc_id", F.explode(_shingles(_tokens())).alias("sh"))
    # feeds three branches (sizes, hot-key filter, pair groups) — cut
    # lineage so tokenize+shingle+explode runs once
    doc_sh = doc_sh.localCheckpoint(eager=True)
    sizes = doc_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    # Prune hot shingles BEFORE the self-join: one shingle with DF=10^6
    # would otherwise emit ~10^12 intermediate pairs that the rarity cap
    # only deletes afterwards (VERDICT r1 #1).  r13 (guide §2.5 "handle
    # the hot keys, not the cold ones"): the prune is an ANTI-join
    # against the provably-SMALL hot key set (df > CAP, at most
    # |doc_sh|/CAP keys) instead of the former semi-join against the
    # rare majority — identical result (rare = not-hot), par at sf0.1
    # and the 10x skew clone, but the broadcast side stays bounded at
    # any corpus size where the rare set cannot.  A grouped
    # collect_list + in-row pair-generation rewrite (removing the
    # self-join outright) was prototyped and REFUTED: par at sf0.1,
    # 4.9-6.2 s vs 4.0-4.4 s at the 10x skew clone — per-pair
    # transform lambdas run interpreted (CLAUDE.md) and the pair join
    # is codegen; see OPTIMIZATION_r13.md.  Plan shape asserted in
    # tests/test_plans.py::test_ngram_jaccard_prunes_before_selfjoin.
    hot = (doc_sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") > SHINGLE_DF_CAP).select("sh"))
    pruned = doc_sh.join(F.broadcast(hot), "sh", "left_anti")
    a = pruned.alias("a")
    b = pruned.alias("b")
    cand = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
    return (
        cand.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# BPE-ish tokenization: GPT-2-style regex classes (contractions, letter
# runs, digit runs, punctuation runs, whitespace), minus lookahead —
# identical leftmost-first semantics in Java regex and RE2.  The md5
# digest of the joined token stream pins EXACT tokenizer equality.
# ---------------------------------------------------------------------------
_BPE_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


@register("bpe_token_stats", sql=f"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_bpe,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_bpe,
       md5(COALESCE(array_to_string(toks, '|'), '')) AS tok_digest
FROM t""")
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(_BPE_RE), 0)
    t = docs.select("doc_id", toks.alias("toks"))
    return t.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_bpe"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_unique_bpe"),
        # coalesce to '' so a NULL text digests like the oracle's
        # COALESCE(array_to_string(...), '') instead of going NULL
        F.md5(F.coalesce(F.array_join("toks", "|"), F.lit("")))
        .alias("tok_digest"))


# ---------------------------------------------------------------------------
# Winnowing fingerprint (Schleimer et al., MOSS): k-gram hashes, pick
# the rightmost minimum of each w-window, dedupe (pos, hash) pairs.
# Per-row array ops only — no explode, no shuffle.  The k-gram hash is
# md5-derived (engine-identical) rather than Karp-Rabin; a production
# kernel would roll the hash inside a pandas UDF, but the SELECTION
# algorithm — the part that defines the fingerprint — is exact here.
# ---------------------------------------------------------------------------
K_GRAM = 8
WINNOW_W = 16
# encoded fingerprint = hash32 * _POS_SCALE + position.  hash32 < 2^32,
# so 2^32 * 10^7 ~= 4.3e16 << 2^63: safely BIGINT, and positions bleed
# into the hash component only for documents with >= 10^7 k-grams
# (~10 MB of text; current docs are <1 KB).  Was 10^4, which overflowed
# at 10k k-grams — well within a real document's length.
_POS_SCALE = 10_000_000


_WINNOW_SQL = f"""
WITH g AS (
  SELECT doc_id,
         list_transform(
           range(1, greatest(length(text) - {K_GRAM - 1}, 1) + 1),
           i -> {hash8_sql(f"substr(text, CAST(i AS BIGINT), {K_GRAM})")})
           AS hs
  FROM documents WHERE text IS NOT NULL
),
m AS (
  SELECT doc_id, hs,
         list_transform(
           range(1, greatest(len(hs) - {WINNOW_W - 1}, 1) + 1),
           j -> list_aggregate(list_slice(hs, j, j + {WINNOW_W - 1}), 'min'))
           AS mins
  FROM g
),
w AS (
  SELECT doc_id,
         list_transform(
           range(1, len(mins) + 1),
           j -> mins[j] * {_POS_SCALE}
                + list_max(list_filter(
                    range(j, j + {WINNOW_W}),
                    p -> p <= len(hs) AND hs[p] = mins[j]))
         ) AS sel
  FROM m
)
SELECT doc_id,
       CAST(len(list_distinct(sel)) AS BIGINT) AS n_fp,
       array_to_string(list_sort(list_distinct(sel)), '/') AS fp
FROM w"""


def _np_winnow(hs_list) -> "object":
    """Rightmost-min-per-window selection over one hash array, encoded
    hash*SCALE+pos, deduped+sorted.  Pure int64 — engine-exact."""
    import numpy as np

    if hs_list is None:
        return []
    a = np.asarray(hs_list, dtype=np.int64)
    n = len(a)
    if n == 0:
        return []
    w = min(WINNOW_W, n)
    sw = np.lib.stride_tricks.sliding_window_view(a, w)
    mins = sw.min(axis=1)
    # np.argmin returns the FIRST minimum; on the reversed window that
    # is the RIGHTMOST in the original — the winnowing tie-break
    ridx = (w - 1) - np.argmin(sw[:, ::-1], axis=1)
    pos = np.arange(len(mins), dtype=np.int64) + ridx + 1  # 1-based
    return np.unique(mins * _POS_SCALE + pos).tolist()


def _winnow_select_udf():
    # created lazily: the decorator form parses its DDL type at import
    # time, which requires an active SparkSession
    from pyspark.sql import types as T

    def sel(hs: pd.Series) -> pd.Series:
        return hs.map(_np_winnow)

    return pandas_udf(sel, T.ArrayType(T.LongType()))


@register("winnow_fingerprints", sql=_WINNOW_SQL)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL text: no fingerprint row, on BOTH engines (the spans-family
    # convention).  Without the filter Spark's greatest(NULL-12, 1)
    # manufactures a [NULL] gram list (the numpy kernel then
    # garbage-casts it) while DuckDB's NULL propagates — the
    # adversarial-text probe caught the divergence.
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    # one input file -> one split; spread the CPU-bound hashing first
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    n = F.length("text")
    hs = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (K_GRAM - 1), F.lit(1))),
        lambda i: F.conv(
            F.substring(F.md5(F.substr(F.col("text"), i, F.lit(K_GRAM))),
                        1, 8), 16, 10).cast("long"))
    g = docs.select("doc_id", hs.alias("hs"))
    # The sliding-min selection is O(n_grams x w) per row; as Column
    # lambdas it runs interpreted per element (60 s at sf0.1 naively,
    # ~14 s single-pass).  This is precisely the built-ins-can't-
    # express-it-efficiently case: a vectorized Arrow UDF does the scan
    # in numpy (exact int64 math — same result, the oracle stays exact)
    # in well under a second.  The md5 k-gram hashing stays JVM-side.
    from .._pickle import register_module_by_value

    register_module_by_value(__name__)
    w = g.select("doc_id", _winnow_select_udf()(F.col("hs")).alias("fps"))
    return w.select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fp"),
        F.array_join(F.transform("fps", lambda x: x.cast("string")), "/")
        .alias("fp"))


# ---------------------------------------------------------------------------
# SimHash (64-bit) document fingerprint from token md5 nibbles.
#
# WIDTH MATTERS AT SCALE (VERDICT r4 #1): the earlier 16-bit fold had
# only 2^16 distinct fingerprints, so hamming-0 "near dup" saturates to
# always-true past ~10^5 docs.  64 bits keeps the birthday-collision
# rate negligible at 10^9+ documents.  The value is the SIGNED 64-bit
# reinterpretation (bit 63 = sign) so it stays BIGINT-exact in both
# engines.
# ---------------------------------------------------------------------------
SIMHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS t FROM documents
),
bits AS (
  SELECT doc_id, j,
         SUM(CASE WHEN
               ((instr('0123456789abcdef',
                       substr(md5(t), CAST(j // 4 + 1 AS BIGINT), 1)) - 1)
                 // CAST(power(2, j % 4) AS BIGINT)) % 2 = 1
             THEN 1 ELSE -1 END) AS s
  FROM tok CROSS JOIN (SELECT unnest(range(0, 64)) AS j)
  GROUP BY doc_id, j
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s < 0 THEN 0
                     WHEN j = 63 THEN -9223372036854775808
                     ELSE CAST(power(2, j) AS HUGEINT) END) AS BIGINT)
         AS simhash
FROM bits GROUP BY doc_id"""


@register("simhash64", sql=SIMHASH_SQL)
def simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit simhash over whitespace tokens.  Hashing is JVM-side (one
    md5 per token folded to a signed 64-bit long, narrow transform); the
    64-lane ±1 bit-count fold runs as a vectorized Arrow UDF — the
    winnow-class exception to the no-Python rule: 64 Column-lambda
    aggregates would run interpreted per element (CLAUDE.md), while the
    numpy fold is exact int64 math at a fraction of the cost.  Zero
    exchanges either way (plan-asserted)."""
    # NULL text: the oracle's unnest emits no rows for that doc, so the
    # doc must be absent here too (split(NULL) would otherwise fold to
    # an all-ones row)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    return with_simhash64(docs, "text").select("doc_id", "simhash")


# bit j of the fingerprint reads md5 hex char j//4+1 (1-based), nibble
# bit j%4 — i.e. shift 4*(15 - j//4) + j%4 of the 64-bit md5 prefix —
# matching the oracle's instr()-nibble arithmetic exactly
_SIMHASH_SHIFTS = (4 * (15 - np.arange(64) // 4)
                   + np.arange(64) % 4).astype(np.uint64)


def _np_simhash64(vs) -> int:
    """Exact int64 simhash fold of per-token 64-bit md5 prefixes."""
    a = np.asarray(vs, dtype=np.int64)
    n = a.shape[0]
    if n == 0:
        return -1  # every bit-sum is 0 >= 0 -> all 64 bits set
    ones = ((a.view(np.uint64)[:, None] >> _SIMHASH_SHIFTS[None, :])
            & np.uint64(1)).astype(np.int64).sum(axis=0)
    bits = (2 * ones - n >= 0).astype(np.uint64)
    packed = int((bits << np.arange(64, dtype=np.uint64))
                 .sum(dtype=np.uint64))
    return packed - (1 << 64) if packed >= (1 << 63) else packed


def _simhash_fold_udf():
    # created lazily: parsing the DDL return type at import time would
    # require an active SparkSession (CLAUDE.md)
    from pyspark.sql import types as T

    def fold(vs: pd.Series) -> pd.Series:
        return vs.map(_np_simhash64)

    return pandas_udf(fold, T.LongType())


# ---------------------------------------------------------------------------
# banded near-dup pairs over the 64-bit simhash: 4 bands of 16 bits —
# two fingerprints within hamming distance 3 agree on at least one band
# (pigeonhole), so recall is EXACT for hamming <= 3; the per-band
# bucket cap guards degenerate content exactly like the minhash band
# cap and hyperplane bucket cap (same failure class, same recipe).  At
# larger corpus scale the band width trades off: wider bands (2 x 32,
# the streaming variant's layout) collide less but only guarantee
# hamming <= 1 — the banding is a parameter, the plan shape is not.
# ---------------------------------------------------------------------------
SIMHASH_HAMMING_K = 3
SIMHASH_BAND_CAP = 64

_SIMHASH_PAIRS_SQL = f"""
WITH sh AS ({SIMHASH_SQL}),
bands AS (
  -- unsigned reinterpretation before the shift: DuckDB's // truncates
  -- toward zero while an arithmetic shift floors, so negative
  -- fingerprints would land off-by-one; on the non-negative HUGEINT
  -- the two agree (Spark twin: shiftrightunsigned)
  SELECT doc_id, simhash, b.band_idx,
         CAST(((CAST(simhash AS HUGEINT)
                + CASE WHEN simhash < 0
                  THEN CAST(18446744073709551616 AS HUGEINT)
                  ELSE 0 END)
               // CAST(power(2, 16 * b.band_idx) AS HUGEINT)) % 65536
              AS BIGINT) AS band_val
  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS band_idx) b
),
rare AS (
  SELECT band_idx, band_val FROM bands
  GROUP BY band_idx, band_val HAVING COUNT(*) <= {SIMHASH_BAND_CAP}
),
pruned AS (
  SELECT bb.* FROM bands bb
  SEMI JOIN rare r ON r.band_idx = bb.band_idx AND r.band_val = bb.band_val
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM pruned a JOIN pruned b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {SIMHASH_HAMMING_K}"""


@register("simhash_near_dup_pairs", sql=_SIMHASH_PAIRS_SQL, doc="""
Near-duplicate pairs within hamming distance 3 on the 64-bit simhash:
banded candidate generation (4 x 16-bit bands, exact recall at <= 3 by
pigeonhole), per-band hot-bucket cap BELOW the self-join, then an
exact bit_count verify.  DuckDB floor division twins Spark's
arithmetic shiftright on negative fingerprints.""")
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_banded_pairs(spark, sf_dir)


def simhash_banded_pairs(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_bands: int = 4,
    band_cap: int = SIMHASH_BAND_CAP,
    hamming_k: int = SIMHASH_HAMMING_K,
) -> DataFrame:
    """Banded near-dup pairs, band layout as the scale knob: ``n_bands``
    bands of 64/n_bands bits guarantee recall for hamming <= n_bands-1.
    Small corpora use 4 x 16 (exact at <= 3); a 10^9-doc corpus
    saturates 16-bit buckets (2^16 values/band) and switches to 2 x 32
    — exact at <= 1, buckets stay selective.  Candidates(2 bands) is a
    SUBSET of candidates(4 bands) by nesting (test-pinned)."""
    assert 64 % n_bands == 0, n_bands
    width = 64 // n_bands
    mask = (1 << width) - 1
    # materialize the fold once: both self-join sides and the cap
    # branch would otherwise re-run it (CLAUDE.md multi-branch rule).
    # r12: the fold now comes from the memoized fingerprint_split
    # (same docs filter, same with_simhash64 fold, already spread +
    # checkpointed) so the incremental-dedup family and this query
    # share ONE fold per session instead of re-hashing the corpus.
    # Lazy import: dedup imports this module at load time.
    from .dedup import fingerprint_split

    fp = fingerprint_split(spark, sf_dir).select("doc_id", "simhash")
    bands = fp.select(
        "doc_id", "simhash",
        F.explode(F.array(*[F.lit(i) for i in range(n_bands)]))
        .alias("band_idx"),
    ).withColumn("band_val",
                 F.expr(f"shiftrightunsigned(simhash, band_idx * {width})"
                        f" & {mask}"))
    rare = (bands.groupBy("band_idx", "band_val")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= band_cap)
            .drop("__n"))
    pruned = bands.join(rare, ["band_idx", "band_val"], "left_semi")
    a = pruned.select(F.col("doc_id").alias("doc_a"),
                      F.col("simhash").alias("sa"), "band_idx", "band_val")
    b = pruned.select(F.col("doc_id").alias("doc_b"),
                      F.col("simhash").alias("sb"), "band_idx", "band_val")
    cand = (a.join(b, ["band_idx", "band_val"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "sa", "sb").distinct())
    hamming = F.bit_count(F.expr("sa ^ sb")).cast("long")
    return (cand.select("doc_a", "doc_b", hamming.alias("hamming"))
            .filter(F.col("hamming") <= hamming_k))


def with_simhash64(df: DataFrame, text_col: str = "text",
                   out: str = "simhash") -> DataFrame:
    """Append the 64-bit simhash fingerprint of ``text_col`` — the one
    shared fold used by the batch ``simhash64`` query, the incremental
    dedup flag, and the ``fingerprints`` store of streaming/curation.py,
    so they cannot drift.  Works on batch and streaming frames alike
    (per-row scalar Arrow UDF over a JVM-hashed token array)."""
    from .._pickle import register_module_by_value

    register_module_by_value(__name__)  # fold runs worker-side

    def tok_v64(t):
        # signed-long reconstruction of md5's first 16 hex chars: the
        # two 32-bit halves recombine as hi_signed*2^32 + lo, which
        # never overflows a long (ANSI mode would throw if it did)
        h = F.md5(t)
        hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
        hi_s = hi - F.when(hi >= F.lit(1 << 31).cast("long"),
                           F.lit(1 << 32).cast("long")).otherwise(
                               F.lit(0).cast("long"))
        return hi_s * F.lit(1 << 32).cast("long") + lo

    vs = F.transform(_tokens(text_col), tok_v64)
    return df.withColumn(out, _simhash_fold_udf()(vs))


# ---------------------------------------------------------------------------
# vocabulary heavy-hitters: global token document frequency, top-k.
# The 100 TB shape: tokens dedupe PER ROW (array_distinct, narrow)
# before the explode, so the one shuffle carries |distinct tokens per
# doc| rows with map-side partial counts; the top-k is TakeOrdered
# (per-partition heaps + driver merge), never a full sort.
# ---------------------------------------------------------------------------
VOCAB_TOP_K = 100


@register("token_df_vocab", sql=f"""
SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS df
FROM (SELECT doc_id, unnest(list_distinct({_TOKENS_SQL})) AS t
      FROM documents WHERE text IS NOT NULL)
GROUP BY t
ORDER BY df DESC, token
LIMIT {VOCAB_TOP_K}""")
def token_df_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    return (
        docs.select(F.explode(F.array_distinct(_tokens())).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .orderBy(F.col("df").desc(), "token")
        .limit(VOCAB_TOP_K)
    )


# ---------------------------------------------------------------------------
# intra-document repetition ratio: 1 - distinct/total bigrams — the
# boilerplate/spam quality signal.  Pure per-row array math, no shuffle.
# ---------------------------------------------------------------------------
@register("repetition_ratio", sql=f"""
WITH b AS (
  SELECT doc_id,
         list_transform(
           range(1, greatest(len({_TOKENS_SQL}) - 1, 1) + 1),
           j -> array_to_string(list_slice({_TOKENS_SQL}, j, j + 1), ' '))
           AS bigrams
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(len(bigrams) AS BIGINT) AS n_bigrams,
       CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct,
       1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE)
           / CAST(len(bigrams) AS DOUBLE) AS rep_ratio
FROM b""")
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the bigram transform + two list_distinct passes are
    # CPU-heavy per-row work fused into an unsplittable one-row-group
    # scan (CLAUDE.md) — repartition first so all cores participate
    docs = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("text").isNotNull())
    toks = _tokens()
    n = F.greatest(F.size(toks) - 1, F.lit(1))
    bigrams = F.transform(
        F.sequence(F.lit(1), n),
        lambda j: F.array_join(F.slice(toks, j, 2), " "))
    b = docs.select("doc_id", bigrams.alias("bigrams"))
    return b.select(
        "doc_id",
        F.size("bigrams").cast("long").alias("n_bigrams"),
        F.size(F.array_distinct("bigrams")).cast("long").alias("n_distinct"),
        (F.lit(1.0) - F.size(F.array_distinct("bigrams")).cast("double")
         / F.size("bigrams").cast("double")).alias("rep_ratio"))
