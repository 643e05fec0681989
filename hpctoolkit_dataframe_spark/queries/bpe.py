"""BPE tokenizer training over the documents corpus.

``bpe_token_stats`` (textops.py) only *applies* a GPT-2-ish pre-token
regex; this module *trains* the merge table — the iterative algorithm a
real tokenization pipeline runs before anything else.  The task brief
sanctions iterative algorithms as the genuinely non-SQL-expressible
class (the merge chosen at round k depends on every merge before it),
so the registry entry carries no DuckDB oracle and takes the driver's
rows-only check; exactness is pinned instead by (a) the classic
Sennrich low/lower/newest/widest golden, (b) an independently-coded
Python twin in the tests, and (c) driver-path == distributed-path
equality.

Scale design (the part that matters at 100 TB):
- The ONLY corpus-scale pass is the word-frequency aggregation: one
  shuffle with map-side combine, output |distinct words| rows.  BPE
  training then operates on that aggregate, never on corpus bytes —
  the same shape HuggingFace ``tokenizers`` trains from word counts.
- The default path caps the vocabulary at the top ``vocab_cap`` words
  by count (deterministic tie-break) — a BOUNDED driver collect like
  the hot_path threshold probes — and runs the merge loop in memory:
  at 50k words x ~tens of symbols each round is cheap Python, and 10^3
  merges finish in seconds.
- ``bpe_train_distributed`` keeps the symbol table IN Spark for
  unbounded vocabularies: each round is one tiny pair-count shuffle +
  a 1-row argmax collect + a vocab-scale Arrow merge apply, with a
  localCheckpoint per round so n-round lineage never reaches the
  optimizer.  Both paths emit identical merges (test-pinned).

Reference parity note: mbdevpl/hpctoolkit_dataframe has no tokenizer
surface; this extends the LLM-pipeline suite (SURVEY.md §6).
"""

from __future__ import annotations

import os
import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from . import load_table, register, session_memo
from .textops import _tokens

# Golden fixtures computed by an INDEPENDENT pure-Python BPE twin at
# fixture-build time (tools/make_bpe_fixture.py — no Spark, no imports
# from this package), keyed by (corpus_rows, corpus_chars) so one
# static oracle string selects the right golden for whatever sf_dir the
# gate runs.  Same independent-implementation pattern as the XML ingest
# oracle's ref_ingest.parquet.
_FIXDIR = os.path.abspath(os.path.join(
    os.path.dirname(__file__), "..", "..", "tests", "fixtures"))
_TRAIN_GOLDEN = os.path.join(_FIXDIR, "bpe_train_golden.parquet")
_ENCODE_GOLDEN = os.path.join(_FIXDIR, "bpe_encode_golden.parquet")
_CORPUS_KEY = """
  corpus_rows = (SELECT COUNT(*) FROM documents)
  AND corpus_chars = (SELECT CAST(SUM(length(text)) AS BIGINT)
                      FROM documents)"""

END_OF_WORD = "</w>"
N_MERGES = 48
VOCAB_CAP = 50_000

MERGES_SCHEMA = T.StructType([
    T.StructField("rank", T.IntegerType()),
    T.StructField("left", T.StringType()),
    T.StructField("right", T.StringType()),
    T.StructField("merged", T.StringType()),
    T.StructField("pair_count", T.LongType()),
])


def word_counts(spark: SparkSession, sf_dir: str,
                text_col: str = "text") -> DataFrame:
    """(w, c): the one corpus-scale pass.  Map-side partial counts make
    the shuffle |distinct words|-sized, not corpus-sized."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col(text_col).isNotNull())
    return (docs.select(F.explode(_tokens(text_col)).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c")))


def _merge_word(syms: tuple, a: str, b: str, merged: str) -> tuple:
    """Replace adjacent (a, b) left-to-right, non-overlapping."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def train_bpe(counts: list[tuple[str, int]],
              n_merges: int = N_MERGES) -> list[tuple]:
    """Classic Sennrich BPE on a word-frequency list.  Deterministic:
    the winning pair is (max count, then lexicographically smallest
    (left, right)).  Returns [(rank, left, right, merged, pair_count)].
    """
    vocab: dict[tuple, int] = {}
    for w, c in counts:
        syms = tuple(w) + (END_OF_WORD,)
        vocab[syms] = vocab.get(syms, 0) + c
    merges: list[tuple] = []
    for rank in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best_n = max(pairs.values())
        a, b = min(p for p, n in pairs.items() if n == best_n)
        merges.append((rank, a, b, a + b, best_n))
        rebuilt: dict[tuple, int] = {}
        for syms, c in vocab.items():
            ns = _merge_word(syms, a, b, a + b)
            rebuilt[ns] = rebuilt.get(ns, 0) + c
        vocab = rebuilt
    return merges


@register("bpe_train_merges", sql=f"""
SELECT "rank", "left", "right", merged,
       CAST(pair_count AS BIGINT) AS pair_count
FROM '{_TRAIN_GOLDEN}'
WHERE {_CORPUS_KEY}""", doc="""
Train a BPE merge table from the corpus: one distributed word-count
pass (the only corpus-scale work), then the Sennrich merge loop over
the top-50k vocabulary (bounded driver collect).  The iterative merge
loop is not SQL-expressible, so the oracle is a VALUES-style golden:
an independent pure-Python BPE twin (tools/make_bpe_fixture.py, no
Spark) trained the same corpus at fixture-build time, keyed by
(corpus_rows, corpus_chars) to select the right scale factor.""")
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    wc = word_counts(spark, sf_dir)
    # bounded, deterministic head: count desc then word asc — ties
    # cannot reorder across runs or engines
    top = (wc.orderBy(F.col("c").desc(), F.col("w"))
           .limit(VOCAB_CAP).collect())
    merges = train_bpe([(r["w"], r["c"]) for r in top])
    return spark.createDataFrame(merges, MERGES_SCHEMA)


def bpe_train_distributed(spark: SparkSession, sf_dir: str,
                          n_merges: int = N_MERGES) -> DataFrame:
    """Same algorithm with the symbol table kept IN Spark — the
    unbounded-vocabulary path.  Per round: pair counts are one
    vocab-scale shuffle (map-side combined), the argmax is a 1-row
    collect (count desc, pair asc — the driver path's tie-break), and
    the merge applies as a vectorized Arrow UDF over the symbol
    arrays.  localCheckpoint each round keeps the lineage flat."""
    from .._pickle import register_module_by_value

    register_module_by_value(__name__)
    par = spark.sparkContext.defaultParallelism
    vocab = (word_counts(spark, sf_dir)
             .select(F.concat(F.split("w", ""),
                              F.array(F.lit(END_OF_WORD))).alias("s"), "c")
             .repartition(par)
             .localCheckpoint(eager=True))
    merges: list[tuple] = []
    for rank in range(n_merges):
        pairs = (vocab.select(
            F.explode(F.zip_with(
                F.slice("s", 1, F.size("s") - 1),
                F.slice("s", 2, F.size("s") - 1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b"))))
            .alias("p"), "c")
            .groupBy("p.a", "p.b").agg(F.sum("c").alias("n")))
        best = pairs.orderBy(F.col("n").desc(), F.col("a"), F.col("b")) \
            .limit(1).collect()
        if not best:
            break
        a, b, n = best[0]["a"], best[0]["b"], int(best[0]["n"])
        merges.append((rank, a, b, a + b, n))
        merge_udf = _merge_apply_udf(a, b)
        vocab = vocab.select(merge_udf(F.col("s")).alias("s"), "c") \
            .localCheckpoint(eager=True)
    return spark.createDataFrame(merges, MERGES_SCHEMA)


def _merge_apply_udf(a: str, b: str):
    from pyspark.sql.functions import pandas_udf

    merged = a + b

    def apply(col: pd.Series) -> pd.Series:
        return col.map(
            lambda s: list(_merge_word(tuple(s), a, b, merged)))

    return pandas_udf(apply, T.ArrayType(T.StringType()))


# ---------------------------------------------------------------------------
# BPE ENCODE: apply a trained merge table to the corpus — at 100 TB this
# is the actual heavy operation (training sees only word counts; encode
# touches every byte).  The merge-rank dict is vocabulary-sized and
# broadcasts inside the Arrow UDF closure; per-batch word memoization
# makes the amortized cost one merge-walk per DISTINCT word per batch.
# ---------------------------------------------------------------------------
def encode_word(word: str, ranks: dict) -> list[str]:
    """Classic BPE apply: repeatedly merge the lowest-rank adjacent
    pair until none remains.  Pure function — shared by the Spark UDF
    and the tests' twin."""
    syms = list(word) + [END_OF_WORD]
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(docs: DataFrame, merges: list[tuple], *,
               text_col: str = "text",
               out: str = "tokens") -> DataFrame:
    """Append a ``tokens`` array column: ASCII-whitespace
    pre-tokenization (re.ASCII — the SAME rule the training pass's
    Java-regex ``\\s+`` applies; Python's default ``str.split`` is
    unicode-aware and would split words the vocab holds joined, the
    adversarial-text-probe finding), then the trained merges applied
    per word.  Vectorized Arrow UDF with a per-batch word cache — a
    10^6-row batch of natural text re-encodes each distinct word
    once."""
    from pyspark.sql.functions import pandas_udf

    from .._pickle import register_module_by_value

    register_module_by_value(__name__)
    ranks = {(m[1], m[2]): m[0] for m in merges}

    ws_ascii = re.compile(r"\s+", re.ASCII)

    def enc(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def one(t):
            if t is None:
                return None
            toks: list[str] = []
            for w in ws_ascii.split(t):
                if not w:
                    continue
                got = cache.get(w)
                if got is None:
                    got = cache[w] = encode_word(w, ranks)
                toks.extend(got)
            return toks

        return texts.map(one)

    return docs.withColumn(
        out, pandas_udf(enc, T.ArrayType(T.StringType()))(F.col(text_col)))


_ENCODE_CACHE: dict = {}


@register("bpe_encode_stats", sql=f"""
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, tok_digest
FROM '{_ENCODE_GOLDEN}'
WHERE {_CORPUS_KEY}""", doc="""
Tokenize the corpus with the merges trained on it (train via the
bounded word-count path, encode via a vectorized Arrow UDF): per-doc
BPE token count and an md5 digest of the token stream.  The oracle is
the per-doc golden an independent pure-Python twin computed at
fixture-build time (tools/make_bpe_fixture.py), keyed by corpus
size — train + encode are iterative, but their output is exact and
deterministic, so it hash-gates like any other query.""")
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    def train():
        wc = word_counts(spark, sf_dir)
        top = (wc.orderBy(F.col("c").desc(), F.col("w"))
               .limit(VOCAB_CAP).collect())
        return train_bpe([(r["w"], r["c"]) for r in top])

    merges = session_memo(_ENCODE_CACHE, spark, sf_dir, build=train)
    docs = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("text").isNotNull())
    enc = bpe_encode(docs, merges)
    return enc.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.md5(F.array_join("tokens", "|")).alias("tok_digest"))
