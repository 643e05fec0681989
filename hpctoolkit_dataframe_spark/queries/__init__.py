"""Headline query registry: every entry pairs a Spark implementation with
an equivalent DuckDB oracle SQL string (None for non-SQL-expressible ops).

Cross-engine determinism rules (so value-hash comparison is exact):
- All money/metric aggregation in scaled BIGINT (cents etc.) — integer
  sums are order-independent, unlike float sums.
- Ratios/averages as a SINGLE long->double division at the end — IEEE
  division of identical inputs is bit-identical across engines.
- Event-time arithmetic in integer microseconds (DuckDB ``epoch()``
  rounds, Spark ``div`` truncates — avoid both).
- Timestamps surface as epoch integers or NTZ-formatted strings, never
  session-timezone-dependent values.
- DuckDB ``SUM(BIGINT)`` returns HUGEINT and window ``row_number``
  types differ — every aggregate is explicitly CAST on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..memo import session_key, session_memo  # noqa: F401  (re-exported)


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None = None
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, sql: str | None = None, doc: str = ""):
    def deco(fn):
        REGISTRY[name] = Query(fn, sql, doc)
        return fn

    return deco


def hash8_sql(expr: str) -> str:
    """DuckDB SQL for the first 8 hex chars of md5(expr) as a uint32 —
    the engine-identical hash primitive (Spark twin:
    ``conv(substring(md5(x), 1, 8), 16, 10)``).  Shared so the fiddly
    nibble fold cannot drift between query modules."""
    h = f"md5({expr})"
    return "(" + " + ".join(
        f"(instr('0123456789abcdef', substr({h}, {k + 1}, 1)) - 1)"
        f" * {16 ** (7 - k)}"
        for k in range(8)) + ")"


def load_table(spark: SparkSession, sf_dir: str, name: str,
               spread: bool = False) -> DataFrame:
    """Read one testdata parquet table.

    CONTRACT: every registry query requires ``spark.sql.session.timeZone
    = UTC`` (timestamp rendering must match DuckDB's naive-UTC read) and
    sees ``events.ts`` as LONG **nanoseconds**.  Historically the
    testdata stored int64 nanos (hence ``nanosAsLong``); current testdata
    stores microsecond TIMESTAMP — either way this loader re-normalizes
    to the LONG-nanos contract so no query cares which vintage is on
    disk.  ``get_spark`` sets the configs at construction; for foreign
    sessions (the driver's gate) they are enforced here — idempotently,
    so a session already configured is never touched.
    """
    # No fallback default here: Spark 4 VALIDATES the fallback you pass
    # to conf.get when the key is unset, so get(key, "") throws
    # INVALID_CONF_VALUE under a default session (every load_table
    # query died under the r6 --plain-session sweep).  timeZone always
    # has a server-side default (the JVM zone), so a bare get is safe
    # and returns it; "Etc/UTC" et al. still normalize to "UTC".
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if (name == "events" and spark.conf.get(
            "spark.sql.legacy.parquet.nanosAsLong", "false") != "true"):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # r13 (guide §7.3 driver work): memoize the LAZY plan per (session,
    # sf_dir, table, spread).  Every spark.read.parquet costs ~0.2 s of
    # driver/py4j analysis even warm, and a bench session calls
    # load_table 150+ times — tens of seconds of pure driver time.
    # Nothing is computed or pinned: the entry is an unexecuted plan,
    # every action still scans the parquet files.
    return session_memo(_TABLE_CACHE, spark, sf_dir, name, spread,
                        build=lambda: _read_table(spark, sf_dir, name, spread))


def _read_table(spark: SparkSession, sf_dir: str, name: str,
                spread: bool) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts", "").startswith("timestamp"):
        # Testdata regenerated with microsecond TIMESTAMP ts (was int64
        # nanos).  With session tz UTC the NTZ->LTZ cast interprets the
        # wall clock as UTC, so unix_micros matches DuckDB's naive
        # epoch_us() read exactly; *1000 restores the LONG-nanos
        # contract.  select() keeps the original column order.
        df = df.select(*[
            F.expr("unix_micros(cast(ts as timestamp)) * 1000").alias("ts")
            if c == "ts" else F.col(c) for c in df.columns])
    if spread:
        # the testdata tables are single-row-group files — physically
        # unsplittable, so the scan (and everything fused into its
        # stage: expands, partial aggregates) runs on ONE core.  Spread
        # before CPU-heavy pipelines; a real deployment's many-file
        # tables split naturally and skip this.
        par = spark.sparkContext.defaultParallelism
        if _count_scan_partitions(spark, df) < par // 2:
            df = df.repartition(par)
    return df


_TABLE_CACHE: dict = {}


def _count_scan_partitions(spark: SparkSession, df: DataFrame) -> int:
    """Scan-partition count for the spread decision.  ``_read_table``
    runs inside ``load_table``'s memo, so this runs once per (session,
    sf_dir, table).

    r13 (guide §7.3 driver work): the old probe was
    ``df.rdd.getNumPartitions()`` — a DataFrame->RDD conversion costing
    ~0.13 s per call (1.3 s on a session's first), and load_table
    (spread=True) runs at many call sites, many times per bench session:
    several seconds of pure driver time.  For plain local files the
    count is computable from file sizes by replicating
    FilePartition.getFilePartitions (maxSplitBytes clamp + descending
    bin-packing with the open-cost charge; validated exact against the
    RDD probe on the testdata and multi-file clones); non-local or
    unstat-able inputs keep the RDD probe.  A wrong estimate could
    only flip the repartition heuristic — plan shape, never results."""
    n = None
    try:
        files = df.inputFiles()
        if files and all(f.startswith("file:") for f in files):
            import math
            import os
            from urllib.parse import unquote, urlparse

            sizes = [os.path.getsize(unquote(urlparse(f).path))
                     for f in files]
            conf = spark.conf

            def _bytes(key_, default):
                try:
                    v = conf.get(key_)
                except Exception:
                    return default
                m = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
                v = v.strip().lower().removesuffix("b")
                return (int(v[:-1]) * m[v[-1]] if v and v[-1] in m
                        else int(v or default))

            max_pb = _bytes("spark.sql.files.maxPartitionBytes", 128 << 20)
            open_cost = _bytes("spark.sql.files.openCostInBytes", 4 << 20)
            try:
                min_pn = int(conf.get("spark.sql.files.minPartitionNum"))
            except Exception:
                min_pn = spark.sparkContext.defaultParallelism
            total = sum(s + open_cost for s in sizes)
            msb = min(max_pb, max(open_cost, total // max(min_pn, 1)))
            splits: list[int] = []
            for s in sizes:
                k = max(math.ceil(s / msb), 1) if s else 1
                splits += [min(msb, s - i * msb) for i in range(k)]
            splits.sort(reverse=True)
            n, cur = 0, 0
            for sp in splits:
                if cur + sp > msb and cur > 0:
                    n += 1
                    cur = 0
                cur += sp + open_cost
            if cur > 0:
                n += 1
    except Exception:
        n = None
    if n is None:
        n = df.rdd.getNumPartitions()
    return n


# dedup reads the registered SQL of textops and vectors entries, and
# curation that of dedup, so each imports after the modules it reads.
from . import cct_tpch, multimodal, textops, vectors, xml_ingest  # noqa: E402,F401
from . import dedup, pipeline, shaping, sketches  # noqa: E402,F401
from . import bpe, funnel, pii, spans  # noqa: E402,F401
from . import curation  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Driver-gate window ordering.  The external correctness gate hashes
# the FIRST 50 registry entries only, so the window follows the
# keeper-rotation policy: 8 permanent canaries spanning each family,
# then the entries whose LATEST green row is oldest (rotation log:
# COVERAGE.md §"Driver-gate rotation").
# ---------------------------------------------------------------------------
_GATE_ORDER = [
    # permanent canaries: xml ingest end-to-end trio + one keeper per
    # family (CCT descent, event-time funnel, as-of join, span store,
    # simhash kernel)
    "cct_xml_ingest", "cct_flat_profile", "cct_callers_view",
    "cct_hot_path", "funnel_view_click_purchase",
    "events_asof_attribution", "duplicate_spans", "simhash64",
    # the 31 registered entries kept from the r12 window, with the six
    # registered r9-latest names of the r13 queue merged in
    # (alphabetical); after this window no entry's latest green row
    # predates r10
    "bigram_lm_score", "bm25_topk", "canonical_dedup",
    "cct_fragment_filter", "cms_heavy_hitters",
    "corpus_without_dup_spans", "curation_funnel_report",
    "dedup_keep_best", "dq_report", "dsir_importance_weights",
    "duplicate_word_coverage", "er_part_pairs", "exact_daily_uniques",
    "exact_value_percentiles", "exact_weekly_uniques",
    "gopher_quality_flags", "incremental_dedup_resume",
    "leakage_safe_split", "mixture_plan", "pack_sequences",
    "pagerank_dup_graph", "pii_redact_stats", "pmi_top_pairs",
    "posting_lists", "pq_ann", "pq_codes", "quality_top_decile",
    "repetition_ratio", "semantic_decontaminate", "semdedup_prune",
    "simhash_near_dup_pairs", "source_token_totals",
    "split_leakage_report", "stratified_sample", "token_df_vocab",
    "top_terms_per_doc", "training_shard_manifest",
    # the 5 alphabetically first r10-latest entries; the rest head the
    # next queue (COVERAGE.md)
    "bpe_encode_stats", "bpe_train_merges", "cct_flame_diff",
    "cct_flame_widths", "cct_hot_path_batch",
]
assert len(_GATE_ORDER) == 50, len(_GATE_ORDER)
_missing = set(_GATE_ORDER) - set(REGISTRY)
assert not _missing, sorted(_missing)
_ordered = {n: REGISTRY[n] for n in _GATE_ORDER}
_ordered.update((n, q) for n, q in REGISTRY.items() if n not in _ordered)
REGISTRY.clear()
REGISTRY.update(_ordered)
