"""Sketch-based approximate aggregates — the 100 TB substitutes for
exact distinct counts and exact percentiles.

At scale, COUNT(DISTINCT) is a full shuffle of every distinct value and
exact percentiles buffer whole partitions; the sketch versions
(HyperLogLog++, Greenwald-Khanna) are single-pass, mergeable,
fixed-memory map-side aggregates.  Spark's sketches are deterministic
for a given input but NOT bit-compatible with DuckDB's (different HLL
variants/seeds), so these two queries intentionally register no oracle
SQL — the driver records a rows-only check, and
tests/test_sketches.py pins the accuracy contract instead: relative
error vs the exact answer within the sketch's configured bound, plus
exact-twin row parity.

The exact answers: ``exact_daily_uniques``, ``exact_value_percentiles``
and ``exact_weekly_uniques`` below are the hash-gated twins, and
tests/test_sketches.py compares each sketch with an exact DuckDB or
Spark count over the same events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import load_table, register

HLL_RSD = 0.02  # ~2% relative standard deviation
PCTL_ACC = 10_000  # approx_percentile accuracy knob: err <= 1/acc


@register("approx_daily_uniques", sql=None, doc="""
Per-day unique users via HyperLogLog++ (rsd=2%) plus exact event
counts.  Map-side HLL registers merge through the shuffle — per-group
state is ~1.5KB regardless of cardinality, vs. an exact distinct's
full value shuffle.""")
def approx_daily_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # ts is LONG nanoseconds (nanosAsLong contract, CLAUDE.md).  Exact
    # integer div — a double division has ~256ns ULP at epoch-nanos
    # magnitude, enough to mis-bucket boundary timestamps.
    day = F.expr("ts div 86400000000000")
    return (ev.groupBy(day.alias("day"))
            .agg(F.approx_count_distinct("user_id", rsd=HLL_RSD)
                 .cast("long").alias("approx_users"),
                 F.count(F.lit(1)).cast("long").alias("n_events"))
            .orderBy("day"))


@register("approx_value_percentiles", sql=None, doc="""
Per-event-type p50/p90/p99 of `value` via a single Greenwald-Khanna
buffer per group (array form — one pass, three outputs), quantized to
cents so downstream comparisons are stable.""")
def approx_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    pct = F.percentile_approx(
        F.col("cents"), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
        F.lit(PCTL_ACC))
    return (ev.select("event_type", cents.alias("cents"))
            .groupBy("event_type")
            .agg(pct.alias("p"))
            .select("event_type",
                    F.col("p")[0].cast("long").alias("p50_cents"),
                    F.col("p")[1].cast("long").alias("p90_cents"),
                    F.col("p")[2].cast("long").alias("p99_cents"))
            .orderBy("event_type"))


@register("approx_weekly_from_daily", sql=None, doc="""
Two-level mergeable rollup — THE 100 TB pre-aggregation pattern: each
day keeps a reusable HLL binary sketch (not a number), and coarser
windows union sketches instead of re-reading events.  At scale the
daily layer is a materialized table a few KB per (day) group; weekly /
monthly / all-time uniques then cost a scan of sketches, never a
second pass over raw history.  The merge is lossless: unioning daily
registers yields the SAME registers as sketching the week directly
(pinned by test_sketches.py).""")
def approx_weekly_from_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.expr("ts div 86400000000000")
    daily = (ev.groupBy(day.alias("day"))
             .agg(F.hll_sketch_agg("user_id").alias("sk"),
                  F.count(F.lit(1)).cast("long").alias("n_events")))
    return (daily.groupBy(F.expr("day div 7").alias("week"))
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                 .cast("long").alias("approx_users"),
                 F.sum("n_events").cast("long").alias("n_events"))
            .orderBy("week"))


# ---------------------------------------------------------------------------
# Exact twins of the three sketch queries (VERDICT r5 #4): the sketches
# are inherently approximate (not bit-compatible with DuckDB's HLL/GK
# variants, hence rows-only), so these hash-gated exact counterparts
# attest the same pipeline SHAPE — day bucketing, the cents contract,
# the daily->weekly rollup — with engine-identical arithmetic.  The
# exact versions are what the sketches REPLACE at 100 TB: COUNT(DISTINCT)
# shuffles every distinct value and exact percentiles sort each group,
# which is exactly why approx_* exist; running them at bench scale also
# quantifies what the sketch saves.  test_sketches.py pins the sketch
# estimates against these within the configured error bounds.
# ---------------------------------------------------------------------------
@register("exact_daily_uniques", sql="""
SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY 1 ORDER BY day""", doc="""
Hash-gated exact twin of approx_daily_uniques: per-day COUNT(DISTINCT
user_id).  Day = integer floor of event micros (nanos on the Spark
side) — engine-identical integer division, no rounding divergence.""")
def exact_daily_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.expr("ts div 86400000000000")
    return (ev.groupBy(day.alias("day"))
            .agg(F.countDistinct("user_id").cast("long")
                 .alias("exact_users"),
                 F.count(F.lit(1)).cast("long").alias("n_events"))
            .orderBy("day"))


@register("exact_value_percentiles", sql="""
WITH c AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
r AS (
  SELECT event_type, cents,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY cents) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM c)
SELECT event_type,
       CAST(MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN cents END)
            AS BIGINT) AS p50_cents,
       CAST(MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN cents END)
            AS BIGINT) AS p90_cents,
       CAST(MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN cents END)
            AS BIGINT) AS p99_cents
FROM r GROUP BY event_type ORDER BY event_type""", doc="""
Hash-gated exact twin of approx_value_percentiles.  Engine percentile
functions disagree on discrete-quantile index conventions (SQL-standard
PERCENTILE_DISC picks the smallest value with cume_dist >= p; DuckDB's
quantile_disc floors (n-1)p), so the rank is computed explicitly in
integer arithmetic — value at 1-based sorted position ceil(p*n) =
(p_pct*n + 99) div 100 — identical on both engines by construction.
Ties in cents cannot disturb the selected VALUE at a fixed rank.
NULL values are filtered on BOTH engines before ranking: Spark's
window ORDER BY defaults NULLS FIRST, DuckDB's NULLS LAST, so an
unguarded NULL would shift every rank (ADVICE r6).""")
def exact_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    c = (ev.filter(F.col("value").isNotNull())
         .select("event_type",
                 F.round(F.col("value") * 100).cast("long").alias("cents")))
    w = Window.partitionBy("event_type")
    r = c.select(
        "event_type", "cents",
        F.row_number().over(w.orderBy("cents")).cast("long").alias("rn"),
        F.count(F.lit(1)).over(w).cast("long").alias("n"))

    def at_pct(pct: int):
        k = F.expr(f"(n * {pct} + 99) div 100")
        return F.max(F.when(F.col("rn") == k, F.col("cents"))) \
            .cast("long").alias(f"p{pct}_cents")

    return (r.groupBy("event_type")
            .agg(at_pct(50), at_pct(90), at_pct(99))
            .orderBy("event_type"))


@register("exact_weekly_uniques", sql="""
SELECT CAST(epoch_us(ts) // 86400000000 // 7 AS BIGINT) AS week,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY 1 ORDER BY week""", doc="""
Hash-gated exact twin of approx_weekly_from_daily's rollup result:
weekly COUNT(DISTINCT user_id) straight off the events — the second
full pass over raw history that the mergeable daily HLL layer avoids.""")
def exact_weekly_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    week = F.expr("ts div 86400000000000 div 7")
    return (ev.groupBy(week.alias("week"))
            .agg(F.countDistinct("user_id").cast("long")
                 .alias("exact_users"),
                 F.count(F.lit(1)).cast("long").alias("n_events"))
            .orderBy("week"))


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters.  Unlike the HLL/GK entries above,
# CMS is pure integer arithmetic over OUR OWN md5-derived hash rows, so
# it is bit-identical cross-engine and earns a full hash-exact oracle.
# Batch construction pre-aggregates per token (counters[i][b] =
# SUM of token counts hashing there — identical to per-occurrence
# increments by commutativity, at |vocab| x D hashes instead of
# |stream| x D); the streaming path increments per occurrence with the
# same cells.  D x W = 4 x 512 BIGINT cells — fixed memory, mergeable
# by cell-wise addition no matter how many partitions/days built them.
# ---------------------------------------------------------------------------
CMS_D = 4
CMS_W = 512


def _cms_hash_sql(i_expr: str, tok_expr: str) -> str:
    from . import hash8_sql
    return (hash8_sql(f"CAST({i_expr} AS VARCHAR) || ':' || {tok_expr}")
            + f" % {CMS_W}")


@register("cms_heavy_hitters", sql=f"""
WITH toks AS (
  SELECT unnest(string_split_regex(text, '\\s+')) AS tok
  FROM documents WHERE text IS NOT NULL),
exact_c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_c
            FROM toks GROUP BY tok),
cells AS (
  SELECT tok, i, {_cms_hash_sql('i', 'tok')} AS b, exact_c
  FROM exact_c CROSS JOIN (SELECT unnest(range({CMS_D})) AS i)),
counters AS (SELECT i, b, CAST(SUM(exact_c) AS BIGINT) AS c
             FROM cells GROUP BY i, b),
est AS (
  SELECT cells.tok, CAST(MIN(co.c) AS BIGINT) AS est_c
  FROM cells
  JOIN counters co ON co.i = cells.i AND co.b = cells.b
  GROUP BY cells.tok)
SELECT e.tok, e.exact_c, est.est_c
FROM exact_c e JOIN est ON est.tok = e.tok""")
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every distinct token with its exact count and its count-min
    estimate (min over D counter rows).  The CMS overestimate-only
    contract (est_c >= exact_c, tight unless buckets collide) is
    test-pinned; the oracle pins the exact counter arithmetic."""
    from . import load_table as _lt

    toks = (_lt(spark, sf_dir, "documents", spread=True)
            .filter(F.col("text").isNotNull())
            .select(F.explode(F.split("text", r"\s+")).alias("tok")))
    exact = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("exact_c"))
    exact = exact.localCheckpoint(eager=True)  # feeds cells + output
    cms_b = F.conv(F.substring(F.md5(
        F.concat(F.col("i").cast("string"), F.lit(":"), F.col("tok"))),
        1, 8), 16, 10).cast("long") % CMS_W
    cells = (exact
             .select("tok", "exact_c",
                     F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1)))
                     .alias("i"))
             .withColumn("b", cms_b))
    counters = cells.groupBy("i", "b").agg(
        F.sum("exact_c").cast("long").alias("c"))
    est = (cells.join(counters, ["i", "b"])
           .groupBy("tok")
           .agg(F.min("c").cast("long").alias("est_c")))
    return exact.join(est, "tok").select("tok", "exact_c", "est_c")


def cms_counters(toks: DataFrame) -> DataFrame:
    """(i, b, c) counter cells for a token frame — per-batch exact
    counts pre-aggregate first (identical to per-occurrence increments
    by commutativity), then hash into D x W cells."""
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c0"))
    cms_b = F.conv(F.substring(F.md5(
        F.concat(F.col("i").cast("string"), F.lit(":"), F.col("tok"))),
        1, 8), 16, 10).cast("long") % CMS_W
    return (exact
            .select("tok", "c0",
                    F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1)))
                    .alias("i"))
            .withColumn("b", cms_b)
            .groupBy("i", "b")
            .agg(F.sum("c0").cast("long").alias("c")))
