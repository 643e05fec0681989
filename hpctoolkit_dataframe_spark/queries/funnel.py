"""Event-time joins over the events stream: the view -> click ->
purchase funnel, last-touch as-of attribution and trailing-window
attribution, in the repo's exact-integer event-time convention (LONG
nanoseconds in Spark, epoch_us in the oracle, all bucketing by integer
division).

Each entry stays for the reason its docstring gives: the funnel is the
batch reference of ``streaming.events.run_funnel_stream``, and the two
attributions are the only registry coverage of ``operators.asof`` and
``operators.interval``.  Generic relational queries test Spark, not
this package, and have no entries.

The funnel's step matching is a single per-user ordered window scan
(suffix-min of the next purchase, then suffix-min of the (next click,
its next purchase) struct) — O(n log n) per user with NO join between
steps.  The bucketed-interval-join formulation it replaced was hash
equi-join safe, but its (user, bucket) key still emitted
views-per-bucket x clicks-per-bucket candidate pairs, which the
skewed-clone probe (tools/make_skew_data.py) measured at x17 wall time
when one bot user held 45% of events; the window scan is linear in the
hot user's row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.asof import asof_join
from ..operators.interval import interval_join
from . import load_table, register

FUNNEL_H_US = 86_400_000_000  # step-to-step horizon: 24h in microseconds
_US_PER_DAY = 86_400_000_000


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", spread=True)
    return ev.select("event_id", "user_id", "event_type",
                     F.expr("ts div 1000").alias("ts_us"))


@register("funnel_view_click_purchase", sql=f"""
WITH e AS (SELECT event_id, user_id, event_type,
                  CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
v AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'view'),
c AS (SELECT user_id, ts_us FROM e WHERE event_type = 'click'),
p AS (SELECT user_id, ts_us FROM e WHERE event_type = 'purchase'),
-- earliest-next-step via ASOF (nearest-match) joins: the former
-- banded v x c equi-join emitted quadratic per-user candidate pairs
-- and spilled the r9 skew-100x sweep to ENOSPC (one bot user = 45%
-- of events); ASOF picks each view's first later click directly —
-- linear in the hot user, values identical (verified old==new at
-- sf0.001/0.01/0.1 + both skew clones).  MATERIALIZED fences keep
-- the horizon filter OUT of the ASOF ON clause (DuckDB rejects a
-- second pushed inequality), and the first-later-click is in the
-- 24h window iff it is <= v_ts + H, so filter-after == min-within.
vc0 AS MATERIALIZED (
  SELECT v.event_id, v.user_id, v.ts_us AS v_ts, c.ts_us AS c_ts
  FROM v ASOF LEFT JOIN c ON c.user_id = v.user_id AND c.ts_us > v.ts_us
),
vc AS (
  SELECT event_id, user_id, v_ts, CAST(c_ts AS BIGINT) AS c_ts FROM vc0
  WHERE c_ts IS NOT NULL AND c_ts <= v_ts + {FUNNEL_H_US}
),
vcp0 AS MATERIALIZED (
  SELECT vc.event_id, vc.v_ts, vc.c_ts, p.ts_us AS p_ts
  FROM vc ASOF LEFT JOIN p ON p.user_id = vc.user_id AND p.ts_us > vc.c_ts
),
vcp AS (
  SELECT event_id, v_ts FROM vcp0
  WHERE p_ts IS NOT NULL AND p_ts <= c_ts + {FUNNEL_H_US}
),
per_day_v AS (
  SELECT ts_us // {_US_PER_DAY} AS day, CAST(COUNT(*) AS BIGINT) AS n_views
  FROM v GROUP BY 1),
per_day_c AS (
  SELECT v_ts // {_US_PER_DAY} AS day, CAST(COUNT(*) AS BIGINT) AS n_clicked
  FROM vc GROUP BY 1),
per_day_p AS (
  SELECT v_ts // {_US_PER_DAY} AS day,
         CAST(COUNT(*) AS BIGINT) AS n_purchased
  FROM vcp GROUP BY 1)
SELECT a.day, a.n_views,
       CAST(COALESCE(b.n_clicked, 0) AS BIGINT) AS n_clicked,
       CAST(COALESCE(p.n_purchased, 0) AS BIGINT) AS n_purchased,
       CAST(COALESCE(b.n_clicked, 0) AS DOUBLE)
         / CAST(a.n_views AS DOUBLE) AS click_rate,
       CAST(COALESCE(p.n_purchased, 0) AS DOUBLE)
         / CAST(a.n_views AS DOUBLE) AS purchase_rate
FROM per_day_v a
LEFT JOIN per_day_c b ON b.day = a.day
LEFT JOIN per_day_p p ON p.day = a.day""")
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-step funnel (view -> first click within 24h -> purchase within
    24h of THAT click), reported per view-day.  Kept as the batch
    reference that ``run_funnel_stream``'s tests compare against.

    Funnel attribution is earliest-next-step, computed by ONE per-user
    ordered scan:

    - sort each user's events by (ts, tie-rank, event_id), where the
      tie-rank orders purchase < click < view at EQUAL timestamps so a
      "rows following" frame contains exactly the events with STRICTLY
      later ts of the step being probed;
    - pass 1: nxt_p = suffix-min of purchase ts (for a click row this
      is the earliest purchase with ts > click ts);
    - pass 2: nxt_c = suffix-min of struct(click ts, that click's
      nxt_p) — struct min orders by ts first, and equal-ts clicks
      share one nxt_p (only clicks can sort between them), so the
      struct is well-defined and carries the step-2 answer along;
    - a view row converts at step 1 iff nxt_c.c <= v_ts + H, and at
      step 2 iff additionally nxt_c.p <= nxt_c.c + H.

    Both windows share partition+order, so the plan is one user-key
    shuffle + one sort — linear in any one user's activity.  The
    previous bucketed-interval-join version emitted quadratic
    per-(user, bucket) candidate pairs under user skew (x17 on the
    skewed clone)."""
    e = (_events_us(spark, sf_dir)
         .filter(F.col("event_type").isin("view", "click", "purchase")))
    rk = (F.when(F.col("event_type") == "purchase", 0)
          .when(F.col("event_type") == "click", 1).otherwise(2))
    # DESCENDING time + running min over (unboundedPreceding, current):
    # Spark's UnboundedPreceding frame accumulates incrementally (O(n)
    # per partition), while a (1, unboundedFollowing) frame re-scans
    # the suffix PER ROW — O(n^2), measured as a multi-minute hang on
    # the skewed clone's 450k-event user.  "Preceding in descending
    # order" = strictly-later events, because at equal ts the rank
    # sorts purchase < click < view ascending (so descending puts
    # same-ts clicks/purchases BEHIND the rows that must not see
    # them); the current row's own contribution to each min is NULL
    # everywhere it is consumed (a view is never a click; a click is
    # never a purchase), so no frame exclusion is needed.
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("rk").desc(), F.col("event_id").desc())
    later = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sent = (1 << 62)  # orderable "no purchase follows" sentinel
    e1 = (e.withColumn("rk", rk)
          .withColumn("nxt_p", F.min(F.when(
              F.col("event_type") == "purchase", F.col("ts_us")))
              .over(later)))
    e2 = e1.withColumn("nxt_c", F.min(F.when(
        F.col("event_type") == "click",
        F.struct(F.col("ts_us").alias("c"),
                 F.coalesce("nxt_p", F.lit(sent)).alias("p"))))
        .over(later))
    v = (e2.filter(F.col("event_type") == "view")
         .select("event_id", "user_id",
                 F.col("ts_us").alias("v_ts"), "nxt_c"))
    # NULL-user views count in n_views (the SQL's per_day_v keeps
    # them) but can never convert: the oracle's equi-join never
    # matches NULL keys, while partitionBy("user_id") groups NULL
    # users into ONE partition where the scan would happily pair a
    # NULL-user view with a NULL-user click (ADVICE r7).
    clicked = (F.col("user_id").isNotNull()
               & (F.col("nxt_c.c") <= F.col("v_ts") + FUNNEL_H_US))
    purchased = clicked & (F.col("nxt_c.p") <= F.col("nxt_c.c")
                           + FUNNEL_H_US)
    day = F.expr(f"v_ts div {_US_PER_DAY}").alias("day")
    # one aggregate replaces the old per-step frames + day joins: a
    # day's step counts are plain conditional sums over its view rows
    # (a day with zero conversions is a 0, exactly what the old
    # left-join + COALESCE produced)
    return (v.groupBy(day).agg(
        F.count(F.lit(1)).cast("long").alias("n_views"),
        # when/otherwise, not cast: a NULL nxt_c (no click ever
        # follows) must count as 0, and an all-unconverted day must
        # sum to 0, not NULL
        F.sum(F.when(clicked, 1).otherwise(0)).cast("long")
        .alias("n_clicked"),
        F.sum(F.when(purchased, 1).otherwise(0)).cast("long")
        .alias("n_purchased"))
        .select(
            "day", "n_views", "n_clicked", "n_purchased",
            (F.col("n_clicked").cast("double")
             / F.col("n_views").cast("double")).alias("click_rate"),
            (F.col("n_purchased").cast("double")
             / F.col("n_views").cast("double")).alias("purchase_rate")))


# ---------------------------------------------------------------------------
# as-of join: last-touch attribution — for each purchase, the most
# recent view of the same user at-or-before it.  Spark lacks ASOF JOIN;
# operators/asof.py supplies the scalable union+window form (one key
# shuffle, no row explosion).  The oracle is DuckDB's own ASOF LEFT
# JOIN over tie-deduped views.
# ---------------------------------------------------------------------------
@register("events_asof_attribution", sql="""
-- ASOF LEFT JOIN replaces the former per-user inequality join + MAX
-- (quadratic per key — timed out at the skew-100x clone, same class
-- the funnel oracle above shed).  DuckDB's ASOF picks the
-- single greatest v.ts_us <= p.ts_us per probe but breaks right-side
-- timestamp TIES arbitrarily, so v is pre-deduped to one row per
-- (user_id, ts_us) keeping MAX(event_id) — the Spark operator's
-- payload-struct tie-break (operators/asof.py:16-19).
WITH e AS (SELECT user_id, event_id, event_type,
                  CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
p AS (SELECT user_id, event_id, ts_us FROM e
      WHERE event_type = 'purchase'),
v AS (SELECT user_id, MAX(event_id) AS view_id, ts_us FROM e
      WHERE event_type = 'view' GROUP BY user_id, ts_us)
SELECT p.user_id, p.event_id AS purchase_id, p.ts_us,
       CAST(v.view_id AS BIGINT) AS view_id,
       CAST(v.ts_us AS BIGINT) AS view_ts_us,
       CAST((p.ts_us - v.ts_us) // 1000000 AS BIGINT) AS lag_s
FROM p ASOF LEFT JOIN v
  ON v.user_id = p.user_id AND v.ts_us <= p.ts_us""")
def events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept as the only registry and oracle coverage of
    ``operators.asof.asof_join`` (with its hot-key pre-split)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts_us")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), "ts_us")
    # time_buckets: one bot user holding 45% of events is a WINDOW
    # skew — the single (user)-partitioned sort task held 45M rows at
    # the skew-100x clone and ground for most of an hour.  The asof
    # operator's hot-key pre-split spreads every key's timeline over
    # 32 stitched ranges (results property-tested identical); the two
    # extra small aggregations are noise at uniform scale.
    out = asof_join(purchases, views, on="user_id", left_ts="ts_us",
                    right_cols=["view_id"], time_buckets=32)
    return out.select(
        "user_id", "purchase_id", "ts_us",
        F.col("view_id").cast("long").alias("view_id"),
        F.col("ts_us_right").alias("view_ts_us"),
        F.expr("(ts_us - ts_us_right) div 1000000").cast("long")
        .alias("lag_s"))


# ---------------------------------------------------------------------------
# bucketed interval join: views inside each purchase's trailing 6-hour
# attribution window.  Spark lacks a range-join strategy (an
# inequality join nests loops); operators/interval.py buckets time so
# the match runs as ONE hash equi-join on (user, bucket) — the shape
# that survives hot users and 100x data.  The oracle counts without
# pairs: cumulative view counts read by three ASOF lookups.
# ---------------------------------------------------------------------------
ATTRIBUTION_WINDOW_US = 21_600_000_000  # 6 hours (synthetic event density)


@register("purchase_view_windows", sql=f"""
WITH e AS (SELECT user_id, event_id, event_type,
                  CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
p AS (SELECT user_id, event_id AS purchase_id,
             ts_us - {ATTRIBUTION_WINDOW_US} AS lo_us, ts_us AS hi_us
      FROM e WHERE event_type = 'purchase'),
v AS (SELECT user_id, ts_us FROM e WHERE event_type = 'view'),
-- trailing-window COUNT/MIN/MAX without materializing pairs: the old
-- banded v x p inequality join emitted every (purchase, view-in-6h)
-- pair and ran the skew-100x bot user out of the 25 GiB spill budget.
-- Per-(user, ts) cumulative view counts turn each purchase into three
-- nearest-match lookups: cum at hi (backward asof), cum strictly
-- before lo (backward, <), and the first view at/after lo (forward) —
-- n = cum_hi - cum_lo, first/last come straight off the asof rows.
-- Grouping v by (user, ts) first makes every asof tie-free (one row
-- per timestamp, cum = count through that ts).  Row-exact vs the pair
-- join at sf0.001/0.01/0.1 + skew-10x; 5.6 s at skew-100x.
v3 AS MATERIALIZED (
  SELECT user_id, ts_us,
         CAST(SUM(COUNT(*)) OVER (PARTITION BY user_id ORDER BY ts_us)
              AS BIGINT) AS cum
  FROM v GROUP BY user_id, ts_us
),
hi AS MATERIALIZED (
  SELECT p.purchase_id, p.user_id, p.lo_us, p.hi_us,
         h.cum AS cum_hi, h.ts_us AS ts_hi
  FROM p ASOF LEFT JOIN v3 h
    ON h.user_id = p.user_id AND h.ts_us <= p.hi_us
),
lo AS MATERIALIZED (
  SELECT hi.*, l.cum AS cum_lo
  FROM hi ASOF LEFT JOIN v3 l
    ON l.user_id = hi.user_id AND l.ts_us < hi.lo_us
),
fw AS MATERIALIZED (
  SELECT lo.*, f.ts_us AS ts_fw
  FROM lo ASOF LEFT JOIN v3 f
    ON f.user_id = lo.user_id AND f.ts_us >= lo.lo_us
)
SELECT purchase_id, user_id,
       CAST(cum_hi - COALESCE(cum_lo, 0) AS BIGINT) AS n_views,
       CAST(ts_fw AS BIGINT) AS first_view_us,
       CAST(ts_hi AS BIGINT) AS last_view_us
FROM fw
WHERE cum_hi IS NOT NULL AND cum_hi - COALESCE(cum_lo, 0) > 0""")
def purchase_view_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept as the only registry and oracle coverage of
    ``operators.interval.interval_join``."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts div 1000"))
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id"), F.col("event_id").alias("view_id"), "ts_us")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        (F.col("ts_us") - ATTRIBUTION_WINDOW_US).alias("lo_us"),
        F.col("ts_us").alias("hi_us"))
    pairs = interval_join(
        views, purchases, point_ts="ts_us", lo="lo_us", hi="hi_us",
        on="user_id", bucket_width=ATTRIBUTION_WINDOW_US)
    return (
        pairs.groupBy("purchase_id", "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_views"),
             F.min("ts_us").cast("long").alias("first_view_us"),
             F.max("ts_us").cast("long").alias("last_view_us"))
    )

