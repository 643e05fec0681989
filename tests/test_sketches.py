"""Accuracy contracts for the sketch queries (they register no DuckDB
oracle — approximate sketches are not cross-engine bit-comparable, so
the bound itself is the test)."""

import duckdb

from hpctoolkit_dataframe_spark.queries import REGISTRY
from hpctoolkit_dataframe_spark.queries.sketches import HLL_RSD, PCTL_ACC

SF_DIR = "/root/testdata/sf0.001"


def test_approx_daily_uniques_error_bound(spark):
    rows = REGISTRY["approx_daily_uniques"].fn(spark, SF_DIR).collect()
    exact = dict(duckdb.sql(f"""
        SELECT CAST(epoch_ns(ts) AS BIGINT) // 86400000000000 AS day,
               COUNT(DISTINCT user_id)
        FROM '{SF_DIR}/events.parquet' GROUP BY 1""").fetchall())
    assert len(rows) == len(exact)
    for r in rows:
        e = exact[r["day"]]
        # 5 sigma of the configured rsd, floor of 2 for tiny groups
        assert abs(r["approx_users"] - e) <= max(2, 5 * HLL_RSD * e)


def test_approx_value_percentiles_error_bound(spark):
    rows = REGISTRY["approx_value_percentiles"].fn(spark, SF_DIR).collect()
    con = duckdb.connect()
    sorted_vals = {}
    for et, vals in con.execute(f"""
        SELECT event_type,
               list_sort(list(CAST(ROUND(value*100) AS BIGINT)))
        FROM '{SF_DIR}/events.parquet' GROUP BY 1""").fetchall():
        sorted_vals[et] = vals
    assert len(rows) == len(sorted_vals)
    for r in rows:
        vals = sorted_vals[r["event_type"]]
        n = len(vals)
        # the GK guarantee is on RANK: |rank(returned) - p*n| <= n/acc
        tol = max(1.0, 2.0 * n / PCTL_ACC)
        for got, p in zip(
                (r["p50_cents"], r["p90_cents"], r["p99_cents"]),
                (0.5, 0.9, 0.99)):
            lo = sum(1 for v in vals if v < got)   # lowest rank of got
            hi = sum(1 for v in vals if v <= got)  # highest rank of got
            target = p * (n - 1)
            assert lo - tol <= target <= hi + tol, (
                r["event_type"], p, got, lo, hi, target)


def test_weekly_merge_is_lossless_and_bounded(spark):
    """Unioning the daily sketches must equal sketching each week
    directly (register-max merge is exact), and the estimate must sit
    within the HLL error bound of the true weekly distinct."""
    from pyspark.sql import functions as F

    from hpctoolkit_dataframe_spark.queries import load_table

    rows = {r["week"]: r for r in
            REGISTRY["approx_weekly_from_daily"].fn(spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events")
    week = F.expr("(ts div 86400000000000) div 7")
    direct = {r["week"]: r["direct"] for r in
              ev.groupBy(week.alias("week"))
              .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
                   .cast("long").alias("direct")).collect()}
    exact = {r["week"]: r["e"] for r in
             ev.groupBy(week.alias("week"))
             .agg(F.countDistinct("user_id").cast("long").alias("e"))
             .collect()}
    assert rows.keys() == direct.keys() == exact.keys()
    for w, r in rows.items():
        assert r["approx_users"] == direct[w]          # lossless merge
        e = exact[w]
        assert abs(r["approx_users"] - e) <= max(2, 0.15 * e)


def test_cms_overestimates_only_and_merges(spark):
    """CMS contracts: (a) estimate >= exact for every token, with
    equality whenever no other token collides in ALL D rows; (b) the
    counter table is mergeable — cell-wise SUM of per-source sketches
    equals the global sketch (the property that lets per-day/partition
    sketches roll up without re-reading data)."""
    from pyspark.sql import functions as F

    from hpctoolkit_dataframe_spark.queries import load_table
    from hpctoolkit_dataframe_spark.queries.sketches import CMS_D, CMS_W

    rows = REGISTRY["cms_heavy_hitters"].fn(spark, SF_DIR).collect()
    assert rows
    assert all(r.est_c >= r.exact_c for r in rows)
    # vocabulary (~31) << W=512: expect zero all-rows collisions here
    assert all(r.est_c == r.exact_c for r in rows)

    # mergeability: global counters == sum of per-source counters
    docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("text").isNotNull())
    cms_b = F.conv(F.substring(F.md5(
        F.concat(F.col("i").cast("string"), F.lit(":"), F.col("tok"))),
        1, 8), 16, 10).cast("long") % CMS_W
    cells = (docs.select("source",
                         F.explode(F.split("text", r"\s+")).alias("tok"))
             .select("source", "tok",
                     F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1)))
                     .alias("i"))
             .withColumn("b", cms_b))
    per_source = cells.groupBy("source", "i", "b").count()
    merged = {(r["i"], r["b"]): r["sum(count)"] for r in
              per_source.groupBy("i", "b").agg(F.sum("count")).collect()}
    global_ = {(r["i"], r["b"]): r["count"] for r in
               cells.groupBy("i", "b").count().collect()}
    assert merged == global_
