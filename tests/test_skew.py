"""Equivalence tests for the skew-mitigation helpers (VERDICT r1 #7):
salting must be pure routing — results identical to the plain
join/aggregate on a deliberately skewed fixture."""

import pytest
from pyspark.sql import functions as F

from hpctoolkit_dataframe_spark.operators import skew


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key (0) holding ~90% of rows, a long tail of singletons
    left = spark.range(2000).select(
        F.when(F.col("id") < 1800, F.lit(0)).otherwise(F.col("id"))
        .alias("k"),
        (F.col("id") * 3 % 101).alias("v"))
    right = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("w"))
    return left, right


def _counts(rows):
    out = {}
    for r in rows:
        key = tuple(r)
        out[key] = out.get(key, 0) + 1
    return out


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_equals_plain_join(skewed, how):
    left, right = skewed
    plain = left.join(right, on=["k"], how=how)
    salted = skew.salted_join(left, right, on=["k"], how=how, salt=8)
    assert sorted(salted.columns) == sorted(plain.columns)
    cols = plain.columns
    assert _counts(salted.select(*cols).collect()) == \
        _counts(plain.collect())


def test_two_stage_agg_sum_equals_group_sum(skewed):
    left, _ = skewed
    plain = {r["k"]: r["s"] for r in
             left.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    two = {r["k"]: r["sum_v"] for r in
           skew.two_stage_agg_sum(left, ["k"], "v", salt=8).collect()}
    assert two == plain


# ---------------------------------------------------------------------------
# _first_point_after: the funnel stream's window-scan step matcher
# (replaced the per-user theta join the skewed-clone probe measured at
# x17).  The end-to-end stream==batch twins cover it at volume; these
# pin the tie semantics the rank encoding must preserve.
# ---------------------------------------------------------------------------

def test_first_point_after_strict_and_min(spark):
    from hpctoolkit_dataframe_spark.streaming.events import \
        _first_point_after

    anchors = spark.createDataFrame(
        [(1, 101, 10), (1, 102, 25), (2, 201, 10)],
        "user_id long, event_id long, v_ts long")
    points = spark.createDataFrame(
        # user 1: a point AT 10 (equal ts — must NOT match anchor 101
        # strictly), then 12 and 20; user 2: nothing after its anchor
        [(1, 10), (1, 12), (1, 20), (2, 9)],
        "user_id long, p long")
    got = {r["event_id"]: r["nxt"] for r in _first_point_after(
        anchors, points, "v_ts", "p", out="nxt").collect()}
    assert got == {101: 12,   # equal-ts point excluded, min later wins
                   102: None,  # no point after 25
                   201: None}  # points at other keys never leak


def test_first_point_after_anchor_is_never_its_own_point(spark):
    from hpctoolkit_dataframe_spark.streaming.events import \
        _first_point_after

    # two anchors at the SAME ts for one user: each must see the
    # later point, not each other
    anchors = spark.createDataFrame(
        [(7, 1, 100), (7, 2, 100)], "user_id long, event_id long, t long")
    points = spark.createDataFrame([(7, 150)], "user_id long, p long")
    got = {r["event_id"]: r["nxt"] for r in _first_point_after(
        anchors, points, "t", "p", out="nxt").collect()}
    assert got == {1: 150, 2: 150}
