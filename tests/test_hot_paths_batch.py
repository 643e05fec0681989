"""Fleet-scale hot_paths against the Python walk, per profile, and the
lazy plan of hot_path/hot_paths."""

import pytest
from pyspark.sql import functions as F

from hpctoolkit_dataframe_spark.operators import cct

from .conftest import hot_path_walk

ROWS = [
    # p1: straightforward descent
    ("p1", -1, [], 1.0), ("p1", 1, [1], 0.9), ("p1", 2, [2], 0.1),
    ("p1", 3, [1, 3], 0.6), ("p1", 4, [1, 4], 0.3),
    ("p1", 5, [1, 3, 5], 0.02),
    # p2: tie at the first level (ids 1 vs 2, same value) -> smaller id
    ("p2", -1, [], 1.0), ("p2", 1, [1], 0.5), ("p2", 2, [2], 0.5),
    ("p2", 3, [1, 3], 0.5),
    # p3: hottest child below threshold immediately
    ("p3", -1, [], 1.0), ("p3", 1, [1], 0.01),
]


@pytest.fixture(scope="module")
def profiles(spark):
    return spark.createDataFrame(
        ROWS, "profile_id string, id long, callpath array<long>, r double")


def test_hot_paths_matches_per_profile(profiles):
    batch = cct.hot_paths(profiles, "r", partition_cols=["profile_id"],
                          threshold=0.05)
    got = {(r["profile_id"], r["id"]) for r in batch.collect()}
    expected = set()
    for p in ("p1", "p2", "p3"):
        values = {tuple(c): r for q, _, c, r in ROWS if q == p}
        expected |= {(p, c[-1] if c else -1)
                     for c in hot_path_walk(values, threshold=0.05)}
    assert got == expected
    # spot-check semantics: p1 stops before the 0.02 node; p2 follows the
    # tie to id 1 then its child (0.5 >= threshold); p3 is root-only
    assert ("p1", 5) not in got and ("p1", 3) in got
    assert ("p2", 1) in got and ("p2", 2) not in got and ("p2", 3) in got
    assert {x for x in got if x[0] == "p3"} == {("p3", -1)}


def test_hot_paths_identical_ids_across_profiles(profiles):
    # same node ids exist in every profile; chains must not leak
    batch = cct.hot_paths(profiles, "r", partition_cols=["profile_id"],
                          threshold=0.05)
    per_profile = {}
    for r in batch.collect():
        per_profile.setdefault(r["profile_id"], set()).add(r["id"])
    # node id 1 exists in all three profiles; only p3's threshold stops
    # its chain at the root — proving per-profile isolation of the walk
    assert per_profile["p3"] == {-1}
    assert 1 in per_profile["p1"] and 1 in per_profile["p2"]


def test_hot_path_calls_start_no_job(spark, profiles):
    """Both functions only build a plan; the job starts at the action."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "hot-path-plan-building"
    sc.setJobGroup(group, "hot_path / hot_paths plan building")
    try:
        batch = cct.hot_paths(profiles, "r", ["profile_id"], threshold=0.05)
        single = cct.hot_path(profiles.filter(F.col("profile_id") == "p1"),
                              "r", threshold=0.05)
        assert tracker.getJobIdsForGroup(group) == []
        assert len(single.collect()) == 3 and len(batch.collect()) == 7
        assert tracker.getJobIdsForGroup(group)  # the probe works
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
