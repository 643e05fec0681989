"""The loader's ratio columns against the explode walk-up, on small
inline experiment XMLs.

``load_experiments`` computes ``ratio of total`` and ``ratio of parent``
in its parse stage, from the ancestor values each parsed row carries.
These tests pin both columns to ``with_ratio_of_total`` /
``with_ratio_of_parent`` (the explode path) over the same loaded frame,
exactly, for 1 file and for 9 files, and pin that a load of either size
is the same lazy plan and starts no Spark job.
"""

import os
import re

import pytest
from pyspark.sql import functions as F

from hpctoolkit_dataframe_spark.operators import cct
from hpctoolkit_dataframe_spark.sources.hpctoolkit_xml import load_experiments

from .conftest import cct_xml, job_probe

PCT = "T:Mean (I)"
TOTAL, PARENT = PCT + " ratio of total", PCT + " ratio of parent"
CALLSITE = (1, 5)


def _tree(root, k=0.0):
    """Raw values per XML path: node 2 has no metric (a NULL ancestor),
    node 10 is larger than all its ancestors, node 11 ties its parent,
    node 5 is a call site (spliced out by default, so 6 attaches to 1)."""
    return {
        (): root,
        (1,): 8.0 + k,
        (1, 2): None,
        (1, 2, 3): 3.0,
        (1, 2, 3, 4): 50.0 + k,
        (1, 2, 8): 0.0,
        CALLSITE: 9.0,
        (1, 5, 6): 7.0 - k,
        (1, 5, 6, 7): 2.0,
        (1, 5, 6, 9): 7.5,
        (1, 5, 6, 10): 500.0,
        (1, 5, 6, 11): 7.0 - k,
    }


def _plain_xml(i):
    """The percentage column is a raw metric (no finalize formula);
    file 0 has a zero-valued root."""
    values = _tree(0.0 if i == 0 else 100.0 + i, k=float(i))
    return cct_xml({p: {2: v} for p, v in values.items()},
                   tags={CALLSITE: "C"})


def _formula_xml(i):
    """The percentage column is ``$2 / $8``; a zero $8 makes a NULL
    finalized value, a zero $2 at the root of file 0 a zero root."""
    values = _tree(0.0 if i == 0 else 100.0 + i, k=float(i))
    sources = {p: (0.0 if p == (1, 2, 3) else 2.0 + len(p)) for p in values}
    return cct_xml(
        {p: {2: v, 8: sources[p]} for p, v in values.items()},
        metrics=((2, "T:Sum (I)", None), (4, PCT, "$2 / $8"),
                 (8, "T:Sources", None)),
        tags={CALLSITE: "C"})


def _write(tmp_path, make, n):
    paths = []
    for i in range(n):
        paths.append(tmp_path / f"exp_{i}.xml")
        paths[-1].write_text(make(i))
    return [str(p) for p in paths]


def _ratios(df, total, parent):
    return {(r[0], r[1]): (r[2], r[3]) for r in df.select(
        "profile_id", "id", F.col(f"`{total}`"), F.col(f"`{parent}`")
    ).collect()}


def _assert_loader_matches_explode(df):
    got = _ratios(df, TOTAL, PARENT)
    base = df.drop(TOTAL, PARENT)
    ref = cct.with_ratio_of_parent(
        cct.with_ratio_of_total(base, PCT, "t", ["profile_id"]),
        PCT, "p", ["profile_id"])
    assert got == _ratios(ref, "t", "p")
    return got


@pytest.mark.parametrize("make", [_plain_xml, _formula_xml],
                         ids=["raw", "formula"])
def test_one_file_ratios_match_explode(spark, tmp_path, make):
    zero_root, path = _write(tmp_path, make, 2)
    got = _assert_loader_matches_explode(
        load_experiments(spark, zero_root)[0])
    # zero-valued root: every ratio of total is NULL, and so is the
    # root's own ratio of parent (0 / 0)
    assert all(t is None for t, _ in got.values())
    assert got[(zero_root, -1)] == (None, None)

    got = _assert_loader_matches_explode(load_experiments(spark, path)[0])
    assert got[(path, -1)] == (1.0, 1.0)
    # 6 is a child of 1 once the call site is spliced
    assert (path, 5) not in got and (path, 6) in got
    if make is _plain_xml:
        root, one = 101.0, 9.0
        assert got[(path, 1)] == (one / root, one / root)
        assert got[(path, 2)] == (None, None)   # no metric
        assert got[(path, 3)] == (3.0 / root, None)   # parent 2 is NULL
        assert got[(path, 4)][1] is None        # walk stops at 2
        assert got[(path, 9)][1] == 7.5 / one   # walks past 6 (6.0)
        assert got[(path, 10)][1] == 500.0 / root
        assert got[(path, 11)][1] == 1.0        # a tie stops the walk

    for kwargs in ({"max_depth": 2}, {"skip_callsite": False}):
        df, _ = load_experiments(spark, path, **kwargs)
        got = _assert_loader_matches_explode(df)
        depths = dict(df.select("id", F.size("callpath")).collect())
        if "max_depth" in kwargs:
            assert max(depths.values()) == 2
        else:
            assert depths[5] == 2 and depths[6] == 3


@pytest.mark.parametrize("make", [_plain_xml, _formula_xml],
                         ids=["raw", "formula"])
def test_distributed_path_ratios_match_explode(spark, tmp_path, make):
    paths = _write(tmp_path, make, 9)
    with job_probe(spark, "load-experiments-starts-no-job") as jobs:
        one, _ = load_experiments(spark, paths[1])
        df, _ = load_experiments(spark, str(tmp_path / "exp_*.xml"))
        assert jobs() == set()
        assert one.count() == len(_tree(0.0)) - 1
        assert df.count() == 9 * (len(_tree(0.0)) - 1)
        assert jobs()  # the probe works
    got = _assert_loader_matches_explode(df)
    assert {p for p, _ in got} == set(paths)
    assert any(t is not None for t, _ in got.values())
    assert any(p is None for _, p in got.values())


def _plan_nodes(df):
    """Operator names of the optimized logical plan, top down, and the
    plan text."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [re.sub(r"^[\s:+|-]*", "", line).split(" ")[0]
            for line in plan.splitlines() if line.strip()], plan


def test_one_file_and_nine_files_share_one_plan(spark, tmp_path):
    """A 1-file load is the same lazy binaryFile -> MapInPandas plan as
    a 9-file load, not driver-parsed rows shipped as a local relation.
    The scan reads only the file paths: the parse opens each file by
    path, so no file bytes cross the JVM."""
    paths = _write(tmp_path, _plain_xml, 9)
    one_df = load_experiments(spark, paths[0])[0]
    one, one_plan = _plan_nodes(one_df)
    nine, _ = _plan_nodes(
        load_experiments(spark, str(tmp_path / "exp_*.xml"))[0])
    assert one == nine
    assert "MapInPandas" in one
    assert re.search(r"Relation \[path#\d+,[^\]]*\] binaryFile", one_plan)
    assert "LocalRelation" not in one_plan and "LogicalRDD" not in one_plan
    executed = one_df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<path:string>" in executed


def test_load_ignores_binary_file_max_length(spark, tmp_path):
    """binaryFile only lists the files, so a file larger than
    ``spark.sql.sources.binaryFile.maxLength`` still loads whole."""
    paths = _write(tmp_path, _plain_xml, 2)
    key = "spark.sql.sources.binaryFile.maxLength"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "64")
    try:
        assert os.path.getsize(paths[0]) > 64
        df, _ = load_experiments(spark, paths)
        assert df.count() == 2 * (len(_tree(0.0)) - 1)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
