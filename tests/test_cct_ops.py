"""Unit tests for CCT operators on small synthetic frames.

Covers the subtle reference semantics that the XML golden tests can't
isolate: the ratio-of-parent walk-up rule (skip ancestors with smaller
values, hpctoolkit_dataframe.py:368-371) and per-profile isolation of
the joins (engine extension — reference is single-profile only).
"""

import pytest
from pyspark.sql import functions as F

from hpctoolkit_dataframe_spark import HPCtoolkitDataFrame
from hpctoolkit_dataframe_spark.operators import cct
from hpctoolkit_dataframe_spark.plans import explain

from .conftest import cct_xml, job_probe


@pytest.fixture(scope="module")
def tree(spark):
    # value is NON-monotone: node 3 (value 50) > its parent 2 (value 10),
    # so the walk-up must skip node 2 and land on node 1 (value 100).
    rows = [
        # (profile, id, callpath, value)
        ("p1", -1, [], 100.0),
        ("p1", 1, [1], 100.0),
        ("p1", 2, [1, 2], 10.0),
        ("p1", 3, [1, 2, 3], 50.0),
        ("p1", 4, [1, 2, 3, 4], 5.0),
        # p2 has the same ids but different values — must not leak into p1
        ("p2", -1, [], 1000.0),
        ("p2", 1, [1], 1.0),
        ("p2", 2, [1, 2], 1.0),
        ("p2", 3, [1, 2, 3], 1.0),
        ("p2", 4, [1, 2, 3, 4], 1.0),
    ]
    return spark.createDataFrame(
        rows, "profile_id string, id long, callpath array<long>, value double")


def _by_id(rows, profile="p1"):
    return {r["id"]: r for r in rows if r["profile_id"] == profile}


def test_ratio_of_total_per_profile(tree):
    out = cct.with_ratio_of_total(tree, "value", "r",
                                  partition_cols=["profile_id"]).collect()
    p1 = _by_id(out)
    assert p1[-1]["r"] == 1.0
    assert p1[3]["r"] == 0.5
    p2 = _by_id(out, "p2")
    assert p2[3]["r"] == pytest.approx(0.001)


def test_ratio_of_parent_walk_up(tree):
    out = cct.with_ratio_of_parent(tree, "value", "r",
                                   partition_cols=["profile_id"]).collect()
    p1 = _by_id(out)
    assert p1[-1]["r"] == 1.0          # root resolves to itself (:369-374)
    assert p1[1]["r"] == 1.0           # 100/100
    assert p1[2]["r"] == pytest.approx(0.1)    # 10/100
    # walk-up: parent (10) < own (50) -> skip to node 1 (100)
    assert p1[3]["r"] == pytest.approx(0.5)
    assert p1[4]["r"] == pytest.approx(0.1)    # 5/50 via parent 3
    # p2 values unaffected by p1's identical ids
    p2 = _by_id(out, "p2")
    assert p2[2]["r"] == pytest.approx(1.0)    # 1/1 (parent qualifies)


def test_ratio_of_parent_no_qualifying_ancestor(spark):
    # child larger than every ancestor -> the walk terminates at the root
    # and uses it regardless (reference loop structure :368-382)
    rows = [("p", -1, [], 10.0), ("p", 1, [1], 5.0), ("p", 2, [1, 2], 99.0)]
    df = spark.createDataFrame(
        rows, "profile_id string, id long, callpath array<long>, value double")
    out = _by_id(cct.with_ratio_of_parent(
        df, "value", "r", partition_cols=["profile_id"]).collect(), "p")
    assert out[2]["r"] == pytest.approx(9.9)


def test_hot_edges_rank(tree):
    ranked = cct.hot_edges(tree, "value", partition_cols=["profile_id"])
    top = {(r["profile_id"], r["id"]): r["__rank"]
           for r in ranked.collect()}
    assert top[("p1", 2)] == 1   # only child of 1
    assert top[("p1", 3)] == 1
    # p2 children of same parents rank independently
    assert top[("p2", 2)] == 1


def test_at_paths_prefix_suffix(tree):
    assert cct.at_paths(tree, prefix=(1, 2)).count() == 6  # 3 per profile
    ids = sorted(r["id"] for r in
                 cct.at_paths(tree, suffix=(2, 3)).collect())
    assert ids == [3, 3]
    assert cct.at_paths(tree).count() == 10


def test_ratio_of_parent_null_ancestor_stops_walk(spark, tmp_path):
    """Reference `base < value` loop: an existing ancestor whose value is
    NaN stops the walk (NaN < x is False) and yields NaN — NOT a
    continued walk to a shallower non-null ancestor (ADVICE r1).  Pinned
    on the explode walk-up and on the loader's ancestor-array walk-up."""
    from hpctoolkit_dataframe_spark.sources.hpctoolkit_xml import \
        load_experiments

    values = {(): 10.0, (1,): None, (1, 2): 5.0, (1, 2, 3): 4.0}
    df = spark.createDataFrame(
        [("p1", p[-1] if p else -1, list(p), v) for p, v in values.items()],
        "profile_id string, id long, callpath array<long>, value double")
    explode = cct.with_ratio_of_parent(
        df, "value", "r", partition_cols=["profile_id"])
    xml = tmp_path / "null_ancestor.xml"
    xml.write_text(cct_xml({p: {2: v} for p, v in values.items()}))
    loaded, _ = load_experiments(spark, str(xml))
    for name, frame, col in (("explode", explode, "r"),
                             ("loader", loaded, "T:Mean (I) ratio of parent")):
        out = {r["id"]: r[col] for r in frame.collect()}
        assert out[-1] == 1.0, name
        assert out[1] is None, name                      # own value null
        assert out[2] is None, name                      # parent null -> stop
        assert out[3] == pytest.approx(0.8), name  # 4/5, never sees 1


def test_fragment_contiguity_semantics(spark):
    """contains_fragment matches CONTIGUOUS subsequences only: both
    elements present but separated must NOT match; order matters;
    short paths never match; at_paths itself still refuses fragments
    (the reference's pinned behavior)."""
    import pytest
    from pyspark.sql import functions as F

    from hpctoolkit_dataframe_spark.functions.callpath import \
        contains_fragment
    from hpctoolkit_dataframe_spark.operators import cct as ops

    df = spark.createDataFrame(
        [(1, [3, 17, 99]), (2, [3, 5, 17]), (3, [17, 3]),
         (4, [3]), (5, [99, 3, 17])],
        "id long, callpath array<long>")
    got = sorted(r.id for r in df.filter(
        contains_fragment((3, 17))).collect())
    assert got == [1, 5]  # 2: separated, 3: wrong order, 4: too short
    assert df.filter(contains_fragment(())).count() == 5  # empty passes
    multi = ops.at_path_fragments(df, (3, 17), (99,))
    assert sorted(r.id for r in multi.collect()) == [1, 5]
    with pytest.raises(NotImplementedError):
        ops.at_paths(df, (3, 17))


def test_monotone_hint_equals_walkup_explode(spark):
    """The monotone fast path (one parent join) must return exactly the
    explode/walk-up result when the metric really is monotone — the
    claim cct_ratio_of_parent's oracle hash also proves at two SFs."""
    from hpctoolkit_dataframe_spark.queries.cct_tpch import build_cct

    df = build_cct(spark, "/root/testdata/sf0.001")
    fast = cct.with_ratio_of_parent(
        df, "value", "r", carry_cols=("depth",), monotone=True)
    slow = cct.with_ratio_of_parent(
        df, "value", "r", carry_cols=("depth",))
    a = {r["id"]: (r["depth"], r["r"]) for r in fast.collect()}
    b = {r["id"]: (r["depth"], r["r"]) for r in slow.collect()}
    assert a == b


def _assert_walk_up(got, values):
    """``got``: path -> ratio; ``values``: path -> value (one tree)."""
    from .test_properties import _walk_up_expected

    assert got.keys() == values.keys()
    for path, r in got.items():
        exp = _walk_up_expected(values, path)
        assert r == (None if exp is None else pytest.approx(exp, rel=1e-12)), \
            (path, exp, r)


def test_walkup_explode_matches_python_reference(spark, tree):
    """The ancestor explode against the Python walk-up — on the
    non-monotone sf0.001 CCT (real tree, avg-leaf metric, slim carry
    shape) AND on the synthetic per-profile tree (join-back shape),
    including the skip-smaller-ancestor and NULL-ancestor branches."""
    from hpctoolkit_dataframe_spark.queries.cct_tpch import build_cct

    df = build_cct(spark, "/root/testdata/sf0.001").withColumn(
        "avg_leaf", F.col("value").cast("double") / F.col("leaves"))
    rows = df.select("id", "callpath", "avg_leaf").collect()
    paths = {r["id"]: tuple(r["callpath"]) for r in rows}
    values = {tuple(r["callpath"]): r["avg_leaf"] for r in rows}
    assert len(values) > 100
    # the walk really skips smaller parents somewhere in this tree
    assert any(values[p[:-1]] < v for p, v in values.items() if p)
    out = cct.with_ratio_of_parent(
        df, "avg_leaf", "r", carry_cols=("depth",))
    got = {}
    for r in out.collect():
        assert r["depth"] == len(paths[r["id"]])
        got[paths[r["id"]]] = r["r"]
    _assert_walk_up(got, values)
    # per-profile isolation: p2 reuses p1's ids with other values
    out = cct.with_ratio_of_parent(
        tree, "value", "r", partition_cols=["profile_id"]).collect()
    for p in ("p1", "p2"):
        mine = [r for r in out if r["profile_id"] == p]
        _assert_walk_up({tuple(r["callpath"]): r["r"] for r in mine},
                        {tuple(r["callpath"]): r["value"] for r in mine})
    # a NULL-metric ancestor stops the walk
    rows = [
        ("p1", -1, [], 10.0),
        ("p1", 1, [1], None),
        ("p1", 2, [1, 2], 5.0),
        ("p1", 3, [1, 2, 3], 4.0),
    ]
    ndf = spark.createDataFrame(
        rows, "profile_id string, id long, callpath array<long>, value double")
    out = {r["id"]: r["r"] for r in cct.with_ratio_of_parent(
        ndf, "value", "r", partition_cols=["profile_id"]).collect()}
    assert out[-1] == 1.0
    assert out[1] is None
    assert out[2] is None
    assert out[3] == pytest.approx(0.8)


def test_walkup_root_matched_by_depth_not_id(spark):
    """The root is the depth-0 ancestor whatever its id: a root with
    id 0 (not the conventional -1) still resolves to 1.0 and still
    stops the walk of a node larger than every other ancestor; and a
    depth-1 node with id 0 under a -1 root is an ordinary ancestor."""
    rows = [
        ("a", 0, [], 10.0),
        ("a", 1, [1], 5.0),
        ("a", 2, [1, 2], 99.0),    # above 5: the walk ends at the root
        ("a", 3, [1, 2, 3], 1.0),
        ("b", -1, [], 10.0),
        ("b", 0, [0], 40.0),
        ("b", 5, [0, 5], 30.0),    # parent 0 (40) stops the walk
    ]
    df = spark.createDataFrame(
        rows, "profile_id string, id long, callpath array<long>, value double")
    for carry in (None, ("value",)):
        out = {(r["profile_id"], r["id"]): r["r"]
               for r in cct.with_ratio_of_parent(
                   df, "value", "r", partition_cols=["profile_id"],
                   carry_cols=carry).collect()}
        assert out == {
            ("a", 0): 1.0, ("a", 1): 0.5, ("a", 2): pytest.approx(9.9),
            ("a", 3): pytest.approx(1 / 99),
            ("b", -1): 1.0, ("b", 0): 4.0, ("b", 5): 0.75,
        }, carry


def test_walkup_duplicate_key_raises_at_action(spark):
    """Two rows on one (partition, depth, id) key break the walk-up's
    input contract: the action raises, naming the key, instead of
    feeding both rows into the deepest-stopper aggregate; building the
    plan starts no Spark job."""
    rows = [
        ("p", -1, [], 10.0),
        ("p", 1, [1], 5.0),
        ("p", 1, [1], 7.0),
        ("p", 2, [1, 2], 6.0),
    ]
    df = spark.createDataFrame(
        rows, "profile_id string, id long, callpath array<long>, value double")
    with job_probe(spark, "walkup-check-starts-no-job") as jobs:
        out = cct.with_ratio_of_parent(
            df, "value", "r", partition_cols=["profile_id"])
        assert jobs() == set()
        with pytest.raises(Exception, match="2 rows share depth 1 and id 1"):
            out.collect()
        assert jobs()  # the probe works


def test_monotone_violation_raises_at_action(spark, tree):
    """``monotone=True`` on a tree where a parent's value is below its
    child's (p1: node 3 = 50 under node 2 = 10) would give a wrong
    one-step ratio: the action raises, naming the node, and building
    the plan starts no Spark job."""
    with job_probe(spark, "monotone-check-starts-no-job") as jobs:
        out = cct.with_ratio_of_parent(
            tree, "value", "r", partition_cols=["profile_id"],
            monotone=True)
        assert jobs() == set()
        with pytest.raises(Exception, match="node 3 has value 50.0 but "
                                            "its parent 10.0"):
            out.collect()
        assert jobs()  # the probe works


@pytest.fixture(scope="module")
def profile(spark, tmp_path_factory):
    """A loaded experiment XML as the reference-shaped frame."""
    xml = tmp_path_factory.mktemp("profile") / "profile.xml"
    values = {(): 10.0, (1,): 8.0, (1, 2): 3.0, (1, 2, 3): 5.0, (1, 4): 8.0}
    xml.write_text(cct_xml({p: {2: v} for p, v in values.items()}))
    return HPCtoolkitDataFrame(path=str(xml), spark=spark)


def test_ratio_of_parent_starts_no_job(spark, tree, profile):
    """Both walk-up plans and the frame's ``add_ratio_column(...,
    "parent")`` are lazy: the call starts no Spark job, the action
    does."""
    # the monotone plan gets p2 only: p1 breaks its precondition
    p2 = tree.filter(F.col("profile_id") == "p2")
    with job_probe(spark, "ratio-of-parent-starts-no-job") as jobs:
        outs = [
            cct.with_ratio_of_parent(p2 if monotone else tree, "value", "r",
                                     partition_cols=["profile_id"],
                                     monotone=monotone, carry_cols=carry)
            for monotone in (True, False) for carry in (None, ("value",))]
        outs.append(profile.add_ratio_column("T:Mean (I)", "r", "parent"))
        assert jobs() == set()
        for out in outs:
            out.collect()
        assert jobs()  # the probe works


def _outside_cache(plan: str, op: str) -> list[str]:
    """Lines of a plan tree string that name ``op`` with no
    ``InMemoryRelation`` among their ancestors."""
    stack: list[tuple[int, str]] = []
    found = []
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :|+-"))
        while stack and stack[-1][0] >= indent:
            stack.pop()
        if op in line and not any("InMemoryRelation" in a for _, a in stack):
            found.append(line)
        stack.append((indent, line))
    return found


def test_ratio_of_parent_reads_cached_input(spark, profile):
    """On a cached frame every branch of the walk-up plan reads the
    cache: the XML parse (``MapInPandas``) shows only inside the
    ``InMemoryRelation``, never as a re-parse of its own."""
    cached = profile.cache()
    try:
        cached.count()
        out = cached.add_ratio_column("T:Mean (I)", "r", "parent")._df
        out.collect()  # finalizes this Dataset's adaptive plan
        plan = explain.executed_plan(out)
        assert "isFinalPlan=true" in plan
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("InMemoryRelation") == 3, final  # 3 branches
        assert _outside_cache(final, "MapInPandas") == [], final
    finally:
        cached.unpersist()


def test_deepest_aggregate_maxby_semantics(spark):
    """r13: the walk-up's deepest-stopper aggregate moved from
    max(struct(d, v)) (SortAggregate — not hash-aggregable) to
    max_by(v, d) (codegen HashAggregate).  Pin the equivalence on the
    exact edge the old comment feared: a NULL value at the DEEPEST
    ordering must come back NULL, not a shallower non-null."""
    df = spark.createDataFrame(
        [(1, 0, 10.0), (1, 1, None),
         (2, 0, 5.0), (2, 2, 7.0),
         (3, 1, None), (3, 0, None)],
        "g int, d int, v double")
    struct_max = {r["g"]: r["v"] for r in df.groupBy("g").agg(
        F.max(F.struct(F.col("d").alias("d"), F.col("v").alias("v")))["v"]
        .alias("v")).collect()}
    maxby = {r["g"]: r["v"] for r in df.groupBy("g").agg(
        F.max_by("v", "d").alias("v")).collect()}
    assert struct_max == maxby == {1: None, 2: 7.0, 3: None}
    # and the planned exec really is hash-based (the point of the change)
    plan = df.groupBy("g").agg(F.max_by("v", "d"))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "HashAggregate" in plan and "SortAggregate" not in plan
