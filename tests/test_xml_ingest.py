"""Golden-value parity with the reference (FIXTURES.md §3 captures).

The behaviour tests on ``profile1``, ``test_max_depth_zero_root_only``
and ``test_multi_file_load`` read the reference's experiment1.xml where
it exists and the generated ``conftest.CPU_PROFILE_XML`` elsewhere."""

import os
import shutil
from xml.etree.ElementTree import ParseError

import pyspark.sql.functions as F
import pytest
from pyspark.errors import AnalysisException, PythonException

from hpctoolkit_dataframe_spark import HPCtoolkitDataFrame
from hpctoolkit_dataframe_spark.sources import datasource
from hpctoolkit_dataframe_spark.sources.hpctoolkit_xml import load_experiments

from .conftest import (CPU_PROFILE_XML, EXPERIMENT1, EXPERIMENT2, cct_xml,
                       job_probe, profile_path)


@pytest.fixture(scope="module")
def exp1(spark):
    h = HPCtoolkitDataFrame(path=EXPERIMENT1, spark=spark)
    h._df = h._df.cache()
    h._df.count()
    yield h
    h._df.unpersist()


@pytest.fixture(scope="module")
def profile1(spark, tmp_path_factory):
    path = profile_path(EXPERIMENT1, tmp_path_factory.mktemp("profile1"))
    h = HPCtoolkitDataFrame(path=path, spark=spark)
    h._df = h._df.cache()
    h._df.count()
    yield h
    h._df.unpersist()


def test_profile_path_prefers_existing_reference(tmp_path):
    reference = tmp_path / "ref" / "experiment1.xml"
    reference.parent.mkdir()
    reference.write_text("<reference/>")
    assert profile_path(str(reference), tmp_path) == str(reference)
    reference.unlink()
    generated = profile_path(str(reference), tmp_path)
    assert generated == str(tmp_path / "experiment1.xml")
    with open(generated) as f:
        assert "CPUTIME (usec):Mean (I)" in f.read()


def test_shape_and_types(exp1):
    assert exp1.count() == 3454
    # 24 metric + 9 location + 2 ratio = 33 reference columns (+ profile_id)
    assert len(exp1.columns) == 34
    counts = dict(exp1.df.groupBy("type").count().collect())
    assert counts == {"statement": 1450, "loop": 1409,
                      "procedure frame": 594, "root": 1}
    assert exp1.df.select(F.max(F.size("callpath"))).first()[0] == 25


def test_percentage_election(exp1):
    assert exp1.metadata.meaningful_columns["percentage"] == \
        "CPUTIME (usec):Mean (I)"


def test_root_fix(exp1):
    root = exp1.df.filter(F.size("callpath") == 0).select(
        F.col("`CPUTIME (usec):Sum (I)`").alias("i"),
        F.col("`CPUTIME (usec):Sum (E)`").alias("e")).first()
    assert root["i"] == root["e"] == 72135600.0


def test_hot_path_golden_chain(exp1):
    hp = exp1.hot_path()
    rows = hp.select("id", "callpath").collect()
    ids = [r["id"] for r in sorted(rows, key=lambda r: len(r["callpath"]))]
    assert ids == [-1, 2, 4, 6, 797, 798, 813, 1456, 1477, 1479, 1512,
                   1547, 1548, 1549, 1563, 1679, 1690, 1916]
    deepest = hp.df.filter(F.col("id") == 1916).select(
        F.round(F.col("`CPUTIME (usec):Mean (I) ratio of total`"), 6)).first()[0]
    assert deepest == 0.228872


def test_filters_golden(exp1):
    assert exp1.at_depth(2).count() == 1
    assert exp1.at_paths(prefix=(2, 4)).count() == 3452
    assert [r["id"] for r in
            exp1.at_paths(suffix=(813,)).select("id").collect()] == [813]


def test_fragments_not_implemented(profile1):
    exp1 = profile1
    with pytest.raises(NotImplementedError):
        exp1.at_paths((1, 2))


def test_metadata_propagates_through_transformations(profile1):
    exp1 = profile1
    sliced = exp1.at_depth(3).compact
    assert sliced.metadata is exp1.metadata
    assert sliced.metadata.meaningful_columns["hot_path"] == \
        "CPUTIME (usec):Mean (I) ratio of total"
    filtered = exp1.filter(F.col("type") == "loop")
    assert isinstance(filtered, HPCtoolkitDataFrame)
    assert filtered.metadata is exp1.metadata


def test_column_order_matches_reference(profile1):
    exp1 = profile1
    # reference layout (hpctoolkit_dataframe.py:190-198, 354, 385):
    # metrics sorted by id, both ratio columns right after the elected
    # percentage column, then the location columns
    meta = exp1.metadata
    metrics = [name for _, name in sorted(meta.metrics_by_id.items())]
    pct = meta.meaningful_columns["percentage"]
    i = metrics.index(pct) + 1
    expected = (metrics[:i]
                + [pct + " ratio of total", pct + " ratio of parent"]
                + metrics[i:]
                + ["callpath", "module path", "module", "file path", "file",
                   "line", "procedure", "id", "type"])
    assert exp1.columns[:len(expected)] == expected
    assert exp1.columns[len(expected):] == ["profile_id"]  # engine extension


def test_max_depth_zero_root_only(spark, tmp_path):
    df, _ = load_experiments(spark, profile_path(EXPERIMENT1, tmp_path),
                             max_depth=0, add_percentage_columns=False)
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["id"] == -1 and rows[0]["type"] == "root"


def test_max_depth_pushdown(spark):
    df, _ = load_experiments(spark, EXPERIMENT1, max_depth=4,
                             add_percentage_columns=False)
    hist = dict(df.groupBy(F.size("callpath").alias("d")).count().collect())
    assert hist == {0: 1, 1: 1, 2: 1, 3: 1, 4: 3}


def test_callsite_included(spark):
    df, _ = load_experiments(spark, EXPERIMENT1, max_depth=5,
                             skip_callsite=False,
                             add_percentage_columns=False)
    counts = dict(df.groupBy("type").count().collect())
    assert counts == {"procedure frame": 3, "callsite": 2, "root": 1}


def test_experiment2_fallback_election(spark):
    h = HPCtoolkitDataFrame(path=EXPERIMENT2, spark=spark)
    h._df = h._df.cache()
    assert h.count() == 2854
    assert h.metadata.meaningful_columns["percentage"] == "PAPI_MEM_WCY:Mean (I)"
    hp = h.hot_path()
    rows = hp.select("id", "callpath").collect()
    ids = [r["id"] for r in sorted(rows, key=lambda r: len(r["callpath"]))]
    assert ids == [-1, 2, 4, 497, 573, 1588, 2029, 2555, 2557, 2880, 2933,
                   2935, 2987, 3209, 3211, 3236]
    h._df.unpersist()


def test_complex_metric_imag_golden(spark):
    # SURVEY §7 hard part: cmath.sqrt in StdDev finalize formulas makes
    # 1784/3454 experiment1 rows complex-valued (FIXTURES.md §3); the
    # engine materializes companion "<name> (imag)" columns on request
    df, meta = load_experiments(spark, EXPERIMENT1, with_imag=True,
                                add_percentage_columns=False)
    imag_cols = [c for c in df.columns if c.endswith(" (imag)")]
    assert imag_cols  # StdDev/CfVar metrics have sqrt formulas
    col = "CPUTIME (usec):StdDev (I) (imag)"
    assert col in df.columns
    assert df.filter(F.col(f"`{col}`") > 0).count() == 1784
    # real part is 0 where imag is nonzero (pure-imaginary sqrt)
    mixed = df.filter(
        (F.col(f"`{col}`") > 0)
        & (F.col("`CPUTIME (usec):StdDev (I)`") != 0.0)).count()
    assert mixed == 0


def test_unknown_element_raises(spark, tmp_path):
    # reference contract: unrecognized measurement tags raise
    # NotImplementedError (hpctoolkit_dataframe.py:260-264)
    bad = tmp_path / "bad.xml"
    bad.write_text("""<?xml version="1.0"?>
<HPCToolkitExperiment version="2.1">
<SecCallPathProfile i="0" n="bad">
<SecHeader>
  <MetricTable><Metric i="2" n="T:Mean (I)" v="raw" t="inclusive"/></MetricTable>
  <LoadModuleTable/><FileTable/>
  <ProcedureTable><Procedure i="1" n="main"/></ProcedureTable>
</SecHeader>
<SecCallPathProfileData>
  <M n="2" v="5"/>
  <Mystery i="7"><M n="2" v="1"/></Mystery>
</SecCallPathProfileData>
</SecCallPathProfile>
</HPCToolkitExperiment>""")
    from hpctoolkit_dataframe_spark.sources.hpctoolkit_xml import (
        parse_experiment_rows,
    )

    with pytest.raises(NotImplementedError):
        parse_experiment_rows(bad.read_bytes(), str(bad))
    # the load only plans the parse (no job); the error surfaces at the
    # action, from the parse task, for one file and for ten alike
    with job_probe(spark, "unknown-element-load") as jobs:
        df, _ = load_experiments(spark, str(bad),
                                 add_percentage_columns=False)
        assert jobs() == set()
    with pytest.raises(PythonException, match="NotImplementedError"):
        df.collect()
    for i in range(9):
        shutil.copy(bad, tmp_path / f"bad{i}.xml")
    df, _ = load_experiments(spark, str(tmp_path / "bad*.xml"),
                             add_percentage_columns=False)
    with pytest.raises(PythonException, match="NotImplementedError"):
        df.collect()


def test_on_error_skip_fleet_mode(spark, tmp_path):
    # a corrupt file alongside a good one: 'skip' keeps the good rows
    good = tmp_path / "exp_good.xml"
    shutil.copy(EXPERIMENT1, good)
    (tmp_path / "exp_corrupt.xml").write_text("<not-valid-xml")
    df, _ = load_experiments(spark, str(tmp_path / "exp_*.xml"),
                             add_percentage_columns=False, on_error="skip")
    assert df.count() == 3454
    assert df.select("profile_id").distinct().count() == 1


def test_multi_file_load(spark, tmp_path):
    # engine extension: many experiments in one frame via profile_id
    experiment1 = profile_path(EXPERIMENT1, tmp_path)
    df, _ = load_experiments(spark, experiment1.replace("experiment1", "experiment[1]"),
                             add_percentage_columns=False)
    assert df.select("profile_id").distinct().count() == 1


def test_cct_xml_ingest_gate_fixture(spark):
    """The driver-gate ingest query must keep matching the captured
    reference fixture (tools/make_ingest_fixture.py) row-count-wise;
    cell-exactness is enforced by oracle_check / the driver itself."""
    from hpctoolkit_dataframe_spark.queries import REGISTRY
    from hpctoolkit_dataframe_spark.queries.xml_ingest import FIXTURE

    assert os.path.exists(FIXTURE)
    df = REGISTRY["cct_xml_ingest"].fn(spark, "unused")
    rows = df.groupBy("experiment").count().collect()
    counts = {r["experiment"]: r["count"] for r in rows}
    assert counts == {"experiment1": 3454, "experiment2": 2854}


def mini_metric_xml(metric_id):
    """Minimal experiment whose MetricTable has the single id given —
    shared with test_datasource's heterogeneous-rejection twin."""
    return f"""<?xml version="1.0"?>
<HPCToolkitExperiment version="2.1">
<SecCallPathProfile i="0" n="m">
<SecHeader>
  <MetricTable><Metric i="{metric_id}" n="T:Mean (I)" v="raw" t="inclusive"/></MetricTable>
  <LoadModuleTable/><FileTable/>
  <ProcedureTable><Procedure i="1" n="main"/></ProcedureTable>
</SecHeader>
<SecCallPathProfileData>
  <M n="{metric_id}" v="5"/>
</SecCallPathProfileData>
</SecCallPathProfile>
</HPCToolkitExperiment>"""


def test_heterogeneous_metric_table_rejected(spark, tmp_path):
    """A glob file whose MetricTable differs from the driver schema must
    error (on_error='fail') or be skipped whole (on_error='skip') — not
    silently NULL-pad / drop metric columns (ADVICE r1)."""
    (tmp_path / "h_a.xml").write_text(mini_metric_xml(2))
    (tmp_path / "h_b.xml").write_text(mini_metric_xml(9))
    glob = str(tmp_path / "h_*.xml")
    df, _ = load_experiments(spark, glob, add_percentage_columns=False)
    with pytest.raises(PythonException,
                       match=r"ValueError: .*MetricTable ids"):
        df.collect()
    df, _ = load_experiments(spark, glob, add_percentage_columns=False,
                             on_error="skip")
    assert df.select("profile_id").distinct().count() == 1


def _assert_one_file_matches_nine(spark, tmp_path, write_one):
    """A file loaded alone and the same file loaded among 9 copies give
    identical rows; returns the row count."""
    for i in range(9):
        write_one(tmp_path / f"same_{i}.xml")
    one, _ = load_experiments(spark, str(tmp_path / "same_0.xml"),
                              add_percentage_columns=False)
    nine, _ = load_experiments(spark, str(tmp_path / "same_*.xml"),
                               add_percentage_columns=False)
    nine0 = nine.filter(
        F.col("profile_id") == str(tmp_path / "same_0.xml"))

    cols = [c for c in one.columns if c != "profile_id"]
    # sort by id (unique, non-null) — raw tuples contain NULL metrics
    idx = cols.index("id")
    a = sorted((tuple(r) for r in one.select(*cols).collect()),
               key=lambda t: t[idx])
    b = sorted((tuple(r) for r in nine0.select(*cols).collect()),
               key=lambda t: t[idx])
    assert a == b
    return len(a)


def test_one_and_nine_file_loads_agree(spark, tmp_path):
    """One file and the same file among 9 give identical rows."""
    assert _assert_one_file_matches_nine(
        spark, tmp_path, lambda p: shutil.copy(EXPERIMENT1, p)) == 3454


# a generated profile with an absent metric (node 2), an absent procedure
# (the root, and loop 3 below it) and a call site spliced out (node 5)
_NULLS = {(): {2: 10.0}, (1,): {2: 6.0}, (1, 2): {2: None},
          (1, 2, 4): {2: 1.0}, (3,): {2: 2.0}, (1, 5): {2: 4.0},
          (1, 5, 6): {2: None}}
_NULLS_XML = cct_xml(_NULLS, tags={(3,): "L", (1, 5): "C"})


def test_one_and_nine_file_loads_agree_generated(spark, tmp_path):
    """Generated-input twin of the test above."""
    assert _assert_one_file_matches_nine(
        spark, tmp_path, lambda p: p.write_text(_NULLS_XML)) == 6


def test_null_fidelity_without_arrow_generated(spark, tmp_path):
    """Generated-input twin of the Arrow-off null-fidelity test below:
    an absent metric and an absent procedure are SQL NULL, not NaN and
    not the string 'nan'."""
    path = tmp_path / "nulls.xml"
    path.write_text(_NULLS_XML)
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df, _ = load_experiments(spark, str(path))
        rows = {r["id"]: r for r in df.collect()}
        assert set(rows) == {-1, 1, 2, 3, 4, 6}
        for c in ("T:Mean (I)", "T:Mean (I) ratio of total",
                  "T:Mean (I) ratio of parent"):
            assert rows[2][c] is None and rows[6][c] is None, c
            assert df.filter(F.isnan(f"`{c}`")).count() == 0, c
        assert rows[-1]["procedure"] is None
        assert rows[3]["procedure"] is None
        assert rows[1]["procedure"] == "main"
        assert df.filter(F.col("procedure") == "nan").count() == 0
        assert df.filter(F.col("procedure").isNull()).count() == 2
    finally:
        spark.conf.set(key, prev)


def test_on_error_corrupt_first_file_generated(spark, tmp_path):
    """A corrupt file that sorts first, through ``load_experiments`` and
    ``format("hpctoolkit")``: 'fail' raises, 'skip' infers the schema
    from the next file and keeps every good row."""
    datasource.register(spark)
    (tmp_path / "aaa_corrupt.xml").write_text("<not-valid-xml")
    good = [tmp_path / f"exp_{i}.xml" for i in range(2)]
    for p in good:
        p.write_text(_NULLS_XML)
    glob = str(tmp_path / "*.xml")
    want = {str(p) for p in good}

    with pytest.raises(ParseError, match="unclosed token"):
        load_experiments(spark, glob)
    with pytest.raises(AnalysisException, match="unclosed token"):
        spark.read.format("hpctoolkit").load(glob).collect()

    df, meta = load_experiments(spark, glob, on_error="skip")
    assert meta.db_path == str(good[0])
    scan = (spark.read.format("hpctoolkit").option("on_error", "skip")
            .load(glob))
    for frame in (df, scan):
        counts = dict(frame.groupBy("profile_id").count().collect())
        assert counts == {p: 6 for p in want}


def test_relative_paths_resolve_against_python_cwd(spark, tmp_path,
                                                   monkeypatch):
    """Relative paths (one file, and a glob of 9) resolve against the
    Python working directory, not the JVM's; profile_id is the absolute
    path, with a space or a '%' in a file name kept literally."""
    monkeypatch.chdir(tmp_path)
    names = [f"rel_{i} %41.xml" for i in range(9)]
    for name in names:
        (tmp_path / name).write_text(_NULLS_XML)
    one, meta = load_experiments(spark, names[0])
    assert meta.db_path == str(tmp_path / names[0])
    assert [r[0] for r in one.select("profile_id").distinct().collect()] \
        == [str(tmp_path / names[0])]
    nine, _ = load_experiments(spark, "rel_*.xml")
    counts = dict(nine.groupBy("profile_id").count().collect())
    assert counts == {str(tmp_path / name): 6 for name in names}


def test_null_fidelity_without_arrow(spark):
    """VERDICT r5 #1 regression: under a session WITHOUT
    ``spark.sql.execution.arrow.pyspark.enabled`` (the driver's default
    session), a driver-side createDataFrame of the parsed pandas frame
    used to keep pandas NaN as float NaN in metric columns (downstream
    cents became 0 instead of NULL) and stringify object-column NaN to
    'nan'.  Absent metrics must be SQL NULL under ANY session config
    (reference semantics: hpctoolkit_dataframe.py:206-216 fills absent
    metrics with NaN, which maps to NULL in the relational model)."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df, _ = load_experiments(spark, EXPERIMENT1,
                                 add_percentage_columns=False)
        sum_e = "CPUTIME (usec):Sum (E)"
        nulls = df.filter(F.col(f"`{sum_e}`").isNull()).count()
        nans = df.filter(F.isnan(f"`{sum_e}`")).count()
        assert nans == 0, "float NaN leaked through the load"
        assert nulls > 0, "expected absent metrics to surface as NULL"
        assert df.filter(F.col("procedure") == "nan").count() == 0
        # experiment2's elected family has real NaN-heavy (E) columns too
        df2, _ = load_experiments(spark, EXPERIMENT2,
                                  add_percentage_columns=False)
        metric_cols = [c for c in df2.columns if c.endswith("(E)")
                       and ":imag:" not in c]
        for c in metric_cols:
            assert df2.filter(F.isnan(f"`{c}`")).count() == 0, c
    finally:
        spark.conf.set(key, prev)


def test_flat_profile_and_callers_view(exp1):
    """The view trio's accounting identities: one structural layer's
    exclusive totals reconstruct the root's inclusive value (each of
    statement/frame covers all samples once; rel tolerance covers the
    source data's own few-microsecond inconsistency), and the callers
    view is a refinement of the flat view (same per-callee totals)."""
    base = "CPUTIME (usec):Sum (E)"
    flat = exp1.flat_profile().collect()
    root_i = exp1.at_depth(0).df.select(
        "`CPUTIME (usec):Sum (I)`").first()[0]
    stmt_total = exp1.df.filter(F.col("type") == "statement").agg(
        F.sum(f"`{base}`")).first()[0]
    assert stmt_total == pytest.approx(root_i, rel=1e-5)
    assert sum(r["n_nodes"] for r in flat) == 3454

    callers = exp1.callers_view().collect()
    assert sum(r["n_sites"] for r in callers) == 3454
    by_callee: dict = {}
    for r in callers:
        k = r["callee"]
        by_callee[k] = by_callee.get(k, 0.0) + (r[base] or 0.0)
    for r in flat:
        assert by_callee.get(r["procedure"], 0.0) == \
            pytest.approx(r[base] or 0.0, rel=1e-9, abs=1e-6)


def _assert_mixed_fleet(spark, paths, want_pcts, n_rows):
    """One ``union_heterogeneous`` call loads profiles of two MetricTable
    schemas, null-padded and aligned, each profile keeping its OWN
    percentage election (reference R2 semantics per file); strict
    ``load_experiments`` still rejects the same list."""
    from hpctoolkit_dataframe_spark.sources.hpctoolkit_xml import (
        LOCATION_COLUMNS, union_heterogeneous)

    df, metas = union_heterogeneous(spark, paths)
    df = df.localCheckpoint(eager=True)
    assert df.count() == n_rows
    assert len(metas) == 2
    pcts = {m.db_path: m.meaningful_columns["percentage"] for m in metas}
    assert pcts == want_pcts
    # layout: group columns first, shared location tail
    assert df.columns[-len(LOCATION_COLUMNS) - 1:] == \
        LOCATION_COLUMNS + ["profile_id"]
    # each profile's root carries 1.0 in ITS ratio-of-total column and
    # NULL in the other group's (null-padding, not zero-filling)
    for m in metas:
        own = m.meaningful_columns["percentage"] + " ratio of total"
        other = next(p for d, p in pcts.items() if d != m.db_path) \
            + " ratio of total"
        root = df.filter((F.col("profile_id") == m.db_path)
                         & (F.col("id") == -1)).first()
        assert root is not None
        assert root[own] == pytest.approx(1.0)
        assert root[other] is None
        # and its metric columns from the other schema are NULL too
        other_meta = next(mm for mm in metas if mm.db_path != m.db_path)
        for metric in other_meta.metrics_by_id.values():
            assert root[metric] is None
    # strict mode unchanged: the same mixed list still errors loudly, at
    # the first action (the load reads only the first file's header)
    strict, _ = load_experiments(spark, paths, add_percentage_columns=False)
    with pytest.raises(PythonException,
                       match=r"ValueError: .*MetricTable ids"):
        strict.collect()


def test_union_heterogeneous_mixed_fleet(spark):
    """VERDICT r4 #4: the two checked-in fixtures mix MetricTable
    schemas (CPUTIME vs PAPI)."""
    _assert_mixed_fleet(
        spark, [EXPERIMENT1, EXPERIMENT2],
        {EXPERIMENT1: "CPUTIME (usec):Mean (I)",
         EXPERIMENT2: "PAPI_MEM_WCY:Mean (I)"}, 3454 + 2854)


def test_union_heterogeneous_generated_mixed_fleet(spark, tmp_path):
    """The same contract on two generated profiles (CPUTIME vs
    PAPI_MEM_WCY), so it holds without the reference fixtures."""
    cpu, papi = str(tmp_path / "cpu.xml"), str(tmp_path / "papi.xml")
    with open(cpu, "w") as f:
        f.write(CPU_PROFILE_XML)
    papi_values = {(): 50.0, (3,): 50.0, (3, 5): 20.0, (3, 7): 30.0}
    with open(papi, "w") as f:
        f.write(cct_xml(
            {p: {2: v, 3: v} for p, v in papi_values.items()},
            metrics=((2, "PAPI_MEM_WCY:Sum (I)", None),
                     (3, "PAPI_MEM_WCY:Mean (I)", None))))
    n_cpu = load_experiments(spark, cpu)[0].count()
    _assert_mixed_fleet(
        spark, [cpu, papi],
        {cpu: "CPUTIME (usec):Mean (I)", papi: "PAPI_MEM_WCY:Mean (I)"},
        n_cpu + len(papi_values))
