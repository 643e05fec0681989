"""The hpctoolkit Python Data Source must be row-identical to the
driver-side parser it wraps (same parse function, official scan API)."""

from pyspark.sql import functions as F

from hpctoolkit_dataframe_spark.sources import datasource
from hpctoolkit_dataframe_spark.sources.hpctoolkit_xml import (
    parse_experiment_rows)

from .conftest import profile_path

XML1 = "/root/reference/test/data/experiment1.xml"


def _expected(path=XML1, max_depth=None):
    with open(path, "rb") as f:
        _, rows = parse_experiment_rows(f.read(), path,
                                        max_depth=max_depth)
    return rows


def test_datasource_matches_parser(spark):
    datasource.register(spark)
    got = (spark.read.format("hpctoolkit").load(XML1)
           .orderBy("id").collect())
    want = sorted(_expected(), key=lambda r: r["id"])
    assert len(got) == len(want) == 3454
    raw_cols = [c for c in got[0].__fields__ if c.startswith("__raw_")]
    assert raw_cols
    for g, w in zip(got, want):
        assert g["id"] == w["id"]
        assert list(g["callpath"]) == list(w["callpath"])
        assert g["procedure"] == w.get("procedure")
        # every raw metric column round-trips exactly
        for c in raw_cols:
            assert g[c] == w.get(c)


def test_datasource_depth_pushdown(spark, tmp_path):
    xml1 = profile_path(XML1, tmp_path)
    datasource.register(spark)
    got = (spark.read.format("hpctoolkit").option("max_depth", 5)
           .load(xml1).select(F.size("callpath").alias("d")).collect())
    want = _expected(xml1, max_depth=5)
    assert sorted(r["d"] for r in got) == \
        sorted(len(r["callpath"]) for r in want)


def test_datasource_glob_partitions(spark, tmp_path):
    # homogeneous fleet (two copies of experiment1): the checked-in
    # experiment2 has a DIFFERENT MetricTable and now rejects loudly
    # (test_datasource_heterogeneous_rejected) instead of misaligning
    import shutil

    datasource.register(spark)
    shutil.copy(XML1, tmp_path / "exp_a.xml")
    shutil.copy(XML1, tmp_path / "exp_b.xml")
    df = spark.read.format("hpctoolkit").load(str(tmp_path / "exp_*.xml"))
    assert df.rdd.getNumPartitions() == 2  # one partition per file
    assert df.count() == 6908              # 2 x 3454 (FIXTURES §3)
    assert df.select("profile_id").distinct().count() == 2


def test_datasource_option_matrix_callsite_and_depth(spark):
    """VERDICT r4 #8: the same max_depth/skip_callsite matrix the
    load_experiments tests pin, through the official scan API."""
    datasource.register(spark)
    # splice off (reference include mode) at depth 5; fresh reader per
    # read — DataFrameReader accumulates options across load() calls
    counts = dict(spark.read.format("hpctoolkit").option("max_depth", 5)
                  .option("skip_callsite", "false").load(XML1)
                  .groupBy("type").count().collect())
    assert counts == {"procedure frame": 3, "callsite": 2, "root": 1}
    # splice on (default) at depth 4: the depth histogram golden
    hist = dict(spark.read.format("hpctoolkit").option("max_depth", 4)
                .load(XML1)
                .groupBy(F.size("callpath").alias("d")).count().collect())
    assert hist == {0: 1, 1: 1, 2: 1, 3: 1, 4: 3}


def test_datasource_on_error_matrix(spark, tmp_path):
    """Corrupt file in the glob: default fails the scan, 'skip' keeps
    the good file's rows — including when the corrupt file sorts FIRST
    (schema inference must skip past it too)."""
    import shutil

    import pytest

    datasource.register(spark)
    shutil.copy(XML1, tmp_path / "exp_good.xml")
    # sorts before exp_good.xml -> also exercises schema() skip-scan
    (tmp_path / "aaa_corrupt.xml").write_text("<not-valid-xml")
    glob = str(tmp_path / "*.xml")
    with pytest.raises(Exception):
        spark.read.format("hpctoolkit").load(glob).collect()
    df = (spark.read.format("hpctoolkit").option("on_error", "skip")
          .load(glob))
    assert df.count() == 3454
    assert df.select("profile_id").distinct().count() == 1


def test_datasource_heterogeneous_rejected(spark, tmp_path):
    """A file whose MetricTable differs from the scan schema must fail
    the scan or be skipped whole — never silently null-pad (same
    contract as load_experiments, ADVICE r1)."""
    import pytest

    from .test_xml_ingest import mini_metric_xml

    datasource.register(spark)
    (tmp_path / "h_a.xml").write_text(mini_metric_xml(2))
    (tmp_path / "h_b.xml").write_text(mini_metric_xml(9))
    glob = str(tmp_path / "h_*.xml")
    with pytest.raises(Exception, match="MetricTable ids"):
        spark.read.format("hpctoolkit").load(glob).collect()
    df = (spark.read.format("hpctoolkit").option("on_error", "skip")
          .load(glob))
    assert df.select("profile_id").distinct().count() == 1


def test_datasource_loads_a_list_of_paths(spark, tmp_path):
    """``.load([a, b])`` reads both files: PySpark passes the list as
    the ``paths`` option, not ``path``."""
    from .test_xml_ingest import mini_metric_xml

    datasource.register(spark)
    paths = [str(tmp_path / n) for n in ("l_a.xml", "l_b.xml")]
    for p in paths:
        with open(p, "w") as f:
            f.write(mini_metric_xml(2))
    df = spark.read.format("hpctoolkit").load(paths)
    got = sorted(r["profile_id"] for r in df.select("profile_id").collect())
    assert got == paths


def test_relative_path_rejected(spark, tmp_path, monkeypatch):
    """The source resolves paths in its Python worker, not in the
    driver's working directory, so a relative path is refused with a
    clear error instead of a missing-file error for another directory."""
    import shutil

    import pytest

    datasource.register(spark)
    monkeypatch.chdir(tmp_path)
    shutil.copy(profile_path(XML1, tmp_path), tmp_path / "rel.xml")
    with pytest.raises(Exception, match="needs an absolute path"):
        spark.read.format("hpctoolkit").load("rel.xml").count()
    with pytest.raises(Exception, match="needs an absolute path"):
        spark.read.format("hpctoolkit").load(["rel.xml"]).count()
