"""The one session-memo rule (``memo.session_memo``), on plain dicts: an
insert keeps only the live session's entries for the inserted sf_dir
and input stamp, and a hit needs the stored stamp to equal the
current one.  Plus the stale-data and dead-session checks on the real
memos (``build_cct``/``load_table`` and the XML loader's compile memo)."""

import os
import shutil
from types import SimpleNamespace

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hpctoolkit_dataframe_spark import memo
from hpctoolkit_dataframe_spark.queries import cct_tpch, load_table
from hpctoolkit_dataframe_spark.sources import hpctoolkit_xml
from hpctoolkit_dataframe_spark.sources.hpctoolkit_xml import load_experiments

from .conftest import SF_DIR, cct_xml


def _session(app_id):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_memo_drops_dead_sessions():
    cache = {}
    memo.session_memo(cache, _session("app-old"), None, "a", build=lambda: 1)
    memo.session_memo(cache, _session("app-old"), None, "b", build=lambda: 2)
    memo.session_memo(cache, _session("app-new"), None, "a", build=lambda: 3)
    assert cache == {("app-new", None, "a"): 3}


def test_memo_keeps_one_sf_dir_per_session(tmp_path):
    d1, d2 = tmp_path / "d1", tmp_path / "d2"
    d1.mkdir()
    d2.mkdir()
    app, cache = _session("app"), {}
    memo.session_memo(cache, app, str(d1), "x", build=lambda: 1)
    memo.session_memo(cache, app, str(d1), "y", build=lambda: 2)
    assert len(cache) == 2  # same sf_dir: other keys stay
    memo.session_memo(cache, app, str(d2), "x", build=lambda: 3)
    assert cache == {("app", str(d2), "x"): 3}


def test_memo_rebuilds_on_changed_stamp(tmp_path):
    (tmp_path / "t.parquet").write_bytes(b"one")
    app, calls = _session("app"), []

    def build():
        calls.append(1)
        return len(calls)

    cache = {}
    assert memo.session_memo(cache, app, str(tmp_path), build=build) == 1
    assert memo.session_memo(cache, app, str(tmp_path), build=build) == 1
    (tmp_path / "t.parquet").write_bytes(b"three")
    assert memo.session_memo(cache, app, str(tmp_path), build=build) == 2
    (tmp_path / "u.parquet").write_bytes(b"")
    assert memo.session_memo(cache, app, str(tmp_path), build=build) == 3
    assert len(cache) == 1


def test_stamp_of_missing_or_non_local_dir_is_none(tmp_path):
    assert memo.input_stamp(None) is None
    assert memo.input_stamp(str(tmp_path / "absent")) is None
    assert memo.input_stamp("s3://bucket/sf0.1") is None
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "f").write_bytes(b"ab")
    (rel, size, _), = memo.input_stamp(str(tmp_path))
    assert (rel, size) == (os.path.join("sub", "f"), 2)


def test_memos_see_rewritten_parquet(spark, tmp_path):
    """Rewriting a table under a live session must not serve the old
    build: both the lazy-plan memo and the checkpointed CCT rebuild."""
    d = str(tmp_path / "sf")
    shutil.copytree(SF_DIR, d)
    li = os.path.join(d, "lineitem.parquet")

    def counts():
        tree = cct_tpch.build_cct(spark, d)
        leaves = tree.filter(F.col("depth") == 0).first()["leaves"]
        return load_table(spark, d, "lineitem").count(), leaves

    n = pq.read_metadata(li).num_rows
    assert counts() == (n, n)
    table = pq.read_table(li)
    pq.write_table(table.slice(0, n // 3), li)
    assert counts() == (n // 3, n // 3)


def test_compile_memo_drops_dead_sessions(spark, tmp_path):
    foreign = ("app-stopped", None, "raw", "$2")
    hpctoolkit_xml._COMPILE_CACHE.clear()
    hpctoolkit_xml._COMPILE_CACHE[foreign] = (None, None)
    xml = tmp_path / "e.xml"
    xml.write_text(cct_xml({(): {2: 4.0}, (1,): {2: 3.0}}, metrics=(
        (2, "T:Mean (I)", None), (3, "U:Mean (I)", "$2 * 2"))))
    df, _ = load_experiments(spark, str(xml))
    assert df.count() == 2
    assert foreign not in hpctoolkit_xml._COMPILE_CACHE
    assert hpctoolkit_xml._COMPILE_CACHE
