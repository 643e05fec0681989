"""Streaming fleet profile ingestion (streaming/profiles.py): the
merged-CCT store built from XML files landing one micro-batch at a
time must equal merge_profiles over all files at once (associative
combine algebra), and newly landing files must merge in incrementally
without replaying prior batches."""

import shutil

import hpctoolkit_dataframe_spark.streaming.profiles as sp
from hpctoolkit_dataframe_spark.operators.cct import merge_profiles
from hpctoolkit_dataframe_spark.sources.hpctoolkit_xml import load_experiments

from .conftest import profile_path

EXP1_REF = "/root/reference/test/data/experiment1.xml"
COMBINES = {
    "CPUTIME (usec):Sum (I)": "sum",
    "CPUTIME (usec):Min (I)": "min",
    "CPUTIME (usec):Max (I)": "max",
}


def _key_rows(df):
    return {tuple(r["callpath"]): (r["CPUTIME (usec):Sum (I)"],
                                   r["CPUTIME (usec):Min (I)"],
                                   r["CPUTIME (usec):Max (I)"],
                                   r["n_profiles"])
            for r in df.collect()}


def test_stream_merge_equals_batch_and_resumes(spark, tmp_path):
    EXP1 = profile_path(EXP1_REF, tmp_path)
    landing = tmp_path / "landing"
    landing.mkdir()
    base = str(tmp_path / "stores")
    ckpt = str(tmp_path / "ckpt")

    # two fleet profiles land; one micro-batch each
    shutil.copy(EXP1, landing / "node_a.xml")
    shutil.copy(EXP1, landing / "node_b.xml")
    stream = sp.read_profile_stream(spark, str(landing),
                                    max_files_per_trigger=1)
    sp.run_profile_merge_stream(stream, base, ckpt, COMBINES,
                                query_name="pm0")

    merged = sp.merged_profile_cct(spark, base, COMBINES)
    got = _key_rows(merged)

    ref_df, _ = load_experiments(
        spark, [str(landing / "node_a.xml"), str(landing / "node_b.xml")],
        add_percentage_columns=False)
    want = _key_rows(merge_profiles(ref_df, COMBINES))
    assert got == want
    # identical clones: sum doubles, min == max == single, count 2
    root = got[()]
    assert root[3] == 2 and root[0] == 2 * root[1] and root[1] == root[2]

    # a third profile lands; resume processes ONLY the new file and the
    # re-merge absorbs it
    shutil.copy(EXP1, landing / "node_c.xml")
    stream2 = sp.read_profile_stream(spark, str(landing),
                                     max_files_per_trigger=1)
    sp.run_profile_merge_stream(stream2, base, ckpt, COMBINES,
                                query_name="pm1")
    merged2 = sp.merged_profile_cct(spark, base, COMBINES)
    got2 = _key_rows(merged2)
    root2 = got2[()]
    assert root2[3] == 3 and root2[0] == 3 * root[1]
    # only one new batch partition appeared (no replay of a/b)
    batches = sorted(
        r["batch_id"]
        for r in spark.read.parquet(f"{base}/cct")
        .select("batch_id").distinct().collect())
    assert len(batches) == 3


def test_profile_store_compaction(spark, tmp_path):
    """Folding the partials is the merge: merged_profile_cct is
    identical before and after compaction, and a profile landing AFTER
    compaction still merges in on top of the consolidated partition."""
    EXP1 = profile_path(EXP1_REF, tmp_path)
    landing = tmp_path / "landing"
    landing.mkdir()
    base = str(tmp_path / "stores")
    ckpt = str(tmp_path / "ckpt")
    shutil.copy(EXP1, landing / "a.xml")
    shutil.copy(EXP1, landing / "b.xml")
    stream = sp.read_profile_stream(spark, str(landing),
                                    max_files_per_trigger=1)
    sp.run_profile_merge_stream(stream, base, ckpt, COMBINES,
                                query_name="pc0")
    before = _key_rows(sp.merged_profile_cct(spark, base, COMBINES))

    assert sp.compact_profile_store(spark, base, COMBINES) == 2
    after = _key_rows(sp.merged_profile_cct(spark, base, COMBINES))
    assert after == before

    shutil.copy(EXP1, landing / "c.xml")
    stream2 = sp.read_profile_stream(spark, str(landing),
                                     max_files_per_trigger=1)
    sp.run_profile_merge_stream(stream2, base, ckpt, COMBINES,
                                query_name="pc1")
    final = _key_rows(sp.merged_profile_cct(spark, base, COMBINES))
    assert final[()][3] == 3
