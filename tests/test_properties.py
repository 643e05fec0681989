"""Property-based tests: random CCTs vs plain-Python reference semantics.

Each hypothesis example generates a BATCH of random trees loaded as one
multi-profile DataFrame, so a single Spark job checks many trees (and
profile isolation) at once.  The Python oracles implement the reference
semantics directly from hpctoolkit_dataframe.py:79-128 (filters) and
:360-384 (walk-up).
"""

import math
import os
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hpctoolkit_dataframe_spark.operators import cct
from hpctoolkit_dataframe_spark.sources.hpctoolkit_xml import load_experiments

from .conftest import cct_xml


@st.composite
def tree(draw):
    n = draw(st.integers(min_value=1, max_value=25))
    values = {(): float(draw(st.integers(0, 100)))}
    paths = [()]
    for i in range(1, n):
        parent = draw(st.sampled_from(paths))
        path = (*parent, i)
        paths.append(path)
        values[path] = float(draw(st.integers(0, 100)))
    return values


def _rows(profile, values):
    return [(profile, p[-1] if p else -1, list(p), v)
            for p, v in values.items()]


def _walk_up_expected(values, path):
    """Reference :360-384: nearest ancestor with value >= own, else root.
    Returns None where the engine's try_divide yields NULL (base == 0;
    the reference would raise ZeroDivisionError there)."""
    v = values[path]
    anc = path
    while True:
        anc = anc[:-1]
        base = values[anc]
        if base >= v or anc == ():
            return v / base if base else None


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(trees=st.lists(tree(), min_size=1, max_size=6))
def test_walk_up_matches_python_reference(spark, trees):
    """Both walk-ups against the Python one: the explode path over a
    multi-profile frame, and the loader's ancestor arrays over the same
    trees written as experiment XMLs."""
    rows = []
    for i, t in enumerate(trees):
        rows.extend(_rows(f"p{i}", t))
    df = spark.createDataFrame(
        rows, "profile_id string, id long, callpath array<long>, value double")
    out = cct.with_ratio_of_parent(
        df, "value", "ratio", partition_cols=["profile_id"],
        persist_input=False).collect()
    explode = {(r["profile_id"], tuple(r["callpath"])): r["ratio"]
               for r in out}
    with tempfile.TemporaryDirectory() as d:
        paths = []
        for i, t in enumerate(trees):
            paths.append(os.path.join(d, f"p{i}.xml"))
            with open(paths[-1], "w") as f:
                f.write(cct_xml({p: {2: v} for p, v in t.items()}))
        loaded, _ = load_experiments(spark, paths)
        out = loaded.collect()
    loader = {(os.path.basename(r["profile_id"])[:-4], tuple(r["callpath"])):
              r["T:Mean (I) ratio of parent"] for r in out}
    for got in (explode, loader):
        for i, t in enumerate(trees):
            for path, v in t.items():
                key = (f"p{i}", path)
                exp = (1.0 if v else None) if path == () \
                    else _walk_up_expected(t, path)
                if exp is None:
                    assert got[key] is None, (key, got[key])
                else:
                    assert got[key] == pytest.approx(exp, rel=1e-12), (
                        key, exp, got[key])


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(trees=st.lists(tree(), min_size=1, max_size=4),
       lo=st.integers(0, 4), hi=st.integers(0, 6),
       prefix_len=st.integers(0, 3))
def test_filters_match_python_reference(spark, trees, lo, hi, prefix_len):
    rows = []
    for i, t in enumerate(trees):
        rows.extend(_rows(f"p{i}", t))
    df = spark.createDataFrame(
        rows, "profile_id string, id long, callpath array<long>, value double")

    got_depth = {(r["profile_id"], tuple(r["callpath"]))
                 for r in cct.at_depths(df, lo, hi).collect()}
    expected_depth = {(f"p{i}", p) for i, t in enumerate(trees)
                      for p in t if lo <= len(p) <= hi}
    assert got_depth == expected_depth

    # pick a prefix actually present in the first tree when possible
    paths0 = sorted(trees[0], key=len)
    prefix = next((p for p in paths0 if len(p) == prefix_len), ())
    got_prefix = {(r["profile_id"], tuple(r["callpath"]))
                  for r in cct.at_paths(df, prefix=prefix).collect()}
    expected_prefix = {(f"p{i}", p) for i, t in enumerate(trees)
                       for p in t if p[:len(prefix)] == prefix}
    assert got_prefix == expected_prefix

    if paths0:
        deepest = paths0[-1]
        suffix = deepest[-min(2, len(deepest)):] if deepest else ()
        got_suffix = {(r["profile_id"], tuple(r["callpath"]))
                      for r in cct.at_paths(df, suffix=suffix).collect()}
        expected_suffix = {
            (f"p{i}", p) for i, t in enumerate(trees) for p in t
            if not suffix or (len(p) >= len(suffix)
                              and p[-len(suffix):] == tuple(suffix))}
        assert got_suffix == expected_suffix


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(t=tree(), threshold=st.floats(0.0, 1.2))
def test_hot_path_matches_python_reference(spark, t, threshold):
    rows = _rows("p", t)
    df = spark.createDataFrame(
        rows, "profile_id string, id long, callpath array<long>, value double")
    got = sorted(tuple(r["callpath"]) for r in
                 cct.hot_path(df, "value", threshold=threshold).collect())

    # reference :403-428: append current, descend to max child (first-max
    # tie-break ~ smallest id), stop when below threshold
    chain = []
    current = ()
    while True:
        chain.append(current)
        children = [p for p in t if len(p) == len(current) + 1
                    and p[:len(current)] == current]
        if not children:
            break
        best = max(children, key=lambda p: (t[p], -p[-1]))
        if t[best] < threshold:
            break
        current = best
    assert got == sorted(chain)


def _py_simhash64(tokens):
    """Pure-Python replica of the 64-bit simhash spec: bit j reads md5
    hex char j//4+1 (1-based), nibble bit j%4; token sums +1/-1; bit
    set when the sum is >= 0; signed 64-bit reinterpretation."""
    import hashlib

    sums = [0] * 64
    for t in tokens:
        h = hashlib.md5(t.encode()).hexdigest()
        for j in range(64):
            nib = int(h[j // 4], 16)
            sums[j] += 1 if (nib >> (j % 4)) & 1 else -1
    v = sum(1 << j for j in range(64) if sums[j] >= 0)
    return v - (1 << 64) if v >= (1 << 63) else v


@given(st.lists(
    st.lists(st.text(alphabet=st.characters(
        codec="ascii", exclude_characters=" \t\n\r\x0b\x0c",
        exclude_categories=("Cc",)), min_size=1, max_size=8),
        min_size=0, max_size=12),
    min_size=1, max_size=24))
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_simhash64_matches_python_reference(spark, docs_tokens):
    """One Spark job checks a batch of random token lists against the
    pure-Python spec — guards the JVM signed-reconstruction + Arrow
    fold against nibble/shift drift (incl. the empty-token-list -> all
    bits set edge and the sign bit)."""
    from pyspark.sql import functions as F

    from hpctoolkit_dataframe_spark.queries.textops import with_simhash64

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"]
           for r in with_simhash64(df).select("doc_id", "simhash").collect()}
    for i, toks in enumerate(docs_tokens):
        # F.split on "" yields [""], mirroring str.split semantics of
        # the joined text — replicate exactly
        want = _py_simhash64(" ".join(toks).split(" "))
        assert got[i] == want, (i, toks, got[i], want)


def _py_canon(text: str) -> str:
    import re

    return re.sub(r"\s+", " ",
                  re.sub(r"[^a-z0-9\s]", "", text.lower())).strip()


@given(st.lists(st.text(alphabet=st.characters(
    codec="ascii", exclude_categories=("Cc",)), min_size=0, max_size=40),
    min_size=1, max_size=24))
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_canonical_hash_matches_python_reference(spark, texts):
    """The C4-style canonicalization (lower, strip non-alnum, collapse
    whitespace, trim) must agree with an independent Python spec — and
    be idempotent, so canonical groups are stable under re-runs."""
    import hashlib

    from hpctoolkit_dataframe_spark.queries.textops import _canon_hash

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["h"] for r in
           df.select("doc_id", _canon_hash().alias("h")).collect()}
    for i, t in enumerate(texts):
        c = _py_canon(t)
        assert c == _py_canon(c)  # idempotent spec
        want = hashlib.md5(c.encode("utf-8")).hexdigest()
        assert got[i] == want, (i, repr(t), got[i], want)
