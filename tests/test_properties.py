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

from .conftest import cct_xml, hot_path_walk


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
        df, "value", "ratio", partition_cols=["profile_id"]).collect()
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


@st.composite
def hot_tree(draw):
    """(root id, values) for the hot path: values from 0..4 (so ties and
    values equal to an integer threshold are common) or NULL, a root id
    of -1 or 0, and under a root of 0 possibly a non-root node -1."""
    n = draw(st.integers(min_value=1, max_value=20))
    root_id = draw(st.sampled_from([-1, 0]))
    ids = draw(st.lists(st.integers(-1, 30).filter(lambda i: i != root_id),
                        min_size=n - 1, max_size=n - 1, unique=True))
    value = st.one_of(st.none(), st.integers(0, 4).map(float))
    values = {(): draw(value)}
    for i in ids:
        values[(*draw(st.sampled_from(sorted(values))), i)] = draw(value)
    return root_id, values


def _hot_rows(profile, root_id, values):
    return [(profile, p[-1] if p else root_id, list(p), v)
            for p, v in values.items()]


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(trees=st.lists(hot_tree(), min_size=1, max_size=4),
       threshold=st.integers(0, 5).map(float),
       max_iters=st.integers(1, 6), data=st.data())
def test_hot_path_matches_python_reference(spark, trees, threshold,
                                           max_iters, data):
    """``hot_paths`` over a multi-profile frame and ``hot_path`` from a
    start path, against the Python walk (conftest.hot_path_walk)."""
    rows = []
    for i, (root_id, t) in enumerate(trees):
        rows.extend(_hot_rows(f"p{i}", root_id, t))
    df = spark.createDataFrame(
        rows, "profile_id string, id long, callpath array<long>, value double")
    got = {(r["profile_id"], tuple(r["callpath"])) for r in cct.hot_paths(
        df, "value", ["profile_id"], threshold=threshold,
        max_depth=max_iters - 1).collect()}
    assert got == {(f"p{i}", p) for i, (_, t) in enumerate(trees)
                   for p in hot_path_walk(t, (), threshold, max_iters)}

    t = trees[0][1]
    start = data.draw(st.sampled_from(sorted(t)))
    got = [tuple(r["callpath"]) for r in cct.hot_path(
        df.filter(df.profile_id == "p0"), "value", start, threshold,
        max_iters=max_iters).collect()]
    assert got == hot_path_walk(t, start, threshold, max_iters)


# each case: (root id, values, start, max_iters, expected chain) at
# threshold 2.0; the chains are written out, not computed, so they pin
# the Python walk too
HOT_CASES = {
    # a tie on the hottest value: the smallest id wins
    "tie": (-1, {(): 9.0, (5,): 3.0, (3,): 3.0, (3, 7): 2.5}, (), 64,
            [(), (3,), (3, 7)]),
    # a child equal to the threshold is taken; one below it is not
    "threshold": (-1, {(): 9.0, (1,): 2.0, (1, 2): 1.9}, (), 64,
                  [(), (1,)]),
    # a root id of 0 and a non-root node -1 that has children
    "ids": (0, {(): 9.0, (-1,): 5.0, (4,): 1.0, (-1, 6): 4.0}, (), 64,
            [(), (-1,), (-1, 6)]),
    # NULLs rank last; a NULL hottest child stops the walk
    "null": (-1, {(): 9.0, (1,): None, (2,): 3.0, (2, 3): None}, (), 64,
             [(), (2,)]),
    # the max_iters cap
    "iters": (-1, {(): 9.0, (1,): 8.0, (1, 2): 7.0, (1, 2, 3): 6.0}, (), 2,
              [(), (1,)]),
    # a start path below the root; its parent and siblings stay out
    "start": (-1, {(): 9.0, (1,): 8.0, (1, 2): 3.0, (1, 3): 7.0,
                   (1, 3, 4): 6.0}, (1, 3), 64, [(1, 3), (1, 3, 4)]),
    # a start path with no children returns itself
    "leaf": (-1, {(): 9.0, (1,): 8.0, (1, 2): 0.5}, (1, 2), 64, [(1, 2)]),
}


@pytest.mark.parametrize("case", sorted(HOT_CASES))
def test_hot_path_edge_cases(spark, case):
    root_id, t, start, max_iters, want = HOT_CASES[case]
    assert hot_path_walk(t, start, 2.0, max_iters) == want
    df = spark.createDataFrame(
        _hot_rows("p", root_id, t),
        "profile_id string, id long, callpath array<long>, value double")
    got = cct.hot_path(df, "value", start, 2.0, max_iters=max_iters)
    assert [tuple(r["callpath"]) for r in got.collect()] == want
    got = cct.hot_paths(df, "value", ["profile_id"], threshold=2.0,
                        max_depth=len(start) + max_iters - 1, start=start)
    assert [tuple(r["callpath"]) for r in got.collect()] == want


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
