import os
from contextlib import contextmanager

import pytest

from hpctoolkit_dataframe_spark import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("hpctoolkit-dataframe-spark-tests")
    yield s


@contextmanager
def job_probe(spark, group):
    """Run the block in Spark job group ``group``; yields a function that
    returns the ids of the jobs the block has started so far."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    before = set(tracker.getJobIdsForGroup(group))
    try:
        yield lambda: set(tracker.getJobIdsForGroup(group)) - before
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


SF_DIR = "/root/testdata/sf0.001"
EXPERIMENT1 = "/root/reference/test/data/experiment1.xml"
EXPERIMENT2 = "/root/reference/test/data/experiment2.xml"


def cct_xml(values, metrics=((2, "T:Mean (I)", None),), tags=None):
    """A small experiment XML for a calling-context tree.

    ``values`` maps an XML path (tuple of node ids, root ``()``) to
    ``{metric_id: raw value}``; a metric that is absent or None has no
    ``M`` element.  ``metrics`` is the MetricTable as (id, name,
    finalize formula or None).  ``tags`` maps a path to its element tag
    (default ``PF``; ``C`` call sites are spliced out by the loader)."""
    tags = tags or {}
    kids: dict = {}
    for p in values:
        if p:
            kids.setdefault(p[:-1], []).append(p)

    def ms(p):
        return "".join(f'<M n="{mid}" v="{v!r}"/>'
                       for mid, v in values[p].items() if v is not None)

    def node(p):
        tag = tags.get(p, "PF")
        attrs = f'i="{p[-1]}" l="{len(p)}"' + (' n="1"' if tag == "PF" else "")
        body = ms(p) + "".join(node(c) for c in sorted(kids.get(p, ())))
        return f"<{tag} {attrs}>{body}</{tag}>"

    table = "".join(
        f'<Metric i="{mid}" n="{name}" v="raw" t="inclusive">'
        + (f'<MetricFormula t="finalize" frm="{frm}"/>' if frm else "")
        + "</Metric>" for mid, name, frm in metrics)
    tree = ms(()) + "".join(node(c) for c in sorted(kids.get((), ())))
    return f"""<?xml version="1.0"?>
<HPCToolkitExperiment version="2.1">
<SecCallPathProfile i="0" n="t">
<SecHeader>
  <MetricTable>{table}</MetricTable>
  <LoadModuleTable/><FileTable/>
  <ProcedureTable><Procedure i="1" n="main"/></ProcedureTable>
</SecHeader>
<SecCallPathProfileData>{tree}</SecCallPathProfileData>
</SecCallPathProfile>
</HPCToolkitExperiment>"""


# A stand-in for experiment1.xml: one ``CPUTIME (usec)`` family with
# Sum, Mean, Min and Max inclusive and Sum exclusive.  A single-thread
# profile has Sum = Mean = Min = Max per node; an exclusive time of 0 has
# no ``M`` element, so some ``Sum (E)`` values are absent.  Seven levels
# deep (``(2, 4, 6, 8, 10, 12, 14)``) with one call site, ``8``.
# ``Mean (I)`` is not the last metric id, so whether the ratio columns
# follow it or the last metric shows in the column order.
_CPU_INCLUSIVE = {
    (): 100.0, (2,): 100.0, (2, 5): 5.0, (2, 4): 95.0, (2, 4, 7): 15.0,
    (2, 4, 6): 80.0, (2, 4, 6, 9): 10.0, (2, 4, 6, 8): 70.0,
    (2, 4, 6, 8, 10): 70.0, (2, 4, 6, 8, 10, 16): 15.0,
    (2, 4, 6, 8, 10, 12): 55.0, (2, 4, 6, 8, 10, 12, 15): 10.0,
    (2, 4, 6, 8, 10, 12, 14): 40.0,
}
_CPU_TAGS = {(2, 4, 6): "L", (2, 4, 6, 8): "C", (2, 4, 6, 8, 10, 12): "L",
             (2, 5): "S", (2, 4, 7): "S", (2, 4, 6, 9): "S",
             (2, 4, 6, 8, 10, 16): "S", (2, 4, 6, 8, 10, 12, 15): "S",
             (2, 4, 6, 8, 10, 12, 14): "S"}


def _cpu_values(p):
    v = _CPU_INCLUSIVE[p]
    exclusive = v - sum(c for q, c in _CPU_INCLUSIVE.items()
                        if len(q) == len(p) + 1 and q[:-1] == p)
    return {2: v, 3: exclusive or None, 4: v, 5: v, 6: v}


CPU_PROFILE_XML = cct_xml(
    {p: _cpu_values(p) for p in _CPU_INCLUSIVE},
    metrics=tuple((mid, f"CPUTIME (usec):{stat}", None) for mid, stat in (
        (2, "Sum (I)"), (3, "Sum (E)"), (4, "Mean (I)"), (5, "Min (I)"),
        (6, "Max (I)"))),
    tags=_CPU_TAGS)


def profile_path(reference, tmp_dir):
    """``reference`` when that file exists; else ``CPU_PROFILE_XML``
    written into ``tmp_dir`` under the reference's basename.  For tests
    whose assertions hold on any profile with a ``CPUTIME (usec)``
    family: they run on the reference wherever it is present."""
    if os.path.exists(reference):
        return reference
    path = os.path.join(tmp_dir, os.path.basename(reference))
    with open(path, "w") as f:
        f.write(CPU_PROFILE_XML)
    return path


def hot_path_walk(values, start=(), threshold=0.05, max_iters=64):
    """The reference's greedy hot path (hpctoolkit_dataframe.py:403-428)
    over ``values`` (path tuple -> value or None), in plain Python: append
    the current path, descend to the hottest child, stop when there is
    none or it is below ``threshold``.  The hottest child is the largest
    value with NULLs last, ties on the smallest id (the reference's
    first-max ``idxmax``); a NULL hottest child stops the walk like the
    reference's NaN.  At most ``max_iters`` paths; depth order."""
    chain, current = [], tuple(start)
    for _ in range(max_iters):
        chain.append(current)
        children = [p for p in values if len(p) == len(current) + 1
                    and p[:len(current)] == current]
        if not children:
            break
        best = max(children, key=lambda p: (
            values[p] is not None, values[p] or 0.0, -p[-1]))
        if values[best] is None or values[best] < threshold:
            break
        current = best
    return chain
