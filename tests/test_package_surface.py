"""Every top-level definition in the package is reached from what the
real workloads run, so code that only its own tests reach cannot come
back.

The roots are the ``@register`` entries (their decorator arguments
included), ``tools/``, ``perfbench/``, ``bench.py``, ``examples/`` and
the package's module-level code.  A definition is reached when reached
code names it: an identifier, an attribute, or a word in a string
literal (docstrings and registry docs count) equal to its name.  The
walk is by name, so one reached mention reaches every definition of
that name.

``KEPT`` lists the definitions that stay although only tests reach
them, each with its reason.  It may only shrink: an entry that becomes
reached or is deleted must leave the list.
"""

import ast
import pathlib
import re

import hpctoolkit_dataframe_spark

PKG = pathlib.Path(hpctoolkit_dataframe_spark.__file__).parent
REPO = PKG.parent
ROOTS = ("bench.py", "tools", "perfbench", "examples")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
WORD = re.compile(r"[A-Za-z_]\w*")

DEFERRED = ("to be deleted with its test by a later change, which keeps "
            "each change's test removals few")

KEPT = {
    ("functions/callpath.py", "sequence_matches"):
        "re-expresses the reference's _str_or_regex_sequence_filter "
        "(COVERAGE P6)",
    ("functions/callpath.py", "_fullmatch_or_eq"):
        "the per-element matcher of sequence_matches",
    ("plans/explain.py", "plan_string"): "test tooling for plan assertions",
    ("plans/explain.py", "pushed_filters"): "test tooling for plan assertions",
    ("plans/explain.py", "read_schemas"): "test tooling for plan assertions",
    ("plans/explain.py", "python_udf_count"):
        "test tooling for plan assertions",
    ("streaming/events.py", "run_available_now"):
        "drains the simhash streams in their tests",
    ("operators/multimodal.py", "synthesize_media"):
        "the input for the tests of the registry-reached extract_features "
        "and sample_frames",
    ("queries/vectors.py", "write_vector_store"):
        "creates the store that run_vector_index_stream appends to, for "
        "that stream's test",
    ("queries/vectors.py", "recall_curve"):
        "measures recall@k of the ANN variants against the exact top-k; "
        "its tests guard the codebooks",
    ("queries/vectors.py", "pq_recall"):
        "the quantization-error half of the same recall guard",
    ("operators/skew.py", "two_stage_agg_sum"): DEFERRED,
    ("operators/multimodal.py", "with_media_stats"): DEFERRED,
    ("queries/dedup.py", "compact_fingerprint_store"): DEFERRED,
    ("queries/dedup.py", "_store_files"): DEFERRED,
}


def _names(nodes):
    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                out.update(WORD.findall(n.value))
    return out


def _is_entry(node):
    return any(isinstance(d, ast.Call) and getattr(d.func, "id", None)
               == "register" for d in node.decorator_list)


def unreached(package, roots):
    """``package`` maps a module path to its source, ``roots`` holds the
    sources of the root files.  Returns the (module path, name) of every
    top-level definition that no root reaches."""
    defs, todo = {}, set()
    for path, src in package.items():
        for node in ast.parse(src).body:
            if isinstance(node, DEFS):
                defs.setdefault(node.name, []).append((path, node))
                todo |= _names([node] if _is_entry(node)
                               else node.decorator_list)
            else:
                todo |= _names([node])
    for src in roots:
        todo |= _names([ast.parse(src)])
    seen = set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo |= _names(n for _, n in defs.get(name, ())) - seen
    return {(path, name) for name, found in defs.items()
            if name not in seen for path, _ in found}


def _sources():
    package = {str(p.relative_to(PKG)): p.read_text()
               for p in sorted(PKG.rglob("*.py"))}
    files = []
    for root in ROOTS:
        p = REPO / root
        files += [p] if p.is_file() else sorted(p.rglob("*.py"))
    return package, [p.read_text() for p in files]


def test_every_definition_is_reached():
    found = unreached(*_sources())
    extra = sorted(found - KEPT.keys())
    assert not extra, ("reached only from tests; delete it, or keep it in "
                       f"KEPT with a reason: {extra}")
    stale = sorted(KEPT.keys() - found)
    assert not stale, f"reached or deleted; drop from KEPT: {stale}"


def test_guard_catches_an_unreferenced_definition():
    package = {"q.py": (
        "from . import register\n"
        "@register('entry', doc='rows of documented')\n"
        "def entry(spark, sf_dir):\n"
        "    return helper()\n"
        "def helper():\n"
        "    return 1\n"
        "def documented():\n"
        "    pass\n"
        "def tool_only():\n"
        "    pass\n"
        "def orphan():\n"
        "    return helper()\n")}
    tool = "from q import tool_only\ntool_only()\n"
    assert unreached(package, [tool]) == {("q.py", "orphan")}
    assert unreached(package, [tool, "orphan()"]) == set()
