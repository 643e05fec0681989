"""Every top-level definition in the package is reached from what the
real workloads run, so code that only its own tests reach cannot come
back.

The roots are the ``@register`` entries (each by its own name),
``tools/``, ``perfbench/``, ``bench.py``, ``examples/``, every
definition's decorators and the package's module-level code that
defines nothing.  A definition is a top-level ``def`` or ``class``, or
a module-level ``NAME = ...`` assignment other than ``__all__``.  It is
reached when reached code names it as an identifier or an attribute;
string literals, docstrings and registry docs included, name nothing.
The walk is by name, so one reached mention reaches every definition
of that name.

``KEPT`` lists the definitions that stay although only tests reach
them, each with its reason.  It may only shrink: an entry that becomes
reached or is deleted must leave the list.  ``TOOLS`` gives each file
in ``tools/`` (all of them roots) the reason it stays.

Every file parses with warnings turned into errors, so an invalid
escape such as ``"\\s"`` fails here rather than warning in some run.
"""

import ast
import pathlib
import warnings

import pytest

import hpctoolkit_dataframe_spark

PKG = pathlib.Path(hpctoolkit_dataframe_spark.__file__).parent
REPO = PKG.parent
ROOTS = ("bench.py", "tools", "perfbench", "examples")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

KEPT = {
    ("functions/callpath.py", "sequence_matches"):
        "re-expresses the reference's _str_or_regex_sequence_filter "
        "(COVERAGE P6)",
    ("functions/callpath.py", "_fullmatch_or_eq"):
        "the per-element matcher of sequence_matches",
    ("plans/explain.py", "plan_string"): "test tooling for plan assertions",
    ("plans/explain.py", "pushed_filters"): "test tooling for plan assertions",
    ("plans/explain.py", "python_udf_count"):
        "test tooling for plan assertions",
    ("operators/multimodal.py", "synthesize_media"):
        "the input for the tests of the registry-reached extract_features "
        "and sample_frames",
    ("queries/vectors.py", "recall_curve"):
        "measures recall@k of the ANN variants against the exact top-k; "
        "its tests guard the codebooks",
    ("queries/vectors.py", "pq_recall"):
        "the quantization-error half of the same recall guard",
    ("sources/hpctoolkit_xml.py", "union_heterogeneous"):
        "mixed-MetricTable fleets, README API",
}

TOOLS = {
    "curation_run.py":
        "materializes the composed curation pipeline end to end",
    "curation_stream_run.py":
        "drives the streaming curation stores across resumed invocations",
    "dump_plans.py": "regenerates PLANS.md",
    "env_check.py": "reports testdata schema drift without a Spark session",
    "make_adv_data.py": "builds the adversarial-text clone",
    "make_bpe_fixture.py":
        "builds the BPE goldens from an independent Python implementation",
    "make_ingest_fixture.py":
        "captures the reference ingest fixture the cct_xml_ingest oracle "
        "reads",
    "make_scale_data.py": "builds the uniform 10x clone",
    "make_skew_data.py": "builds the skewed 10x clone",
    "make_skewadv_data.py": "builds the skew x adversarial clone",
    "oracle_check.py": "the local replica of the DuckDB correctness gate",
    "parity_check.py":
        "A/B against the reference implementation; test_full_parity runs it",
    "plan_census.py": "the registry-wide plan-feature census and allowlists",
    "profile_entries.py":
        "times chosen registry entries and dumps their plans under plans/",
    "profile_stream_run.py":
        "drives the streaming fleet profile merge over waves of files",
    "scale_bench.py":
        "flagship entries at sf0.1 and a scale clone, with plan signatures",
    "scale_oracle_sweep.py":
        "the full-registry oracle sweep at a scale clone, in subprocess "
        "chunks",
    "scale_smoke.py": "operator plan shapes at 10-50x synthetic volume",
    "stream_skew_probe.py":
        "the streaming stores under the skew clone's hot-key micro-batches",
    "vector_stream_run.py":
        "drives the exactly-once vector store over waves, then compacts it",
}


def _names(nodes):
    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
    return out


def _is_entry(node):
    return any(isinstance(d, ast.Call) and getattr(d.func, "id", None)
               == "register" for d in node.decorator_list)


def _defined(node):
    """The name a top-level statement defines, or None."""
    if isinstance(node, DEFS):
        return node.name
    if isinstance(node, ast.Assign) and len(node.targets) == 1:
        target = node.targets[0]
    elif isinstance(node, ast.AnnAssign):
        target = node.target
    else:
        return None
    if isinstance(target, ast.Name) and target.id != "__all__":
        return target.id
    return None


def unreached(package, roots):
    """``package`` maps a module path to its source, ``roots`` holds the
    sources of the root files.  Returns the (module path, name) of every
    top-level definition that no root reaches."""
    defs, todo = {}, set()
    for path, src in package.items():
        for node in ast.parse(src).body:
            name = _defined(node)
            if name is None:
                todo |= _names([node])
                continue
            defs.setdefault(name, []).append((path, node))
            if isinstance(node, DEFS):
                todo |= _names(node.decorator_list)
                if _is_entry(node):
                    todo.add(name)
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


def _root_files():
    files = []
    for root in ROOTS:
        p = REPO / root
        files += [p] if p.is_file() else sorted(p.rglob("*.py"))
    return files


def _sources():
    package = {str(p.relative_to(PKG)): p.read_text()
               for p in sorted(PKG.rglob("*.py"))}
    return package, [p.read_text() for p in _root_files()]


def _parse_strict(src, filename):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        return ast.parse(src, filename)


def test_every_definition_is_reached():
    found = unreached(*_sources())
    extra = sorted(found - KEPT.keys())
    assert not extra, ("reached only from tests; delete it, or keep it in "
                       f"KEPT with a reason: {extra}")
    stale = sorted(KEPT.keys() - found)
    assert not stale, f"reached or deleted; drop from KEPT: {stale}"


def test_every_file_parses_without_warnings():
    for p in sorted(PKG.rglob("*.py")) + _root_files():
        _parse_strict(p.read_text(), str(p))


def test_strict_parse_rejects_an_invalid_escape():
    with pytest.raises(SyntaxError):
        _parse_strict('"""a \\s b"""\n', "q.py")


def test_every_tool_has_a_reason():
    tools = {p.name for p in (REPO / "tools").glob("*.py")}
    missing = sorted(tools - TOOLS.keys())
    assert not missing, f"give each tool a keep reason in TOOLS: {missing}"
    stale = sorted(TOOLS.keys() - tools)
    assert not stale, f"no such tool; drop from TOOLS: {stale}"


def test_guard_catches_an_unreferenced_definition():
    package = {"q.py": (
        "from . import register\n"
        "@register('entry', doc='rows of documented')\n"
        "def entry(spark, sf_dir):\n"
        "    \"\"\"Calls helper, not documented.\"\"\"\n"
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
    assert unreached(package, [tool]) == {("q.py", "documented"),
                                          ("q.py", "orphan")}
    assert unreached(package, [tool, "documented(); orphan()"]) == set()


def test_a_registry_entry_is_a_root_by_its_own_name():
    package = {"q.py": (
        "from . import register\n"
        "@register('q1', doc='no name of this module')\n"
        "def entry(spark, sf_dir):\n"
        "    return helper()\n"
        "def helper():\n"
        "    return 1\n")}
    assert unreached(package, []) == set()


def test_a_dead_module_constant_is_reported():
    package = {"q.py": (
        "LIVE = 2\n"
        "DEAD: int = 3\n"
        "CACHE = {}\n"
        "def used():\n"
        "    return LIVE, CACHE\n")}
    assert unreached(package, ["used()"]) == {("q.py", "DEAD")}


def test_dunder_all_is_not_a_definition():
    package = {"q.py": (
        "__all__ = ['orphan']\n"
        "def orphan():\n"
        "    pass\n")}
    assert unreached(package, []) == {("q.py", "orphan")}
