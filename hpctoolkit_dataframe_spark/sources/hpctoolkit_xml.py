"""Distributed ingest of HPCtoolkit experiment XML databases.

Reference loader: hpctoolkit_dataframe/hpctoolkit_dataframe.py:154-216 —
single-file, single-process, recursive DFS building a list of row dicts.
Spark shape: ``spark.read.format("binaryFile")`` lists a glob of
experiment XMLs and packs them into partitions; the scan reads only
their paths -> ``mapInPandas`` opens each file by path and runs the
per-file parser (``read_profile_rows``), which emits the flattened CCT
(one row per node, callpath materialized, plus the raw values the ratio
columns need at the node's ancestors) -> one narrow select: finalize
formulas, root (E)<-(I) repair and both ratio columns.
Building that plan starts no Spark job.  One experiment tree is ~10^4
nodes, so per-file driver-side recursion inside the executor is cheap
and the 100 TB case (millions of files) is embarrassingly parallel —
each file parses independently in one task, no shuffle until analytics.

Semantics replicated from the reference:
- first ``SecCallPathProfile`` section only (:161)
- callsite (``C``) splice-skip by default: children attach to the
  grandparent, the callsite's own M values are dropped (:147-148, 266-269)
- ``max_depth`` prunes the walk (true pushdown — subtree never parsed,
  :256-257)
- location fields inherit from the parent node (:271-278)
- synthetic root row id=-1, callpath=[], type='root', line=0 (:247)
- unknown element tags raise NotImplementedError (:260-264)
- metric ids/names/formulas from the file's ``MetricTable`` (:164-170)
"""

from __future__ import annotations

import glob as _glob
import logging
import os
import xml.etree.ElementTree as ET
from collections.abc import Iterator, Sequence
from pathlib import PurePosixPath

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..frame import (CCTMetadata, determine_percentage_column,
                     meaningful_columns_for)
from ..functions import formulas as _formulas
from ..memo import session_memo
from ..operators import cct as _cct

_MEASUREMENT_TYPES = {
    "PF": "procedure frame",
    "C": "callsite",
    "Pr": "procedure",
    "S": "statement",
    "L": "loop",
}

LOCATION_COLUMNS = [
    "callpath", "module path", "module", "file path", "file", "line",
    "procedure", "id", "type",
]


def _parse_header(root: ET.Element) -> dict:
    """Header tables of the FIRST SecCallPathProfile section (:161-185)."""
    profile = root.find("./SecCallPathProfile")
    header = {
        "name": profile.attrib.get("n", ""),
        "metrics_by_id": {},
        "formulas_by_id": {},
        "modules_by_id": {},
        "files_by_id": {},
        "procedures_by_id": {},
    }
    metrics = profile.find("./SecHeader/MetricTable")
    if metrics is not None:
        for m in metrics:
            mid = int(m.attrib["i"])
            header["metrics_by_id"][mid] = m.attrib["n"]
            for formula in m.findall("./MetricFormula"):
                # only t="finalize" is used; t="combine" matters only for
                # multi-profile merging which the reference never does (:69-70)
                if formula.attrib.get("t") == "finalize":
                    header["formulas_by_id"][mid] = formula.attrib["frm"]
                    break
    for table, key in (
        ("LoadModuleTable", "modules_by_id"),
        ("FileTable", "files_by_id"),
        ("ProcedureTable", "procedures_by_id"),
    ):
        element = profile.find(f"./SecHeader/{table}")
        if element is not None:
            header[key] = {int(e.attrib["i"]): e.attrib["n"] for e in element}
    return header


def parse_experiment_rows(
    content: bytes,
    profile_id: str,
    *,
    max_depth: int | None = None,
    skip_callsite: bool = True,
    ancestor_metric_ids: Sequence[int] = (),
) -> tuple[dict, list[dict]]:
    """Parse one experiment XML into (header, flat CCT row dicts).

    Row dicts carry raw metric values keyed ``__raw_<metric_id>`` —
    finalize formulas are applied later as Spark column expressions over
    these raw columns (the reference evaluates formulas over the raw
    per-node metric dict, hpctoolkit_dataframe.py:218-231).

    For each id in ``ancestor_metric_ids`` a row also carries
    ``__anc_<metric_id>``: that raw metric at the row's ancestors, root
    first, then ``callpath[:-1]`` (the root row's list is empty).  The
    parser holds the whole tree, so the ratio columns' walk-up needs no
    self-join later (``operators.cct.ancestor_ratio_columns``).
    """
    root = ET.fromstring(content)
    header = _parse_header(root)
    modules = header["modules_by_id"]
    files = header["files_by_id"]
    procedures = header["procedures_by_id"]
    profile = root.find("./SecCallPathProfile")
    data = profile.find("./SecCallPathProfileData")
    rows: list[dict] = []

    anc_keys = [(f"__anc_{mid}", f"__raw_{mid}") for mid in ancestor_metric_ids]

    def walk(element: ET.Element, location: dict | None, budget: int | None,
             add_local: bool, chain: tuple) -> None:
        local: dict = {}
        children = []
        for child in element:
            if child.tag == "M":
                if add_local:
                    local[f"__raw_{int(child.attrib['n'])}"] = float(
                        child.attrib["v"])
            else:
                children.append(child)
        if location is None:
            location = {"line": 0, "id": -1, "callpath": (), "type": "root",
                        "profile_id": profile_id}
        if add_local:
            row = dict(location)
            row.update(local)
            for anc, raw in anc_keys:
                row[anc] = [a.get(raw) for a in chain]
            rows.append(row)
            chain = (*chain, local)
        if budget is not None and budget <= 0:
            return
        for child in children:
            tag = child.tag
            if tag not in _MEASUREMENT_TYPES:
                raise NotImplementedError(
                    '{}: measurement type "{}" not recognized:'
                    "\nattributes={}\nsubnodes={}".format(
                        profile_id, tag, child.attrib, list(child)))
            if skip_callsite and tag == "C":
                # splice: children attach to this node's location; the
                # callsite's own M values are dropped (:266-269)
                walk(child, location, budget, False, chain)
                continue
            new_location = dict(location)
            attrib = child.attrib
            if "lm" in attrib:
                # PurePosixPath-normalize like the reference's pathlib
                # storage (:174): './src/x' renders as 'src/x'
                path = str(PurePosixPath(modules[int(attrib["lm"])]))
                new_location["module path"] = path
                new_location["module"] = os.path.basename(path)
            if "f" in attrib:
                path = str(PurePosixPath(files[int(attrib["f"])]))
                new_location["file path"] = path
                new_location["file"] = os.path.basename(path)
            if "l" in attrib:
                new_location["line"] = int(attrib["l"])
            if "n" in attrib:
                new_location["procedure"] = procedures[int(attrib["n"])]
            new_location["id"] = int(attrib["i"])
            new_location["type"] = _MEASUREMENT_TYPES[tag]
            new_location["callpath"] = (*location["callpath"],
                                        new_location["id"])
            walk(child, new_location,
                 None if budget is None else budget - 1, True, chain)

    walk(data, None, max_depth, True, ())
    ids = [r["id"] for r in rows]
    assert len(ids) == len(set(ids)), f"{profile_id}: duplicate node ids"
    return header, rows


def _register_self_for_pickle_by_value() -> None:
    """Ship the parser to executors by value, not by import (see
    hpctoolkit_dataframe_spark._pickle)."""
    from .._pickle import register_module_by_value

    register_module_by_value(__name__)


def _raw_schema(metric_ids: list[int],
                ancestor_metric_ids: Sequence[int] = ()) -> T.StructType:
    fields = [
        T.StructField("profile_id", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("callpath", T.ArrayType(T.LongType())),
        T.StructField("type", T.StringType()),
        T.StructField("module path", T.StringType()),
        T.StructField("module", T.StringType()),
        T.StructField("file path", T.StringType()),
        T.StructField("file", T.StringType()),
        T.StructField("line", T.LongType()),
        T.StructField("procedure", T.StringType()),
    ]
    fields += [T.StructField(f"__raw_{mid}", T.DoubleType())
               for mid in metric_ids]
    fields += [T.StructField(f"__anc_{mid}", T.ArrayType(T.DoubleType()))
               for mid in ancestor_metric_ids]
    return T.StructType(fields)


def _expand_paths(paths: str | Sequence[str]) -> list[str]:
    """Each path, or the sorted files its glob matches."""
    return [f for p in ([paths] if isinstance(paths, str) else paths)
            for f in (sorted(_glob.glob(p)) if _glob.has_magic(p) else [p])]


# The per-file contract that ``load_experiments`` and the ``hpctoolkit``
# DataSource share, in two halves: the schema comes from the first
# PARSEABLE file's header, and a file whose MetricTable ids differ from
# that schema raises or is skipped whole.

def parseable_headers(files: Sequence[str],
                      on_error: str) -> Iterator[tuple[str, dict]]:
    """(path, header) of each file in ``files`` whose XML parses.  Under
    ``on_error='fail'`` the first failure raises; under 'skip' an
    unparseable file is passed over with a warning."""
    for candidate in files:
        try:
            with open(candidate, "rb") as f:
                header = _parse_header(ET.fromstring(f.read()))
        except Exception:
            if on_error == "fail":
                raise
            logging.getLogger(__name__).warning(
                "skipping malformed experiment file %s", candidate,
                exc_info=True)
            continue
        yield candidate, header


def first_parseable_header(files: Sequence[str],
                           on_error: str) -> tuple[str, dict]:
    """The first of ``parseable_headers``; a set with no parseable file
    raises."""
    for found in parseable_headers(files, on_error):
        return found
    raise ValueError(f"no parseable experiment file in {list(files)}")


def read_profile_rows(path: str, columns: Sequence[str], on_error: str,
                      **parse_options) -> list[tuple]:
    """The rows of the experiment at ``path``, as tuples in ``columns``
    order: the one per-file read of both scans.  The metric ids come
    from the ``__raw_<id>`` columns and the ancestor ids from the
    ``__anc_<id>`` columns.  A file that cannot be read, does not parse,
    or whose MetricTable ids differ from the columns' raises under
    ``on_error='fail'``; under 'skip' it is dropped whole with a warning
    and no rows are returned — padding or dropping metric columns for a
    heterogeneous file would make silently wrong rows."""
    metric_ids = sorted(int(c[len("__raw_"):]) for c in columns
                        if c.startswith("__raw_"))
    anc_ids = [int(c[len("__anc_"):]) for c in columns
               if c.startswith("__anc_")]
    try:
        with open(path, "rb") as f:
            header, rows = parse_experiment_rows(
                f.read(), path, ancestor_metric_ids=anc_ids,
                **parse_options)
        file_ids = sorted(header["metrics_by_id"])
        if file_ids != metric_ids:
            raise ValueError(
                f"{path}: MetricTable ids {file_ids} differ from "
                f"the schema's {metric_ids}; heterogeneous metric "
                "sets must be loaded separately and unioned")
    except Exception:
        if on_error == "fail":
            raise
        logging.getLogger(__name__).warning(
            "skipping malformed experiment file %s", path, exc_info=True)
        return []
    out = []
    for r in rows:
        r["callpath"] = list(r["callpath"])
        out.append(tuple(map(r.get, columns)))
    return out


def load_experiments(
    spark: SparkSession,
    path: str | list[str],
    *,
    max_depth: int | None = None,
    skip_callsite: bool = True,
    add_percentage_columns: bool = True,
    with_imag: bool = False,
    on_error: str = "fail",
) -> tuple[DataFrame, CCTMetadata]:
    """Load one or many experiment XMLs into a single wide DataFrame.

    ``path`` may be a file, a glob, or a list of either; every matched
    file must share the first parseable file's MetricTable ids
    (heterogeneous metric sets go through ``union_heterogeneous``, which
    aligns them — this strict mode mirrors the reference's
    one-file-per-frame contract, :159).  Relative paths resolve against
    the Python working directory; ``profile_id`` (and the metadata's
    ``db_path``) is always the absolute filesystem path, not a URI.

    One plan for any number of files: ``binaryFile`` -> ``mapInPandas``
    parse -> one select.  The scan reads only each file's path, and
    the parse opens the file by that path, so the executors must see
    the driver's filesystem at the same path (as the ``hpctoolkit``
    data source assumes too).  The call parses the first parseable file on
    the driver for its header and starts no Spark job; every action on
    the frame parses the XML again, and a parse error raises at that
    action.  A frame acted on more than once should be cached, or
    written with ``sinks.write_profiles``.

    ``on_error``: 'fail' (reference behavior — any malformed file aborts
    the job) or 'skip' (fleet mode: a corrupt file contributes zero rows
    and a warning; at millions-of-files scale one bad profile must not
    kill the ingest).
    """
    assert on_error in ("fail", "skip"), on_error
    paths = [os.path.abspath(p)
             for p in ([path] if isinstance(path, str) else path)]
    files = _expand_paths(paths)
    if not files:
        raise FileNotFoundError(str(path))
    _register_self_for_pickle_by_value()
    header_path, header = first_parseable_header(files, on_error)
    metric_ids = sorted(header["metrics_by_id"])
    metric_names = [header["metrics_by_id"][mid] for mid in metric_ids]
    pct = determine_percentage_column(metric_names)
    pct_mid = metric_ids[metric_names.index(pct)]
    pct_formula = header["formulas_by_id"].get(pct_mid)
    anc_ids = []  # the raw metrics the ratio walk-up reads at ancestors
    if add_percentage_columns:
        anc_ids = (sorted(_formulas.referenced_metric_ids(pct_formula))
                   if pct_formula is not None else [pct_mid])
    schema = _raw_schema(metric_ids, anc_ids)
    columns = [f.name for f in schema.fields]

    def parse_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            for p in batch["path"]:
                # binaryFile reports Hadoop's Path.toString: the file:
                # scheme over the unescaped path, so a '%' or a space in
                # a file name is already literal
                rows = read_profile_rows(
                    p.removeprefix("file:"), columns, on_error,
                    max_depth=max_depth, skip_callsite=skip_callsite)
                if rows:
                    yield pd.DataFrame(rows, columns=columns)

    # binaryFile only lists and packs the files: with ``content`` pruned
    # from the scan no file bytes cross the JVM, and its maxLength cap
    # does not apply
    raw = (
        spark.read.format("binaryFile").load(paths)
        .select("path")
        .mapInPandas(parse_files, schema=schema)
    )

    meta = CCTMetadata(
        db_path=header_path,
        metrics_by_id=header["metrics_by_id"],
        metrics_formulas={
            header["metrics_by_id"][mid]: frm
            for mid, frm in header["formulas_by_id"].items()},
        modules_by_id=header["modules_by_id"],
        files_by_id=header["files_by_id"],
        procedures_by_id=header["procedures_by_id"],
        meaningful_columns=meaningful_columns_for(pct),
    )
    anc_cols = [f"__anc_{mid}" for mid in anc_ids]
    df = finalize_metrics(raw, header, with_imag=with_imag, carry=anc_cols)
    if add_percentage_columns:
        # reference layout (:190-198, 354): the ratio columns right
        # after their base; the ancestor arrays are dropped here
        ancestors, total, parent = session_memo(
            _COMPILE_CACHE, spark, None, "ratios", pct, pct_mid, pct_formula,
            build=lambda: _ratio_columns(pct, pct_mid, pct_formula))
        df = df.withColumn("__anc", ancestors)
        cols = []
        for c in df.columns:
            if c not in (*anc_cols, "__anc"):
                cols.append(F.col(f"`{c}`"))
            if c == pct:
                cols += [total.alias(pct + " ratio of total"),
                         parent.alias(pct + " ratio of parent")]
        df = df.select(*cols)
    return df, meta


def union_heterogeneous(
    spark: SparkSession,
    paths: str | list[str],
    *,
    max_depth: int | None = None,
    skip_callsite: bool = True,
    add_percentage_columns: bool = True,
    with_imag: bool = False,
    on_error: str = "fail",
) -> tuple[DataFrame, list[CCTMetadata]]:
    """Load a fleet that MIXES MetricTable schemas into one frame
    (VERDICT r4 #4) — e.g. CPUTIME and PAPI profiles, the two
    checked-in reference fixtures.

    Files group by their MetricTable signature; each group loads
    through ``load_experiments`` (its strict same-ids contract intact),
    keeping its OWN percentage election (reference R2 semantics per
    file, frame.py:32) and ratio columns.  Groups align by null-padded
    ``unionByName``: a profile holds NULL in every metric column its
    schema lacks.  Returns the unioned frame plus one ``CCTMetadata``
    per group, in group order (each carries its group's election in
    ``meaningful_columns``).

    Scale shape: grouping runs driver-side and parses every WHOLE file
    (``ET.fromstring`` on its full bytes, then ``_parse_header``), so
    its cost grows with the total XML size, not the file count; each
    group then ingests through the normal embarrassingly-parallel path,
    and the union is a zero-shuffle plan node.  For a million-file
    fleet, group membership would come from a catalog instead — the
    alignment logic is unchanged.
    """
    assert on_error in ("fail", "skip"), on_error
    files = _expand_paths(paths)
    if not files:
        raise FileNotFoundError(str(paths))
    groups: dict[tuple, list[str]] = {}
    for p, h in parseable_headers(files, on_error):
        sig = tuple(sorted(h["metrics_by_id"].items()))
        groups.setdefault(sig, []).append(p)
    if not groups:
        raise ValueError(f"no parseable experiment file in {paths}")
    frames: list[DataFrame] = []
    metas: list[CCTMetadata] = []
    for group in groups.values():
        df, meta = load_experiments(
            spark, group, max_depth=max_depth, skip_callsite=skip_callsite,
            add_percentage_columns=add_percentage_columns,
            with_imag=with_imag, on_error=on_error)
        frames.append(df)
        metas.append(meta)
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    # deterministic layout: each group's metric/ratio/imag columns in
    # first-appearance order, then the shared location columns + key
    tail = LOCATION_COLUMNS + ["profile_id"]
    cols: list[str] = []
    for df in frames:
        cols += [c for c in df.columns if c not in tail and c not in cols]
    out = out.select(*[F.col(f"`{c}`") for c in cols + tail])
    return out, metas


# Compiled-expression cache: the Columns depend only on the formula
# text (metric references are $N ids resolved to __raw_N / __anc_N
# columns), and building the ~20 nested expressions costs ~0.3 s of Py4J
# round trips per load.  Keyed by the session (no input files, so
# sf_dir None) so a restarted JVM cannot serve stale expression handles.
_COMPILE_CACHE: dict[tuple, tuple] = {}


def _ratio_columns(pct: str, pct_mid: int, frm: str | None):
    """(ancestors, ratio of total, ratio of parent) of the elected
    column.  ``ancestors`` is its finalized value at each ancestor, from
    the ``__anc_<id>`` arrays the parser emits: the finalize formula is
    compiled once, over their elements at each ancestor index (one per
    callpath element).  The ratios read it as column ``__anc``, so the
    array is computed once per row."""
    ancestors = F.col(f"__anc_{pct_mid}")
    if frm is not None:
        ancestors = F.transform("callpath", lambda _, k: (
            _formulas.compile_formula(
                frm, lambda mid: F.col(f"__anc_{mid}")[k])[0]))
    return (ancestors, *_cct.ancestor_ratio_columns(
        F.col(f"`{pct}`"), lambda k: F.col("__anc")[k],
        F.size("callpath")))


def finalize_metrics(raw: DataFrame, header: dict, *,
                     with_imag: bool = False,
                     carry: Sequence[str] = ()) -> DataFrame:
    """Apply finalize formulas + root repair, order columns like the
    reference (metrics sorted by id, then location columns; :190-198).
    ``carry`` names raw columns kept after those, unchanged."""
    values: dict = {}
    imag_exprs: list = []
    for mid in sorted(header["metrics_by_id"]):
        name = header["metrics_by_id"][mid]
        frm = header["formulas_by_id"].get(mid)
        if frm is None:
            values[name] = F.col(f"__raw_{mid}")
            continue
        re_, im_ = session_memo(
            _COMPILE_CACHE, raw.sparkSession, None, "raw", frm,
            build=lambda: _formulas.compile_formula(
                frm, lambda mid: F.col(f"__raw_{mid}")))
        values[name] = re_
        if with_imag and im_ is not None:
            imag_exprs.append(im_.alias(f"{name} (imag)"))
    # root (E) <- (I) repair (:291-305): the root has no exclusive
    # samples, so its ``X (E)`` is patched from ``X (I)``
    is_root = F.size("callpath") == 0
    exprs = [
        F.when(is_root, values[name[:-4] + " (I)"]).otherwise(v).alias(name)
        if name.endswith(" (E)") and name[:-4] + " (I)" in values
        else v.alias(name)
        for name, v in values.items()]
    return raw.select(
        *exprs, *imag_exprs,
        *[F.col(f"`{c}`") for c in LOCATION_COLUMNS], "profile_id", *carry)
