"""Official Spark extension point for the XML ingest: a Python Data
Source (Spark 4 ``pyspark.sql.datasource`` API) so the profiles load as

    spark.read.format("hpctoolkit").option("max_depth", 5).load(glob)

SURVEY.md §7 called this the "optional nicety" beyond parser options;
it makes the pushdown story first-class: ``max_depth`` /
``skip_callsite`` are SCAN options — a depth-limited read never parses
the pruned subtrees at all (reference S4 semantics,
hpctoolkit_dataframe.py:184-189 via parse_experiment_rows).

Layout: schema inference parses the FIRST matched file's header
driver-side (metric columns are data-dependent); each matched file is
one InputPartition, so a fleet of profiles reads embarrassingly
parallel.  Emits the RAW frame (``__raw_<id>`` metric columns) — the
same contract as ``load_experiments``' parse stage; compose with
``finalize_metrics`` for derived metrics, or keep using
``load_experiments`` as the batteries-included path.

Pickling note: Python data sources run in dedicated Python workers that
do NOT have this package on sys.path; ``register()`` therefore ships
this module AND the parser module by value (cloudpickle) BEFORE the
class is handed to Spark, and every cross-module dependency is captured
as a module-level name (a runtime relative import would try — and fail
— to import the package inside the worker).
"""

from __future__ import annotations

import glob as _glob
import os as _os
from collections.abc import Iterator, Sequence
from pathlib import Path as _Path

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource, DataSourceReader, DataSourceStreamReader, InputPartition)

# captured at import so the by-value pickle of THIS module carries the
# parser and its per-file contract with it (their module is registered
# by value too)
from .hpctoolkit_xml import (_raw_schema, first_parseable_header,
                             parse_checked_rows)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _checked_path(path: str | None) -> str:
    if not path:
        raise ValueError("format('hpctoolkit') requires .load(path)")
    if not _os.path.isabs(path):
        # the source runs in a Python worker whose working directory is
        # not the driver's: a relative path would name another file
        raise ValueError(
            f"the hpctoolkit data source needs an absolute path: {path!r}")
    return path


def _matched_files(path: str | None) -> list[str]:
    path = _checked_path(path)
    files = sorted(_glob.glob(path)) if _glob.has_magic(path) else [path]
    if not files:
        raise FileNotFoundError(path)
    return files


class HPCToolkitXMLDataSource(DataSource):
    """``spark.read.format("hpctoolkit")`` — the path (a file or a glob)
    must be absolute.  Options:

    - ``max_depth`` (int): stop parsing below this depth (true scan
      pushdown: pruned subtrees are never materialized)
    - ``skip_callsite`` (bool, default true): splice callsite nodes
      like the reference's default walk
    - ``on_error`` ('fail' default | 'skip'): same fleet-mode contract
      as ``load_experiments`` — 'skip' drops a malformed or
      schema-mismatched file WHOLE (never silently null-pads) with a
      warning; 'fail' aborts the scan
    """

    @classmethod
    def name(cls) -> str:
        return "hpctoolkit"

    def schema(self) -> T.StructType:
        _, _, on_error = _parse_scan_options(self.options)
        _, header = first_parseable_header(
            _matched_files(self.options.get("path")), on_error)
        return _raw_schema(sorted(header["metrics_by_id"]))

    def reader(self, schema: T.StructType) -> "_HPCToolkitReader":
        return _HPCToolkitReader(dict(self.options), schema)

    def streamReader(self, schema: T.StructType) -> "_HPCToolkitStreamReader":
        """``spark.readStream.format("hpctoolkit")`` — directory-monitor
        ingest for a profile fleet: each trigger globs the path, new
        files become one InputPartition each (parsed executor-side,
        same pushdown options as the batch scan), and the offset is the
        consumed file set, so restart/replay is exact.  The scan schema
        is pinned by the first parseable file at stream start; later
        heterogeneous files follow the on_error contract."""
        return _HPCToolkitStreamReader(dict(self.options), schema)


def _parse_scan_options(options: dict) -> tuple:
    md = options.get("max_depth")
    max_depth = int(md) if md is not None else None
    skip_callsite = str(
        options.get("skip_callsite", "true")).lower() != "false"
    on_error = str(options.get("on_error", "fail")).lower()
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be fail|skip: {on_error}")
    return max_depth, skip_callsite, on_error


def _read_one_file(path: str, columns: Sequence[str], max_depth,
                   skip_callsite: bool, on_error: str) -> Iterator[tuple]:
    """Shared per-partition parse for the batch and stream readers,
    under the same per-file contract as ``load_experiments``."""
    schema_ids = sorted(int(c[len("__raw_"):]) for c in columns
                        if c.startswith("__raw_"))
    rows = parse_checked_rows(_Path(path).read_bytes, path, schema_ids,
                              on_error, max_depth=max_depth,
                              skip_callsite=skip_callsite) or []
    for r in rows:
        yield tuple(
            list(r["callpath"]) if c == "callpath" else r.get(c)
            for c in columns)


class _HPCToolkitReader(DataSourceReader):
    def __init__(self, options: dict, schema: T.StructType):
        self._columns: Sequence[str] = [f.name for f in schema.fields]
        (self._max_depth, self._skip_callsite,
         self._on_error) = _parse_scan_options(options)
        self._files = _matched_files(options.get("path"))

    def partitions(self) -> list[_FilePartition]:
        return [_FilePartition(p) for p in self._files]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        yield from _read_one_file(
            partition.path, self._columns, self._max_depth,
            self._skip_callsite, self._on_error)


class _HPCToolkitStreamReader(DataSourceStreamReader):
    """Micro-batch source over an arriving profile fleet.  The offset
    is the SORTED LIST of consumed file paths ({"files": [...]}), so
    (start, end) exactly determines a batch — replay after restart
    re-parses precisely the delta, and a file that sorts before
    already-consumed ones is still picked up (set difference, not a
    high-water mark).  Offset size grows with the fleet; at the 100 TB
    operating point swap the list for per-directory manifest files and
    keep the same delta semantics."""

    def __init__(self, options: dict, schema: T.StructType):
        self._columns: Sequence[str] = [f.name for f in schema.fields]
        (self._max_depth, self._skip_callsite,
         self._on_error) = _parse_scan_options(options)
        self._path = _checked_path(options.get("path"))

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        # the non-glob path must ALSO gate on existence: reporting the
        # literal file before it exists makes a stream started early
        # fail its first batch under on_error='fail' instead of
        # waiting for arrival like the glob path does (ADVICE r5)
        files = (sorted(_glob.glob(self._path))
                 if _glob.has_magic(self._path)
                 else [p for p in [self._path] if _os.path.exists(p)])
        return {"files": files}

    def partitions(self, start: dict, end: dict) -> list[_FilePartition]:
        new = sorted(set(end["files"]) - set(start["files"]))
        return [_FilePartition(p) for p in new]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        yield from _read_one_file(
            partition.path, self._columns, self._max_depth,
            self._skip_callsite, self._on_error)

    def commit(self, end: dict) -> None:
        pass


def register(spark) -> None:
    """Register the format on a session (idempotent).  Must ship the
    modules by value FIRST — Spark pickles the class out to the data
    source worker as soon as a read is planned."""
    from .._pickle import register_module_by_value
    from .hpctoolkit_xml import _register_self_for_pickle_by_value

    _register_self_for_pickle_by_value()
    register_module_by_value(__name__)
    spark.dataSource.register(HPCToolkitXMLDataSource)
