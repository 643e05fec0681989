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
one InputPartition, read by path through ``read_profile_rows``, the
same per-file read ``load_experiments`` runs.  Emits the RAW frame
(``__raw_<id>`` metric columns) — the contract of ``load_experiments``'
parse stage; compose with ``finalize_metrics`` for derived metrics, or
keep using ``load_experiments`` as the batteries-included path.  This
is a batch source only; ``streaming/profiles.py`` streams a fleet.

Pickling note: Python data sources run in dedicated Python workers that
do NOT have this package on sys.path; ``register()`` therefore ships
this module AND the parser module by value (cloudpickle) BEFORE the
class is handed to Spark, and every cross-module dependency is captured
as a module-level name (a runtime relative import would try — and fail
— to import the package inside the worker).
"""

from __future__ import annotations

import json as _json
import os as _os
from collections.abc import Iterator, Sequence

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource, DataSourceReader, InputPartition)

# captured at import so the by-value pickle of THIS module carries the
# parser and its per-file contract with it (their module is registered
# by value too)
from .hpctoolkit_xml import (_expand_paths, _raw_schema,
                             first_parseable_header, read_profile_rows)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _checked_path(path: str) -> str:
    if not _os.path.isabs(path):
        # the source runs in a Python worker whose working directory is
        # not the driver's: a relative path would name another file
        raise ValueError(
            f"the hpctoolkit data source needs an absolute path: {path!r}")
    return path


def _matched_files(options: dict) -> list[str]:
    """The files of ``.load(path)`` or ``.load([path, ...])``; PySpark
    passes a list as the ``paths`` option, a JSON array."""
    paths = ([options["path"]] if options.get("path")
             else _json.loads(options.get("paths") or "[]"))
    if not paths:
        raise ValueError("format('hpctoolkit') requires .load(path)")
    files = _expand_paths([_checked_path(p) for p in paths])
    if not files:
        raise FileNotFoundError(str(paths))
    return files


class HPCToolkitXMLDataSource(DataSource):
    """``spark.read.format("hpctoolkit")`` — each path (a file or a
    glob; ``.load`` takes one or a list) must be absolute.  Options:

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
            _matched_files(self.options), on_error)
        return _raw_schema(sorted(header["metrics_by_id"]))

    def reader(self, schema: T.StructType) -> "_HPCToolkitReader":
        return _HPCToolkitReader(dict(self.options), schema)


def _parse_scan_options(options: dict) -> tuple:
    md = options.get("max_depth")
    max_depth = int(md) if md is not None else None
    skip_callsite = str(
        options.get("skip_callsite", "true")).lower() != "false"
    on_error = str(options.get("on_error", "fail")).lower()
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be fail|skip: {on_error}")
    return max_depth, skip_callsite, on_error


class _HPCToolkitReader(DataSourceReader):
    def __init__(self, options: dict, schema: T.StructType):
        self._columns: Sequence[str] = [f.name for f in schema.fields]
        (self._max_depth, self._skip_callsite,
         self._on_error) = _parse_scan_options(options)
        self._files = _matched_files(options)

    def partitions(self) -> list[_FilePartition]:
        return [_FilePartition(p) for p in self._files]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        yield from read_profile_rows(
            partition.path, self._columns, self._on_error,
            max_depth=self._max_depth, skip_callsite=self._skip_callsite)


def register(spark) -> None:
    """Register the format on a session (idempotent).  Must ship the
    modules by value FIRST — Spark pickles the class out to the data
    source worker as soon as a read is planned."""
    from .._pickle import register_module_by_value
    from .hpctoolkit_xml import _register_self_for_pickle_by_value

    _register_self_for_pickle_by_value()
    register_module_by_value(__name__)
    spark.dataSource.register(HPCToolkitXMLDataSource)
