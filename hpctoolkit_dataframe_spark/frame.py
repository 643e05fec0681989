"""Metadata-carrying wrapper around a Spark DataFrame.

The reference subclasses ``pd.DataFrame`` and propagates ``_metadata``
(db path, id->name dicts, formulas, meaningful columns) through every
pandas operation via ``_constructor`` (hpctoolkit_dataframe.py:131-152),
tested at test/test_hpctoolkit_dataframe.py:38-45.  Spark DataFrames
cannot be subclassed usefully, so the idiomatic equivalent is a thin
wrapper holding ``(df, metadata)`` whose domain methods return new
wrappers and which delegates unknown attributes to the underlying
DataFrame (re-wrapping any DataFrame results so metadata survives
arbitrary Spark transformations too).
"""

from __future__ import annotations

import dataclasses
import functools
from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators import cct as _cct

_PERCENTAGE_PREFIX = "CPUTIME (usec):"  # reference :139
_PERCENTAGE_CANDIDATES = ["Mean (I)", "Sum (I)"]  # reference :141
_COMPACT_SUFFIXES = ["", " ratio of total", " ratio of parent"]  # reference :143
_HOT_PATH_SUFFIX = " ratio of total"  # reference :145
_COMPACT_LOCATION_COLUMNS = ["module", "file", "line", "procedure", "type"]  # :37


def determine_percentage_column(columns: Sequence[str]) -> str:
    """Elect the 'main' metric column.

    Reference: _determine_percentage_column_base
    (hpctoolkit_dataframe.py:307-329): prefer ``CPUTIME (usec):Mean (I)``
    then ``:Sum (I)``; else try each distinct metric-name prefix (text
    before ':', order-preserving dedup) against the same candidates.
    """
    for candidate in _PERCENTAGE_CANDIDATES:
        col = _PERCENTAGE_PREFIX + candidate
        if col in columns:
            return col
    seen: dict[str, None] = {}
    for c in columns:
        seen.setdefault(c.partition(":")[0], None)
    for prefix in seen:
        for candidate in _PERCENTAGE_CANDIDATES:
            col = f"{prefix}:{candidate}"
            if col in columns:
                return col
    raise AssertionError(list(columns))


def meaningful_columns_for(pct: str) -> dict[str, Any]:
    """The reference's meaningful columns (:139-145) around the elected
    percentage column ``pct``."""
    return {
        "percentage": pct,
        "hot_path": pct + _HOT_PATH_SUFFIX,
        "compact": [pct + s for s in _COMPACT_SUFFIXES]
        + _COMPACT_LOCATION_COLUMNS,
    }


@dataclasses.dataclass
class CCTMetadata:
    """Counterpart of the reference's ``_metadata`` list (:135-136)."""

    db_path: str | None = None
    metrics_by_id: dict[int, str] = dataclasses.field(default_factory=dict)
    metrics_formulas: dict[str, str] = dataclasses.field(default_factory=dict)
    modules_by_id: dict[int, str] = dataclasses.field(default_factory=dict)
    files_by_id: dict[int, str] = dataclasses.field(default_factory=dict)
    procedures_by_id: dict[int, str] = dataclasses.field(default_factory=dict)
    meaningful_columns: dict[str, Any] = dataclasses.field(default_factory=dict)


class HPCtoolkitDataFrame:
    """``(spark_df, metadata)`` wrapper with the reference's query surface."""

    def __init__(
        self,
        df: DataFrame | None = None,
        metadata: CCTMetadata | None = None,
        *,
        path: str | None = None,
        spark: SparkSession | None = None,
        max_depth: int | None = None,
        skip_callsite: bool = True,
    ):
        if path is not None:
            from .sources.hpctoolkit_xml import load_experiments

            df, metadata = load_experiments(
                spark, path, max_depth=max_depth, skip_callsite=skip_callsite)
        if df is None:
            raise ValueError("need either df or path")
        self._df = df
        self._meta = metadata or CCTMetadata()
        if not self._meta.meaningful_columns:
            try:
                self._meta.meaningful_columns = meaningful_columns_for(
                    determine_percentage_column(df.columns))
            except AssertionError:
                pass

    # -- metadata propagation ------------------------------------------------
    def _wrap(self, df: DataFrame) -> "HPCtoolkitDataFrame":
        return HPCtoolkitDataFrame(df, self._meta)

    def __getattr__(self, name: str):
        attr = getattr(self._df, name)
        if callable(attr):
            @functools.wraps(attr)
            def method(*args, **kwargs):
                result = attr(*args, **kwargs)
                if isinstance(result, DataFrame):
                    return self._wrap(result)
                return result

            return method
        return attr

    def __getitem__(self, item):
        result = self._df[item]
        return self._wrap(result) if isinstance(result, DataFrame) else result

    @property
    def df(self) -> DataFrame:
        return self._df

    @property
    def metadata(self) -> CCTMetadata:
        return self._meta

    # -- domain operators ----------------------------------------------------
    @property
    def compact(self) -> "HPCtoolkitDataFrame":
        """Reference: hpctoolkit_dataframe.py:387-389."""
        cols = [c for c in self._meta.meaningful_columns["compact"]
                if c in self._df.columns]
        return self._wrap(self._df.select(*[f"`{c}`" for c in cols]))

    def at_paths(self, *fragments, prefix=(), suffix=()) -> "HPCtoolkitDataFrame":
        return self._wrap(_cct.at_paths(self._df, *fragments, prefix=prefix,
                                        suffix=suffix))

    def at_path_fragments(self, *fragments) -> "HPCtoolkitDataFrame":
        """Contiguous-fragment filter — the semantics ``at_paths``
        declares but (matching the reference, :82-84) refuses; see
        operators/cct.at_path_fragments."""
        return self._wrap(_cct.at_path_fragments(self._df, *fragments))

    def at_depths(self, min_depth=None, max_depth=None) -> "HPCtoolkitDataFrame":
        return self._wrap(_cct.at_depths(self._df, min_depth, max_depth))

    def at_depth(self, depth: int) -> "HPCtoolkitDataFrame":
        return self._wrap(_cct.at_depth(self._df, depth))

    def add_ratio_column(
        self, base_column: str, column_name: str, method: str,
        partition_cols: Sequence[str] = (),
    ) -> "HPCtoolkitDataFrame":
        """Reference: hpctoolkit_dataframe.py:340-385 (returns new frame —
        Spark DataFrames are immutable, unlike the reference's in-place
        ``insert``).

        Starts no Spark job.  ``"parent"`` reads the frame in three plan
        branches and a loaded frame is not cached, so an uncached frame
        parses its XML three times per action: call ``cache()`` on it
        first."""
        assert base_column in self._df.columns, (base_column, self._df.columns)
        assert column_name not in self._df.columns, (column_name, self._df.columns)
        if method == "total":
            out = _cct.with_ratio_of_total(
                self._df, base_column, column_name, partition_cols)
        else:
            assert method == "parent", method
            out = _cct.with_ratio_of_parent(
                self._df, base_column, column_name, partition_cols)
        # keep the reference's column placement: ratio right after base (:354)
        cols = [c for c in out.columns if c != column_name]
        idx = cols.index(base_column) + 1
        cols = cols[:idx] + [column_name] + cols[idx:]
        return self._wrap(out.select(*[f"`{c}`" for c in cols]))

    def hot_path(
        self, callpath: Sequence[int] = (), threshold: float = 0.05,
        base_column: str | None = None,
    ) -> "HPCtoolkitDataFrame":
        if base_column is None:
            base_column = self._meta.meaningful_columns["hot_path"]
        assert base_column in self._df.columns, (base_column, self._df.columns)
        return self._wrap(_cct.hot_path(self._df, base_column, callpath, threshold))

    def flame_graph(self, **kwargs):
        from .operators.flame import flame_graph

        column = kwargs.pop("column", None)
        if column is None:
            pct = self._meta.meaningful_columns["percentage"]
            column = f"{pct} ratio of parent"
        return flame_graph(self._df, column=column,
                           title=self._meta.db_path or "", **kwargs)

    def flame_svg(self, **kwargs) -> str:
        """Dependency-free SVG variant of :meth:`flame_graph` (same
        default column election, no matplotlib needed)."""
        from .operators.flame import flame_svg

        column = kwargs.pop("column", None)
        if column is None:
            pct = self._meta.meaningful_columns["percentage"]
            column = f"{pct} ratio of parent"
        return flame_svg(self._df, column=column,
                         title=self._meta.db_path or "", **kwargs)

    def _exclusive_column(self, base_column: str | None) -> str:
        if base_column is None:
            pct = self._meta.meaningful_columns["percentage"]
            base_column = f"{pct[: -len(':Mean (I)')]}:Sum (E)"
        assert base_column in self._df.columns, (base_column,
                                                 self._df.columns)
        return base_column

    def flat_profile(self, base_column: str | None = None) -> DataFrame:
        """hpcviewer FLAT VIEW: total exclusive metric per procedure
        regardless of calling context (inclusive sums would
        double-count ancestor chains).  Defaults to the elected
        family's ``:Sum (E)`` column.  One low-cardinality shuffle."""
        base_column = self._exclusive_column(base_column)
        return (self._df.groupBy("procedure")
                .agg(F.count(F.lit(1)).alias("n_nodes"),
                     F.sum(f"`{base_column}`").alias(base_column),
                     F.max(F.size("callpath")).alias("max_depth")))

    def callers_view(self, base_column: str | None = None) -> DataFrame:
        """hpcviewer CALLERS VIEW: exclusive metric attributed to each
        (caller procedure, callee procedure) edge — parent resolved by
        a self-join on the second-to-last callpath element."""
        base_column = self._exclusive_column(base_column)
        depth = F.size("callpath")
        x = self._df.select(
            "id", F.col("procedure"),
            F.when(depth >= 2, F.try_element_at("callpath", F.lit(-2)))
            .when(depth == 1, F.lit(-1))
            .otherwise(F.lit(None)).cast("long").alias("__parent_id"),
            F.col(f"`{base_column}`").alias("__v"))
        parents = x.select(F.col("id").alias("__p_id"),
                           F.col("procedure").alias("caller"))
        return (x.join(parents, F.col("__parent_id") == F.col("__p_id"),
                       "left")
                .groupBy("caller", F.col("procedure").alias("callee"))
                .agg(F.count(F.lit(1)).alias("n_sites"),
                     F.sum("__v").alias(base_column)))
