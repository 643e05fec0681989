"""Column expressions over the CCT's ``callpath: array<long>`` column.

The reference materializes each CCT node's root-to-node id path as a
Python tuple (hpctoolkit_dataframe/hpctoolkit_dataframe.py:283) and
filters with row-at-a-time ``apply`` predicates (:79-128, :391-401).
Here every predicate is a native Spark ``Column`` expression so it stays
inside whole-stage codegen and is eligible for pushdown — no UDFs.

The path helpers (``parent_path``, ``has_prefix``, ``has_suffix``,
``contains_fragment``) read the column named ``callpath``, the name the
flattened CCT always uses (operators/cct.py); there is no override.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def parent_path() -> Column:
    """callpath[:-1] (hpctoolkit_dataframe.py:369). Root's parent is []."""
    c = F.col("callpath")
    return F.slice(c, 1, F.greatest(F.size(c) - 1, F.lit(0)))


def path_key(callpath: Column | str = "callpath") -> Column:
    """Compact 8-byte join key for a callpath array.

    Joining on ``xxhash64(array)`` instead of the raw array keeps shuffle
    keys fixed-width at scale; callers should additionally compare the
    arrays themselves to guard against hash collisions.
    """
    return F.xxhash64(callpath)


def _longs(items: Sequence[int]) -> str:
    return "array(" + ",".join(f"{int(x)}L" for x in items) + ")"


def has_prefix(prefix: Sequence[int]) -> Column:
    """callpath[:len(prefix)] == prefix — reference _callpath_filter
    (hpctoolkit_dataframe.py:88-89). Empty prefix passes everything.

    Built as ONE ``F.expr`` (a single Py4J round trip, parsed JVM-side)
    instead of 2+2L driver-side Column constructions: a driver-side
    descent that called this once per depth spent ~0.4 s of the
    xml_load_hot_path floor on that Py4J chatter (r7 profile)."""
    if not prefix:
        return F.lit(True)
    n = len(prefix)
    return F.expr(f"size(callpath) >= {n} "
                  f"AND slice(callpath, 1, {n}) = {_longs(prefix)}")


def has_suffix(suffix: Sequence[int]) -> Column:
    """callpath[-len(suffix):] == suffix — reference _callpath_filter
    (hpctoolkit_dataframe.py:90-91). Empty suffix passes everything."""
    if not suffix:
        return F.lit(True)
    n = len(suffix)
    return F.expr(f"size(callpath) >= {n} "
                  f"AND slice(callpath, -{n}, {n}) = {_longs(suffix)}")


def contains_fragment(fragment: Sequence[int]) -> Column:
    """``fragment`` appears as a CONTIGUOUS subsequence anywhere in the
    callpath — the semantics the reference's ``at_paths(*fragments)``
    declares but never implemented (hpctoolkit_dataframe.py:82-86, the
    commented-out assert block).  Empty fragment passes everything.

    JVM-side: one ``exists`` over the valid start offsets comparing an
    array slice — no explode, no UDF.  The offset sequence is guarded
    (sequence(1, 0) would generate a DESCENDING [1, 0] under ANSI)."""
    if not fragment:
        return F.lit(True)
    c = F.col("callpath")
    m = len(fragment)
    lits = F.array(*[F.lit(int(x)).cast("bigint") for x in fragment])
    return F.when(
        F.size(c) >= m,
        F.exists(F.sequence(F.lit(1), F.size(c) - m + 1),
                 lambda j: F.slice(c, j, m) == lits)
    ).otherwise(F.lit(False))


def _fullmatch_or_eq(element: Column, item) -> Column:
    """One item of a str-or-regex sequence pattern: compiled regexes use
    fullmatch semantics (reference :110-111), plain strings use equality."""
    import re as _re

    if isinstance(item, _re.Pattern):
        # always wrap: a pattern like '^foo' (anchored one side only)
        # must still get fullmatch semantics, and double anchoring is
        # harmless (ADVICE r1).  Caveat: the pattern is evaluated by
        # Java's regex engine; Python-only syntax ((?P<name>), \\A/\\Z
        # differences, inline flags placement) is not translated.
        return element.rlike("^(?:" + item.pattern + ")$")
    return element == F.lit(item)


def sequence_matches(
    column: Column | str,
    *fragments,
    prefix: Sequence = (),
    suffix: Sequence = (),
) -> Column:
    """Prefix/suffix match over a sequence-valued column where items are
    exact strings or compiled regexes.

    Spark realization of the reference's latent (defined, never called)
    ``_str_or_regex_sequence_filter`` (hpctoolkit_dataframe.py:95-120),
    including its NotImplementedError for arbitrary fragments (:100-102).
    """
    if fragments:
        raise NotImplementedError(
            'filtering by arbitrary fragment "{}" not supported'.format(fragments))
    c = F.col(column) if isinstance(column, str) else column
    cond = F.lit(True)
    # try_element_at: out-of-bounds yields NULL (-> predicate false)
    # instead of throwing under ANSI mode; & does not short-circuit the
    # size guard per-row
    if prefix:
        cond = cond & (F.size(c) >= len(prefix))
        for i, item in enumerate(prefix):
            cond = cond & _fullmatch_or_eq(
                F.try_element_at(c, F.lit(i + 1)), item)
    if suffix:
        cond = cond & (F.size(c) >= len(suffix))
        for i, item in enumerate(suffix):
            cond = cond & _fullmatch_or_eq(
                F.try_element_at(c, F.lit(-(len(suffix) - i))), item)
    return cond
