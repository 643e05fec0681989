"""CCT (calling-context-tree) operators, Spark-first.

Every operator here re-expresses a capability of the reference
(hpctoolkit_dataframe/hpctoolkit_dataframe.py) as declarative DataFrame
transformations so Catalyst can prune/push/reorder, instead of the
reference's row-at-a-time ``apply``/``iterrows`` loops.

Expected input shape (the flattened CCT — the reference flattens the
tree exactly this way at ingest, hpctoolkit_dataframe.py:233-289):

- ``id: bigint``          unique node id (root = -1 by convention)
- ``callpath: array<bigint>``  root-to-node ids, root = [].  Every
  operator here reads the column by this name; there is no override
- zero or more metric columns
- optional partition columns (e.g. ``profile_id``) so many experiments
  coexist in one DataFrame — everything here is per-profile when
  ``partition_cols`` is given, which is what makes the operators scale:
  at 100 TB the data is millions of independent ~10^4-row trees, and all
  joins/windows key on (profile, path) so no global shuffle hotspot.

The ratio-of-parent walk-up (:func:`with_ratio_of_parent`) depends on
this contract: it addresses a node's depth-k ancestor by the key
(partition, k, callpath[k]), which names exactly one row only while
``id`` is unique per partition and ``callpath`` lists those ids.  Two
rows on one key raise an error at the action.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import callpath as cp

# ---------------------------------------------------------------------------
# filters (reference at_paths/at_depths/at_depth, :391-401)
# ---------------------------------------------------------------------------

def at_paths(
    df: DataFrame,
    *fragments: Sequence[int],
    prefix: Sequence[int] = (),
    suffix: Sequence[int] = (),
) -> DataFrame:
    """Rows whose callpath starts with ``prefix`` and/or ends with ``suffix``.

    Reference: hpctoolkit_dataframe.py:391-393 (predicate :79-92).
    Arbitrary ``fragments`` raise NotImplementedError exactly like the
    reference (:82-84) — part of the behavioral surface.
    """
    if fragments:
        raise NotImplementedError(
            'filtering by arbitrary fragment "{}" not supported'.format(fragments))
    return df.filter(cp.has_prefix(prefix) & cp.has_suffix(suffix))


def at_path_fragments(
    df: DataFrame,
    *fragments: Sequence[int],
) -> DataFrame:
    """Rows whose callpath contains EVERY fragment as a contiguous
    subsequence — the completion of the surface ``at_paths`` declares
    and (matching the reference, :82-84) refuses: the reference's
    commented-out implementation sketch (:85-92) names exactly this
    semantics, so it lives here as a separate extension rather than
    changing at_paths' pinned NotImplementedError behavior."""
    cond = F.lit(True)
    for frag in fragments:
        cond = cond & cp.contains_fragment(frag)
    return df.filter(cond)


def at_depths(
    df: DataFrame,
    min_depth: int | None = None,
    max_depth: int | None = None,
) -> DataFrame:
    """min_depth <= len(callpath) <= max_depth (either bound optional).

    Reference: hpctoolkit_dataframe.py:395-398 (predicate :123-128).
    """
    cond = F.lit(True)
    if min_depth is not None:
        cond = cond & (F.size("callpath") >= min_depth)
    if max_depth is not None:
        cond = cond & (F.size("callpath") <= max_depth)
    return df.filter(cond)


def at_depth(df: DataFrame, depth: int) -> DataFrame:
    """Reference: hpctoolkit_dataframe.py:400-401."""
    return at_depths(df, depth, depth)


# ---------------------------------------------------------------------------
# ratio columns (reference add_ratio_column, :340-385)
# ---------------------------------------------------------------------------

def _root_values(
    df: DataFrame, base_column: str, partition_cols: Sequence[str]
) -> DataFrame:
    return (
        df.filter(F.size("callpath") == 0)
        .select(*partition_cols, F.col(base_column).alias("__root_value"))
    )


def with_ratio_of_total(
    df: DataFrame,
    base_column: str,
    column_name: str | None = None,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """value / value-at-root, per partition (profile).

    Reference: hpctoolkit_dataframe.py:356-359 — a scalar broadcast of the
    root row's value.  Spark plan: broadcast join of the (one row per
    profile) root table; no window over a global partition, so it scales
    to any number of profiles.
    """
    column_name = column_name or f"{base_column} ratio of total"
    roots = F.broadcast(_root_values(df, base_column, partition_cols))
    joined = (
        df.join(roots, on=list(partition_cols), how="left")
        if partition_cols else df.crossJoin(roots)
    )
    return joined.withColumn(
        column_name,
        # try_divide: a zero-valued root yields NULL, not an ANSI error
        F.try_divide(F.col(base_column).cast("double"),
                     F.col("__root_value").cast("double")),
    ).drop("__root_value")


def ancestor_ratio_columns(
    value: Column, ancestor_value, depth: Column,
) -> tuple[Column, Column]:
    """(ratio of total, ratio of parent) for rows that carry their
    ancestors' values — the loader's walk-up, with no join.

    ``ancestor_value(k)`` returns the value at the row's depth-k ancestor
    for an int Column ``k`` (0 = the root); it is only called with
    0 <= k < ``depth``, the row's callpath length.  Same rule as
    :func:`with_ratio_of_parent`: the deepest ancestor whose value is
    >= ``value`` or NULL stops the walk, else the root; the root row
    resolves to itself.  Per row this is one interpreted ``aggregate``
    over ``depth`` indices.
    """
    stop = F.aggregate(
        F.sequence(F.lit(0), depth - 1), F.lit(0),
        lambda j, k: F.when(
            F.coalesce(ancestor_value(k) >= value, F.lit(True)), k)
        .otherwise(j))
    is_root = depth == 0
    own = F.try_divide(value, value)
    return (
        F.when(is_root, own)
        .otherwise(F.try_divide(value, ancestor_value(F.lit(0)))),
        F.when(is_root, own)
        .otherwise(F.try_divide(value, ancestor_value(stop))),
    )


def with_ratio_of_parent(
    df: DataFrame,
    base_column: str,
    column_name: str | None = None,
    partition_cols: Sequence[str] = (),
    carry_cols: Sequence[str] | None = None,
    monotone: bool = False,
) -> DataFrame:
    """value / nearest-ancestor-value, with the reference's walk-up rule.

    Reference semantics (hpctoolkit_dataframe.py:360-384): starting at the
    parent, walk up the callpath until an ancestor's value >= own value;
    if no ancestor qualifies the walk terminates at the root, which is
    used regardless.  The root row itself resolves to itself (ratio 1.0).
    A NULL ancestor value stops the walk too (the reference's NaN:
    ``NaN < x`` is False).  Division is ``try_divide``: a zero or NULL
    base yields NULL, where the reference would raise or yield NaN.

    Two plans:

    - ``monotone=True`` — caller-asserted: ``base_column`` never
      decreases up the tree (e.g. a rollup SUM of non-negative leaves),
      so every parent stops the walk.  The plan is one slim parent
      self-join on the parent path; no explode, no aggregate.  A parent
      whose value is below its child's breaks that promise and raises
      at the action.
    - otherwise, the ancestor explode: a depth-d node explodes into its
      d ancestors (the root into itself), each addressed by the BIGINT
      pair (depth k, callpath[k]); the root is matched as depth 0 on
      both sides, whatever its id.  The exploded rows join the node
      table on (partition, depth, id), the ancestors that stop the walk
      are kept, and a ``max_by`` aggregate picks the deepest.  The
      explode factor is the tree depth and every key includes the
      partition, so the work stays proportional and co-partitioned.
      This relies on the module's input contract (``id`` unique per
      partition, ``callpath[k]`` the depth-k ancestor's id).  The node
      table is aggregated on its join key — the join hash-partitions on
      that key anyway, so this adds no exchange — and a key held by more
      than one row raises at the action instead of feeding duplicate
      ancestors into ``max_by``.

    The input is read by up to three plan branches (the node table, the
    explode or child side, and the join-back), so cache an expensive
    input before the call; building the plan starts no Spark job.
    Neither join carries a hint: AQE broadcasts a small side at
    runtime, else Spark plans a sort-merge join, which spills.

    ``carry_cols``: when given, the result holds ONLY
    (partition_cols, id, *carry_cols, ratio); the carried columns ride
    through as grouping keys and the join-back of the full input frame
    is skipped (include ``base_column`` if its original-typed value is
    wanted).  Otherwise the result is the input's columns plus the ratio.
    """
    column_name = column_name or f"{base_column} ratio of parent"
    pc = list(partition_cols)

    if monotone:
        # caller-asserted: base_column is monotone NON-DECREASING up
        # the tree (e.g. a rollup SUM of non-negative leaves), so every
        # immediate parent satisfies the reference's `base >= value`
        # stop rule and the walk provably terminates after ONE step.
        # The ancestor explode (|df| x depth rows) collapses to a plain
        # parent self-join of |df| rows — at 10x scale this was the
        # difference between 26 s and ~4 s for cct_ratio_of_parent,
        # whose oracle remains the FULL walk-up SQL, so the claimed
        # equivalence is hash-checked at two scale factors.  Root joins
        # its own empty path -> ratio 1.0, exactly the walk-up result.
        # The joined row holds both values, so the assertion is checked
        # there at no extra stage: a parent below its child would not
        # stop the walk, and the one-step ratio would be wrong.  A NaN
        # child stops every walk (the reference's `x < NaN` is False).
        out_cols = ([*pc, "id", *carry_cols] if carry_cols is not None
                    else list(df.columns))
        child = df.select(
            *out_cols,
            F.col(base_column).cast("double").alias("__cv"),
            cp.parent_path().alias("__ppath"),
        ).withColumn("__pkey", cp.path_key("__ppath"))
        nodes = df.select(
            *[F.col(c).alias(f"__n_{c}") for c in pc],
            F.col("callpath").alias("__path"),
            F.col(base_column).cast("double").alias("__value"),
        ).withColumn("__path_key", cp.path_key("__path"))
        joined = child.join(
            nodes,
            on=[F.col(c) == F.col(f"__n_{c}") for c in pc]
            + [F.col("__pkey") == F.col("__path_key"),
               F.col("__ppath") == F.col("__path")],
            how="left",
        )
        bad = (F.col("__value") < F.col("__cv")) & ~F.isnan("__cv")
        return joined.select(
            *[child[c] for c in out_cols],
            F.when(bad, F.raise_error(F.format_string(
                "with_ratio_of_parent(monotone=True): node %d has value %s "
                "but its parent %s; base_column must not decrease up the "
                "tree", "id", "__cv", "__value")))
            .otherwise(F.try_divide(F.col("__cv"), F.col("__value")))
            .alias(column_name))

    # ancestor depths 0..d-1 of a depth-d node; the root (d=0) explodes
    # to its own depth 0 so root/root = 1.0 like the reference
    # (:369-374).  Only (partition, id, value, ancestor key) travel
    # through the explode + shuffle; the wide columns join back at the
    # very end.  A depth-0 key's id is the constant 0 on both sides.
    carry = list(carry_cols) if carry_cols is not None else []
    depth = F.col("__anc_depth")
    exploded = df.select(
        *pc, "id", *carry,
        F.col(base_column).cast("double").alias("__cv"),
        F.col("callpath").alias("__cp"),
        F.explode(F.sequence(
            F.lit(0), F.greatest(F.size("callpath") - 1, F.lit(0))
        )).alias("__anc_depth"),
    ).select(
        *pc, "id", *carry, "__cv", "__anc_depth",
        F.when(depth == 0, F.lit(0).cast("long"))
        .otherwise(F.try_element_at("__cp", depth.cast("int")))
        .alias("__anc_id"),
    )
    # right side gets renamed columns: self-joins on same-lineage frames
    # otherwise resolve both sides to one attribute (trivially-true join).
    # Grouping on the join key reuses the join's exchange; a key held by
    # more than one row breaks the input contract and raises at the action.
    node_keys = [*[f"__n_{c}" for c in pc], "__n_depth", "__n_id"]
    nodes = df.select(
        *[F.col(c).alias(f"__n_{c}") for c in pc],
        F.size("callpath").alias("__n_depth"),
        F.when(F.size("callpath") == 0, F.lit(0).cast("long"))
        .otherwise(F.col("id")).alias("__n_id"),
        F.col(base_column).cast("double").alias("__value"),
    ).groupBy(*node_keys).agg(
        F.count(F.lit(1)).alias("__rows"),
        F.any_value("__value").alias("__value"),
    ).select(
        *node_keys,
        F.when(F.col("__rows") > 1, F.raise_error(F.format_string(
            "with_ratio_of_parent: %d rows share depth %d and id %d in "
            "one partition; the walk-up needs id unique per partition",
            "__rows", "__n_depth", "__n_id")))
        .otherwise(F.col("__value")).alias("__value"),
    )
    joined = exploded.join(
        nodes,
        on=[F.col(c) == F.col(f"__n_{c}") for c in pc]
        + [depth == F.col("__n_depth"), F.col("__anc_id") == F.col("__n_id")],
        how="inner",
    ).select(
        *[exploded[c] for c in (*pc, "id", *carry, "__cv", "__anc_depth")],
        F.col("__value").alias("__anc_value"),
    )

    # an ancestor stops the walk when NOT (base < value): base >= value,
    # base NULL (the reference's NaN: `NaN < x` is False, ratio NaN), or
    # the root.  The first stopper in walk-up order is the DEEPEST one.
    qualifying = joined.filter(
        (F.col("__anc_value") >= F.col("__cv"))
        | F.col("__anc_value").isNull()
        | (depth == 0)
    )
    # max_by, not max(struct): a struct aggregation buffer is not
    # hash-aggregable, so max(struct) planned as a SortAggregate that
    # sorted the full exploded join output twice.  Each group's
    # qualifying rows have DISTINCT __anc_depth (the node table holds one
    # row per key), so max_by has no ties to resolve, and Spark 4's
    # max_by returns the value AT the max ordering even when that value
    # is NULL (the NULL-at-deepest-stopper case; pinned in
    # tests/test_cct_ops.py::test_deepest_aggregate_maxby_semantics).
    deepest = F.max_by(F.col("__anc_value"), depth)
    ratio = F.try_divide(F.col("__cv"), F.col("__base"))
    if carry_cols is not None:
        # slim path: group keys carry the output columns, no join-back
        agg = (
            qualifying.groupBy(*pc, "id", *carry, "__cv")
            .agg(deepest.alias("__base"))
        )
        return agg.select(*pc, "id", *carry, ratio.alias(column_name))
    agg = qualifying.groupBy(*pc, "id").agg(deepest.alias("__base"))
    out = df.join(agg, on=[*pc, "id"], how="left")
    return out.withColumn(
        column_name,
        F.try_divide(F.col(base_column).cast("double"), F.col("__base")),
    ).drop("__base")


# ---------------------------------------------------------------------------
# hot path (reference hot_path, :403-428)
# ---------------------------------------------------------------------------

def hot_path(
    df: DataFrame,
    base_column: str,
    callpath: Sequence[int] = (),
    threshold: float = 0.05,
    max_iters: int = 64,
) -> DataFrame:
    """Greedy hottest-descendant chain.

    Reference semantics (hpctoolkit_dataframe.py:403-428): starting from
    ``callpath``, repeatedly append the current path, descend to the
    child with the max ``base_column`` value, and stop when there are no
    children or the hottest child's value drops below ``threshold`` (the
    below-threshold child is NOT included; the starting path always is).
    At most ``max_iters`` paths are appended.  The whole frame is one
    tree: this is :func:`hot_paths` from ``callpath``, which documents
    the plan and the rules for ties, NULLs and the anchor.
    """
    return hot_paths(df, base_column, threshold=threshold,
                     max_depth=len(callpath) + max_iters - 1, start=callpath)


def hot_paths(
    df: DataFrame,
    base_column: str,
    partition_cols: Sequence[str] = (),
    threshold: float = 0.05,
    max_depth: int = 64,
    start: Sequence[int] = (),
) -> DataFrame:
    """Greedy hot-path chain of EVERY partition (profile), from the
    ``start`` path (the root by default) down to at most ``max_depth``:
    :func:`hot_path`'s semantics per partition, as one lazy plan.  The
    call starts no Spark job; the result runs as one action that reads
    ``df`` once, and its rows (``df``'s columns) come out in depth order.

    1. The rows under ``start`` are ranked by :func:`hot_edges`: one
       window per (partition, depth, parent id), hottest first, ties on
       the smallest id, NULL values last.
    2. Kept: the anchor (the ``start`` row, alone in its window) and
       every rank-1 child whose value is ``>= threshold``.  A NULL never
       clears the threshold, so a NULL hottest child stops the walk.
    3. The kept rows are collected per partition, sorted by depth, and
       walked once by ``aggregate`` from the anchor: a row extends the
       chain iff it is one level below the chain's tail and its parent
       id is the tail's.  The root is the parent of the depth-1 rows by
       depth; its own id is never read.  A partition without its anchor
       row yields nothing.
    4. The chain's rows are ``inline``d back out.

    With ``partition_cols``, the rows are repartitioned on them once, so
    the window and the group share one exchange.  A partition's group
    holds at most one row per internal node under ``start``, the bound
    reached at threshold 0; at a useful threshold it holds the few
    nodes with at least that value.
    """
    pc = list(partition_cols)
    anchor = len(start)
    depth = F.size("callpath")
    rows = df.filter((depth >= anchor) & (depth <= max_depth)
                     & cp.has_prefix(start))
    if pc:
        rows = rows.repartition(*pc)
    kept = hot_edges(rows, base_column, pc).filter(
        (F.col("__rank") == 1)
        & ((depth == anchor) | (F.col(base_column) >= threshold)))
    node = F.struct(
        depth.alias("d"), _parent_id().alias("p"),
        F.when(depth > 0, F.element_at("callpath", -1)).cast("long")
        .alias("t"),
        F.struct(*[F.col(f"`{c}`") for c in df.columns]).alias("row"))

    def step(chain, n):
        links = (n["d"] == anchor) | (
            (n["d"] == chain["d"] + 1) & n["p"].eqNullSafe(chain["t"]))
        return F.when(links, F.struct(
            n["d"].alias("d"), n["t"].alias("t"),
            F.concat(chain["nodes"], F.array(n)).alias("nodes"),
        )).otherwise(chain)

    levels = F.array_sort(F.collect_list(node), lambda a, b: a["d"] - b["d"])
    walk = F.aggregate("__levels", F.struct(
        F.lit(-1).alias("d"), F.lit(None).cast("long").alias("t"),
        F.slice("__levels", 1, 0).alias("nodes")), step)
    return (kept.groupBy(*pc).agg(levels.alias("__levels")).select(
        F.inline(F.transform(walk["nodes"], lambda n: n["row"]))))


def _parent_id() -> Column:
    """The parent's id from the callpath: NULL for the root's children
    (and the root), so the root is matched by depth, whatever its id."""
    return F.when(F.size("callpath") > 1,
                  F.element_at("callpath", -2)).cast("long")


def hot_edges(
    df: DataFrame,
    base_column: str,
    partition_cols: Sequence[str] = (),
    parent_id_col: str | None = None,
) -> DataFrame:
    """Rank-1 child per parent: df's columns plus ``__rank`` = 1 for the
    hottest child of each parent (ties by id, NULL values last).

    Without ``parent_id_col`` the window is keyed by (partition, depth,
    parent id from the callpath), so the root ranks alone; this is the
    ranking :func:`hot_paths` walks.
    """
    keys = ([F.col(parent_id_col)] if parent_id_col
            else [F.size("callpath"), _parent_id()])
    w = Window.partitionBy(*partition_cols, *keys).orderBy(
        F.col(base_column).desc(), F.col("id").asc())
    return df.withColumn("__rank", F.row_number().over(w))


# ---------------------------------------------------------------------------
# compact projection (reference :387-389)
# ---------------------------------------------------------------------------

def compact(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Select the 'meaningful' columns (reference compact, :387-389)."""
    return df.select(*columns)


# ---------------------------------------------------------------------------
# multi-profile merge (engine extension; combine formulas, SURVEY §2.4 A1)
# ---------------------------------------------------------------------------

def merge_profiles(
    df: DataFrame,
    metric_combines: dict[str, str],
    location_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge many profiles into one aggregate CCT.

    ``metric_combines`` maps metric column name -> 'sum' | 'min' | 'max'
    (from the MetricTable's combine formulas, which the reference parses
    but never uses, hpctoolkit_dataframe.py:69-70 — it is strictly
    single-profile).  Nodes are identified by their callpath; location
    columns are invariant per callpath, so they ride as EXTRA GROUP
    KEYS (r13): an ``any_value``/``first`` aggregate holds a var-width
    buffer for string columns, which is not hash-aggregable and forced
    the whole merge into a SortAggregate — sorting every profile row by
    callpath twice (partial + final).  As group keys they cost nothing
    (same groups under the invariance contract) and the merge plans as
    a codegen HashAggregate; determinism improves too (no arbitrary
    pick).  One shuffle, hashed on the callpath AND the location
    columns; aggregation is partial map-side.  Nothing checks the
    invariance contract: a callpath whose profiles disagree on a
    location column comes out as one row per distinct location tuple
    (duplicate callpath rows), not as one row with an arbitrary pick.
    """
    aggs = []
    for metric, kind in metric_combines.items():
        fn = {"sum": F.sum, "min": F.min, "max": F.max}[kind]
        aggs.append(fn(F.col(f"`{metric}`")).alias(metric))
    aggs.append(F.count(F.lit(1)).alias("n_profiles"))
    return df.groupBy("callpath",
                      *[F.col(f"`{c}`") for c in location_cols]).agg(*aggs)
