"""CCT domain operators demonstrated over the testdata's natural tree.

The reference's data model is a calling-context tree with per-node
metrics (SURVEY.md §1).  The driver's synthetic star schema contains a
natural 5-level tree — region > nation > customer > order > lineitem —
so every CCT operator (ratio-of-total/parent, depth & path filters,
hot-path descent; reference hpctoolkit_dataframe.py:340-428) gets a
DuckDB-checkable oracle here, built from the same parquet inputs.

The whole tree materializes from ONE pass: a 5-key ROLLUP aggregate
(single shuffle with map-side partial aggregation) — each rollup level
IS a CCT depth.  Node "metric" is subtree revenue in exact scaled
integers (price-cents x discount-complement-cents), so sums are
order-independent and cross-engine value-hashes match exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..operators import cct as ops
from . import hash8_sql, load_table, register, session_memo

REGION_OFF = 1
NATION_OFF = 10
CUST_OFF = 1_000
ORDER_OFF = 10_000_000
LINE_OFF = 1_000_000_000

# ---------------------------------------------------------------------------
# shared CTE set for every oracle (DuckDB SQL mirror of build_cct)
# ---------------------------------------------------------------------------
# `cct` is AS MATERIALIZED: several oracles reference it 2-3 times
# (self-joins, scalar root subqueries) and DuckDB re-executes an
# inlined CTE per reference — at the 100x clone the 3 re-evaluations
# of this rollup in cct_hot_regions spilled >75 GB and ENOSPC'd two
# rounds running; one spool is ~linear in the tree size instead.
CCT_CTES = f"""
base AS (
  SELECT CAST(n.n_regionkey + {REGION_OFF} AS BIGINT) AS k1,
         CAST(n.n_nationkey + {NATION_OFF} AS BIGINT) AS k2,
         CAST(c.c_custkey + {CUST_OFF} AS BIGINT) AS k3,
         CAST(o.o_orderkey + {ORDER_OFF} AS BIGINT) AS k4,
         CAST({LINE_OFF} + o.o_orderkey * 10 + l.l_linenumber AS BIGINT) AS k5,
         CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
           * CAST(ROUND((1 - l.l_discount) * 100) AS BIGINT) AS v
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
rolled AS (
  SELECT k1, k2, k3, k4, k5,
         CAST(SUM(v) AS BIGINT) AS value,
         CAST(COUNT(*) AS BIGINT) AS leaves,
         CAST(GROUPING(k1)*16 + GROUPING(k2)*8 + GROUPING(k3)*4
            + GROUPING(k4)*2 + GROUPING(k5) AS BIGINT) AS gid
  FROM base
  GROUP BY ROLLUP (k1, k2, k3, k4, k5)
),
cct AS MATERIALIZED (
  SELECT CASE gid WHEN 0 THEN 5 WHEN 1 THEN 4 WHEN 3 THEN 3
                  WHEN 7 THEN 2 WHEN 15 THEN 1 ELSE 0 END AS depth,
         CASE gid WHEN 0 THEN k5 WHEN 1 THEN k4 WHEN 3 THEN k3
                  WHEN 7 THEN k2 WHEN 15 THEN k1 ELSE -1 END AS id,
         CASE gid WHEN 0 THEN k4 WHEN 1 THEN k3 WHEN 3 THEN k2
                  WHEN 7 THEN k1 WHEN 15 THEN -1
                  ELSE CAST(NULL AS BIGINT) END AS parent_id,
         CASE gid WHEN 0 THEN [k1, k2, k3, k4, k5]
                  WHEN 1 THEN [k1, k2, k3, k4]
                  WHEN 3 THEN [k1, k2, k3]
                  WHEN 7 THEN [k1, k2]
                  WHEN 15 THEN [k1]
                  ELSE CAST([] AS BIGINT[]) END AS path,
         CASE gid WHEN 0 THEN 'lineitem' WHEN 1 THEN 'order'
                  WHEN 3 THEN 'customer' WHEN 7 THEN 'nation'
                  WHEN 15 THEN 'region' ELSE 'root' END AS type,
         value, leaves
  FROM rolled
)"""


_CCT_CACHE: dict = {}


def build_cct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shuffle CCT materialization via 5-key rollup.

    Scale notes: the only wide exchange is lineitem |><| orders on the
    order key (co-partitioned, AQE-skew-handled); customer/nation are
    broadcast-eligible; the rollup aggregates partially map-side, so the
    shuffled volume is already collapsed per grouping set.

    The materialized tree (~620k rows / ~50 MB at sf0.1) is memoized per
    (session, sf_dir) as an eager localCheckpoint — every CCT query
    shares one build, exactly like a materialized view a real
    deployment would maintain, refreshed when a file under ``sf_dir``
    changes (``memo.session_memo``).
    """
    return session_memo(_CCT_CACHE, spark, sf_dir, build=lambda: (
        build_cct_plan(spark, sf_dir)
        .repartition(_cct_checkpoint_partitions(spark, sf_dir))
        .localCheckpoint(eager=True)))


def _cct_checkpoint_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Partition count for the materialized tree, scaled by INPUT size.

    A flat defaultParallelism (32) put ~1.9M CCT rows (~250 MB
    deserialized) in each checkpoint partition at the 100x clone, and
    32 tasks caching that concurrently OOM'd the 8 GiB heap (r9 100x
    walk-up probe).  CCT rows ~= lineitem rows, so size off the
    lineitem parquet bytes (~18 B/row on disk): one partition per 8 MB
    of input keeps the deserialized partition near 60 MB.  sf0.1 and
    the 10x clone stay at defaultParallelism (the floor), so nothing
    below 100x changes."""
    import os

    try:
        p = f"{sf_dir}/lineitem.parquet"
        if os.path.isdir(p):
            nbytes = sum(os.path.getsize(os.path.join(p, f))
                         for f in os.listdir(p) if f.endswith(".parquet"))
        else:
            nbytes = os.path.getsize(p)
    except OSError:
        nbytes = 0  # non-local storage: fall back to the floor
    return min(1024, max(spark.sparkContext.defaultParallelism,
                         nbytes // (8 << 20)))


def _leaf_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per lineitem: its root-to-leaf keys ``k1..k5`` (region >
    nation > customer > order > lineitem, offset so the levels' ids never
    collide), its revenue ``v`` and its ``l_returnflag``.  The mirror of
    the oracles' lineitem|><|orders|><|customer|><|nation join."""
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            (F.col("n_regionkey").cast("long") + REGION_OFF).alias("k1"),
            (F.col("n_nationkey").cast("long") + NATION_OFF).alias("k2"),
            (F.col("c_custkey").cast("long") + CUST_OFF).alias("k3"),
            (F.col("o_orderkey").cast("long") + ORDER_OFF).alias("k4"),
            (F.lit(LINE_OFF) + F.col("o_orderkey") * 10
             + F.col("l_linenumber").cast("long")).alias("k5"),
            (F.round(F.col("l_extendedprice") * 100).cast("long")
             * F.round((1 - F.col("l_discount")) * 100).cast("long")).alias("v"),
            "l_returnflag",
        )
    )


_TYPES = ("root", "region", "nation", "customer", "order", "lineitem")


def _node(levels: int) -> dict[str, Column]:
    """The node columns (``id``, ``parent_id``, ``depth``, ``type``,
    ``callpath``) of a rollup row over ``k1..k{levels}``, from its
    ``gid``: a depth-d row has gid = 2^(levels-d) - 1, and the grand
    total is the root (id -1, no parent, empty callpath) — the CASE
    ladder of the oracles' ``cct`` CTE."""
    gid = F.col("gid")

    def by_depth(at, root):
        col = F.when(gid == 0, at(levels))
        for d in range(levels - 1, 0, -1):
            col = col.when(gid == (1 << (levels - d)) - 1, at(d))
        return col.otherwise(root)

    def k(d):
        return F.col(f"k{d}")

    return {
        "id": by_depth(k, F.lit(-1)).cast("long").alias("id"),
        "parent_id": by_depth(lambda d: k(d - 1) if d > 1 else F.lit(-1),
                              F.lit(None)).cast("long").alias("parent_id"),
        "depth": by_depth(F.lit, F.lit(0)).cast("long").alias("depth"),
        "type": by_depth(lambda d: F.lit(_TYPES[d]), F.lit("root"))
        .alias("type"),
        "callpath": by_depth(lambda d: F.array(*map(k, range(1, d + 1))),
                             F.array().cast("array<long>")).alias("callpath"),
    }


def build_cct_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-materialized build plan (for plan inspection/tests)."""
    rolled = _leaf_rows(spark, sf_dir).rollup(
        "k1", "k2", "k3", "k4", "k5").agg(
        F.sum("v").alias("value"),
        F.count(F.lit(1)).alias("leaves"),
        F.grouping_id().alias("gid"),
    )
    node = _node(5)
    return rolled.select(
        *(node[c] for c in ("id", "parent_id", "depth", "type", "callpath")),
        F.col("value").cast("long").alias("value"),
        F.col("leaves").cast("long").alias("leaves"),
    )


def _path_str() -> Column:
    return F.array_join(F.transform("callpath", lambda x: x.cast("string")), "/")


# COALESCE: DuckDB's array_to_string of an empty list yields NULL,
# Spark's array_join yields ''
_PATH_STR_SQL = "COALESCE(array_to_string(path, '/'), '')"


# ---------------------------------------------------------------------------
# S2/S3-analog: the tree materialization itself
# ---------------------------------------------------------------------------
@register("cct_nodes", sql=f"""WITH {CCT_CTES}
SELECT id, parent_id, depth, type, {_PATH_STR_SQL} AS path_s, value
FROM cct""",
          doc="flattened CCT build (reference ingest analog, SURVEY §2.1 S2/S3)")
def cct_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_cct(spark, sf_dir).select(
        "id", "parent_id", "depth", "type",
        _path_str().alias("path_s"), "value")


# ---------------------------------------------------------------------------
# A2: ratio of total (reference add_ratio_column 'total', :356-359)
# ---------------------------------------------------------------------------
@register("cct_ratio_of_total", sql=f"""WITH {CCT_CTES}
SELECT c.id, c.depth, c.value,
       CAST(c.value AS DOUBLE) / CAST(r.value AS DOUBLE) AS ratio
FROM cct c CROSS JOIN (SELECT value FROM cct WHERE depth = 0) r""",
          doc="ratio-of-total column (reference A2)")
def cct_ratio_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = ops.with_ratio_of_total(build_cct(spark, sf_dir), "value", "ratio")
    return df.select("id", "depth", "value", "ratio")


# ---------------------------------------------------------------------------
# A3: ratio of parent with walk-up (reference add_ratio_column 'parent')
# ---------------------------------------------------------------------------
_WALKUP_SQL = """
anc AS (
  -- ancestor lookup by (depth, id): a tree node's id is unique at its
  -- depth (each CASE branch of cct's id IS the node's own level key),
  -- so the depth-j ancestor of a node is exactly the node with
  -- depth = j and id = path[j] (root: depth 0, id -1).  This BIGINT
  -- equi-join replaces the former list-equality join on the full
  -- prefix (a.path = list_slice(path, 1, i)) — value-identical
  -- (row-exact at sf0.01/0.1 and the 10x skew clone) and ~3x faster:
  -- DuckDB hashes two ints instead of a variable-length list per
  -- probe, which is what let the skew-100x sweep row finish inside
  -- the chunk timeout (r9: timeout unadjudicated).
  SELECT x.id, x.mv, a.depth AS adepth, a.mv AS amv
  FROM (SELECT id, mv, path[CAST(i AS BIGINT)] AS aid,
               CAST(i AS BIGINT) AS adp
        FROM (SELECT id, mv, path, unnest(range(0, depth)) AS i
              FROM m WHERE depth > 0)) x
  JOIN m a ON a.depth = x.adp
       AND a.id = CASE WHEN x.adp = 0 THEN -1 ELSE x.aid END
  WHERE CAST(a.mv AS DOUBLE) >= CAST(x.mv AS DOUBLE) OR a.depth = 0
),
best AS (
  SELECT id, CAST(mv AS DOUBLE) / CAST(arg_max(amv, adepth) AS DOUBLE) AS ratio
  FROM anc GROUP BY id, mv
)"""

@register("cct_ratio_of_parent", sql=f"""WITH {CCT_CTES},
m AS (SELECT id, depth, path, value AS mv FROM cct),
{_WALKUP_SQL.lstrip()}
SELECT c.id, c.depth, c.value, COALESCE(b.ratio, 1.0) AS ratio
FROM cct c LEFT JOIN best b ON b.id = c.id""",
          doc="ratio-of-parent with ancestor walk-up (reference A3, :360-384)")
def cct_ratio_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    # value is the rollup SUM of positive leaf revenues -> monotone up
    # the tree, so the walk-up stops at the immediate parent; the
    # monotone hint collapses the ancestor explode to one parent join
    # while the oracle stays the FULL walk-up SQL (the equivalence is
    # what the hash check proves)
    df = ops.with_ratio_of_parent(build_cct(spark, sf_dir), "value", "ratio",
                                  carry_cols=("depth", "value"),
                                  monotone=True)
    return df.select("id", "depth", "value", "ratio")


@register("cct_ratio_of_parent_walkup", sql=f"""WITH {CCT_CTES},
m AS (SELECT id, depth, path,
             CAST(value AS DOUBLE) / CAST(leaves AS DOUBLE) AS mv FROM cct),
{_WALKUP_SQL.lstrip()}
SELECT c.id, c.depth,
       CAST(c.value AS DOUBLE) / CAST(c.leaves AS DOUBLE) AS avg_leaf,
       COALESCE(b.ratio, 1.0) AS ratio
FROM cct c LEFT JOIN best b ON b.id = c.id""",
          doc="walk-up on a NON-monotone metric — exercises the "
              "skip-smaller-ancestor branch (reference :368-371)")
def cct_ratio_of_parent_walkup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = build_cct(spark, sf_dir).withColumn(
        "avg_leaf", F.col("value").cast("double") / F.col("leaves").cast("double"))
    df = ops.with_ratio_of_parent(df, "avg_leaf", "ratio",
                                  carry_cols=("depth", "avg_leaf"))
    return df.select("id", "depth", "avg_leaf", "ratio")


# ---------------------------------------------------------------------------
# P3/P4/P5: path and depth filters
# ---------------------------------------------------------------------------
@register("cct_at_depth_3", sql=f"""WITH {CCT_CTES}
SELECT id, value, {_PATH_STR_SQL} AS path_s FROM cct WHERE depth = 3""",
          doc="exact-depth filter (reference P5 at_depth, :400-401)")
def cct_at_depth_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.at_depth(build_cct(spark, sf_dir), 3).select(
        "id", "value", _path_str().alias("path_s"))


@register("cct_depth_range_2_3", sql=f"""WITH {CCT_CTES}
SELECT id, depth, value FROM cct WHERE depth BETWEEN 2 AND 3""",
          doc="depth-range filter (reference P4 at_depths, :395-398)")
def cct_depth_range_2_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.at_depths(build_cct(spark, sf_dir), 2, 3).select(
        "id", "depth", "value")


@register("cct_prefix_subtree", sql=f"""WITH {CCT_CTES}
SELECT id, depth, value FROM cct
WHERE len(path) >= 1 AND path[1] = {REGION_OFF + 2}""",
          doc="callpath-prefix subtree filter (reference P3 at_paths prefix)")
def cct_prefix_subtree(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.at_paths(build_cct(spark, sf_dir),
                        prefix=(REGION_OFF + 2,)).select("id", "depth", "value")


@register("cct_fragment_filter", sql=f"""WITH {CCT_CTES}
SELECT id, depth, value FROM cct
WHERE len(path) >= 2 AND len(list_filter(
        range(1, len(path)),
        j -> path[j] = {REGION_OFF + 2} AND path[j + 1] = {NATION_OFF + 7}
      )) > 0""",
          doc="contiguous-fragment filter anywhere in the callpath — "
              "completes the surface reference at_paths declares but "
              "refuses (:82-86); fragment = (region 2, nation 7) pair")
def cct_fragment_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.at_path_fragments(
        build_cct(spark, sf_dir),
        (REGION_OFF + 2, NATION_OFF + 7)).select("id", "depth", "value")


@register("cct_suffix_filter", sql=f"""WITH {CCT_CTES}
SELECT id, depth, {_PATH_STR_SQL} AS path_s, value FROM cct
WHERE len(path) >= 1 AND path[len(path)] = {CUST_OFF + 42}""",
          doc="callpath-suffix filter (reference P3 at_paths suffix)")
def cct_suffix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.at_paths(build_cct(spark, sf_dir),
                        suffix=(CUST_OFF + 42,)).select(
        "id", "depth", _path_str().alias("path_s"), "value")


# ---------------------------------------------------------------------------
# A5-analog: hottest child per parent (max_by ranking; hot_edges operator)
# ---------------------------------------------------------------------------
@register("cct_hottest_child_per_parent", sql=f"""WITH {CCT_CTES}
SELECT parent_id, id AS child_id, value
FROM (SELECT parent_id, id, value,
             row_number() OVER (PARTITION BY parent_id
                                ORDER BY value DESC, id ASC) AS rk
      FROM cct WHERE depth > 0)
WHERE rk = 1""",
          doc="argmax child per parent (reference A5 idxmax / hot_edges)")
def cct_hottest_child_per_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = build_cct(spark, sf_dir)
    ranked = ops.hot_edges(df.filter(F.col("depth") > 0), "value",
                           parent_id_col="parent_id")
    return ranked.filter(F.col("__rank") == 1).select(
        "parent_id", F.col("id").alias("child_id"), "value")


# ---------------------------------------------------------------------------
# P8-analog: stride sampling (reference examples.ipynb df.compact[::200])
# ---------------------------------------------------------------------------
@register("cct_stride_sample", sql=f"""WITH {CCT_CTES}
SELECT id, depth, value
FROM (SELECT id, depth, value,
             row_number() OVER (ORDER BY id ASC) AS rn FROM cct)
WHERE (rn - 1) % 200 = 0""",
          doc="every-200th-row sample (reference P8 stride slicing)")
def cct_stride_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    df = build_cct(spark, sf_dir)
    # a global row_number needs a total order; id is unique so the window
    # is deterministic.  Project to 3 narrow columns BEFORE the window —
    # the single-partition exchange then moves ~24 bytes/row instead of
    # the wide rows with callpath arrays.  (Display-style op — the
    # reference only strides for notebook rendering, examples.ipynb
    # cell 2 — so the global window is acceptable here.)
    w = Window.orderBy(F.col("id").asc())
    return (
        df.select("id", "depth", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") - 1) % 200 == 0)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# P8 at fleet scale: hash-mod sampling — the stride sample above is a
# display-only notebook idiom (global single-partition window); this is
# the primitive to offer when users want "~1% of rows, deterministic,
# distributed": a narrow per-row predicate, no shuffle, no total order.
# md5 is the hash because it is identical in Spark and DuckDB.
# ---------------------------------------------------------------------------
_SAMPLE_MOD = 97
_HASH8_SQL = hash8_sql("CAST(id AS VARCHAR)")


@register("cct_sample_by_hash", sql=f"""WITH {CCT_CTES}
SELECT id, depth, value FROM cct
WHERE ({_HASH8_SQL}) % {_SAMPLE_MOD} = 0""",
          doc="deterministic ~1% hash-mod sample (scalable P8 variant)")
def cct_sample_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = build_cct(spark, sf_dir)
    bucket = F.conv(
        F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10
    ).cast("long") % _SAMPLE_MOD
    return df.select("id", "depth", "value").filter(bucket == 0)


# ---------------------------------------------------------------------------
# V1-analog: flame-graph widths as a checkable query.  Width = 2*pi x
# product of sibling-shares along the root-to-node chain; offsets are the
# intra-parent running sum.  Multiplication/addition order is fixed
# (root-down, id-ascending) so doubles match across engines bit-for-bit.
# ---------------------------------------------------------------------------
@register("cct_flame_widths", sql=f"""WITH RECURSIVE {CCT_CTES},
shares AS (
  SELECT c.id, c.parent_id, c.depth,
         CAST(c.value AS DOUBLE) /
           CAST(SUM(c.value) OVER (PARTITION BY c.parent_id) AS DOUBLE)
           AS share,
         SUM(CAST(c.value AS DOUBLE)) OVER (
           PARTITION BY c.parent_id ORDER BY c.id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS before_v,
         CAST(SUM(c.value) OVER (PARTITION BY c.parent_id) AS DOUBLE)
           AS sib_total
  FROM cct c WHERE c.depth >= 1 AND c.depth <= 3
),
geom AS (
  SELECT id, parent_id, depth,
         share * {2 * 3.141592653589793} AS width,
         COALESCE(before_v, 0.0) / sib_total * {2 * 3.141592653589793}
           AS x_offset
  FROM shares WHERE depth = 1
  UNION ALL
  SELECT s.id, s.parent_id, s.depth,
         s.share * g.width AS width,
         g.x_offset + COALESCE(s.before_v, 0.0) / s.sib_total * g.width
           AS x_offset
  FROM shares s JOIN geom g ON s.parent_id = g.id
)
SELECT id, depth, width, x_offset FROM geom""",
          doc="flame-graph geometry (reference V1 layout, :490-508)")
def cct_flame_widths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    df = build_cct(spark, sf_dir).filter(
        (F.col("depth") >= 1) & (F.col("depth") <= 3))
    wp = Window.partitionBy("parent_id")
    wo = wp.orderBy(F.col("id").asc()).rowsBetween(
        Window.unboundedPreceding, -1)
    shares = df.select(
        "id", "parent_id", "depth",
        (F.col("value").cast("double")
         / F.sum("value").over(wp).cast("double")).alias("share"),
        (F.coalesce(F.sum(F.col("value").cast("double")).over(wo), F.lit(0.0))
         / F.sum("value").over(wp).cast("double")).alias("before_frac"),
    ).localCheckpoint(eager=True)

    two_pi = 2 * 3.141592653589793
    level = shares.filter(F.col("depth") == 1).select(
        "id", "depth",
        (F.col("share") * two_pi).alias("width"),
        (F.col("before_frac") * two_pi).alias("x_offset"))
    out = level
    for d in (2, 3):
        parents = level.select(F.col("id").alias("pid"),
                               F.col("width").alias("pw"),
                               F.col("x_offset").alias("po"))
        level = (
            shares.filter(F.col("depth") == d)
            .join(F.broadcast(parents), F.col("parent_id") == F.col("pid"))
            .select("id", "depth",
                    (F.col("share") * F.col("pw")).alias("width"),
                    (F.col("po") + F.col("before_frac") * F.col("pw"))
                    .alias("x_offset"))
        )
        out = out.unionAll(level)
    return out.select("id", F.col("depth"), "width", "x_offset")


# ---------------------------------------------------------------------------
# O3: greedy hot-path descent (reference hot_path, :403-428)
# ---------------------------------------------------------------------------
HOT_THRESHOLD = 0.001

_HOT_PATH_SQL = f"""WITH RECURSIVE {CCT_CTES},
ranked AS (
  SELECT c.id, c.parent_id, c.depth, c.value,
         CAST(c.value AS DOUBLE) / CAST(r.value AS DOUBLE) AS ratio,
         row_number() OVER (PARTITION BY c.parent_id
                            ORDER BY c.value DESC, c.id ASC) AS rk
  FROM cct c CROSS JOIN (SELECT value FROM cct WHERE depth = 0) r
  WHERE c.depth > 0
),
hot AS (
  SELECT id, depth, value, CAST(1.0 AS DOUBLE) AS ratio
  FROM cct WHERE depth = 0
  UNION ALL
  SELECT r.id, r.depth, r.value, r.ratio
  FROM hot h JOIN ranked r
    ON r.parent_id = h.id AND r.rk = 1 AND r.ratio >= {HOT_THRESHOLD}
)
SELECT id, depth, value, ratio FROM hot"""


@register("cct_hot_path", sql=_HOT_PATH_SQL,
          doc="greedy hottest-descendant chain (reference O3 hot_path)")
def cct_hot_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = ops.with_ratio_of_total(build_cct(spark, sf_dir), "value", "ratio")
    chain = ops.hot_path(df, "ratio", threshold=HOT_THRESHOLD)
    return chain.select("id", "depth", "value", "ratio")


# same oracle as cct_hot_path — the fleet operator hot_path delegates to,
# called directly: the identical chain when the whole frame is one profile
@register("cct_hot_path_batch", sql=_HOT_PATH_SQL,
          doc="fleet-scale hot_paths variant under the same oracle")
def cct_hot_path_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = ops.with_ratio_of_total(build_cct(spark, sf_dir), "value", "ratio")
    chain = ops.hot_paths(df, "ratio", threshold=HOT_THRESHOLD)
    return chain.select("id", "depth", "value", "ratio")



# ---------------------------------------------------------------------------
# hot REGIONS: connected components of the CONCENTRATION subgraph.
# hot_path (reference O3) returns one greedy chain; this finds EVERY
# maximal connected run of concentration — nodes holding >= half their
# parent's cost (and >= 0.01% of total, to bound the output) — via
# operators/graph.py.  Inclusive cost itself is monotone down the tree,
# so thresholding raw value would always yield ONE root-anchored
# component; the ratio-of-parent criterion (reference A3's metric) is
# non-monotone and produces genuinely disjoint regions.  All-integer
# hotness tests keep the oracle comparison float-free, and they divide
# the KNOWN side instead of multiplying the tested side —
# ``value >= ceil(parent/2)`` / ``value >= ceil(total/10000)`` is
# integer-equivalent to ``value*2 >= parent`` / ``value*10000 >=
# total`` but cannot overflow: at the 10x clone the root total is
# ~3.0e15 cents, and *10000 blew past INT64 in DuckDB (and would hit
# Spark's ANSI overflow at a further 3x) — caught by the sf1 full
# oracle sweep.  Ceil-div on non-negative ints is engine-identical
# (DuckDB // floors, Spark div truncates).
# ---------------------------------------------------------------------------
@register("cct_hot_regions", sql=f"""WITH RECURSIVE {CCT_CTES},
hot AS (
  SELECT c.id, c.parent_id, c.value FROM cct c
  JOIN cct p ON c.parent_id = p.id
  WHERE c.value >= (p.value + 1) // 2
    AND c.value >= ((SELECT value FROM cct WHERE depth = 0) + 9999) // 10000
),
hedges AS (
  SELECT c.id AS s, c.parent_id AS d FROM hot c
  JOIN hot p ON p.id = c.parent_id
),
hboth AS (SELECT s, d FROM hedges UNION ALL SELECT d, s FROM hedges),
hreach(n, root) AS (
  SELECT s, s FROM hboth GROUP BY s
  UNION
  SELECT hboth.d, hreach.root FROM hreach
  JOIN hboth ON hboth.s = hreach.n
),
hlab AS (SELECT n AS id, CAST(MIN(root) AS BIGINT) AS region_id
         FROM hreach GROUP BY n),
labeled AS (
  SELECT h.id, COALESCE(l.region_id, h.id) AS region_id, h.value
  FROM hot h LEFT JOIN hlab l ON l.id = h.id)
SELECT id, region_id,
       CAST(COUNT(*) OVER (PARTITION BY region_id) AS BIGINT)
         AS region_size,
       CAST(SUM(value) OVER (PARTITION BY region_id) AS BIGINT)
         AS region_value
FROM labeled""",
          doc="all maximal concentration runs, not just the greedy chain")
def cct_hot_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.graph import connected_components

    cct = build_cct(spark, sf_dir)
    total = cct.filter(F.col("depth") == 0).select(
        F.col("value").alias("total"))
    child = cct.alias("c")
    par = cct.alias("p")
    hot = (child.join(par, F.col("c.parent_id") == F.col("p.id"))
           .crossJoin(F.broadcast(total))
           .filter((F.col("c.value") >= F.expr("(p.value + 1) div 2"))
                   & (F.col("c.value")
                      >= F.expr("(total + 9999) div 10000")))
           .select(F.col("c.id").alias("id"),
                   F.col("c.parent_id").alias("parent_id"),
                   F.col("c.value").alias("value"))
           # r12: three consumers (both sides of the region-edge
           # self-join — where relation dedup does NOT share work,
           # CLAUDE.md multi-branch rule — plus the final labeling
           # join) re-ran the full CCT child|><|parent join; the hot
           # set is bounded (>= 0.01%-of-root nodes), so materialize
           # it once
           .localCheckpoint(eager=True))
    hc = hot.alias("hc")
    hp = hot.alias("hp")
    edges = (hc.join(hp, F.col("hc.parent_id") == F.col("hp.id"))
             .select(F.col("hc.id").alias("s"),
                     F.col("hc.parent_id").alias("d")))
    labels = connected_components(edges)
    w = Window.partitionBy("region_id")
    return (hot.join(labels, hot.id == labels.node, "left")
            .select(hot.id,
                    F.coalesce(labels.component, hot.id).alias("region_id"),
                    "value")
            .select("id", "region_id",
                    F.count(F.lit(1)).over(w).cast("long")
                    .alias("region_size"),
                    F.sum("value").over(w).cast("long")
                    .alias("region_value")))


# ---------------------------------------------------------------------------
# profile DIFF: the canonical two-run comparison workflow (the reference
# merges multiple profiles into one frame — operators/cct.py:544-566
# mirrors its combine step; diffing is that workflow's read side).
# Spark-first shape: instead of building TWO trees and full-outer
# joining them (two wide shuffles + a join on a path key), ONE rollup
# pass carries both slices as conditional aggregates — the tree
# structure is the union of both profiles' paths by construction, and
# the diff costs exactly what a single build costs.  Depth is capped at
# the customer level: below it each leaf belongs to one slice only and
# a per-leaf "diff" is vacuous.
# ---------------------------------------------------------------------------
@register("cct_diff_returnflag", sql=f"""
WITH dbase AS (
  SELECT CAST(n.n_regionkey + {REGION_OFF} AS BIGINT) AS k1,
         CAST(n.n_nationkey + {NATION_OFF} AS BIGINT) AS k2,
         CAST(c.c_custkey + {CUST_OFF} AS BIGINT) AS k3,
         CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
           * CAST(ROUND((1 - l.l_discount) * 100) AS BIGINT) AS v,
         CAST(l.l_returnflag = 'R' AS INTEGER) AS is_r
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
drolled AS (
  SELECT k1, k2, k3,
         CAST(SUM(CASE WHEN is_r = 1 THEN v ELSE 0 END) AS BIGINT)
           AS value_r,
         CAST(SUM(CASE WHEN is_r = 0 THEN v ELSE 0 END) AS BIGINT)
           AS value_o,
         CAST(GROUPING(k1)*4 + GROUPING(k2)*2 + GROUPING(k3) AS BIGINT)
           AS gid
  FROM dbase GROUP BY ROLLUP (k1, k2, k3)
)
SELECT CASE gid WHEN 0 THEN 3 WHEN 1 THEN 2 WHEN 3 THEN 1 ELSE 0 END
         AS depth,
       CASE gid WHEN 0 THEN k3 WHEN 1 THEN k2 WHEN 3 THEN k1 ELSE -1 END
         AS id,
       value_r, value_o,
       CAST(value_r - value_o AS BIGINT) AS delta,
       CAST(value_r AS DOUBLE) / CAST(value_r + value_o AS DOUBLE)
         AS share_r
FROM drolled""",
          doc="per-node returned-vs-kept revenue diff in ONE rollup "
              "pass (two-profile comparison, the reference merge "
              "workflow's read side)")
def cct_diff_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    is_r = F.col("l_returnflag") == "R"
    rolled = _leaf_rows(spark, sf_dir).rollup("k1", "k2", "k3").agg(
        F.sum(F.when(is_r, F.col("v")).otherwise(0))
        .cast("long").alias("value_r"),
        F.sum(F.when(~is_r, F.col("v")).otherwise(0))
        .cast("long").alias("value_o"),
        F.grouping_id().alias("gid"),
    )
    node = _node(3)
    return rolled.select(
        node["depth"], node["id"], "value_r", "value_o",
        (F.col("value_r") - F.col("value_o")).cast("long").alias("delta"),
        (F.col("value_r").cast("double")
         / (F.col("value_r") + F.col("value_o")).cast("double"))
        .alias("share_r"))


# ---------------------------------------------------------------------------
# A1+: multi-profile merge via combine formulas (VERDICT r6 next #2).
# The reference's MetricTable carries combine formulas (sum/min/max per
# metric, experiment1.xml:244/287/292) that its single-profile engine
# parses but never uses (hpctoolkit_dataframe.py:69-70); merge_profiles
# (operators/cct.py) is our engine's multi-profile read side.  Here the
# lineitem leaves are hash-split into 3 profile clones (p = leaf id mod
# 3), each rolled into its own CCT in ONE grouping-sets pass (no
# per-profile rescan), then merged back through the REAL operator with
# one combine of each kind — sum, min, max — plus the per-node profile
# count.  Nodes only partially present across profiles (an order whose
# lineitems all hashed to one clone) exercise the merge's outer
# semantics.  Scale shape: one grouping-sets shuffle + one merge
# shuffle on the callpath hash, both with map-side partial aggregation.
# ---------------------------------------------------------------------------
@register("cct_merge_profiles", sql=f"""
WITH pbase AS (
  SELECT CAST({LINE_OFF} + o.o_orderkey * 10 + l.l_linenumber AS BIGINT)
           % 3 AS p,
         CAST(n.n_regionkey + {REGION_OFF} AS BIGINT) AS k1,
         CAST(n.n_nationkey + {NATION_OFF} AS BIGINT) AS k2,
         CAST(c.c_custkey + {CUST_OFF} AS BIGINT) AS k3,
         CAST(o.o_orderkey + {ORDER_OFF} AS BIGINT) AS k4,
         CAST({LINE_OFF} + o.o_orderkey * 10 + l.l_linenumber AS BIGINT) AS k5,
         CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
           * CAST(ROUND((1 - l.l_discount) * 100) AS BIGINT) AS v
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
prolled AS (
  SELECT p, k1, k2, k3, k4, k5,
         CAST(SUM(v) AS BIGINT) AS value,
         CAST(GROUPING(k1)*16 + GROUPING(k2)*8 + GROUPING(k3)*4
            + GROUPING(k4)*2 + GROUPING(k5) AS BIGINT) AS gid
  FROM pbase GROUP BY p, ROLLUP (k1, k2, k3, k4, k5)
),
pcct AS (
  SELECT p,
         CASE gid WHEN 0 THEN 5 WHEN 1 THEN 4 WHEN 3 THEN 3
                  WHEN 7 THEN 2 WHEN 15 THEN 1 ELSE 0 END AS depth,
         CASE gid WHEN 0 THEN [k1, k2, k3, k4, k5]
                  WHEN 1 THEN [k1, k2, k3, k4]
                  WHEN 3 THEN [k1, k2, k3]
                  WHEN 7 THEN [k1, k2]
                  WHEN 15 THEN [k1]
                  ELSE CAST([] AS BIGINT[]) END AS path,
         CASE gid WHEN 0 THEN 'lineitem' WHEN 1 THEN 'order'
                  WHEN 3 THEN 'customer' WHEN 7 THEN 'nation'
                  WHEN 15 THEN 'region' ELSE 'root' END AS type,
         value
  FROM prolled
)
SELECT {_PATH_STR_SQL} AS path_s,
       CAST(MIN(depth) AS BIGINT) AS depth,
       MIN(type) AS type,
       CAST(SUM(value) AS BIGINT) AS value_sum,
       CAST(MIN(value) AS BIGINT) AS value_min,
       CAST(MAX(value) AS BIGINT) AS value_max,
       CAST(COUNT(*) AS BIGINT) AS n_profiles
FROM pcct GROUP BY path""",
          doc="3 hash-split profile clones merged via the real "
              "merge_profiles operator with sum/min/max combines")
def cct_merge_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    leaves = _leaf_rows(spark, sf_dir).withColumn("p", F.col("k5") % 3)
    # every grouping set keeps p: one pass builds all 3 per-profile
    # trees (gid bit-pattern identical to build_cct_plan's rollup
    # because p's grouping bit is always 0)
    keys = ["k1", "k2", "k3", "k4", "k5"]
    sets = [["p"] + keys[:n] for n in range(5, -1, -1)]
    rolled = leaves.groupingSets(sets, "p", *keys).agg(
        F.sum("v").cast("long").alias("value"),
        F.grouping_id().alias("gid"))
    node = _node(5)
    profiles = rolled.select(
        node["callpath"], node["depth"], node["type"],
        F.col("value").alias("value_sum"),
        F.col("value").alias("value_min"),
        F.col("value").alias("value_max"))
    merged = ops.merge_profiles(
        profiles,
        {"value_sum": "sum", "value_min": "min", "value_max": "max"},
        location_cols=("depth", "type"))
    return merged.select(
        _path_str().alias("path_s"),
        F.col("depth").cast("long").alias("depth"), "type",
        F.col("value_sum").cast("long").alias("value_sum"),
        F.col("value_min").cast("long").alias("value_min"),
        F.col("value_max").cast("long").alias("value_max"),
        F.col("n_profiles").cast("long").alias("n_profiles"))


# ---------------------------------------------------------------------------
# V1+: differential flame graph values layer (VERDICT r6 next #6):
# geometry from profile A, each segment colored by the signed relative
# change of B vs A.  A = the full revenue CCT, B = the kept-only profile
# (l_returnflag <> 'R'), joined on node id under A's depth 1-3 flame
# geometry (cct_flame_widths).  rel_bp is integer basis points via
# `div` — both engines truncate integral division toward zero, so
# negative deltas agree; hue is the red/blue/grey classification
# (red = hotter in B, blue = cooler, grey = unchanged or missing in B).
# ---------------------------------------------------------------------------
@register("cct_flame_diff", sql=f"""WITH RECURSIVE {CCT_CTES},
shares AS (
  SELECT c.id, c.parent_id, c.depth,
         CAST(c.value AS DOUBLE) /
           CAST(SUM(c.value) OVER (PARTITION BY c.parent_id) AS DOUBLE)
           AS share,
         SUM(CAST(c.value AS DOUBLE)) OVER (
           PARTITION BY c.parent_id ORDER BY c.id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS before_v,
         CAST(SUM(c.value) OVER (PARTITION BY c.parent_id) AS DOUBLE)
           AS sib_total
  FROM cct c WHERE c.depth >= 1 AND c.depth <= 3
),
geom AS (
  SELECT id, parent_id, depth,
         share * {2 * 3.141592653589793} AS width,
         COALESCE(before_v, 0.0) / sib_total * {2 * 3.141592653589793}
           AS x_offset
  FROM shares WHERE depth = 1
  UNION ALL
  SELECT s.id, s.parent_id, s.depth,
         s.share * g.width AS width,
         g.x_offset + COALESCE(s.before_v, 0.0) / s.sib_total * g.width
           AS x_offset
  FROM shares s JOIN geom g ON s.parent_id = g.id
),
kbase AS (
  SELECT CAST(n.n_regionkey + {REGION_OFF} AS BIGINT) AS k1,
         CAST(n.n_nationkey + {NATION_OFF} AS BIGINT) AS k2,
         CAST(c.c_custkey + {CUST_OFF} AS BIGINT) AS k3,
         CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
           * CAST(ROUND((1 - l.l_discount) * 100) AS BIGINT) AS v
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE l.l_returnflag <> 'R'
),
kept AS (
  SELECT CASE gid WHEN 0 THEN k3 WHEN 1 THEN k2 WHEN 3 THEN k1 END AS id,
         b_v
  FROM (
    SELECT k1, k2, k3, CAST(SUM(v) AS BIGINT) AS b_v,
           CAST(GROUPING(k1)*4 + GROUPING(k2)*2 + GROUPING(k3) AS BIGINT)
             AS gid
    FROM kbase GROUP BY ROLLUP (k1, k2, k3))
  WHERE gid IN (0, 1, 3)
)
SELECT g.id, g.depth, g.width, g.x_offset,
       c.value AS a_v, k.b_v,
       CAST(CASE WHEN k.b_v IS NOT NULL
                 THEN ((CAST(k.b_v AS HUGEINT) - c.value) * 10000) // c.value
            END AS BIGINT) AS rel_bp,
       CASE WHEN k.b_v IS NULL OR k.b_v = c.value THEN 'grey'
            WHEN k.b_v > c.value THEN 'red' ELSE 'blue' END AS hue
FROM geom g
JOIN cct c ON c.id = g.id
LEFT JOIN kept k ON k.id = g.id""",
          doc="differential flame values layer: A geometry + signed "
              "B-vs-A change per segment (its color layer)")
def cct_flame_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    geom = cct_flame_widths(spark, sf_dir)
    a = (build_cct(spark, sf_dir)
         .filter((F.col("depth") >= 1) & (F.col("depth") <= 3))
         .select(F.col("id").alias("a_id"), F.col("value").alias("a_v")))

    krolled = (_leaf_rows(spark, sf_dir)
               .filter(F.col("l_returnflag") != "R")
               .rollup("k1", "k2", "k3").agg(
                   F.sum("v").cast("long").alias("b_v"),
                   F.grouping_id().alias("gid")))
    # the root row (id -1) matches no depth-1..3 segment of the join below
    kept = krolled.select(_node(3)["id"].alias("b_id"), "b_v")

    b_v, a_v = F.col("b_v"), F.col("a_v")
    return (geom.join(a, geom.id == F.col("a_id"))
            .join(kept, geom.id == F.col("b_id"), "left")
            .select(
                geom.id, "depth", "width", "x_offset", "a_v", "b_v",
                # the delta*10000 multiply is 128-bit on BOTH engines
                # (Spark DECIMAL(38,0), DuckDB HUGEINT): at sf1 the
                # 64-bit product reached 2.5e18 and overflows at ~40x.
                # The QUOTIENT is bounded (|rel_bp| <= 10000 since
                # b_v <= a_v), so the final BIGINT cast is safe; div /
                # // both truncate toward zero — verified bit-identical
                # on negative deltas.
                F.when(b_v.isNotNull(),
                       F.expr("((cast(b_v as decimal(38,0)) - a_v)"
                              " * 10000) div a_v"))
                .cast("long").alias("rel_bp"),
                F.when(b_v.isNull() | (b_v == a_v), "grey")
                .when(b_v > a_v, "red").otherwise("blue").alias("hue")))
