"""Distributed connected components — the clustering step that turns
near-duplicate candidate PAIRS (minhash LSH / simhash / embedding LSH)
into dedup CLUSTERS with one canonical document per component.

The reference engine has no graph step (its dedup story ends at pairs);
a real 100 TB training-data pipeline needs the transitive closure: if
A~B and B~C, exactly one of {A,B,C} survives.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", ACM SoCC 2014) — the
shuffle-friendly formulation that converges in O(log^2 n) rounds even on
adversarial chain graphs, where plain min-label propagation needs
O(diameter) rounds.  Each round is two hash aggregations and two hash
joins on node id — no collect, no driver-side graph, state strictly
bounded by the edge set (which only shrinks toward the star forest).

Both operations preserve connectivity and strictly reduce the potential
function until the edge set is a star forest rooted at each component's
minimum node id; the final labeling (node -> component min) is therefore
deterministic regardless of execution order, which is what lets a DuckDB
recursive-CTE oracle hash-match the Spark result exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MAX_ROUNDS = 25  # star forest on 2^50-diameter graphs; hit = raise


def _canon(edges: DataFrame) -> DataFrame:
    """Orient (hi, lo), drop self-loops and duplicates."""
    u, v = edges.columns[0], edges.columns[1]
    return (edges
            .select(F.greatest(F.col(u), F.col(v)).alias("hi"),
                    F.least(F.col(u), F.col(v)).alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct())


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to min(N(u) ∪ {u})."""
    both = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
        edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
    mins = (both.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least(F.col("u"), F.col("mv")).alias("m")))
    return (both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect u and all its smaller neighbors to their minimum."""
    mins = edges.groupBy("hi").agg(F.min("lo").alias("m"))
    via_lo = (edges.join(mins, "hi")
              .select(F.col("lo").alias("v"), F.col("m")))
    via_hi = mins.select(F.col("hi").alias("v"), F.col("m"))
    return (via_lo.union(via_hi)
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct())


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    # bit_xor, not sum: order-independent and cannot overflow under ANSI
    # (the edge set is distinct, so xor cancellation cannot collide)
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(hi, lo))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _driver_union_find(spark, rows, schema):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for hi, lo in rows:
        ru, rv = find(hi), find(lo)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp_min: dict = {}
    for x in list(parent):
        r = find(x)
        comp_min[r] = min(comp_min.get(r, r), x)
    return spark.createDataFrame(
        [(x, comp_min[find(x)]) for x in parent], schema)


def connected_components(edges: DataFrame,
                         small_input_rows: int = 100_000) -> DataFrame:
    """Label every node of an undirected edge list with its component's
    minimum node id.

    Input: a 2-column DataFrame of node-id pairs (any orderable numeric
    type; both columns the same type).  Output: ``(node, component)``
    with one row per distinct node appearing in any non-self-loop edge —
    singletons (nodes with no edges, or only self-loops) are the
    caller's to union back, labeled as themselves.

    Each round localCheckpoints the shrinking edge set: lineage stays
    O(1) and each round's shuffle reads materialized rows rather than
    replaying the whole prior cascade (CLAUDE.md: cache() substitution
    is unreliable across self-join dedup; eager checkpoint is not).

    Edge sets at or under ``small_input_rows`` take a driver-side
    union-find instead (same labeling, bounded memory: 2 longs per
    node): star-contraction's per-round scheduler overhead (~4 tiny
    jobs/round) dwarfs sub-second graphs.  Pass 0 to force the
    distributed path (the property tests do).
    """
    cur = _canon(edges).localCheckpoint(eager=True)
    prev_fp = _fingerprint(cur)
    out_schema = ("node " + cur.schema["hi"].dataType.simpleString()
                  + ", component " + cur.schema["lo"].dataType.simpleString())
    if prev_fp[0] <= small_input_rows:
        rows = [(r["hi"], r["lo"]) for r in cur.collect()]
        return _driver_union_find(edges.sparkSession, rows, out_schema)
    for _ in range(MAX_ROUNDS):
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        fp = _fingerprint(cur)
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint in {MAX_ROUNDS} rounds")
    # star forest: hi -> component min; centers label themselves
    return (cur.select(F.col("hi").alias("node"), F.col("lo").alias("component"))
            .union(cur.select(F.col("lo").alias("node"),
                              F.col("lo").alias("component")))
            .groupBy("node").agg(F.min("component").alias("component")))
