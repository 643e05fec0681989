"""Skew mitigation for hot-key joins and aggregations.

AQE's skew-join splitting (on by default in ``session.get_spark``)
handles most sort-merge skew at runtime; ``salted_join`` covers a case
AQE cannot: broadcast-ineligible hot-key joins.  An explicit two-stage
sum covers stages where partial aggregation is defeated.

``salted_join`` replicates the right side SALT times and scatters the
left side's hot keys across the replicas, bounding any single task at
~1/SALT of the hottest key's rows.  Results are identical to a plain
join (the salt participates only in routing).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Equi-join with the left side's keys salted across ``salt``
    replicas of the right side.

    Use when ``left`` has heavily skewed join keys and ``right`` is too
    large to broadcast but small enough to replicate ``salt`` times
    (i.e. |right| * salt shuffles instead of one monster partition).
    """
    assert how in ("inner", "left"), "salted_join supports inner/left"
    on = list(on)
    lsalt = left.withColumn(
        "__salt", (F.xxhash64(F.monotonically_increasing_id()) % salt
                   + salt) % salt)
    rsalt = right.crossJoin(
        F.broadcast(
            right.sparkSession.range(salt).select(
                F.col("id").cast("int").alias("__salt"))))
    out = lsalt.join(rsalt, on=on + ["__salt"], how=how)
    return out.drop("__salt")


def two_stage_agg_sum(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    out_col: str | None = None,
    salt: int = 32,
) -> DataFrame:
    """Sum aggregation in two stages: (keys, salt) partial sums, then
    final combine on keys.

    Spark's hash aggregate already does map-side partial aggregation,
    which usually makes this unnecessary — this explicit form exists for
    stages where partial aggregation is defeated (e.g. upstream of a
    window, or very high-cardinality maps spilling).
    """
    out_col = out_col or f"sum_{value_col}"
    keys = list(keys)
    partial = (
        df.withColumn("__salt", (F.xxhash64(*keys,
                                            F.monotonically_increasing_id())
                                 % salt + salt) % salt)
        .groupBy(*keys, "__salt")
        .agg(F.sum(value_col).alias("__partial"))
    )
    return partial.groupBy(*keys).agg(F.sum("__partial").alias(out_col))
