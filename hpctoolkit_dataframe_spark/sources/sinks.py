"""File sinks for CCT frames.

The reference has NO writers at all (SURVEY.md §2.1 'absent file
sinks'); Spark provides them.  These helpers encode the layout
decisions that matter at 100 TB:

- partition by ``profile_id`` so per-profile analytics prune entire
  directories (partition pruning shows as PartitionFilters in plans);
- optional bucketing by callpath hash for exchange-free self-joins
  (ratio-of-parent's ancestor join) across sessions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_profiles(df: DataFrame, path: str) -> None:
    """Overwrite ``path`` with ``df`` as parquet, partitioned by
    ``profile_id`` when the frame has that column."""
    writer = df.write.mode("overwrite")
    if "profile_id" in df.columns:
        writer = writer.partitionBy("profile_id")
    writer.parquet(path)


def read_profiles(spark: SparkSession, path: str) -> DataFrame:
    """The parquet profiles ``write_profiles`` wrote under ``path``."""
    return spark.read.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: Sequence[str] = ("id",),
    n_buckets: int = 64,
    sort_cols: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed managed table: joins/aggregations keyed on
    ``bucket_cols`` across readers skip the shuffle entirely."""
    writer = (df.write.mode(mode)
              .bucketBy(n_buckets, *bucket_cols))
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)
