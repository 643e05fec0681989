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


def write_profiles(
    df: DataFrame,
    path: str,
    *,
    format: str = "parquet",
    partition_by: Sequence[str] = ("profile_id",),
    mode: str = "overwrite",
) -> None:
    writer = df.write.format(format).mode(mode)
    cols = [c for c in partition_by if c in df.columns]
    if cols:
        writer = writer.partitionBy(*cols)
    writer.save(path)


def read_profiles(spark: SparkSession, path: str,
                  format: str = "parquet") -> DataFrame:
    return spark.read.format(format).load(path)


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
