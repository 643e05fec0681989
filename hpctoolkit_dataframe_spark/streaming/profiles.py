"""Streaming fleet profile ingestion -> persisted merged-CCT store.

The reference is strictly single-profile (hpctoolkit_dataframe.py:159
one-file-per-frame; combine formulas parsed-but-ignored at :69-70).
This module is the fleet-scale engine extension: experiment XML files
LAND CONTINUOUSLY in a directory, each micro-batch parses the new
files through the exact load_experiments pipeline the oracle gate
attests, partial-merges them per callpath with the MetricTable's
combine kinds (sum/min/max — `merge_profiles`, the operator
cct_merge_profiles hash-gates), and appends the partial to a
batch_id-partitioned store.  Because every combine is associative and
commutative, the cell-wise re-merge of all appended partials IS the
merge of every profile ever seen — the same mergeable-store algebra as
the CMS/DSIR stores, applied to the reference's own domain.

Exactly-once: the same checkpoint + batch_id-partition-overwrite
discipline as streaming/curation.py (whose helpers this reuses).  At
fleet scale each batch's shuffle is bounded by the batch's profiles
(partial merge), and the store re-merge shuffles one slim row per
(callpath, batch) — never the raw per-profile rows.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .curation import _path, _read_store, _write_partition

# binaryFile's fixed schema — streaming sources require it explicitly
PROFILE_SCHEMA = T.StructType([
    T.StructField("path", T.StringType()),
    T.StructField("modificationTime", T.TimestampType()),
    T.StructField("length", T.LongType()),
    T.StructField("content", T.BinaryType()),
])

STORE = "cct"


def read_profile_stream(spark: SparkSession, landing_dir: str,
                        glob: str = "*.xml",
                        max_files_per_trigger: int | None = None) -> DataFrame:
    reader = (spark.readStream.format("binaryFile")
              .schema(PROFILE_SCHEMA).option("pathGlobFilter", glob))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(landing_dir)


def run_profile_merge_stream(profiles_stream: DataFrame, base: str,
                             checkpoint_dir: str,
                             metric_combines: dict[str, str],
                             query_name: str = "profile_merge") -> Any:
    """Drain newly landed experiment XMLs (availableNow) into the
    merged-CCT store.  ``metric_combines`` maps metric column ->
    'sum'|'min'|'max' (the combine formulas from the MetricTable)."""
    from ..operators.cct import merge_profiles
    from ..sources.hpctoolkit_xml import load_experiments

    spark = profiles_stream.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # file-path batch: the per-file bytes are re-read executor-side
        # by the attested ingest pipeline, not shipped through the
        # stream plan
        paths = sorted(
            r["path"].removeprefix("file:")
            for r in batch_df.select("path").collect())
        if not paths:
            return
        df, _ = load_experiments(spark, paths,
                                 add_percentage_columns=False,
                                 on_error="skip")
        partial = merge_profiles(df, metric_combines)
        _write_partition(partial, base, STORE, batch_id)

    q = (profiles_stream.writeStream.foreachBatch(process)
         .queryName(query_name)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    from ._drain import drain
    return drain(q)


def merged_profile_cct(spark: SparkSession, base: str,
                       metric_combines: dict[str, str]) -> DataFrame | None:
    """The fleet-merged CCT: re-merge every appended partial.  Exact by
    associativity — equal to merge_profiles over all profiles at once
    (twin-pinned in tests/test_profile_stream.py)."""
    df = _read_store(spark, base, STORE)
    if df is None:
        return None
    kinds = {"sum": F.sum, "min": F.min, "max": F.max}
    aggs = [kinds[k](F.col(f"`{m}`")).alias(m)
            for m, k in metric_combines.items()]
    aggs.append(F.sum("n_profiles").cast("long").alias("n_profiles"))
    return df.groupBy("callpath").agg(*aggs)


def compact_profile_store(spark: SparkSession, base: str,
                          metric_combines: dict[str, str]) -> int:
    """Fold every committed partial into one consolidated batch_id=-1
    partition (the curation stores' compaction discipline): because the
    combines are associative, the fold IS the merge, so
    merged_profile_cct before and after are identical.  Safe between
    drains — committed batch ids never replay, and -1 sorts below every
    real id.  Returns the number of partitions folded."""
    df = _read_store(spark, base, STORE)
    if df is None:
        return 0
    batches = [r["batch_id"] for r in
               df.select("batch_id").distinct().collect()]
    kinds = {"sum": F.sum, "min": F.min, "max": F.max}
    aggs = [kinds[k](F.col(f"`{m}`")).alias(m)
            for m, k in metric_combines.items()]
    aggs.append(F.sum("n_profiles").cast("long").alias("n_profiles"))
    merged = (df.groupBy("callpath").agg(*aggs)
              .coalesce(1).localCheckpoint(eager=True))
    _write_partition(merged, base, STORE, -1)
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(_path(base, STORE)) \
        .getFileSystem(spark._jsc.hadoopConfiguration())
    for b in batches:
        if b != -1:
            fs.delete(jvm.org.apache.hadoop.fs.Path(
                f"{_path(base, STORE)}/batch_id={b}"), True)
    return len([b for b in batches if b != -1])
