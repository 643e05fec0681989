"""r13 load_table spread probe: the local-file scan-partition estimate
must equal Spark's own FilePartition packing (the old
df.rdd.getNumPartitions probe) — on every testdata table and on a
multi-file directory table."""

import pyspark.sql.functions as F
import pytest

from hpctoolkit_dataframe_spark import queries
from hpctoolkit_dataframe_spark.queries import _count_scan_partitions


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01",
                                    "/root/testdata/sf0.1"])
def test_estimate_matches_rdd_probe_on_testdata(spark, sf_dir):
    for name in ("lineitem", "orders", "documents", "embeddings",
                 "customer", "nation"):
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        est = _count_scan_partitions(spark, df)
        assert est == df.rdd.getNumPartitions(), (sf_dir, name)


def test_estimate_matches_rdd_probe_multifile(spark, tmp_path):
    out = str(tmp_path / "multi")
    spark.range(200_000).withColumn("pad", F.md5(F.col("id").cast("string"))) \
        .repartition(7).write.parquet(out)
    df = spark.read.parquet(out)
    est = _count_scan_partitions(spark, df)
    assert est == df.rdd.getNumPartitions()


def test_estimate_is_memoized(spark, tmp_path, monkeypatch):
    """load_table's memo builds a table's spread estimate once: the
    second spread load of the same table is a hit and counts nothing."""
    sf_dir = str(tmp_path)
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet") \
        .write.parquet(f"{sf_dir}/nation.parquet")
    calls = []

    def counting(spark_, df):
        calls.append(1)
        return _count_scan_partitions(spark_, df)

    monkeypatch.setattr(queries, "_count_scan_partitions", counting)
    first = queries.load_table(spark, sf_dir, "nation", spread=True)
    again = queries.load_table(spark, sf_dir, "nation", spread=True)
    assert again is first
    assert len(calls) == 1
