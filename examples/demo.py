#!/usr/bin/env python
"""End-to-end demo mirroring the reference's examples.ipynb flows.

Run from the repo root (or with the package installed):
    python examples/demo.py [path-to-experiment.xml]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hpctoolkit_dataframe_spark import HPCtoolkitDataFrame, get_spark  # noqa: E402
from hpctoolkit_dataframe_spark.operators.flame import flame_layout  # noqa: E402

DEFAULT_XML = "/root/reference/test/data/experiment1.xml"


def main() -> None:
    path = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else DEFAULT_XML)
    spark = get_spark("demo")
    spark.sparkContext.setLogLevel("ERROR")

    # examples.ipynb cell 1-2: load + compact view
    h = HPCtoolkitDataFrame(path=path, spark=spark)
    h._df = h._df.cache()
    print(f"loaded {h.count()} CCT nodes, {len(h.columns)} columns")
    h.compact.df.show(5, truncate=40)

    # cell 7: boolean-mask predicates (plain Spark passthrough)
    pct = h.metadata.meaningful_columns["percentage"]
    frames = h.filter(F.col("type") == "procedure frame")
    print("procedure frames:", frames.count())

    # call-path operators
    print("depth 2-4 nodes:", h.at_depths(2, 4).count())
    # contiguous-fragment filter (the surface at_paths declares but,
    # matching the reference, refuses)
    print("paths through fragment (2, 4):",
          h.at_path_fragments((2, 4)).count())

    # cell 3: greedy hot path
    chain = h.hot_path()
    chain.select("id", "procedure", F.col(f"`{pct} ratio of total`")
                 .alias("ratio")).orderBy(F.size("callpath")).show(
        25, truncate=50)

    # cell 5: flame graph (layout always works; rendering if matplotlib)
    segs = flame_layout(h.df, f"{pct} ratio of parent", max_depth=6)
    print(f"flame layout: {len(segs)} segments over 6 levels")
    try:
        h.flame_graph(max_depth=6, show=False)
        print("rendered flame graph (matplotlib available)")
    except ImportError as e:
        print(f"skipped rendering: {e}")

    # the other two hpcviewer views (top-down is the CCT itself)
    print("flat view (top procedures by exclusive time):")
    excl = f"{pct[: -len(':Mean (I)')]}:Sum (E)"
    h.flat_profile().orderBy(F.desc_nulls_last(f"`{excl}`")).show(
        5, truncate=40)
    print("callers view (top caller->callee edges):")
    h.callers_view().orderBy(F.desc_nulls_last(f"`{excl}`")).show(
        5, truncate=30)

    # the official scan API: same parser as a registered Spark format
    from hpctoolkit_dataframe_spark.sources import datasource

    datasource.register(spark)
    raw = spark.read.format("hpctoolkit").option("max_depth", 5).load(path)
    print(f"format('hpctoolkit') depth<=5 scan: {raw.count()} raw rows "
          f"({raw.rdd.getNumPartitions()} partition(s), one per file)")


if __name__ == "__main__":
    main()
