#!/usr/bin/env python
"""Multi-file XML ingest throughput demo.

Replicates the reference experiment files N times into a temp dir and
measures distributed ingest rows/s — the evidence that per-file
parallel parsing scales with file count, which is the 100 TB story
(millions of independent profiles).  The pandas reference ingests at
~2.3k rows/s single-process (BASELINE.md).

Usage: python tools/ingest_throughput.py [n_copies, default 64]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hpctoolkit_dataframe_spark import get_spark  # noqa: E402
from hpctoolkit_dataframe_spark.sources.hpctoolkit_xml import (  # noqa: E402
    load_experiments,
)

SRC = "/root/reference/test/data/experiment1.xml"


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 64
    tmp = tempfile.mkdtemp(prefix="xml_fleet_")
    try:
        for i in range(n):
            shutil.copy(SRC, os.path.join(tmp, f"experiment_{i:04d}.xml"))
        spark = get_spark("ingest-throughput")
        spark.sparkContext.setLogLevel("ERROR")
        # warm the session (JVM, Python workers, module-by-value
        # pickling) so the number measures ingest, not start-up
        load_experiments(spark, os.path.join(tmp, "experiment_000*.xml"),
                         add_percentage_columns=False)[0].count()

        t0 = time.time()
        df, _ = load_experiments(spark, os.path.join(tmp, "*.xml"),
                                 add_percentage_columns=False)
        rows = df.count()
        dt = time.time() - t0
        print(f"{n} files, {rows} rows in {dt:.2f}s "
              f"= {rows / dt:,.0f} rows/s "
              f"(reference single-process: ~2,300 rows/s)")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
