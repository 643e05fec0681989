#!/usr/bin/env python
"""Per-entry optimization profiler (r12): time a set of registry
entries standalone (noop sink, same methodology as bench.py) and dump
each one's ``explain('formatted')`` to plans/<round>/<name>_<tag>.txt.

Usage:
    python tools/profile_entries.py --tag=before --plans-dir=plans/rNN
        [--sf=/root/testdata/sf0.1] [--reps=3] name [name ...]

``--plans-dir`` is required (ADVICE r12: a round-numbered default
silently wrote next round's plans into the old directory).

Prints one line per entry: name, every sample, median — plus the
loadavg around the run so quiet/loaded adjudication stays mechanical
(CLAUDE.md shared-box rule).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hpctoolkit_dataframe_spark import get_spark  # noqa: E402
from hpctoolkit_dataframe_spark.queries import REGISTRY  # noqa: E402


def main() -> None:
    sf_dir = "/root/testdata/sf0.1"
    tag = "before"
    reps = 3
    plans_dir = None
    names: list[str] = []
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        elif a.startswith("--tag="):
            tag = a.split("=", 1)[1]
        elif a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
        elif a.startswith("--plans-dir="):
            plans_dir = a.split("=", 1)[1]
        else:
            names.append(a)
    assert plans_dir, "--plans-dir=plans/rNN is required (ADVICE r12)"
    unknown = [n for n in names if n not in REGISTRY]
    assert not unknown, f"unknown entries: {unknown}"
    os.makedirs(plans_dir, exist_ok=True)

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    # same warm-up as bench.py: JVM, parquet footers, Python workers
    REGISTRY["exact_daily_uniques"].fn(spark, sf_dir).count()
    spark.range(64, numPartitions=32).mapInPandas(
        lambda it: it, schema="id long").count()

    print(f"# sf_dir={sf_dir} tag={tag} load_pre={os.getloadavg()}")
    for name in names:
        q = REGISTRY[name]
        samples = []
        spark.sparkContext.setJobDescription(f"profile:{name}")
        for _ in range(reps):
            t0 = time.time()
            df = q.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(_explain_str(q.fn(spark, sf_dir)))
        med = sorted(samples)[len(samples) // 2]
        print(f"{name}: samples={[round(s, 2) for s in samples]} "
              f"median={med:.2f} load={os.getloadavg()[0]:.1f}", flush=True)


def _explain_str(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


if __name__ == "__main__":
    main()
