#!/usr/bin/env python
"""Benchmark the registry entries; prints ONE JSON line for the driver.

Runs every registry query at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``, forcing full
materialization through a noop sink (no driver-side collect cost), plus
the reference-workload analog: HPCtoolkit XML load + hot_path on the
reference's own experiment databases (BASELINE.md's measured workload).
Where those databases are absent, the line names ``xml_load_hot_path``
under ``skipped``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hpctoolkit_dataframe_spark import get_spark  # noqa: E402
from hpctoolkit_dataframe_spark.queries import REGISTRY  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
XML_FILES = ("/root/reference/test/data/experiment1.xml",
             "/root/reference/test/data/experiment2.xml")


def stamped_details_name(repo_dir: str) -> str:
    """``bench_details_r<N>.json`` for the first N past the highest
    ``BENCH_r<N>.json`` in ``repo_dir`` whose file does not exist yet,
    so a run never overwrites a committed copy."""
    rounds = [int(m.group(1)) for fn in os.listdir(repo_dir)
              if (m := re.match(r"BENCH_r(\d+)\.json$", fn))]
    n = max(rounds, default=0) + 1
    while os.path.exists(
            os.path.join(repo_dir, "bench_details_r%02d.json" % n)):
        n += 1
    return "bench_details_r%02d.json" % n


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_xml(spark) -> float:
    """Reference workload analog: load + hot_path (BASELINE.md B rows).

    The two experiment databases are independent (different
    MetricTables, so they cannot share one frame); a Spark user loads
    them as concurrent jobs on one session — the threads overlap each
    file's driver-side header read and planning with the other's Spark
    jobs, which run the parse itself.
    """
    from concurrent.futures import ThreadPoolExecutor

    from hpctoolkit_dataframe_spark import HPCtoolkitDataFrame

    def one(path: str) -> None:
        h = HPCtoolkitDataFrame(path=path, spark=spark)
        h._df = h._df.cache()
        materialize(h.df)
        materialize(h.hot_path().df)
        h._df.unpersist()

    t0 = time.time()
    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(one, p) for p in XML_FILES]:
            f.result()
    return time.time() - t0


def main() -> None:
    # loadavg BEFORE the session spins up its 32 threads: the cleanest
    # external-noise signal — per-query samples below include our own
    # tasks, the pre-Spark sample cannot
    load_pre_spark = list(os.getloadavg())
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    skipped: list[str] = []

    # warm the JVM + parquet footers + Python workers once so per-query
    # numbers measure the queries, not session startup (a plain events
    # scan + aggregate: no memoized build to pre-empt)
    try:
        REGISTRY["exact_daily_uniques"].fn(spark, SF_DIR).count()
    except Exception as exc:  # warm-up must not kill the whole round
        print(f"WARMUP ERROR: {exc}", file=sys.stderr)
    spark.range(64, numPartitions=32).mapInPandas(
        lambda it: it, schema="id long").count()

    # measure the reference-parity XML workload first, before dozens of
    # cached/checkpointed query frames add block-manager pressure.  One
    # untimed warm-up run first: the comparison target (BASELINE.md, a
    # pandas loop) has no JIT so its number is inherently steady-state;
    # ours pays one-time codegen/optimizer compilation on the first run
    # of each plan shape, which is session startup cost, not workload.
    if all(os.path.exists(p) for p in XML_FILES):
        try:
            bench_xml(spark)
            xml_samples = sorted(bench_xml(spark) for _ in range(3))
            timings["xml_load_hot_path"] = round(xml_samples[1], 3)
        except Exception as exc:
            errors["xml_load_hot_path"] = f"{type(exc).__name__}: {exc}"[:500]
    else:
        skipped.append("xml_load_hot_path")

    # the memoized CCT build (a materialized view in a real deployment)
    # is a one-time cost that would otherwise land on whichever CCT
    # query the registry order puts first, distorting its median;
    # measure it once, explicitly
    t0 = time.time()
    try:
        REGISTRY["cct_nodes"].fn(spark, SF_DIR).count()
        timings["cct_build"] = round(time.time() - t0, 3)
    except Exception as exc:
        errors["cct_build"] = f"{type(exc).__name__}: {exc}"[:500]

    # same treatment for PQ codebook training (memoized per session)
    t0 = time.time()
    try:
        from hpctoolkit_dataframe_spark.queries.vectors import _pq_train

        _pq_train(spark, SF_DIR)
        timings["pq_train"] = round(time.time() - t0, 3)
    except Exception as exc:
        errors["pq_train"] = f"{type(exc).__name__}: {exc}"[:500]

    # and for the duplicate-span hit table (memoized; three consumers)
    t0 = time.time()
    try:
        from hpctoolkit_dataframe_spark.queries.spans import _dup_hits

        _dup_hits(spark, SF_DIR)
        timings["span_hits_build"] = round(time.time() - t0, 3)
    except Exception as exc:
        errors["span_hits_build"] = f"{type(exc).__name__}: {exc}"[:500]

    # r12 memoized shared builds (same convention as cct_build/pq_train:
    # the one-time materialization is timed EXPLICITLY so the
    # median-of-3 loop below cannot hide it): the LSH pair graph (7
    # consumers), its cluster labeling (3), the Lloyd coarse codebook
    # (5), and the simhash fingerprint split (2)
    def _r12_builds():
        from hpctoolkit_dataframe_spark.queries.dedup import (
            clusters_materialized, fingerprint_split)
        from hpctoolkit_dataframe_spark.queries.textops import (
            lsh_pairs_materialized)
        from hpctoolkit_dataframe_spark.queries.vectors import (
            _lloyd_trained, vec_pairs_materialized)

        return (("lsh_pairs_build", lsh_pairs_materialized),
                ("dedup_clusters_build", clusters_materialized),
                ("lloyd_build", _lloyd_trained),
                ("fingerprint_split_build", fingerprint_split),
                ("vec_pairs_build", vec_pairs_materialized))

    for bname, builder in _r12_builds():
        t0 = time.time()
        try:
            builder(spark, SF_DIR)
            timings[bname] = round(time.time() - t0, 3)
        except Exception as exc:
            errors[bname] = f"{type(exc).__name__}: {exc}"[:500]

    # shared machine: single samples wobble +-50% (CLAUDE.md), making
    # round-over-round deltas uninterpretable.  Sub-5s queries re-run
    # to a median-of-3; the expensive tail keeps one sample (its
    # relative noise is smaller and 3x would add minutes).
    # VERDICT r7 #6: the box's load swings 0-10 within minutes and two
    # rounds of bench adjudication burned time separating noise from
    # regression — sample the 1-min loadavg around every query so the
    # quiet/loaded call is mechanical, not lore.
    loads: dict[str, list[float]] = {}
    for name, q in REGISTRY.items():
        if name in ("cct_xml_ingest", "cct_flat_profile",
                    "cct_callers_view"):
            # correctness-gate queries over the reference's own XMLs;
            # they ignore sf_dir, and their workload is exactly what
            # xml_load_hot_path above already measures
            continue
        samples = []
        load0 = os.getloadavg()[0]
        try:
            while True:
                t0 = time.time()
                materialize(q.fn(spark, SF_DIR))
                samples.append(time.time() - t0)
                if samples[0] >= 5.0 or len(samples) == 3:
                    break
        except Exception as exc:  # one broken query must not zero the round
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"ERROR {name}: {errors[name]}", file=sys.stderr)
            continue
        timings[name] = round(sorted(samples)[len(samples) // 2], 3)
        loads[name] = [round(load0, 2), round(os.getloadavg()[0], 2)]

    # The driver's capture keeps only a ~2 KB TAIL of stdout, and the
    # full 130+-entry per-query map is ~4 KB — round 5's BENCH json
    # came back "parsed: null" because the head of the line (metric/
    # value) was truncated away (VERDICT r5 #3).  Keep the final line
    # SHORT (summary + the slowest queries only) and write the complete
    # per-query map to bench_details.json next to this script.
    ext_load = [ld for pair in loads.values() for ld in pair]
    details = {
        "metric": "registry_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "loadavg_per_query": loads,
        "load_pre_spark": [round(x, 2) for x in load_pre_spark],
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if errors:
        details["errors"] = errors
    if skipped:
        details["skipped"] = skipped
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo_dir, "bench_details.json"), "w") as f:
        json.dump(details, f, indent=1, sort_keys=True)
    # VERDICT r11 #2: bench_details.json is overwritten every run, so the
    # full per-query map was recoverable only via git archaeology.  Also
    # write a ROUND-STAMPED copy that gets committed, making cross-round
    # per-query diffs self-contained.  (The stdout line itself must stay
    # <~2 KB — the driver keeps only a tail of stdout; VERDICT r5 #3.)
    stamped = stamped_details_name(repo_dir)
    with open(os.path.join(repo_dir, stamped), "x") as f:
        json.dump(details, f, indent=1, sort_keys=True)
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:8])
    out = {
        "metric": "registry_queries_total",
        "value": details["value"],
        "unit": "sec",
        "n": len(timings),
        "n_errors": len(errors),
        "skipped": skipped,
        "max": max(timings.values()) if timings else 0.0,
        "queries": slowest,
        "queries_full": stamped,
        "load_pre_spark": [round(x, 2) for x in load_pre_spark],
        "load_during": ([round(min(ext_load), 2), round(max(ext_load), 2)]
                        if ext_load else []),
        "sf": details["sf"],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
