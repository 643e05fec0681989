#!/usr/bin/env python
"""Graduated scale validation: flagship registry queries at sf0.1 AND
the 10x clone (tools/make_scale_data.py), same session, back-to-back
(VERDICT r6 next #1).

Every 100 TB claim so far rests on plan shapes *measured at sf0.1*;
this is the real scale step that catches what plan inspection cannot —
AQE re-plans (a dimension that stops broadcasting, a skew split
kicking in), memory pressure, and superlinear stages.

For each flagship: wall time at both SFs (noop-sink materialization,
bench.py's methodology), the time ratio, and a physical-plan feature
signature (join strategies, shuffle exchange count, Python/Arrow
stages) at both SFs.  Output: SCALE_r07.json + a table.  Exits
nonzero only on ERRORS; ratio > clones x 1.5 or a plan-shape change is
FLAGGED for reading, not failed — a broadcast->shuffle flip at 10x can
be exactly what AQE should do, but it must be a documented fact, not a
surprise (PERF.md logs the adjudication).

Usage: python tools/scale_bench.py [--out=FILE] [scale_dir] [clones]
                                   [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hpctoolkit_dataframe_spark import get_spark  # noqa: E402
from hpctoolkit_dataframe_spark.plans import explain  # noqa: E402
from hpctoolkit_dataframe_spark.queries import REGISTRY  # noqa: E402

BASE = "/root/testdata/sf0.1"

# one-two representatives per family, biased toward the heaviest /
# most shuffle-rich plans (the ones with scale risk)
FLAGSHIPS = [
    # CCT family (tree build is timed separately below)
    "cct_nodes", "cct_ratio_of_parent", "cct_ratio_of_parent_walkup",
    "cct_hot_path", "cct_merge_profiles", "cct_flame_diff",
    "cct_flame_widths", "cct_hottest_child_per_parent",
    # event-time joins
    "funnel_view_click_purchase", "events_asof_attribution",
    # dedup / spans / text
    "dedup_exact", "minhash_lsh_pairs", "ngram_jaccard_pairs",
    "simhash64", "simhash_near_dup_pairs", "duplicate_spans",
    "decontaminate", "dedup_clusters", "winnow_fingerprints",
    # vectors / ANN
    "knn_cosine", "ivf_ann", "pq_ann", "semdedup_prune",
    # curation / governance
    "bm25_topk", "gopher_quality_flags", "dsir_importance_weights",
    "curation_funnel_report", "pagerank_dup_graph", "pii_redact_stats",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def plan_sig(df) -> dict:
    joins = explain.join_strategies(df)
    plan = explain.executed_plan(df)
    return {
        "bhj": joins["broadcast_hash"],
        "smj": joins["sort_merge"],
        "shj": joins["shuffled_hash"],
        "bnlj": joins["broadcast_nested_loop"],
        "cartesian": joins["cartesian"],
        "exchanges": explain.exchange_count(df),
        "arrow": plan.count("ArrowEvalPython")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("MapInPandas") + plan.count("MapInArrow"),
        "py_udf": plan.count("BatchEvalPython"),
        # AQE skew-join splits in the FINAL adaptive plan (SMJ/SHJ
        # nodes print "skew=true" once OptimizeSkewedJoin rewrites
        # them) — the signal the skewed-clone probe exists to observe
        "skew_join": plan.count("skew=true"),
    }


def run_one(spark, name: str, sf_dir: str) -> dict:
    fn = REGISTRY[name].fn
    t0 = time.time()
    df = fn(spark, sf_dir)
    materialize(df)
    elapsed = time.time() - t0
    # signature AFTER execution so AQE's final (adaptive) choices are
    # what gets compared, not the static estimate
    return {"sec": round(elapsed, 3), "plan": plan_sig(df)}


def main() -> None:
    argv = sys.argv[1:]
    out_name = "SCALE_r07.json"
    for a in list(argv):
        if a.startswith("--out="):
            out_name = a[len("--out="):]
            argv.remove(a)
    scale_dir = argv[0] if argv else "/tmp/scale_sf1"
    clones = int(argv[1]) if len(argv) > 1 else 10
    names = argv[2:] or FLAGSHIPS
    if not os.path.isdir(scale_dir):
        print(f"{scale_dir} missing — run tools/make_scale_data.py first",
              file=sys.stderr)
        sys.exit(2)

    spark = get_spark()
    # session warm-up outside all timings
    materialize(REGISTRY["exact_daily_uniques"].fn(spark, BASE))

    results: dict[str, dict] = {}
    errors: dict[str, str] = {}

    # time the memoized shared builds explicitly per SF so flagship
    # timings measure the queries, not the one-time materializations
    from hpctoolkit_dataframe_spark.queries.cct_tpch import build_cct
    from hpctoolkit_dataframe_spark.queries.spans import _dup_hits
    from hpctoolkit_dataframe_spark.queries.vectors import _pq_train

    for label, builder in (("cct_build", build_cct),
                           ("span_hits_build", _dup_hits),
                           ("pq_train", _pq_train)):
        entry = {}
        for key, d in (("sf0.1", BASE), ("sf1", scale_dir)):
            t0 = time.time()
            builder(spark, d)
            entry[key] = {"sec": round(time.time() - t0, 3), "plan": {}}
        entry["ratio"] = (round(entry["sf1"]["sec"]
                                / max(entry["sf0.1"]["sec"], 1e-9), 2))
        entry["plan_changed"] = False
        results[label] = entry
        print(f"{label:34s} {entry['sf0.1']['sec']:8.2f}s "
              f"{entry['sf1']['sec']:8.2f}s  x{entry['ratio']:.2f}",
              flush=True)

    for name in names:
        entry = {}
        try:
            for key, d in (("sf0.1", BASE), ("sf1", scale_dir)):
                entry[key] = run_one(spark, name, d)
        except Exception as exc:
            errors[name] = f"{type(exc).__name__}: {exc}"[:400]
            print(f"ERROR {name}: {errors[name]}", file=sys.stderr)
            continue
        entry["ratio"] = round(
            entry["sf1"]["sec"] / max(entry["sf0.1"]["sec"], 1e-9), 2)
        entry["plan_changed"] = entry["sf1"]["plan"] != entry["sf0.1"]["plan"]
        results[name] = entry
        flags = []
        if entry["ratio"] > clones * 1.5:
            flags.append("SUPERLINEAR?")
        if entry["plan_changed"]:
            diff = {k: (entry["sf0.1"]["plan"][k], entry["sf1"]["plan"][k])
                    for k in entry["sf1"]["plan"]
                    if entry["sf1"]["plan"][k] != entry["sf0.1"]["plan"][k]}
            flags.append(f"PLAN {diff}")
        print(f"{name:34s} {entry['sf0.1']['sec']:8.2f}s "
              f"{entry['sf1']['sec']:8.2f}s  x{entry['ratio']:.2f}  "
              f"{' '.join(flags)}", flush=True)

    summary = {
        "clones": clones,
        "n": len(results),
        "n_errors": len(errors),
        "total_sf0.1": round(sum(r["sf0.1"]["sec"] for r in results.values()), 1),
        "total_sf1": round(sum(r["sf1"]["sec"] for r in results.values()), 1),
        "superlinear": sorted(n for n, r in results.items()
                              if r["ratio"] > clones * 1.5),
        "plan_changed": sorted(n for n, r in results.items()
                               if r["plan_changed"]),
        "queries": results,
    }
    if errors:
        summary["errors"] = errors
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        out_name)
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in summary.items() if k != "queries"}))
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
