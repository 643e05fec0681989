#!/usr/bin/env python
"""Registry-wide physical-plan census: for EVERY registry query, count
the plan features that decide 100 TB viability — Python row UDFs
(BatchEvalPython), Arrow UDFs (ArrowEvalPython / mapInPandas),
cartesian products, broadcast-nested-loop joins, exchanges, and
codegen stages.

Usage: python tools/plan_census.py [sf_dir] [query ...]

Prints one line per query plus a summary; exits nonzero if any query
outside the documented allowlists shows a row-UDF, cartesian, or
nested-loop join.  tests/test_plans.py runs the same census over the
whole registry as a regression gate.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hpctoolkit_dataframe_spark import get_spark  # noqa: E402
from hpctoolkit_dataframe_spark.plans import explain  # noqa: E402
from hpctoolkit_dataframe_spark.queries import REGISTRY  # noqa: E402

# Arrow-vectorized Python stages (the sanctioned slow path): batch
# parsers and numpy array kernels, never row-at-a-time logic.
ARROW_OK = {
    "winnow_fingerprints",   # vectorized k-gram window select
    "simhash64",             # 64-lane bit-count fold over JVM hashes
    "simhash_near_dup_pairs",
    "incremental_dedup", "incremental_dedup_resume",  # consume simhash
    "media_frame_sample", "media_fake_features",      # mapInPandas codec
    "bpe_train_merges", "bpe_encode_stats",           # Arrow encode
    "cct_xml_ingest", "cct_flat_profile", "cct_callers_view",  # XML parse
    "semdedup_prune",        # per-cell int64 GEMM verify (applyInPandas)
    "semantic_decontaminate",  # broadcast-bench int64 GEMM argmax
                               # (mapInPandas; r8 — replaced the
                               # crossJoin + interpreted per-pair dot)
    # r13 exact-int64 vector kernels (_veckernel, VERDICT r12 #1): the
    # interpreted transform/zip_with/aggregate distance lambdas became
    # numpy int64 GEMM/argmin stages — bit-identical arithmetic,
    # oracle-pinned.  (kmeans_centroids / pq_codes / pq_ann consume the
    # memoized builds, so their census plans are checkpoint scans.)
    "knn_cosine",        # mapInPandas GEMM vs broadcast query matrix
    "ivf_ann", "ivf_ann_trained",  # fused assign+probe+score pass
    "ivfpq_ann",         # ArrowEvalPython ranked-cells probe
    "hybrid_search_rrf",  # dense leg = the knn_cosine GEMM kernel
}

# queries whose plan legitimately contains a BroadcastNestedLoopJoin:
# a crossJoin against a BROADCAST SCALAR (1-row aggregate / tiny
# centroid table) — constant fan-out, not a quadratic join.
SCALAR_BNLJ_OK = {
    "knn_cosine", "ivf_ann", "ivf_ann_trained",
    "kmeans_centroids", "ivfpq_ann", "decontaminate", "cct_hot_regions",
    "quality_top_decile", "cct_diff_returnflag",
    "stratified_sample", "pq_codes", "pq_ann", "cct_ratio_of_total",
    "cct_flame_widths",
    "training_shard_manifest", "corpus_report",   # quality threshold scalar
    "cct_hot_path", "cct_hot_path_batch",         # root-metric scalar probe
    "triangle_count_dup_graph",                   # 1-row edge-count join
    "bm25_topk",                                  # (nd, tt) corpus-scalar frame
    "hybrid_search_rrf",   # bm25 scalars + broadcast query-vector leg
    "pmi_top_pairs",       # (T, N) corpus-scalar frames
    "bigram_lm_score",     # 1-row vocab-size frame
    "copurchase_lift",     # 1-row basket-count frame
    "dsir_importance_weights",  # 1-row (r_tot, t_tot) corpus-scalar frame
    "curation_funnel_report",   # composes the dsir stage (same scalar)
    "temperature_mixture_plan",  # 1-row (sum_u, tok_total) scalar frame
}


def census(spark, sf_dir: str, names):
    rows = []
    for name in names:
        q = REGISTRY[name]
        try:
            df = q.fn(spark, sf_dir)
            plan = explain.executed_plan(df)
            joins = explain.join_strategies(df)
            rows.append({
                "query": name,
                # BatchEvalPython = true row-at-a-time; everything else
                # Python is Arrow-batched (sanctioned when allowlisted)
                "py_udf": plan.count("BatchEvalPython"),
                "arrow": plan.count("ArrowEvalPython")
                + plan.count("FlatMapGroupsInPandas")
                + plan.count("MapInPandas") + plan.count("MapInArrow"),
                "cartesian": joins["cartesian"],
                "bnlj": joins["broadcast_nested_loop"],
                "exchanges": explain.exchange_count(df),
                "codegen": explain.codegen_stage_count(df),
                # O(dim) higher-order aggregate lambda inside a Filter:
                # Catalyst's pushdown substitutes the alias, so the
                # interpreted lambda re-runs per row below the Project
                # that computes it again (r8 knn_cosine x1.3 finding)
                "filter_agg": sum(
                    1 for ln in plan.splitlines()
                    if "Filter" in ln and "aggregate(" in ln),
            })
        except Exception as exc:
            rows.append({"query": name, "error": f"{type(exc).__name__}: {exc}"[:200]})
    return rows


def violations(rows):
    bad = []
    for r in rows:
        if "error" in r:
            bad.append((r["query"], r["error"]))
            continue
        if r["py_udf"]:
            bad.append((r["query"], f"row-at-a-time Python UDF x{r['py_udf']}"))
        if r["arrow"] and r["query"] not in ARROW_OK:
            bad.append((r["query"], f"undocumented Arrow stage x{r['arrow']}"))
        if r["cartesian"]:
            bad.append((r["query"], "CartesianProduct"))
        if r["bnlj"] and r["query"] not in SCALAR_BNLJ_OK:
            bad.append((r["query"], f"BroadcastNestedLoopJoin x{r['bnlj']}"))
        if r.get("filter_agg"):
            bad.append((r["query"],
                        f"aggregate lambda in Filter x{r['filter_agg']} "
                        "(alias-pushdown double-eval; use a raw-column "
                        "predicate like vectors._nonzero_embedding)"))
    return bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or list(REGISTRY)
    spark = get_spark("plan-census")
    spark.sparkContext.setLogLevel("ERROR")
    rows = census(spark, sf_dir, names)
    for r in rows:
        if "error" in r:
            print(f"ERR  {r['query']}: {r['error']}")
        else:
            print(f"{r['query']:34s} py={r['py_udf']} arrow={r['arrow']} "
                  f"cart={r['cartesian']} bnlj={r['bnlj']} "
                  f"xchg={r['exchanges']} wscg={r['codegen']}")
    bad = violations(rows)
    for name, why in bad:
        print(f"VIOLATION {name}: {why}")
    print(f"{len(rows)} queries, {len(bad)} violations")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
