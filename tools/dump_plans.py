#!/usr/bin/env python
"""Regenerate PLANS.md: the formatted physical plans of flagship
queries with a one-paragraph audit each — the artifact a reviewer
reads to check the engine produces the plans we claim (broadcasts
where dims are small, shuffle-hash where sorting would dominate,
zero Python UDFs, caps below self-joins).

Usage: python tools/dump_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from contextlib import redirect_stdout  # noqa: E402

from hpctoolkit_dataframe_spark import get_spark  # noqa: E402
from hpctoolkit_dataframe_spark.queries import REGISTRY  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

# query -> what the plan must show (the audit claim the dump evidences)
SELECTION = {
    "minhash_lsh_pairs": (
        "Banded LSH self-join: the band-key equi-join (never a cartesian),"
        " with the BAND_DF_CAP hot-bucket filter applied BELOW the join"
        " input so a degenerate band key cannot fan out."),
    "knn_cosine": (
        "Brute-force cosine top-k baseline: the query-vector side is a"
        " broadcast (BroadcastNestedLoopJoin against a scalar-sized frame"
        " is the documented allowlisted shape), the corpus side scans"
        " once, TakeOrderedAndProject caps the result without a global"
        " sort."),
    "dsir_importance_weights": (
        "DSIR scoring: the B=1024 bucket weight table reaches the token"
        " stream as a BroadcastHashJoin; the only full-size exchanges are"
        " the two count aggregations (map-side combined) and the final"
        " per-doc hash aggregate."),
    "er_part_pairs": (
        "Blocked record linkage: equi-join on (noun, brand) with the"
        " ER_BLOCK_CAP semi-join and the length-band predicate below/"
        " inside the join — levenshtein runs only on surviving"
        " candidates."),
    "curation_funnel_report": (
        "Composed funnel: canonical-hash window + scan-fused Gopher"
        " flags + broadcast DSIR weights, joined on doc_id; shows the"
        " stages compose without recomputation of the corpus scan per"
        " stage beyond the three declared passes."),
    "funnel_view_click_purchase": (
        "3-step funnel: ONE user-key exchange + one descending sort"
        " feeding both running-min windows (next purchase, then the"
        " (next click, its purchase) struct), then the per-day hash"
        " aggregate.  No join between steps at all — the interval-join"
        " formulation this replaced emitted quadratic per-(user,"
        " bucket) candidate pairs under user skew (r7 skewed-clone"
        " finding)."),
    "cct_ratio_of_parent": (
        "Monotone walk-up short-circuit (r7): the rollup-sum metric"
        " provably stops the walk at the immediate parent, so the plan"
        " is ONE slim parent self-join with no hint (AQE broadcasts a"
        " small side, else sort-merge) — no"
        " explode, no aggregate.  The general non-monotone path"
        " (ancestor explode, (depth, id) join, max_by deepest stopper)"
        " is cct_ratio_of_parent_walkup's plan."),
    "cct_ratio_of_parent_walkup": (
        "Ancestor walk-up, general path: explode each node to its"
        " ancestor depths, address each ancestor by the BIGINT pair"
        " (depth, callpath[depth]) (the root as depth 0), join against"
        " the node table with no hint (AQE broadcasts a small side,"
        " else sort-merge), max_by deepest stopper.  The node table is"
        " aggregated on the join key to reject duplicate keys; that"
        " aggregate's exchange is the join's, so it adds none.  No"
        " Python stage."),
    "cct_hot_path": (
        "Greedy hot path as one lazy plan (hot_path is hot_paths from a"
        " start path): one exchange for the rank-1 window on (depth,"
        " parent id), cut down by WindowGroupLimit before and after it,"
        " then one exchange to the single group whose collect_list holds"
        " the anchor and the above-threshold rank-1 rows; an aggregate"
        " walk keeps the chain and inline emits its rows.  No driver"
        " collect, no checkpoint of its own, no join back."),
    "cct_hot_path_batch": (
        "The same plan through hot_paths directly (no partition columns"
        " here; with them, one repartition feeds both the window and the"
        " group): at most 2 shuffle exchanges, the build's checkpoint"
        " scans only, no Python stage (tests/test_plans.py)."),
    "cct_merge_profiles": (
        "Multi-profile merge: ONE grouping-sets pass builds all 3"
        " per-profile trees (no per-profile rescan; p rides every"
        " grouping set), then merge_profiles collapses them in one"
        " callpath-hash shuffle with map-side partial aggregation —"
        " sum/min/max combines and the per-node profile count in the"
        " same aggregate."),
    "events_asof_attribution": (
        "As-of join with the hot-key pre-split (time_buckets=32): NO"
        " join operator at all — union + (user, time-bucket) window"
        " with per-bucket carry-in rows, so one bot user's timeline"
        " sorts across 32 partitions instead of one.  The two small"
        " carry-in aggregations are the documented premium; total"
        " exchanges <= 5, zero cartesian/BNLJ/SMJ."),
}


def main() -> None:
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = ["# PLANS — formatted physical plans of flagship queries",
           "",
           "Regenerate with `python tools/dump_plans.py` (sf0.01; plans are",
           "scale-independent shapes).  Each section states the claim the",
           "plan evidences; `tools/plan_census.py` asserts the negative",
           "space (0 Python UDFs, 0 cartesians, BNLJ allowlist) over the",
           "WHOLE registry.",
           ""]
    for name, claim in SELECTION.items():
        df = REGISTRY[name].fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue().rstrip()
        # keep the operator tree + the first operator details; full
        # per-operator verbiage would be thousands of lines
        tree = plan.split("\n\n")[0]
        out += [f"## {name}", "", claim, "", "```", tree, "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(SELECTION)} queries)")


if __name__ == "__main__":
    main()
