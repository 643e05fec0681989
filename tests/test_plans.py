"""Plan-quality assertions: the performance contract, as tests.

Dimension joins must broadcast, self-joins must prune before they
join, and headline queries must not fall back to Python evaluation
(SURVEY.md §4: Catalyst replaces all of the reference's hand-rolled
optimizations — these tests prove it actually happens)."""

import pytest

from hpctoolkit_dataframe_spark.plans import explain
from hpctoolkit_dataframe_spark.queries import REGISTRY

from .conftest import SF_DIR


def test_cct_build_single_shuffle_aggregate(spark):
    from hpctoolkit_dataframe_spark.queries.cct_tpch import build_cct_plan

    df = build_cct_plan(spark, SF_DIR)
    # rollup = one HASH shuffle; the 3 joins upstream are all broadcast.
    # (A RoundRobin spread of the single-row-group local input may add
    # one more exchange — a local[32] artifact, not a plan property.)
    assert explain.join_strategies(df)["broadcast_hash"] == 3
    assert explain.join_strategies(df)["sort_merge"] == 0
    assert explain.exchange_count(df) <= 2
    plan = explain.executed_plan(df)
    import re

    assert len(re.findall(r"Exchange hash", plan)) <= 1
    assert explain.python_udf_count(df) == 0


@pytest.mark.parametrize("name, most", [("cct_merge_profiles", 2),
                                        ("cct_flame_diff", 4)])
def test_cct_leaf_rollups_keep_hash_exchanges(spark, name, most):
    """The entries that roll the lineitem leaves up themselves, rather
    than reading the memoized tree, plan no more hash exchanges than
    when each wrote its own copy of the leaf join (2 and 4)."""
    import re

    df = REGISTRY[name].fn(spark, SF_DIR)
    assert len(re.findall(r"Exchange hash", explain.executed_plan(df))) <= most


def test_hot_path_batch_one_lazy_plan(spark):
    """The batch hot path is one window exchange and one group exchange
    over its input: no checkpoint of its own and no Python stage."""
    from hpctoolkit_dataframe_spark.operators import cct as ops
    from hpctoolkit_dataframe_spark.queries.cct_tpch import build_cct

    df = REGISTRY["cct_hot_path_batch"].fn(spark, SF_DIR)
    assert explain.exchange_count(df) <= 2
    # the only checkpoint scans are the memoized build's, which the
    # ratio-of-total input reads
    base = ops.with_ratio_of_total(build_cct(spark, SF_DIR), "value", "ratio")
    scans = explain.executed_plan(base).count("Scan ExistingRDD")
    assert explain.executed_plan(df).count("Scan ExistingRDD") == scans
    assert explain.python_udf_count(df) == 0


def test_filters_stay_jvm_side(spark):
    from hpctoolkit_dataframe_spark.operators import cct as ops
    from hpctoolkit_dataframe_spark.queries.cct_tpch import build_cct

    df = ops.at_paths(ops.at_depths(build_cct(spark, SF_DIR), 2, 4),
                      prefix=(3,))
    # predicates are Column expressions -> no Python eval in the plan
    assert explain.python_udf_count(df) == 0
    assert explain.codegen_stage_count(df) >= 1


def test_ngram_jaccard_prunes_before_selfjoin(spark):
    """The hot-shingle cap must be applied BELOW the shingle self-join
    (r13: an ANTI-join against the small hot set — df > CAP — instead
    of a semi-join against the rare majority; same pruning, bounded
    broadcast side), otherwise one hot shingle with DF=10^6 emits
    ~10^12 pairs before the cap deletes them (VERDICT r1 #1)."""
    import re

    df = REGISTRY["ngram_jaccard_pairs"].fn(spark, SF_DIR)
    plan = explain.executed_plan(df)
    anti = plan.find("LeftAnti")
    assert anti != -1, "hot-shingle cap is not an anti-join"
    # tree toString prints parents before children: the pair-generating
    # self-join (its doc_id < doc_id condition) must appear ABOVE the
    # anti-join, i.e. the anti-join is in its subtree
    m = re.search(r"doc_id#\d+L? < doc_id#\d+", plan)
    assert m is not None
    assert m.start() < anti


def test_minhash_lsh_prunes_before_selfjoin(spark):
    """The band-key frequency cap must sit BELOW the pair self-join (a
    semi-join on each input): one degenerate band key with 10^6 members
    would otherwise emit ~10^12 pairs (VERDICT r2 #1)."""
    import re

    df = REGISTRY["minhash_lsh_pairs"].fn(spark, SF_DIR)
    plan = explain.executed_plan(df)
    semi = plan.find("LeftSemi")
    assert semi != -1, "band-key cap is not a semi-join"
    m = re.search(r"doc_id#\d+L? < doc_id#\d+", plan)
    assert m is not None
    # parents print before children: the pair self-join must be ABOVE
    # the semi-join, i.e. the cap is in its subtree
    assert m.start() < semi


def test_lsh_near_dup_prunes_before_selfjoin(spark):
    """Same contract for the hyperplane buckets: the bucket frequency
    cap must be applied below the vec_a < vec_b self-join."""
    import re

    df = REGISTRY["lsh_near_dup_pairs"].fn(spark, SF_DIR)
    plan = explain.executed_plan(df)
    semi = plan.find("LeftSemi")
    assert semi != -1, "bucket cap is not a semi-join"
    m = re.search(r"vec_a#\d+L? < vec_b#\d+", plan)
    assert m is not None
    assert m.start() < semi


def test_simhash64_is_narrow(spark):
    """No explode/crossJoin/shuffle: the fingerprint folds per-row
    (VERDICT r1 #2).  The 64-lane bit-count is the winnow-class Arrow
    exception (exactly ONE vectorized UDF; hashing stays JVM-side —
    VERDICT r4 #2 widened the fold from 16 to 64 bits)."""
    df = REGISTRY["simhash64"].fn(spark, SF_DIR)
    plan = explain.executed_plan(df)
    assert "CartesianProduct" not in plan and "Generate" not in plan
    assert explain.exchange_count(df) == 0
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan  # never row-at-a-time Python


def test_simhash_near_dup_cap_below_self_join(spark):
    """Same contract as the minhash band cap and hyperplane bucket cap:
    the per-band frequency cap must semi-join BELOW the doc_a < doc_b
    self-join, so a degenerate band bucket can never materialize the
    quadratic candidate set."""
    import re

    df = REGISTRY["simhash_near_dup_pairs"].fn(spark, SF_DIR)
    plan = explain.executed_plan(df)
    semi = plan.find("LeftSemi")
    assert semi != -1, "band cap is not a semi-join"
    m = re.search(r"doc_a#\d+L? < doc_b#\d+", plan)
    assert m is not None
    assert m.start() < semi
    # the fold itself ran inside the checkpoint: plan stays Python-free
    assert explain.python_udf_count(df) == 0


def test_headline_queries_no_python_udfs(spark):
    # knn_cosine left this list in r13: its pair scoring is now the
    # sanctioned Arrow int64 GEMM kernel (see
    # test_vector_kernel_plan_shape); embedding_centroids keeps a
    # pure-JVM vector-family representative here.
    for name in ("doc_stats", "minhash_signatures",
                 "repetition_ratio", "embedding_centroids"):
        df = REGISTRY[name].fn(spark, SF_DIR)
        assert explain.python_udf_count(df) == 0, name


def test_vector_kernel_plan_shape(spark):
    """r13 vector kernels (VERDICT r12 #1): knn_cosine and the IVF
    probes run exactly ONE Arrow-batched Python stage (the exact-int64
    GEMM kernel) and zero row-at-a-time UDFs; knn's former
    BroadcastNestedLoopJoin over the query vectors is gone — the
    kernel scores against the driver-collected bounded query matrix,
    so the only remaining exchange is the final top-k window's."""
    for name in ("knn_cosine", "ivf_ann"):
        df = REGISTRY[name].fn(spark, SF_DIR)
        plan = explain.executed_plan(df)
        assert plan.count("MapInPandas") == 1, name
        assert plan.count("BatchEvalPython") == 0, name
        joins = explain.join_strategies(df)
        assert joins["broadcast_nested_loop"] == 0, name
        assert joins["cartesian"] == 0, name
        assert explain.exchange_count(df) <= 1, name


def test_asof_join_plan_shape(spark):
    """DEFAULT union+window form (no time_buckets): no cartesian/
    nested-loop anything, and the whole join costs at most the key
    shuffle plus input spreads."""
    from pyspark.sql import functions as F

    from hpctoolkit_dataframe_spark.operators.asof import asof_join
    from hpctoolkit_dataframe_spark.queries import load_table

    ev = load_table(spark, SF_DIR, "events").withColumn(
        "ts_us", F.expr("ts div 1000"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts_us")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), "ts_us")
    df = asof_join(purchases, views, on="user_id", left_ts="ts_us",
                   right_cols=["view_id"])
    s = explain.join_strategies(df)
    assert s["cartesian"] == 0 and s["broadcast_nested_loop"] == 0
    assert s["sort_merge"] == 0  # it is not a join at all — one window
    assert explain.exchange_count(df) <= 2


def test_asof_presplit_plan_shape(spark):
    """events_asof_attribution runs the hot-key pre-split
    (time_buckets=32, operators/asof.py:133): the carry-in injection
    legitimately adds two small aggregations, so the pin is <=5
    exchanges — still joinless (no cartesian/BNLJ/SMJ)."""
    df = REGISTRY["events_asof_attribution"].fn(spark, SF_DIR)
    s = explain.join_strategies(df)
    assert s["cartesian"] == 0 and s["broadcast_nested_loop"] == 0
    assert s["sort_merge"] == 0
    assert explain.exchange_count(df) <= 5


def test_funnel_is_joinless_window_scan(spark):
    """The 3-step funnel must contain NO join at all: step matching is
    the per-user window scan (the interval-join formulation it
    replaced was quadratic per (user, bucket) under user skew — the r7
    skewed-clone finding).  One user-key exchange feeds both windows;
    the only other exchange is the per-day aggregate."""
    df = REGISTRY["funnel_view_click_purchase"].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    s = explain.join_strategies(df)
    assert all(v == 0 for v in s.values()), s
    assert explain.exchange_count(df) <= 3, explain.exchange_count(df)
    assert explain.python_udf_count(df) == 0


def test_interval_join_is_hash_equi_join(spark):
    """The bucketed interval join must execute as a hash EQUI-join on
    (key, bucket) with the range predicate as a post-filter — never a
    BroadcastNestedLoop/cartesian, which is what a bare inequality join
    degenerates to."""
    df = REGISTRY["purchase_view_windows"].fn(spark, SF_DIR)
    s = explain.join_strategies(df)
    assert s["broadcast_nested_loop"] == 0 and s["cartesian"] == 0
    assert s["broadcast_hash"] + s["shuffled_hash"] + s["sort_merge"] >= 1
    assert explain.python_udf_count(df) == 0


def test_load_table_spread(spark):
    from hpctoolkit_dataframe_spark.queries import load_table

    par = spark.sparkContext.defaultParallelism
    plain = load_table(spark, SF_DIR, "lineitem")
    spread = load_table(spark, SF_DIR, "lineitem", spread=True)
    # single-row-group testdata: the plain scan cannot parallelize
    assert plain.rdd.getNumPartitions() < par // 2
    assert spread.rdd.getNumPartitions() >= par // 2


def test_stratified_sample_single_shuffle_topk(spark):
    df = REGISTRY["stratified_sample"].fn(spark, SF_DIR)
    plan = explain.executed_plan(df)
    # ONE stratum shuffle, and Spark's WindowGroupLimit must prune to
    # k rows per stratum map-side (Partial) before that shuffle — the
    # property that keeps the sample's shuffle O(strata * k), not O(n)
    assert explain.exchange_count(df) == 1
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert explain.python_udf_count(df) == 0


def test_posting_lists_single_token_exchange(spark):
    df = REGISTRY["posting_lists"].fn(spark, SF_DIR)
    plan = explain.executed_plan(df)
    # df-count window, rank prune, and the collect groupBy all reuse
    # ONE (token) hash exchange; the rank prune (WindowGroupLimit) must
    # sit ABOVE the count window so df still counts every posting
    assert explain.exchange_count(df) == 1
    assert plan.index("WindowGroupLimit") < plan.index(
        "count(1) windowspecdefinition")  # printed top-down: limit above count
    assert explain.python_udf_count(df) == 0


def test_quality_top_decile_broadcast_threshold(spark):
    df = REGISTRY["quality_top_decile"].fn(spark, SF_DIR)
    plan = explain.executed_plan(df)
    # the P90 scalar must broadcast; pass 2 stays a map-side filter
    assert "BroadcastNestedLoopJoin" in plan
    assert explain.join_strategies(df)["cartesian"] == 0


def test_cct_diff_single_rollup_shuffle(spark):
    """Both profile slices must ride ONE rollup exchange — a second
    tree build or a path-key join would show extra exchanges/joins."""
    df = REGISTRY["cct_diff_returnflag"].fn(spark, SF_DIR)
    strategies = explain.join_strategies(df)
    assert strategies["broadcast_hash"] >= 2    # customer + nation dims
    assert strategies["sort_merge"] == 0
    import re

    plan = explain.executed_plan(df)
    # one hash exchange for the rollup, plus at most the orders join
    assert len(re.findall(r"Exchange hash", plan)) <= 2
    assert explain.python_udf_count(df) == 0


def test_incremental_dedup_fingerprints_broadcast(spark):
    """The delta joins two DISTINCT fingerprint sets.  Both broadcast
    at test scale; at corpus scale they are the persisted bucketed
    fingerprint store instead (tests/test_dedup_stages.py round-trip),
    where the store side joins shuffle-free from its bucket layout.
    The simhash fold's Arrow UDF runs inside the eager localCheckpoint,
    so the returned plan itself stays Python-free."""
    df = REGISTRY["incremental_dedup"].fn(spark, SF_DIR)
    strategies = explain.join_strategies(df)
    assert strategies["broadcast_hash"] >= 2
    assert strategies["sort_merge"] == 0
    assert strategies["cartesian"] == 0
    assert explain.python_udf_count(df) == 0


def test_lsh_verified_pairs_no_python_and_no_cartesian(spark):
    df = REGISTRY["lsh_verified_pairs"].fn(spark, SF_DIR)
    strategies = explain.join_strategies(df)
    assert strategies["cartesian"] == 0
    assert strategies["broadcast_nested_loop"] == 0
    assert explain.python_udf_count(df) == 0


def test_funnel_steps_are_hash_joins(spark):
    # both funnel steps must run as bucketed hash equi-joins (the
    # interval_join contract) — an inequality-only fallback would be a
    # BroadcastNestedLoop that dies at scale
    df = REGISTRY["funnel_view_click_purchase"].fn(spark, SF_DIR)
    strategies = explain.join_strategies(df)
    assert strategies["cartesian"] == 0
    assert strategies["broadcast_nested_loop"] == 0
    assert explain.python_udf_count(df) == 0


def test_registry_wide_plan_census(spark):
    """Every registry query's executed plan, audited at once: zero
    row-at-a-time Python UDFs anywhere, zero cartesian products, Arrow
    stages and broadcast-scalar nested-loop joins only where
    documented (tools/plan_census.py allowlists).  This is the global
    scale-viability gate — the per-query tests above go deeper on the
    headliners, this one guarantees no NEW query regresses the floor."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import plan_census

    rows = plan_census.census(spark, SF_DIR, list(REGISTRY))
    bad = plan_census.violations(rows)
    assert not bad, bad


def test_cosine_zero_norm_filter_has_no_norm_lambda(spark):
    """The cosine family's zero-norm exclusion must never evaluate the
    O(dim) norm aggregate inside a Filter node: Catalyst pushes an
    aliased-column filter below the Project with the alias substituted,
    which made the interpreted norm lambda run twice per corpus row
    (r8 matched-load A/B: a real x1.3 on knn_cosine).  The guard is the
    short-circuit exists() pair on the raw array (vectors.
    _nonzero_embedding); the norm aggregate may appear only in Project
    nodes."""
    for name in ("knn_cosine", "hybrid_search_rrf",
                 "semantic_decontaminate"):
        df = REGISTRY[name].fn(spark, SF_DIR)
        plan = explain.executed_plan(df)
        bad = [ln for ln in plan.splitlines()
               if "Filter" in ln and "aggregate(" in ln]
        assert not bad, (name, bad[:2])
