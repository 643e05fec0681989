"""Two-scale-factor oracle regression for the newest query suites.

VERDICT r5 #6: a 1-row aggregate oracle can pass by ACCIDENT at one
scale factor (the triangle-count oracle matched a DuckDB statement
missing its FROM clause at sf0.01 — only the sf0.1 sweep caught it).
This pins the curation suite — the newest, least battle-tested oracle
SQL — plus the round-6 additions (BPE goldens, exact sketch twins) at
BOTH sf0.001 and sf0.1, exactly replicating the driver's compare
(column-name sort, exact values).
"""

import duckdb
import pytest

from hpctoolkit_dataframe_spark.queries import REGISTRY

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

CURATION_SUITE = [
    "bm25_topk", "hybrid_search_rrf", "semdedup_prune", "dedup_keep_best",
    "dq_report", "scd2_customer_history", "er_part_pairs", "pmi_top_pairs",
    "bigram_lm_score", "copurchase_lift",
]
R6_ADDITIONS = [
    "bpe_train_merges", "bpe_encode_stats", "exact_daily_uniques",
    "exact_value_percentiles", "exact_weekly_uniques",
    "gopher_quality_flags", "dsir_importance_weights", "canonical_dedup",
    "curation_funnel_report", "temperature_mixture_plan",
    # leakage_safe_split is two-SF-verified manually (COVERAGE.md r6)
    # but excluded here: its DuckDB oracle embeds the recursive-CTE
    # connected-components twin, ~80 s at sf0.1 — too slow for CI.
]


def _canon(cols, rows):
    idx = [cols.index(c) for c in sorted(cols)]
    out = [tuple(r[i] for i in idx) for r in rows]
    return sorted(out, key=lambda r: tuple(
        (x is None, str(type(x)), str(x)) for x in r))


def _check(spark, sf_dir, names):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = []
    for name in names:
        q = REGISTRY[name]
        sdf = q.fn(spark, sf_dir)
        s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
        res = con.execute(q.sql)
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
        if sorted(s_cols) != sorted(d_cols):
            bad.append(f"{name}: columns {s_cols} vs {d_cols}")
            continue
        if len(s_rows) != len(d_rows):
            bad.append(f"{name}: rows {len(s_rows)} vs {len(d_rows)}")
            continue
        ss, dd = _canon(s_cols, s_rows), _canon(d_cols, d_rows)
        if ss != dd:
            first = next((a, b) for a, b in zip(ss, dd) if a != b)
            bad.append(f"{name}: values differ, e.g. {first}")
    assert not bad, "\n".join(bad)


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.1"])
def test_curation_suite_oracles(spark, sf_dir):
    _check(spark, sf_dir, CURATION_SUITE)


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.1"])
def test_r6_addition_oracles(spark, sf_dir):
    _check(spark, sf_dir, R6_ADDITIONS)


R7_ADDITIONS = [
    # multi-profile merge through the real merge_profiles operator
    # (the one SURVEY §2 surface that lacked a driver-gated oracle)
    "cct_merge_profiles",
    # differential flame: A's geometry, B-vs-A signed change per segment
    "cct_flame_diff",
    # embedding-space leakage vs the labeled benchmark set
    "semantic_decontaminate",
]


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.1"])
def test_r7_addition_oracles(spark, sf_dir):
    _check(spark, sf_dir, R7_ADDITIONS)


# every TPC-H calling-context-tree entry (the cct_xml_* trio reads XML
# profiles, not these tables): the shared leaf join and rollup-level
# mapping they are built from, checked at two scales
CCT_SUITE = sorted(n for n, q in REGISTRY.items()
                   if n.startswith("cct_")
                   and q.fn.__module__.endswith(".cct_tpch"))


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01"])
def test_cct_suite_oracles(spark, sf_dir):
    _check(spark, sf_dir, CCT_SUITE)
