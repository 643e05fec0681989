"""Invariants for the verification and incremental dedup stages
(their value-level correctness is oracle-gated; these pin the
cross-stage semantics the oracle compare cannot see)."""

from pyspark.sql import functions as F

from hpctoolkit_dataframe_spark.queries import REGISTRY, load_table

SF_DIR = "/root/testdata/sf0.001"


def test_verified_pairs_cover_exactly_the_candidates(spark):
    cand = {(r["doc_a"], r["doc_b"]) for r in
            REGISTRY["minhash_lsh_pairs"].fn(spark, SF_DIR).collect()}
    scored = REGISTRY["lsh_verified_pairs"].fn(spark, SF_DIR).collect()
    # verification SCORES the candidate set, it must not invent or drop
    assert {(r["doc_a"], r["doc_b"]) for r in scored} == cand
    for r in scored:
        assert 0 <= r["lev"] <= r["max_len"]  # DP distance bound
        # identical texts must verify; disjoint texts must not
        if r["lev"] == 0:
            assert r["verified"] == 1
        if r["lev"] == r["max_len"] and r["max_len"] > 0:
            assert r["verified"] == 0


def test_verified_matches_exact_python_levenshtein(spark):
    """Cross-check a sample of pairs against a reference DP in Python
    (guards the ASCII byte-vs-char assumption both engines share)."""
    rows = (REGISTRY["lsh_verified_pairs"].fn(spark, SF_DIR)
            .limit(5).collect())
    if not rows:
        return
    texts = {r["doc_id"]: r["text"] for r in
             load_table(spark, SF_DIR, "documents")
             .filter(F.col("doc_id").isin(
                 [r["doc_a"] for r in rows] + [r["doc_b"] for r in rows]))
             .collect()}

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    for r in rows:
        assert r["lev"] == lev(texts[r["doc_a"]], texts[r["doc_b"]])


def test_incremental_dedup_flag_semantics(spark):
    out = REGISTRY["incremental_dedup"].fn(spark, SF_DIR).collect()
    assert out  # the 1/DELTA_MOD split is non-empty at every sf
    docs = {r["doc_id"]: r["text"] for r in
            load_table(spark, SF_DIR, "documents").collect()}
    from hpctoolkit_dataframe_spark.queries.dedup import DELTA_MOD
    import hashlib

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8],
                   16) % DELTA_MOD
    delta_ids = {r["doc_id"] for r in out}
    # the query contract excludes NULL-text docs (isNotNull filter /
    # simhash-CTE join) — mirror that in the expected set
    assert delta_ids == {d for d, t in docs.items()
                         if t is not None and bucket(d) == 0}
    corpus_texts = {t for d, t in docs.items()
                    if t is not None and bucket(d) != 0}
    for r in out:
        # exact flag == literal text membership in the corpus split
        assert r["exact_dup"] == int(docs[r["doc_id"]] in corpus_texts)
        # identical text => identical simhash, so exact implies near
        if r["exact_dup"]:
            assert r["near_dup"] == 1


def test_cct_diff_partitions_the_total(spark):
    """Each slice's per-depth sums must reconstruct the full tree's
    root total — the diff is a partition of value, not an estimate."""
    diff = REGISTRY["cct_diff_returnflag"].fn(spark, SF_DIR).collect()
    root = [r for r in diff if r["depth"] == 0]
    assert len(root) == 1
    total = root[0]["value_r"] + root[0]["value_o"]
    full_root = [r for r in
                 REGISTRY["cct_nodes"].fn(spark, SF_DIR).collect()
                 if r["depth"] == 0]
    assert total == full_root[0]["value"]
    for d in (1, 2, 3):
        level = [r for r in diff if r["depth"] == d]
        assert sum(r["value_r"] + r["value_o"] for r in level) == total
    for r in diff:
        assert r["delta"] == r["value_r"] - r["value_o"]
        assert 0.0 <= r["share_r"] <= 1.0


def test_fingerprint_store_roundtrip_bucketed(spark, tmp_path):
    """The production incremental-dedup loop: persist the corpus'
    fingerprint store as a table bucketed on the fingerprint, then
    check a delta against it — the store side must load WITHOUT an
    Exchange (its bucket layout IS the join partitioning), so re-runs
    never re-shuffle 100 TB of history."""
    from hpctoolkit_dataframe_spark.plans import explain
    from hpctoolkit_dataframe_spark.queries.textops import with_simhash64
    from hpctoolkit_dataframe_spark.sources.sinks import write_bucketed_table

    from .test_bucketed_join import _no_broadcast

    docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("text").isNotNull())
    fp = with_simhash64(docs).select(
        F.md5("text").alias("th"), "simhash").distinct()
    write_bucketed_table(fp, "fp_store_t", bucket_cols=("th",),
                         n_buckets=8, sort_cols=("th",))
    try:
        store = spark.table("fp_store_t")
        delta = with_simhash64(docs.limit(50)).select(
            "doc_id", F.md5("text").alias("th"))
        with _no_broadcast(spark):  # force the bucket layout to carry it
            flagged = delta.join(store.select("th"), "th", "left_semi")
            plan = explain.executed_plan(flagged)
            # exactly ONE hash exchange on th — the delta aligning to
            # the store's buckets; the store itself never re-shuffles
            import re

            assert len(re.findall(
                r"Exchange hashpartitioning\(th", plan)) == 1, plan
            # every delta doc IS in the store (built from all docs)
            assert flagged.count() == delta.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS fp_store_t")


def test_incremental_resume_batch2_zero_corpus_bytes(spark):
    """VERDICT r4 #5: run N+1 of the snapshot-resumable dedup must read
    ONLY the persisted store + its own batch.  Batch 2's executed plan
    therefore contains no documents.parquet scan at all (the batch rows
    come from the materialized split, the corpus side from the bucketed
    table), and the append must be visible: re-checking batch 1 against
    the grown snapshot flags every doc as an exact dup of itself."""
    from hpctoolkit_dataframe_spark.plans import explain
    from hpctoolkit_dataframe_spark.queries.dedup import (
        check_batch_against_store, fingerprint_split,
        incremental_dedup_resume_frames)

    table = "fp_resume_t"
    try:
        out1, out2 = incremental_dedup_resume_frames(
            spark, SF_DIR, table=table)
        plan = explain.executed_plan(out2)
        assert "documents.parquet" not in plan, plan
        assert table in plan  # the corpus side IS the store table
        assert out2.count() > 0 and out1.count() > 0
        # append visibility: batch 1's own fingerprints are now stored
        b1 = fingerprint_split(spark, SF_DIR).filter(F.col("bucket") == 1)
        recheck = check_batch_against_store(spark, b1, table).collect()
        assert recheck and all(r["exact_dup"] == 1 and r["near_dup"] == 1
                               for r in recheck)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_events_loader_handles_both_ts_vintages(spark, tmp_path):
    """load_table must normalize BOTH on-disk ts vintages (int64 nanos
    through r2 testdata; microsecond TIMESTAMP from r4) to identical
    LONG-nanosecond values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    micros = [1_700_000_000_000_000 + i * 7 for i in range(5)]
    common = {
        "event_id": pa.array(range(5), pa.int64()),
        "user_id": pa.array([1] * 5, pa.int64()),
        "event_type": pa.array(["click"] * 5, pa.string()),
        "value": pa.array([1.0] * 5, pa.float64()),
        "props": pa.array([""] * 5, pa.string()),
    }
    old = tmp_path / "old"; new = tmp_path / "new"
    old.mkdir(); new.mkdir()
    pq.write_table(pa.Table.from_pydict(
        {**common, "ts": pa.array([m * 1000 for m in micros], pa.int64())}),
        old / "events.parquet")
    pq.write_table(pa.Table.from_pydict(
        {**common, "ts": pa.array(micros, pa.timestamp("us"))}),
        new / "events.parquet")
    got = {}
    for vintage, d in (("nanos", old), ("timestamp", new)):
        df = load_table(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "bigint", vintage
        got[vintage] = sorted(r["ts"] for r in df.select("ts").collect())
    assert got["nanos"] == got["timestamp"] == \
        sorted(m * 1000 for m in micros)


def test_simhash_band_layouts_nest_and_guarantee_recall(spark):
    """The band layout is the scale knob: 2 x 32-bit bands (the 1e9-doc
    configuration) must produce a SUBSET of the 4 x 16-bit candidates
    (agreeing on a 32-bit half implies agreeing on both its 16-bit
    halves), and each layout's recall guarantee — every pair within
    hamming <= n_bands-1 — must hold exactly vs brute force."""
    from hpctoolkit_dataframe_spark.queries.textops import (
        simhash_banded_pairs)

    big = 10**9  # cap off: isolate the banding property itself
    pairs = {}
    for nb in (2, 4):
        pairs[nb] = {(r["doc_a"], r["doc_b"]): r["hamming"]
                     for r in simhash_banded_pairs(
                         spark, SF_DIR, n_bands=nb, band_cap=big,
                         hamming_k=6).collect()}
    assert set(pairs[2]) <= set(pairs[4])
    fps = sorted((r["doc_id"], r["simhash"]) for r in
                 REGISTRY["simhash64"].fn(spark, SF_DIR).collect())
    brute = {}
    for i, (da, sa) in enumerate(fps):
        for db, sb in fps[i + 1:]:
            h = bin((sa ^ sb) & (2**64 - 1)).count("1")
            if h <= 6:
                brute[(da, db)] = h
    for nb in (2, 4):
        guaranteed = {p for p, h in brute.items() if h <= nb - 1}
        assert guaranteed <= set(pairs[nb])
        # and no invented pairs/distances: everything emitted is real
        for p, h in pairs[nb].items():
            assert brute.get(p) == h


def test_pagerank_integer_invariants(spark):
    """Exact-integer PageRank sanity: every rank >= the damping base;
    total mass never exceeds the injected mass and loses at most 1 unit
    per edge-contribution floor per iteration.  (No hub assertion: the
    LSH dup graph is a union of near-cliques, where PageRank is
    correctly near-uniform — ranks differ only by floor rounding.)"""
    from hpctoolkit_dataframe_spark.queries.dedup import (
        PR_ITERS, PR_SCALE, _PR_BASE)

    rows = REGISTRY["pagerank_dup_graph"].fn(spark, SF_DIR).collect()
    assert rows
    assert all(r.rank_e12 >= _PR_BASE for r in rows)
    total = sum(r.rank_e12 for r in rows)
    n_edges = sum(r.deg for r in rows)
    assert total <= PR_SCALE * len(rows)
    assert total >= PR_SCALE * len(rows) - PR_ITERS * n_edges - 1


def test_leakage_safe_split_is_cluster_atomic(spark):
    """Every near-dup cluster must land in exactly ONE split (the
    property the query exists for), and the split fractions must be
    hash-uniform-ish (train strictly largest)."""
    from collections import Counter

    rows = REGISTRY["leakage_safe_split"].fn(spark, SF_DIR).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    counts = Counter(r["split"] for r in rows)
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] > counts.get("val", 0) \
        and counts["train"] > counts.get("test", 0)
    # near-dup pairs specifically can never straddle splits
    pairs = REGISTRY["minhash_lsh_pairs"].fn(spark, SF_DIR).collect()
    split_of = {r["doc_id"]: r["split"] for r in rows}
    assert all(split_of[p["doc_a"]] == split_of[p["doc_b"]]
               for p in pairs)


