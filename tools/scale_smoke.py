#!/usr/bin/env python
"""Scale smoke: key operators at 10-50x the bench volume, synthetic.

Driver-table queries stay on /root/testdata (TESTDATA.md contract);
this tool stresses OUR operators' plan shapes at volumes the sf0.1
tables cannot reach locally — the point is to catch accidental
O(n^2)/single-partition regressions before they ship, not to produce a
benchmark number.

Usage: python tools/scale_smoke.py [scale, default 1]
  scale=1: ~10M-row as-of probe, 5M-row hot-key as-of probe, 100k-doc
  winnow
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hpctoolkit_dataframe_spark import get_spark  # noqa: E402
from hpctoolkit_dataframe_spark.operators.asof import asof_join  # noqa: E402


def mat(df) -> int:
    return df.count()


def main() -> None:
    scale = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism

    # 1) as-of join: 10M probes vs 2M reference rows over 100k keys —
    #    one key shuffle, no explosion
    n_l, n_r, keys = 10_000_000 * scale, 2_000_000 * scale, 100_000
    left = spark.range(n_l, numPartitions=par).select(
        (F.col("id") % keys).alias("k"), F.col("id").alias("pid"),
        (F.xxhash64("id") % 1_000_000).alias("t"))
    right = spark.range(n_r, numPartitions=par).select(
        (F.col("id") % keys).alias("k"), F.col("id").alias("rid"),
        (F.xxhash64("id", F.lit(1)) % 1_000_000).alias("t"))
    t0 = time.time()
    rows = mat(asof_join(left, right, on="k", left_ts="t",
                         right_cols=["rid"]))
    print(f"asof_join {n_l:,}x{n_r:,} over {keys:,} keys: "
          f"{rows:,} rows in {time.time()-t0:.1f}s")

    # 1b) as-of join with ONE DOMINANT KEY: 90% of 5M probes share a
    #     key — the (key)-window sorts them on one core; time_buckets
    #     spreads the sort over 64 (key, range) partitions and stitches
    #     with carry-in rows
    n_l2, n_r2 = 5_000_000 * scale, 1_000_000 * scale
    hot_l = spark.range(n_l2, numPartitions=par).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 1000)
        .alias("k"), F.col("id").alias("pid"),
        (F.xxhash64("id") % 1_000_000).alias("t"))
    hot_r = spark.range(n_r2, numPartitions=par).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 1000)
        .alias("k"), F.col("id").alias("rid"),
        (F.xxhash64("id", F.lit(1)) % 1_000_000).alias("t"))
    t0 = time.time()
    rows = mat(asof_join(hot_l, hot_r, on="k", left_ts="t",
                         right_cols=["rid"], time_buckets=64))
    print(f"asof_join {n_l2:,}x{n_r2:,}, 90% one key, time_buckets=64: "
          f"{rows:,} rows in {time.time()-t0:.1f}s")

    # 3) winnowing on 100k synthetic docs (~300 chars each)
    n_docs = 100_000 * scale
    from hpctoolkit_dataframe_spark.queries.textops import (
        winnow_fingerprints,
    )
    import tempfile

    docs = spark.range(n_docs, numPartitions=par).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[F.md5(F.concat(F.col("id").cast("string"),
                                          F.lit(f":{i}")))
                           for i in range(9)]).alias("text"),
        F.lit("en").alias("lang"), F.lit("synthetic").alias("source"))
    with tempfile.TemporaryDirectory(prefix="scale_docs_") as tmp:
        docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        t0 = time.time()
        rows = mat(winnow_fingerprints(spark, tmp))
        print(f"winnow_fingerprints {n_docs:,} docs: "
              f"{rows:,} rows in {time.time()-t0:.1f}s")

    # 4) MinHash LSH pairs with a DEGENERATE band key: 20% of docs are
    #    identical boilerplate -> one band key with 20k members, which
    #    uncapped emits ~4 * 20k^2/2 = 8*10^8 pairs.  The BAND_DF_CAP
    #    semi-join must exclude it before the self-join.
    from hpctoolkit_dataframe_spark.queries.textops import (
        minhash_lsh_pairs,
    )

    n_docs = 100_000 * scale
    boiler = "the same boilerplate footer text appears on every page here"
    docs = spark.range(n_docs, numPartitions=par).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 5 == 0, F.lit(boiler)).otherwise(
            F.concat_ws(" ", *[F.md5(F.concat(F.col("id").cast("string"),
                                              F.lit(f":{i}")))
                               for i in range(9)])).alias("text"),
        F.lit("en").alias("lang"), F.lit("synthetic").alias("source"))
    with tempfile.TemporaryDirectory(prefix="scale_lshdocs_") as tmp:
        docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        t0 = time.time()
        rows = mat(minhash_lsh_pairs(spark, tmp))
        print(f"minhash_lsh_pairs {n_docs:,} docs, 20% one boilerplate: "
              f"{rows:,} pairs in {time.time()-t0:.1f}s (hot key capped)")

    # 5) Hyperplane LSH near-dups with a DEGENERATE bucket: 20k copies
    #    of one vector land in a single bucket (2*10^8 uncapped pairs,
    #    each a 64-dim dot product); BUCKET_CAP must exclude it while
    #    the 10k well-spread vectors still pair normally.
    from hpctoolkit_dataframe_spark.queries.vectors import (
        DIM, lsh_near_dup_pairs,
    )

    n_norm, n_dup = 10_000 * scale, 20_000 * scale
    norm = spark.range(n_norm, numPartitions=par).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(DIM)),
            lambda i: ((F.xxhash64(F.col("id"), i) % 1000) / 500.0 - 1.0)
            .cast("float")).alias("embedding"),
        F.lit(0).alias("label"))
    dup = spark.range(n_norm, n_norm + n_dup, 1, par).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(DIM)),
                    lambda i: (i / DIM).cast("float")).alias("embedding"),
        F.lit(1).alias("label"))
    with tempfile.TemporaryDirectory(prefix="scale_emb_") as tmp:
        norm.unionAll(dup).write.mode("overwrite").parquet(
            f"{tmp}/embeddings.parquet")
        t0 = time.time()
        rows = mat(lsh_near_dup_pairs(spark, tmp))
        print(f"lsh_near_dup_pairs {n_norm + n_dup:,} vecs, "
              f"{n_dup:,} identical: {rows:,} pairs in "
              f"{time.time()-t0:.1f}s (hot bucket capped)")

    # 6) Connected components, distributed path, adversarial mix:
    #    2M edges = one 500k-node CHAIN (diameter 500k — the case plain
    #    label propagation cannot finish) + 150k five-node cliques.
    #    Star-contraction must converge in O(log^2 n) rounds with the
    #    edge set shrinking every round.
    from hpctoolkit_dataframe_spark.operators.graph import (
        connected_components,
    )

    n_chain, n_cliq = 500_000 * scale, 150_000 * scale
    chain = spark.range(n_chain - 1, numPartitions=par).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v"))
    base = 10_000_000
    cliq = spark.range(n_cliq, numPartitions=par).select(
        (base + F.col("id") * 5).alias("s"),
        F.explode(F.sequence(F.lit(1), F.lit(4))).alias("o")).select(
        F.col("s").alias("u"), (F.col("s") + F.col("o")).alias("v"))
    t0 = time.time()
    labels = connected_components(chain.unionAll(cliq),
                                  small_input_rows=0)
    comps = labels.select("component").distinct().count()
    assert comps == 1 + n_cliq, comps
    print(f"connected_components {n_chain + 4 * n_cliq:,} edges "
          f"(500k-diameter chain + {n_cliq:,} cliques): "
          f"{comps:,} components in {time.time()-t0:.1f}s")

    # 7) incremental dedup shape at history scale: a 10k-doc delta
    #    checked against a 2M-doc corpus FINGERPRINT store (md5 + 64-bit
    #    simhash) — two semi-joins against fingerprints, corpus bytes
    #    never touched.  Half the delta overlaps the corpus by
    #    construction; the flag counts prove the joins are real.
    n_corp, n_delta = 2_000_000 * scale, 10_000
    corpus_fp = spark.range(n_corp, numPartitions=par).select(
        F.md5(F.col("id").cast("string")).alias("th"),
        F.xxhash64("id").alias("simhash"))
    # delta ids 0..4999 collide with corpus ids, 5000.. are fresh
    delta = spark.range(n_delta).select(
        F.col("id").alias("doc_id"),
        F.md5(F.when(F.col("id") < n_delta // 2, F.col("id"))
              .otherwise(F.col("id") + n_corp).cast("string")).alias("th"),
        F.xxhash64(F.when(F.col("id") < n_delta // 2, F.col("id"))
                   .otherwise(F.col("id") + n_corp)).alias("simhash"))
    t0 = time.time()
    exact = delta.join(corpus_fp.select("th").distinct(),
                       "th", "left_semi").count()
    near = delta.join(corpus_fp.select("simhash").distinct(),
                      "simhash", "left_semi").count()
    assert exact == n_delta // 2, exact
    # 64-bit fingerprints: no birthday collisions at 2M, near == exact
    assert near == n_delta // 2, near
    print(f"incremental_dedup {n_delta:,}-doc delta vs {n_corp:,}-doc "
          f"fingerprint store: {exact:,} exact / {near:,} near flags "
          f"in {time.time()-t0:.1f}s")

    # 8) banded simhash near-dups with a DEGENERATE band bucket: 20% of
    #    100k docs are identical boilerplate, so all four of their band
    #    buckets hold 20k members (uncapped: 4 * 20k^2/2 = 8*10^8
    #    candidate pairs).  SIMHASH_BAND_CAP must exclude them below the
    #    self-join while the well-spread docs still pair normally; also
    #    exercises the Arrow simhash64 fold at 100k-doc volume.
    from hpctoolkit_dataframe_spark.queries.textops import (
        simhash_near_dup_pairs,
    )

    n_docs = 100_000 * scale
    docs = spark.range(n_docs, numPartitions=par).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 5 == 0, F.lit(boiler)).otherwise(
            F.concat_ws(" ", *[F.md5(F.concat(F.col("id").cast("string"),
                                              F.lit(f":{i}")))
                               for i in range(9)])).alias("text"),
        F.lit("en").alias("lang"), F.lit("synthetic").alias("source"))
    with tempfile.TemporaryDirectory(prefix="scale_simdocs_") as tmp:
        docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        t0 = time.time()
        rows = mat(simhash_near_dup_pairs(spark, tmp))
        print(f"simhash_near_dup_pairs {n_docs:,} docs, 20% one "
              f"boilerplate: {rows:,} pairs in {time.time()-t0:.1f}s "
              f"(hot bands capped)")

    # 9) distributed BPE training at a vocabulary the driver path would
    #    cap: ~900k distinct synthetic words.  Each round is one
    #    vocab-scale pair-count shuffle + a 1-row argmax + an Arrow
    #    merge apply; per-round localCheckpoint keeps lineage flat.
    from hpctoolkit_dataframe_spark.queries.bpe import (
        bpe_train_distributed,
    )

    n_docs = 100_000 * scale
    docs = spark.range(n_docs, numPartitions=par).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[F.md5(F.concat(F.col("id").cast("string"),
                                          F.lit(f":{i}")))
                           for i in range(9)]).alias("text"),
        F.lit("en").alias("lang"), F.lit("synthetic").alias("source"))
    with tempfile.TemporaryDirectory(prefix="scale_bpedocs_") as tmp:
        docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        t0 = time.time()
        merges = bpe_train_distributed(spark, tmp, n_merges=4).collect()
        assert len(merges) == 4, merges
        print(f"bpe_train_distributed {n_docs:,} docs (~900k-word "
              f"vocab), 4 merges in {time.time()-t0:.1f}s: "
              f"{[(m['left'], m['right']) for m in merges]}")

    # 10) substring-level dup spans at 100k docs (~6M k-gram
    #     positions), 10% of docs sharing one pasted boilerplate
    #     paragraph: the dup-mark aggregate + semi-join + island pass
    #     must stay gram/doc-key shuffles (no broadcast of the dup set,
    #     no per-doc driver state)
    from hpctoolkit_dataframe_spark.queries.spans import (
        SPAN_K, duplicate_spans)

    n_docs = 100_000 * scale
    boiler = " ".join(f"bp{i}" for i in range(3 * SPAN_K))
    docs = spark.range(n_docs, numPartitions=par).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 == 0,
               F.concat(F.md5(F.col("id").cast("string")),
                        F.lit(" " + boiler + " "),
                        F.md5(F.concat(F.col("id").cast("string"),
                                       F.lit("x")))))
        .otherwise(F.concat_ws(" ", *[
            F.md5(F.concat(F.col("id").cast("string"), F.lit(f":{i}")))
            for i in range(2 * SPAN_K)])).alias("text"),
        F.lit("en").alias("lang"), F.lit("synthetic").alias("source"))
    with tempfile.TemporaryDirectory(prefix="scale_spandocs_") as tmp:
        docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        t0 = time.time()
        rows = mat(duplicate_spans(spark, tmp))
        # every 10th doc carries the boilerplate -> one span per such doc
        assert rows >= n_docs // 10, rows
        print(f"duplicate_spans {n_docs:,} docs, 10% boilerplate: "
              f"{rows:,} spans in {time.time()-t0:.1f}s")

    # 11) funnel over 10M synthetic events, HALF of them on one bot
    #     user: step matching is a per-user ordered window scan, so the
    #     hot user costs one fat sort task, never candidate pairs (the
    #     interval-join shape this replaced was quadratic per (user,
    #     bucket) — the r7 skewed-clone finding)
    from hpctoolkit_dataframe_spark.queries.funnel import (
        funnel_view_click_purchase)

    n_ev = 10_000_000 * scale
    ev = spark.range(n_ev, numPartitions=par).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            (F.lit(1_700_000_000_000_000)
             + (F.xxhash64("id") % 2_592_000_000_000))).alias("ts"),
        F.when(F.xxhash64("id", F.lit(3)) % 2 == 0, F.lit(0))
        .otherwise(F.col("id") % 100_000).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase"),
                    F.lit("error")),
            (((F.xxhash64("id", F.lit(7)) % 4) + 5) % 4 + 1)
            .cast("int")).alias("event_type"),
        F.lit(1.0).alias("value"), F.lit("{}").alias("props"))
    with tempfile.TemporaryDirectory(prefix="scale_funnel_") as tmp:
        ev.write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        t0 = time.time()
        rows = mat(funnel_view_click_purchase(spark, tmp))
        print(f"funnel 3-step over {n_ev:,} events / 100k users: "
              f"{rows:,} day rows in {time.time()-t0:.1f}s")

    # 12) SemDeDup with a DEGENERATE cell: 20k copies of one vector
    #     share a k-means cell with the 10k spread vectors nearest it.
    #     The per-cell kernel's row-blocked GEMM keeps memory O(block*n)
    #     — an unblocked n^2 matrix on the giant cell would be the
    #     failure mode — and the output stays O(n) (flags, not pairs),
    #     so no cap is needed at all.
    from hpctoolkit_dataframe_spark.queries.curation import semdedup_prune
    from hpctoolkit_dataframe_spark.queries.vectors import DIM as VDIM

    n_norm, n_dup = 10_000 * scale, 20_000 * scale
    norm = spark.range(n_norm, numPartitions=par).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(VDIM)),
            lambda i: ((F.xxhash64(F.col("id"), i) % 1000) / 500.0 - 1.0)
            .cast("float")).alias("embedding"),
        F.lit(0).alias("label"))
    dup = spark.range(n_norm, n_norm + n_dup, 1, par).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(VDIM)),
                    lambda i: (i / VDIM).cast("float")).alias("embedding"),
        F.lit(1).alias("label"))
    with tempfile.TemporaryDirectory(prefix="scale_semdedup_") as tmp:
        norm.unionAll(dup).write.mode("overwrite").parquet(
            f"{tmp}/embeddings.parquet")
        t0 = time.time()
        flagged = (semdedup_prune(spark, tmp)
                   .agg(F.sum("is_semdup")).head()[0])
        # all but the first of the 20k identical vectors must be flagged
        assert flagged >= n_dup - 1, flagged
        print(f"semdedup_prune {n_norm + n_dup:,} vecs, {n_dup:,} "
              f"identical in one cell: {flagged:,} flagged in "
              f"{time.time()-t0:.1f}s (row-blocked GEMM)")

    # 13) bigram-LM scoring at 200k docs (~3.4M bigrams, ~1.8M distinct)
    #     — model training and scoring are pair-keyed shuffles; the
    #     probability dim join must stay an equi-join, never a broadcast
    #     of vocab^2
    from hpctoolkit_dataframe_spark.queries.curation import bigram_lm_score

    n_docs = 200_000 * scale
    docs = spark.range(n_docs, numPartitions=par).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.substring(F.md5(F.concat(F.col("id").cast("string"),
                                       F.lit(f":{i}"))), 1, 4)
            for i in range(18)]).alias("text"),
        F.lit("en").alias("lang"), F.lit("synthetic").alias("source"))
    with tempfile.TemporaryDirectory(prefix="scale_lmdocs_") as tmp:
        docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        t0 = time.time()
        rows = mat(bigram_lm_score(spark, tmp))
        assert rows == n_docs, rows
        print(f"bigram_lm_score {n_docs:,} docs: {rows:,} scored in "
              f"{time.time()-t0:.1f}s")


    # 14) record linkage with a DEGENERATE block: 100k parts all
    #     sharing one (noun, brand) key — uncapped, 5*10^9 levenshtein
    #     candidates; ER_BLOCK_CAP must exclude the block below the
    #     self-join while a healthy 1k-part block still pairs.
    from hpctoolkit_dataframe_spark.queries.curation import er_part_pairs

    n_bad, n_good = 100_000 * scale, 1_000
    bad = spark.range(n_bad, numPartitions=par).select(
        F.col("id").alias("p_partkey"),
        F.concat(F.md5(F.col("id").cast("string")), F.lit(" widget"))
        .alias("p_name"),
        F.lit("Brand#1").alias("p_brand"), F.lit("T").alias("p_type"),
        F.lit(1).alias("p_size"), F.lit(10.0).alias("p_retailprice"))
    good = spark.range(n_bad, n_bad + n_good, 1, par).select(
        F.col("id").alias("p_partkey"),
        F.concat(F.substring(F.md5(F.col("id").cast("string")), 1, 3),
                 F.lit(" gizmo")).alias("p_name"),
        F.lit("Brand#2").alias("p_brand"), F.lit("T").alias("p_type"),
        F.lit(1).alias("p_size"), F.lit(10.0).alias("p_retailprice"))
    with tempfile.TemporaryDirectory(prefix="scale_er_") as tmp:
        bad.unionAll(good).write.mode("overwrite").parquet(
            f"{tmp}/part.parquet")
        t0 = time.time()
        rows = mat(er_part_pairs(spark, tmp))
        assert rows > 0, rows  # the healthy block still pairs
        print(f"er_part_pairs {n_bad:,}-part degenerate block + "
              f"{n_good:,} healthy: {rows:,} pairs in "
              f"{time.time()-t0:.1f}s (block capped)")


    # 15) the round-6 curation layer at 200k docs: one
    #     curation_funnel_report call composes canonical dedup (canon
    #     hash window), the Gopher flags (scan-fused projection) and
    #     DSIR (4M-token explode -> B=1024 bucket models -> broadcast
    #     weight join).  Catches any single-partition or pairwise
    #     regression in the composition; counts must be monotone.
    from hpctoolkit_dataframe_spark.queries.curation import (
        curation_funnel_report)

    n_docs = 200_000 * scale
    docs = spark.range(n_docs, numPartitions=par).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("the"), F.lit("of"), *[
            F.substring(F.md5(F.concat(F.col("id").cast("string"),
                                       F.lit(f":{i}"))), 1, 4)
            for i in range(60)]).alias("text"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
        F.concat(F.lit("src"), (F.col("id") % 10).cast("string"))
        .alias("source"),
        F.lit(300).alias("n_chars"))
    with tempfile.TemporaryDirectory(prefix="scale_funnel_") as tmp:
        docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        t0 = time.time()
        out = curation_funnel_report(spark, tmp).collect()
        assert len(out) == 10, len(out)
        for r in out:
            assert (r["n_docs"] >= r["n_canonical"] >= r["n_quality"]
                    >= r["n_kept"] >= 0), r
        print(f"curation_funnel_report {n_docs:,} docs: "
              f"{sum(r['n_kept'] for r in out):,} kept across 10 "
              f"sources in {time.time()-t0:.1f}s")

    # 16) multi-profile merge at fleet width: 200 profile clones of a
    #     50k-node depth-3 tree = 10M input rows collapsing through ONE
    #     callpath-hash shuffle with map-side partial aggregation;
    #     every callpath appears in all 200 profiles, so the per-group
    #     width equals the profile count — the merge must stay
    #     row-bounded, never profile-quadratic
    if scale >= 1:
        from hpctoolkit_dataframe_spark.operators.cct import \
            merge_profiles

        n_nodes, n_prof = 50_000 * scale, 200
        nodes = (spark.range(n_nodes).repartition(par)
                 .select(F.col("id"),
                         F.array((F.col("id") % 50).cast("long"),
                                 (F.col("id") % 2_500).cast("long"),
                                 F.col("id").cast("long"))
                         .alias("callpath")))
        profs = nodes.select(
            "callpath",
            F.explode(F.sequence(F.lit(1), F.lit(n_prof))).alias("p")
        ).select(
            "callpath",
            (F.col("p") * (F.xxhash64("callpath") % 1000)).cast("long")
            .alias("v_sum"),
            (F.col("p")).cast("long").alias("v_min"),
            (F.col("p")).cast("long").alias("v_max"))
        t0 = time.time()
        merged = merge_profiles(
            profs, {"v_sum": "sum", "v_min": "min", "v_max": "max"})
        rows = mat(merged)
        assert rows == n_nodes, rows
        bad = merged.filter((F.col("n_profiles") != n_prof)
                            | (F.col("v_min") != 1)
                            | (F.col("v_max") != n_prof)).count()
        assert bad == 0, bad
        print(f"merge_profiles {n_nodes * n_prof:,} rows across "
              f"{n_prof} profiles -> {rows:,} nodes in "
              f"{time.time()-t0:.1f}s")

    # 17) exactly-once streaming vector store at 40x the test volume:
    #     20k synthetic 64-dim vectors land in 8 waves; the final
    #     store must hold each vector exactly once and the probe must
    #     stay a partition-pruned scan of N_PROBE cell directories
    #     regardless of how many batches accreted
    if scale >= 1:
        import shutil
        import tempfile

        from hpctoolkit_dataframe_spark.queries import vectors as V
        from hpctoolkit_dataframe_spark.streaming import vectors as sv

        n_vec, n_waves = 20_000 * scale, 8
        dim_cols = F.transform(
            F.sequence(F.lit(0), F.lit(V.DIM - 1)),
            lambda i: ((F.xxhash64(F.col("id").cast("string"), i)
                        % 2000).cast("double") / F.lit(1000.0) - 1.0)
            .cast("float"))
        raw = spark.range(n_vec, numPartitions=par).select(
            F.col("id").alias("vec_id"), dim_cols.alias("embedding"))
        emb = raw.select(
            "vec_id", V._qint(F.col("embedding")).alias("qe"),
            V._norm2(F.col("embedding")).alias("n2")) \
            .localCheckpoint(eager=True)
        cents = emb.filter(F.col("vec_id") < V.N_CELLS).select(
            F.col("vec_id").alias("cell"), F.col("qe").alias("ce")) \
            .localCheckpoint(eager=True)
        tmp = tempfile.mkdtemp(prefix="vec_scale_")
        try:
            landing = os.path.join(tmp, "landing")
            os.makedirs(landing)
            base, ckpt = os.path.join(tmp, "store"), os.path.join(
                tmp, "ckpt")
            per = n_vec // n_waves
            t0 = time.time()
            for w in range(n_waves):
                stage = os.path.join(tmp, f"stage{w}")
                raw.filter((F.col("vec_id") >= w * per)
                           & (F.col("vec_id") < (w + 1) * per)) \
                    .coalesce(1).write.mode("overwrite").parquet(stage)
                part = next(f for f in os.listdir(stage)
                            if f.endswith(".parquet"))
                shutil.move(os.path.join(stage, part),
                            os.path.join(landing, f"w{w}.parquet"))
                stream = (spark.readStream.schema(raw.schema)
                          .option("maxFilesPerTrigger", 1)
                          .parquet(landing))
                sv.run_vector_store_stream(stream, cents, base, ckpt,
                                           query_name=f"vs_{w}")
            store = sv.read_vector_store(spark, base)
            rows = store.count()
            assert rows == n_waves * per, rows
            assert store.select("vec_id").distinct().count() == rows
            pruned = store.filter(F.col("cell").isin([0]))
            plan = pruned._jdf.queryExecution().executedPlan().toString()
            assert "PartitionFilters: [" in plan \
                and "DataFilters: []" in plan, plan
            print(f"vector_store_stream {n_vec:,} vecs / {n_waves} "
                  f"waves -> {rows:,} stored, probe partition-pruned, "
                  f"in {time.time()-t0:.1f}s")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


    # 18) the EAGER streaming funnel under a firehose user: 1M events,
    #     half on user 0, landing in 4 event-time-ordered waves.  Step
    #     matching per micro-batch is the _first_point_after window
    #     scan — the wait-set x batch-clicks theta join it replaced
    #     was quadratic per user per batch.  The per-day stage fold
    #     must equal the batch funnel on the same events (the twin
    #     contract), at volume.
    if scale >= 1:
        import shutil
        import tempfile

        from hpctoolkit_dataframe_spark.queries.dedup import \
            drop_fingerprint_store
        from hpctoolkit_dataframe_spark.streaming import events as se

        n_ev2, n_waves = 1_000_000 * scale, 4
        sk = spark.range(n_ev2, numPartitions=par).select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                (F.lit(1_700_000_000_000_000)
                 + F.col("id") * 2_592_000)).alias("ts"),  # ordered
            F.when(F.xxhash64("id", F.lit(3)) % 2 == 0, F.lit(0))
            .otherwise(F.col("id") % 50_000).alias("user_id"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("purchase"),
                        F.lit("error")),
                (((F.xxhash64("id", F.lit(7)) % 4) + 5) % 4 + 1)
                .cast("int")).alias("event_type"),
            F.lit(1.0).alias("value"), F.lit("{}").alias("props"))
        prefix = "funnel_smoke18"
        tmp = tempfile.mkdtemp(prefix="funnel_stream_scale_")
        try:
            for t in ("views", "vc", "out"):
                drop_fingerprint_store(spark, f"{prefix}_{t}")
            landing = os.path.join(tmp, "landing")
            os.makedirs(landing)
            per = n_ev2 // n_waves
            t0 = time.time()
            for w in range(n_waves):
                stage = os.path.join(tmp, f"s{w}")
                sk.filter((F.col("event_id") >= w * per)
                          & (F.col("event_id") < (w + 1) * per)) \
                    .coalesce(1).write.mode("overwrite").parquet(stage)
                part = next(f for f in os.listdir(stage)
                            if f.endswith(".parquet"))
                shutil.move(os.path.join(stage, part),
                            os.path.join(landing, f"w{w}.parquet"))
            stream = se.normalize_events(
                spark.readStream.schema(se.EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", 1).parquet(landing))
            out = se.run_funnel_stream(stream, prefix,
                                       query_name="funnel_smoke18")
            day = F.expr("v_ts div 86400000000").alias("day")
            got = {(r["day"], r["stage"]): r["n"] for r in
                   out.groupBy(day, "stage")
                   .agg(F.count(F.lit(1)).alias("n")).collect()}
            ev_dir = os.path.join(tmp, "batchside")
            sk.write.mode("overwrite").parquet(
                os.path.join(ev_dir, "events.parquet"))
            want = {}
            for r in funnel_view_click_purchase(spark, ev_dir).collect():
                want[(r["day"], "view")] = r["n_views"]
                if r["n_clicked"]:
                    want[(r["day"], "clicked")] = r["n_clicked"]
                if r["n_purchased"]:
                    want[(r["day"], "purchased")] = r["n_purchased"]
            assert got == want, (len(got), len(want))
            print(f"funnel_stream {n_ev2:,} events / {n_waves} waves, "
                  f"50% one user: stream==batch fold in "
                  f"{time.time()-t0:.1f}s")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            for t in ("views", "vc", "out"):
                drop_fingerprint_store(spark, f"{prefix}_{t}")


if __name__ == "__main__":
    main()
