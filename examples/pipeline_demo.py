#!/usr/bin/env python
"""Training-data pipeline demo over the documents/embeddings tables:
dedup -> quality filter -> similarity, all JVM-side.

Run: python examples/pipeline_demo.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hpctoolkit_dataframe_spark import get_spark  # noqa: E402
from hpctoolkit_dataframe_spark.queries import REGISTRY  # noqa: E402

DEFAULT_SF = "/root/testdata/sf0.001"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF
    spark = get_spark("pipeline-demo")
    spark.sparkContext.setLogLevel("ERROR")

    stats = REGISTRY["doc_stats"].fn(spark, sf_dir)
    print("document quality stats:")
    stats.show(5)

    exact = REGISTRY["dedup_exact"].fn(spark, sf_dir)
    n_groups = exact.count()
    print(f"exact dedup: {n_groups} unique contents")

    near = REGISTRY["ngram_jaccard_pairs"].fn(spark, sf_dir)
    print("n-gram near-duplicate pairs (jaccard >= 0.5):")
    near.orderBy("doc_a").show(10)

    lsh = REGISTRY["minhash_lsh_pairs"].fn(spark, sf_dir)
    print(f"MinHash-LSH candidate pairs: {lsh.count()}")

    knn = REGISTRY["knn_cosine"].fn(spark, sf_dir)
    print("cosine top-3 neighbors for the first 5 vectors:")
    knn.orderBy("query_id", "rk").show(15)

    ivf = REGISTRY["ivf_ann"].fn(spark, sf_dir)
    brute = {(r["query_id"], r["neighbor_id"]) for r in knn.collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    print(f"IVF ANN recall@3 vs brute force: "
          f"{len(brute & approx) / len(brute):.2f}")

    verified = REGISTRY["lsh_verified_pairs"].fn(spark, sf_dir).collect()
    if verified:
        precision = sum(r["verified"] for r in verified) / len(verified)
        print(f"LSH stage precision (levenshtein-verified): "
              f"{precision:.2f} over {len(verified)} candidates")

    incr = REGISTRY["incremental_dedup"].fn(spark, sf_dir)
    print("delta-vs-corpus dedup flags (fingerprint store only):")
    incr.show(5)

    print("banded simhash near-dup pairs (64-bit, hamming <= 3):")
    REGISTRY["simhash_near_dup_pairs"].fn(spark, sf_dir) \
        .orderBy("hamming", "doc_a").show(5)

    from pyspark.sql import functions as F
    print("snapshot-resumable dedup: two batches through the persisted "
          "bucketed store (batch 2 reads zero corpus bytes):")
    REGISTRY["incremental_dedup_resume"].fn(spark, sf_dir) \
        .groupBy("batch").agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("exact_dup").alias("exact_dups"),
            F.sum("near_dup").alias("near_dups")) \
        .orderBy("batch").show()

    print("keyword retrieval (quantized-integer idf):")
    REGISTRY["keyword_search_topk"].fn(spark, sf_dir).show(5)

    print("corpus health report (dataset card):")
    REGISTRY["corpus_report"].fn(spark, sf_dir).orderBy(
        "lang", "source").show(8)

    print("BPE tokenizer training (first 10 merges from corpus "
          "word counts):")
    REGISTRY["bpe_train_merges"].fn(spark, sf_dir).show(10)

    print("substring-level duplicate spans (8-word windows):")
    REGISTRY["duplicate_spans"].fn(spark, sf_dir).orderBy(
        "doc_id", "span_start").show(8)

    print("per-source duplicated-word fraction (deletion budget):")
    REGISTRY["duplicate_word_coverage"].fn(spark, sf_dir).orderBy(
        "source").show(5)

    print("span dedup applied (keep-first-owner; words before/after):")
    REGISTRY["corpus_without_dup_spans"].fn(spark, sf_dir).filter(
        "n_after < n_before").orderBy("doc_id").show(5)

    print("PII scrub census (injected contact lines, redacted + "
          "fingerprinted):")
    REGISTRY["pii_redact_stats"].fn(spark, sf_dir).orderBy("source").show(5)

    print("IVF-PQ composed ANN (probe trained cells, ADC-scan codes):")
    REGISTRY["ivfpq_ann"].fn(spark, sf_dir).orderBy(
        "query_id", "rk").show(9)

    print("funnel: view -> click(24h) -> purchase(24h), per view-day:")
    REGISTRY["funnel_view_click_purchase"].fn(spark, sf_dir).orderBy(
        "day").show(5)

    print("BM25 top-10 (exact-integer TF saturation):")
    REGISTRY["bm25_topk"].fn(spark, sf_dir).show(10)

    print("hybrid retrieval: BM25 + dense cosine fused by RRF:")
    REGISTRY["hybrid_search_rrf"].fn(spark, sf_dir).show(10)

    print("SemDeDup: semantic dups inside k-means cells:")
    REGISTRY["semdedup_prune"].fn(spark, sf_dir).groupBy("cell").agg(
        F.count(F.lit(1)).alias("vecs"),
        F.sum("is_semdup").alias("dropped")).orderBy("cell").show()

    print("near-dup clusters, keep-best-quality policy:")
    REGISTRY["dedup_keep_best"].fn(spark, sf_dir).filter(
        "is_kept = 0").orderBy("cluster_id").show(5)

    print("data-quality expectations report:")
    REGISTRY["dq_report"].fn(spark, sf_dir).orderBy("tbl", "check_id").show(11)

    print("SCD2 dimension history (snapshot merge):")
    REGISTRY["scd2_customer_history"].fn(spark, sf_dir).filter(
        "is_current = 0").orderBy("c_custkey", "eff_from").show(5)

    print("record linkage on parts (blocked, levenshtein-verified):")
    REGISTRY["er_part_pairs"].fn(spark, sf_dir).orderBy(
        "lev", "part_a").show(5)

    print("top PMI collocations (exact-integer ratio):")
    REGISTRY["pmi_top_pairs"].fn(spark, sf_dir).show(5)

    print("bigram-LM perplexity scoring (highest-NLL docs):")
    REGISTRY["bigram_lm_score"].fn(spark, sf_dir).orderBy(
        F.col("avg_nll").desc()).show(5)


if __name__ == "__main__":
    main()
