"""End-to-end streaming curation topology (VERDICT r6 next #5).

One continuous micro-batch pipeline composing the persisted store
maintainers — the streaming shape of tools/curation_run.py.  Per
document micro-batch:

  1. exact/near fingerprints (md5 + simhash64) checked against the
     fingerprint store AS OF batch start;
  2. K-gram positions checked against the gram store (span-dup
     coverage per doc);
  3. the batch's CMS counter cells and DSIR bucket model appended —
     mergeable stores: the cell-wise SUM over batches IS the model;
  4. kept docs (not an exact dup, word-count floor) are PII-redacted
     and land in the curated sink with their provenance flags.

**Exactly-once across ALL composed stores** is the design center:
every store write goes to a ``batch_id=N`` partition directory with
``mode=overwrite``.  Structured Streaming's checkpoint commit log
guarantees a batch either commits or replays under the SAME batch_id
after a crash, and the partition overwrite makes the replay
idempotent — a batch killed after writing two of the five outputs
rewrites those two and completes the rest on resume, never
double-counting (tests/test_curation_stream.py kills a batch
mid-effects and proves store equality with an uninterrupted run).
"Prior store" reads filter ``batch_id < current``, so a half-written
current partition can never leak into its own batch's flags.

The events-side funnel store (run_funnel_stream, with its own
checkpointed state tables) composes alongside in
tools/curation_stream_run.py — same base directory, same
resume-from-checkpoint discipline.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

MIN_WORDS = 20  # same floor as tools/curation_run.py

DOC_STORES = ("fingerprints", "grams", "cms", "dsir", "curated")


def _path(base: str, store: str) -> str:
    return f"{base}/{store}"


def _read_store(spark: SparkSession, base: str, store: str,
                before_batch: int | None = None) -> DataFrame | None:
    """The merged store, optionally restricted to batches strictly
    before ``before_batch`` (the AS-OF-batch-start snapshot).  None if
    the store has no committed data yet."""
    try:
        df = spark.read.parquet(_path(base, store))
    except Exception:
        return None
    if "batch_id" not in df.columns:  # dir exists but no partitions yet
        return None
    if before_batch is not None:
        df = df.filter(F.col("batch_id") < before_batch)
    return df


def _write_partition(df: DataFrame, base: str, store: str,
                     batch_id: int) -> None:
    """Idempotent per-batch write: replaying batch N overwrites exactly
    the batch_id=N directory."""
    df.write.mode("overwrite").parquet(
        f"{_path(base, store)}/batch_id={batch_id}")


def process_curation_batch(spark: SparkSession, batch_df: DataFrame,
                           batch_id: int, base: str,
                           fail_after: tuple[int, int] | None = None) -> None:
    """All five per-batch effects, in a fixed order so a fault at any
    point is reproducible.  ``fail_after=(batch_id, k)`` raises after
    the k-th store write of that batch — the test hook that simulates a
    mid-batch crash (production passes None)."""
    from ..queries.curation import dsir_count_model, dsir_token_buckets
    from ..queries.pii import redact
    from ..queries.sketches import cms_counters
    from ..queries.spans import _positions
    from ..queries.textops import with_simhash64

    def checkpoint_fault(k: int) -> None:
        if fail_after is not None and fail_after == (batch_id, k):
            raise RuntimeError(
                f"injected fault after write {k} of batch {batch_id}")

    docs = (batch_df.filter(F.col("text").isNotNull())
            .localCheckpoint(eager=True))

    # ---- mergeable models first (pure appends, no flag dependency)
    toks = docs.select(F.explode(F.split("text", r"\s+")).alias("tok")) \
        .filter(F.col("tok") != "")
    _write_partition(cms_counters(toks), base, "cms", batch_id)
    checkpoint_fault(1)
    _write_partition(dsir_count_model(dsir_token_buckets(docs)),
                     base, "dsir", batch_id)
    checkpoint_fault(2)

    # ---- fingerprints: flags vs prior batches, then this batch's rows
    fp = with_simhash64(docs).select(
        "doc_id", F.md5("text").alias("th"), "simhash") \
        .localCheckpoint(eager=True)
    prior_fp = _read_store(spark, base, "fingerprints", batch_id)
    if prior_fp is None:
        seen = F.lit(0)
        flags = fp.select("doc_id", "th", seen.alias("store_dup"))
    else:
        known = prior_fp.select("th").distinct() \
            .withColumn("store_dup", F.lit(1))
        flags = (fp.join(known, "th", "left")
                 .select("doc_id", "th",
                         F.coalesce("store_dup", F.lit(0)).cast("int")
                         .alias("store_dup")))
    _write_partition(fp.select("th", "simhash").distinct(),
                     base, "fingerprints", batch_id)
    checkpoint_fault(3)

    # ---- gram store: span-dup coverage vs prior, append new grams
    pos = _positions(docs).localCheckpoint(eager=True)
    prior_g = _read_store(spark, base, "grams", batch_id)
    if prior_g is None:
        coverage = pos.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_pos"),
            F.lit(0).cast("long").alias("dup_pos"))
        new_grams = pos.select("h").distinct()
    else:
        known_g = prior_g.select("h").distinct().withColumn("k", F.lit(1))
        tagged = pos.join(known_g, "h", "left")
        coverage = tagged.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_pos"),
            F.sum(F.coalesce("k", F.lit(0))).cast("long").alias("dup_pos"))
        new_grams = (pos.select("h").distinct()
                     .join(prior_g.select("h"), "h", "left_anti"))
    _write_partition(new_grams, base, "grams", batch_id)
    checkpoint_fault(4)

    # ---- curated sink: drop exact dups (vs store AND within batch,
    # keep min doc_id), word floor, PII-redact the survivors
    from pyspark.sql import Window

    w = Window.partitionBy("th").orderBy("doc_id")
    kept = (docs.join(flags, "doc_id")
            .withColumn("rk", F.row_number().over(w))
            .filter((F.col("store_dup") == 0) & (F.col("rk") == 1))
            .filter(F.size(F.split("text", r"\s+")) >= MIN_WORDS)
            .join(coverage, "doc_id", "left"))
    curated = kept.select(
        "doc_id", "lang", "source",
        redact(F.col("text")).alias("text"),
        F.coalesce("n_pos", F.lit(0)).cast("long").alias("n_pos"),
        F.coalesce("dup_pos", F.lit(0)).cast("long").alias("dup_pos"))
    _write_partition(curated, base, "curated", batch_id)


def run_curation_stream(docs_stream: DataFrame, base: str,
                        checkpoint_dir: str,
                        query_name: str = "curation_topology",
                        fail_after: tuple[int, int] | None = None) -> Any:
    """Drain the document stream (availableNow) through the composed
    topology.  ``checkpoint_dir`` is MANDATORY — it is what makes a
    killed batch replay under the same batch_id, which the idempotent
    partition writes turn into exactly-once.  Re-invoke with the same
    (base, checkpoint_dir) to resume after a crash or to process newly
    arrived files."""
    spark = docs_stream.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        process_curation_batch(spark, batch_df, batch_id, base,
                               fail_after=fail_after)

    q = (docs_stream.writeStream.foreachBatch(process)
         .queryName(query_name)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    from ._drain import drain
    return drain(q)


def curation_stream_report(spark: SparkSession, base: str) -> dict:
    """Driver-side summary of the composed stores (all aggregates are
    tiny): committed batches per store, merged-store sizes, curated
    doc count.  The test's equality probe and the tool's one-line
    card."""
    out: dict = {}
    for store in DOC_STORES:
        df = _read_store(spark, base, store)
        if df is None:
            out[store] = None
            continue
        batches = sorted(r["batch_id"] for r in
                         df.select("batch_id").distinct().collect())
        entry: dict = {"batches": batches}
        if store == "fingerprints":
            entry["distinct_th"] = df.select("th").distinct().count()
        elif store == "grams":
            entry["distinct_h"] = df.select("h").distinct().count()
        elif store == "cms":
            merged = df.groupBy("i", "b").agg(F.sum("c").alias("c"))
            entry["cells"] = merged.count()
            entry["total_c"] = merged.agg(F.sum("c")).collect()[0][0]
        elif store == "dsir":
            entry["total_rc"] = df.agg(F.sum("rc")).collect()[0][0]
            entry["total_tc"] = df.agg(F.sum("tc")).collect()[0][0]
        elif store == "curated":
            entry["n_docs"] = df.count()
        out[store] = entry
    return out


def compact_curation_stores(spark: SparkSession, base: str,
                            stores=("fingerprints", "grams", "cms",
                                    "dsir")) -> dict[str, tuple[int, int]]:
    """Small-files maintenance for the batch-partitioned stores: fold
    every committed batch partition into one consolidated
    ``batch_id=-1`` partition per store (CMS/DSIR merge by cell-wise
    SUM; fingerprint/gram stores by DISTINCT).

    Safe under the exactly-once design: Structured Streaming's commit
    log guarantees an already-committed batch_id never replays, so
    folding committed partitions cannot race a replay, and -1 sorts
    below every real batch id, so ``batch_id < current`` snapshot
    reads keep including the consolidated history.  Run it between
    drains (not concurrently with one).  Returns {store: (files_before,
    files_after)}."""
    from pyspark.sql import functions as F

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()

    def count_files(root) -> int:
        p = jvm.org.apache.hadoop.fs.Path(root)
        fs = p.getFileSystem(conf)
        if not fs.exists(p):
            return 0
        it, n = fs.listFiles(p, True), 0
        while it.hasNext():
            f = it.next().getPath().getName()
            if not (f.startswith("_") or f.startswith(".")):
                n += 1
        return n

    out: dict[str, tuple[int, int]] = {}
    for store in stores:
        root = _path(base, store)
        df = _read_store(spark, base, store)
        if df is None:
            out[store] = (0, 0)
            continue
        before = count_files(root)
        batches = [r["batch_id"] for r in
                   df.select("batch_id").distinct().collect()]
        if store == "cms":
            merged = df.groupBy("i", "b").agg(
                F.sum("c").cast("long").alias("c"))
        elif store == "dsir":
            merged = df.groupBy("b").agg(
                F.sum("rc").cast("long").alias("rc"),
                F.sum("tc").cast("long").alias("tc"))
        else:  # fingerprints / grams: sets of hashes
            merged = df.drop("batch_id").distinct()
        merged = merged.coalesce(1).localCheckpoint(eager=True)
        # write the consolidated partition FIRST, then drop the folded
        # ones — a reader in between sees duplicated rows, which every
        # merged-read (SUM / DISTINCT) absorbs; it never sees a gap
        _write_partition(merged, base, store, -1)
        fs = jvm.org.apache.hadoop.fs.Path(root).getFileSystem(conf)
        for b in batches:
            if b != -1:
                fs.delete(jvm.org.apache.hadoop.fs.Path(
                    f"{root}/batch_id={b}"), True)
        out[store] = (before, count_files(root))
    return out
