"""Exactly-once streaming maintenance for the IVF vector index.

Each micro-batch of raw embeddings is assigned to its nearest coarse
cell and written into a cell-partitioned store; probing the store gives
the same rows as the batch probe over the same assignment.  A plain
append would double-insert the vectors of a crashed-and-replayed
micro-batch.  The five curation stores solve this with checkpointed
offsets + per-batch partition OVERWRITE (streaming/curation.py); this
module gives the vector index the same discipline, so every persisted
store has an exactly-once streaming maintainer.

Layout: ``{base}/cells/batch_id=N/cell=K/part-*.parquet``.

- **Exactly-once**: Structured Streaming's commit log replays a killed
  batch under the SAME batch_id; the ``batch_id=N`` overwrite makes the
  replay idempotent.  No dedup-at-read needed — a vector lands exactly
  once.
- **Probe pruning**: ``cell`` is a physical partition directory, so a
  probe of N_PROBE cells is a partition-pruned scan (the directory
  analog of the bucketed table's bucket pruning; PartitionFilters
  plan-asserted in tests/test_vector_stream.py).  At 100 TB the probe
  reads N_PROBE/N_CELLS of the index, never the corpus.
- **Compaction**: batches fold into ``batch_id=-1`` (plain union — the
  store is a fact table, the merge IS the concatenation), preserving
  the cell directories.  Safe between drains: committed batch ids never
  replay, and -1 sorts below every real id.

The coarse codebook stays FIXED across the stream (trained once up
front, broadcast into every batch) — retraining mid-stream would
silently re-home existing vectors; that is an offline rebuild, not an
append.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from .curation import _write_partition


def _cells_path(base: str) -> str:
    return f"{base}/cells"


def process_vector_batch(batch_df: DataFrame, batch_id: int, base: str,
                         cents: DataFrame,
                         fail_after: int | None = None) -> None:
    """Quantize + assign one raw-embedding micro-batch and overwrite its
    ``batch_id=N`` partition, cell-partitioned.  ``fail_after=batch_id``
    raises AFTER the write — the crash window where the work is on disk
    but the offset is uncommitted; the replay must overwrite, not
    double-insert (the test hook; production passes None)."""
    from ..queries.vectors import (
        _nonzero_embedding, _norm2, _qint, assign_to_cells)

    # zero-norm exclusion AT INGEST — the same excluded-no-verdict
    # convention every batch cosine query applies (r7 adversarial
    # finding): a zero-norm vector has no cosine, and one landing in
    # the persisted store makes every later probe throw ANSI
    # DIVIDE_BY_ZERO (found by the r8 streaming x skew x adversarial
    # probe, tools/stream_skew_probe.py on the skewadv clone — the
    # batch twin excludes at load, so this also restores twin equality)
    emb = batch_df.filter(_nonzero_embedding(F.col("embedding"))).select(
        "vec_id", _qint(F.col("embedding")).alias("qe"),
        _norm2(F.col("embedding")).alias("n2"))
    assigned = assign_to_cells(emb, cents)
    (assigned.select("vec_id", "qe", "n2", "cell")
     .write.mode("overwrite").partitionBy("cell")
     .parquet(f"{_cells_path(base)}/batch_id={batch_id}"))
    if fail_after is not None and fail_after == batch_id:
        raise RuntimeError(
            f"injected fault after vector write of batch {batch_id}")


def run_vector_store_stream(emb_stream: DataFrame, cents: DataFrame,
                            base: str, checkpoint_dir: str,
                            query_name: str = "ivf_store",
                            fail_after: int | None = None) -> Any:
    """Drain the raw-embedding stream (availableNow) into the
    batch-partitioned cell store.  Re-invoke with the same
    (base, checkpoint_dir) to resume after a crash or drain new files —
    replayed batches overwrite their own partition (exactly-once)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        process_vector_batch(batch_df, batch_id, base, cents,
                             fail_after=fail_after)

    q = (emb_stream.writeStream.foreachBatch(process)
         .queryName(query_name)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    from ._drain import drain
    return drain(q)


def read_vector_store(spark: SparkSession, base: str) -> DataFrame:
    """The merged index: partition discovery surfaces ``batch_id`` and
    ``cell`` as columns; a ``cell`` filter prunes directories."""
    return (spark.read.parquet(_cells_path(base))
            .select("vec_id", "qe", "n2", F.col("cell").cast("int")
                    .alias("cell")))


def probe_vector_store(spark: SparkSession, queries_emb: DataFrame,
                       cents: DataFrame, base: str) -> DataFrame:
    """probe_cells against the streamed store — identical ranking
    semantics to the in-memory / bucketed-table probes (twin-pinned)."""
    from ..queries.vectors import probe_cells

    return probe_cells(queries_emb, cents, read_vector_store(spark, base))


def compact_vector_store(spark: SparkSession, base: str) -> tuple[int, int]:
    """Fold all committed batch partitions into ``batch_id=-1``,
    keeping the cell directories.  Returns (files_before, files_after).
    Run in a quiet window — not concurrently with a drain (commit-log
    safety) nor with probes (a mid-compaction probe can see a vector
    in both the old and new partition, occupying two top-k ranks)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = _cells_path(base)

    def count_files() -> int:
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

    df = spark.read.parquet(root)
    batches = [r["batch_id"] for r in
               df.select("batch_id").distinct().collect()]
    before = count_files()
    merged = (df.select("vec_id", "qe", "n2", "cell")
              .repartition("cell").localCheckpoint(eager=True))
    # consolidated partition FIRST, then drop the folded ones — a
    # reader in the window never sees a GAP, but it can see a vector
    # twice, and a duplicated candidate occupies two ranks in a top-k
    # probe; hence the quiet-window contract above (same rule as the
    # counter-store compactor — no atomic-swap claim)
    merged.write.mode("overwrite").partitionBy("cell") \
        .parquet(f"{root}/batch_id=-1")
    fs = jvm.org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    for b in batches:
        if b != -1:
            fs.delete(jvm.org.apache.hadoop.fs.Path(
                f"{root}/batch_id={b}"), True)
    return before, count_files()
