"""Exactly-once streaming maintenance of the IVF vector store
(streaming/vectors.py): a batch killed AFTER its partition write but
BEFORE its offset commit must, after resume from the same checkpoint,
leave the store IDENTICAL to an uninterrupted run (the replay
overwrites, never double-inserts as a plain append would); probes
against the streamed store equal the in-memory probe; the cell
directories partition-prune; compaction preserves probe results."""

import os

import pyspark.sql.functions as F
import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException

import hpctoolkit_dataframe_spark.streaming.vectors as sv
from hpctoolkit_dataframe_spark.queries import load_table
from hpctoolkit_dataframe_spark.queries import vectors as V

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def codebook(spark):
    emb_all = V._quantized_corpus(spark, SF_DIR)
    cents, _ = V._lloyd(emb_all)
    return emb_all.localCheckpoint(eager=True), \
        cents.localCheckpoint(eager=True)


def _make_stream(spark, tmp_path, name, n_chunks=2):
    """Non-query embeddings split into n_chunks single-file batches."""
    raw = load_table(spark, SF_DIR, "embeddings") \
        .filter(F.col("vec_id") >= V.N_QUERIES)
    ids = sorted(r.vec_id for r in raw.select("vec_id").collect())
    step = (len(ids) + n_chunks - 1) // n_chunks
    bounds = [ids[min(i * step, len(ids) - 1)] for i in range(n_chunks)] \
        + [ids[-1] + 1]
    stream_dir = tmp_path / name
    stream_dir.mkdir()
    for b in range(n_chunks):
        chunk = raw.filter((F.col("vec_id") >= bounds[b])
                           & (F.col("vec_id") < bounds[b + 1]))
        chunk.coalesce(1).write.mode("overwrite") \
            .parquet(str(tmp_path / f"{name}_tmp{b}"))
        part = next((tmp_path / f"{name}_tmp{b}").glob("*.parquet"))
        dst = stream_dir / f"b{b}.parquet"
        part.rename(dst)
        os.utime(dst, (1_700_000_000 + b * 60,) * 2)
    return stream_dir, raw.schema


def _stream(spark, stream_dir, schema):
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(str(stream_dir)))


def _probe_rows(spark, base, codebook):
    emb_all, cents = codebook
    queries = emb_all.filter(F.col("vec_id") < V.N_QUERIES)
    return {(r.query_id, r.rk): (r.neighbor_id, r.cos)
            for r in sv.probe_vector_store(spark, queries, cents, base)
            .collect()}


def test_kill_resume_equals_uninterrupted(spark, tmp_path, codebook):
    emb_all, cents = codebook
    src, schema = _make_stream(spark, tmp_path, "src_a")

    # uninterrupted run
    base_a = str(tmp_path / "store_a")
    sv.run_vector_store_stream(_stream(spark, src, schema), cents,
                               base_a, str(tmp_path / "ckpt_a"),
                               query_name="vec_a")

    # killed run: fault fires AFTER batch 0's partition write, BEFORE
    # its offset commit — the exact window where an append-only store
    # would double-insert on replay
    src_b, _ = _make_stream(spark, tmp_path, "src_b")
    base_b = str(tmp_path / "store_b")
    ckpt_b = str(tmp_path / "ckpt_b")
    with pytest.raises(StreamingQueryException):
        sv.run_vector_store_stream(_stream(spark, src_b, schema), cents,
                                   base_b, ckpt_b, query_name="vec_b",
                                   fail_after=0)
    sv.run_vector_store_stream(_stream(spark, src_b, schema), cents,
                               base_b, ckpt_b, query_name="vec_b_resume")

    store_a = sv.read_vector_store(spark, base_a)
    store_b = sv.read_vector_store(spark, base_b)
    n_corpus = emb_all.filter(F.col("vec_id") >= V.N_QUERIES).count()
    assert store_a.count() == n_corpus  # every vector exactly once
    assert store_b.count() == n_corpus  # replay overwrote, no dup
    assert store_a.exceptAll(store_b).count() == 0
    assert store_b.exceptAll(store_a).count() == 0

    # probes equal the in-memory assignment (same integer inputs ->
    # bit-identical cosines), both runs
    corpus = emb_all.filter(F.col("vec_id") >= V.N_QUERIES)
    queries = emb_all.filter(F.col("vec_id") < V.N_QUERIES)
    want = {(r.query_id, r.rk): (r.neighbor_id, r.cos)
            for r in V.probe_cells(queries, cents,
                                   V.assign_to_cells(corpus, cents))
            .collect()}
    assert _probe_rows(spark, base_a, codebook) == want
    assert _probe_rows(spark, base_b, codebook) == want
    assert len(want) == V.N_QUERIES * V.TOP_K


def test_probe_partition_prunes_cells(spark, tmp_path, codebook):
    """The scale contract: a probe of N_PROBE cells must be a
    partition-pruned scan of the cell directories, not a full-store
    read."""
    _, cents = codebook
    src, schema = _make_stream(spark, tmp_path, "src_p")
    base = str(tmp_path / "store_p")
    sv.run_vector_store_stream(_stream(spark, src, schema), cents,
                               base, str(tmp_path / "ckpt_p"),
                               query_name="vec_p")
    store = sv.read_vector_store(spark, base)
    cells = sorted(r.cell for r in store.select("cell").distinct()
                   .collect())
    assert len(cells) > 1  # pruning is meaningful
    probe_cells = cells[:1]
    pruned = store.filter(F.col("cell").isin(probe_cells))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the cell predicate must land in PartitionFilters (directory
    # pruning) with NO residual data filter — a DataFilters entry would
    # mean the store was scanned in full and filtered after the fact
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2 and "cell" in pf[1][:120], plan
    assert "DataFilters: []" in plan, plan
    assert pruned.count() > 0


def test_compaction_preserves_probe(spark, tmp_path, codebook):
    _, cents = codebook
    src, schema = _make_stream(spark, tmp_path, "src_c", n_chunks=3)
    base = str(tmp_path / "store_c")
    sv.run_vector_store_stream(_stream(spark, src, schema), cents,
                               base, str(tmp_path / "ckpt_c"),
                               query_name="vec_c")
    before_rows = _probe_rows(spark, base, codebook)
    n_before = sv.read_vector_store(spark, base).count()
    files_before, files_after = sv.compact_vector_store(spark, base)
    assert files_after < files_before
    assert sv.read_vector_store(spark, base).count() == n_before
    assert _probe_rows(spark, base, codebook) == before_rows
    batches = [r.batch_id for r in spark.read.parquet(f"{base}/cells")
               .select("batch_id").distinct().collect()]
    assert batches == [-1]
