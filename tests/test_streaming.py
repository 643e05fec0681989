"""Streaming twins must agree with their batch counterparts."""

from pyspark.sql import functions as F

from hpctoolkit_dataframe_spark.queries import REGISTRY
from hpctoolkit_dataframe_spark.streaming import events as se

from .conftest import SF_DIR


def test_salted_join_equals_plain_join(spark):
    from hpctoolkit_dataframe_spark.operators import skew

    left = spark.range(5000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v"))
    right = spark.createDataFrame(
        [(i, f"r{i}") for i in range(7)], "k long, name string")
    plain = {(r["k"], r["v"], r["name"])
             for r in left.join(right, "k").collect()}
    salted = {(r["k"], r["v"], r["name"])
              for r in skew.salted_join(left, right, ["k"]).collect()}
    assert salted == plain


def _docs_stream(spark, docs):
    return (spark.readStream.schema(docs.schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(SF_DIR))


def test_streaming_simhash_fingerprints_match_batch(spark):
    """hamming=0 twin: the streaming fingerprint is the SAME fold as the
    batch simhash64 query — kept docs carry the batch value, and the
    kept set covers every distinct fingerprint exactly once."""
    batch = {r["doc_id"]: r["simhash"]
             for r in REGISTRY["simhash64"].fn(spark, SF_DIR).collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = se.run_available_now(
        se.streaming_simhash_dedup(_docs_stream(spark, docs)),
        "simdedup_t", output_mode="append")
    assert all(batch[r["doc_id"]] == r["simhash"] for r in got)
    assert {r["simhash"] for r in got} == set(batch.values())
    assert len(got) == len(set(batch.values()))


def test_streaming_simhash_near_dup_matches_greedy_replica(spark):
    """hamming=1 twin: per-band flags equal a Python replica of the
    greedy banded scan over the batch simhash64 fingerprints, including
    WHICH reference each dup matched."""
    batch = sorted(
        (r["doc_id"], r["simhash"])
        for r in REGISTRY["simhash64"].fn(spark, SF_DIR).collect())
    want = {}  # (doc_id, band) -> dup_of (None if reference)
    for band in (0, 1):
        buckets: dict[int, list[tuple[int, int]]] = {}
        for doc_id, h in batch:  # doc_id order == operator's sort
            refs = buckets.setdefault((h >> (32 * band)) & 0xFFFFFFFF, [])
            dup_of = next((rid for rid, rh in refs
                           if (rh ^ h) & ((rh ^ h) - 1) == 0), None)
            if dup_of is None and len(refs) < se._ND_STATE_CAP:
                refs.append((doc_id, h))
            want[(doc_id, band)] = dup_of

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = se.run_available_now(
        se.streaming_simhash_dedup(_docs_stream(spark, docs), hamming=1),
        "simnear_t", output_mode="append")
    assert len(got) == len(want)
    for r in got:
        assert want[(r["doc_id"], r["band_idx"])] == r["dup_of"], r
    # sanity: the dataset actually exercises both outcomes
    assert any(r["dup_of"] is not None for r in got)
    assert any(r["dup_of"] is None for r in got)


def test_streaming_simhash_near_dup_cross_batch_state(spark, tmp_path):
    """A doc re-arriving in a LATER micro-batch is flagged against the
    batch-0 state (dup_of == its own first arrival) in both bands."""
    import os

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    half = docs.limit(docs.count() // 2)
    half.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b0"))
    docs.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b1"))
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    for i, src in enumerate(("b0", "b1")):
        part = next((tmp_path / src).glob("*.parquet"))
        dst = stream_dir / f"batch{i}.parquet"
        part.rename(dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(stream_dir)))
    got = se.run_available_now(
        se.streaming_simhash_dedup(stream, hamming=1),
        "simnear_cb_t", output_mode="append")
    b0_ids = {r["doc_id"] for r in half.select("doc_id").collect()}
    # each batch-0 doc appears twice per band; its re-arrival MUST be
    # flagged against batch-0 state (a first arrival may itself be a
    # near-dup of an earlier batch-0 doc, so it can be flagged too)
    for doc_id in b0_ids:
        for band in (0, 1):
            dups = [r["dup_of"] for r in got
                    if r["doc_id"] == doc_id and r["band_idx"] == band]
            assert len(dups) == 2, (doc_id, band, dups)
            flagged = [d for d in dups if d is not None]
            assert flagged, (doc_id, band)  # the re-arrival at minimum
            if None in dups:
                # first arrival was a reference -> the re-arrival can
                # only have matched the doc's own state entry
                assert flagged == [doc_id], (doc_id, band, dups)


def test_streaming_restart_exactly_once(spark, tmp_path):
    """Checkpoint recovery contract: stopping a stream and restarting
    it against the same checkpoint must process NEW files exactly once
    and never re-emit already-committed batches — the property that
    makes continuous 100 TB ingestion restartable."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"; src.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def write(path, ids):
        pq.write_table(pa.Table.from_pydict({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array([1_700_000_000_000_000 + i for i in ids],
                           pa.timestamp("us")),
            "user_id": pa.array([i % 3 for i in ids], pa.int64()),
            "event_type": pa.array(["click"] * len(ids), pa.string()),
            "value": pa.array([1.0] * len(ids), pa.float64()),
            "props": pa.array([""] * len(ids), pa.string()),
        }), path)

    def drain():
        stream = se.normalize_events(
            spark.readStream.schema(se.EVENTS_SCHEMA).parquet(str(src)))
        q = (stream.writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    write(src / "a.parquet", list(range(100)))
    drain()
    write(src / "b.parquet", list(range(100, 150)))
    drain()   # restart from the same checkpoint
    got = [r["event_id"] for r in spark.read.parquet(sink).collect()]
    assert sorted(got) == list(range(150))  # each id exactly once


def test_streaming_ivf_index_matches_batch_probe(spark, tmp_path):
    """Vector-index maintenance twin: train the coarse codebook once,
    stream the non-query corpus into the cell store in two
    micro-batches, then probe the STORE — rows must EQUAL probe_cells
    over the identical in-memory assignment (same integer inputs ->
    bit-identical cosines)."""
    import os

    from pyspark.sql import functions as F

    from hpctoolkit_dataframe_spark.queries import load_table
    from hpctoolkit_dataframe_spark.queries import vectors as V
    from hpctoolkit_dataframe_spark.queries.dedup import \
        drop_fingerprint_store

    table = "ivf_store_t"
    try:
        emb_all = V._quantized_corpus(spark, SF_DIR)
        cents, _ = V._lloyd(emb_all)
        cents = cents.localCheckpoint(eager=True)

        corpus_ids = sorted(r.vec_id for r in
                            emb_all.filter(F.col("vec_id") >= V.N_QUERIES)
                            .select("vec_id").collect())
        half = corpus_ids[len(corpus_ids) // 2]
        raw = load_table(spark, SF_DIR, "embeddings")
        stream_dir = tmp_path / "emb_stream"
        stream_dir.mkdir()
        for b, cond in ((0, (F.col("vec_id") >= V.N_QUERIES)
                         & (F.col("vec_id") < half)),
                        (1, F.col("vec_id") >= half)):
            raw.filter(cond).coalesce(1).write.mode("overwrite") \
                .parquet(str(tmp_path / f"eb{b}"))
            part = next((tmp_path / f"eb{b}").glob("*.parquet"))
            dst = stream_dir / f"batch{b}.parquet"
            part.rename(dst)
            os.utime(dst, (1_700_000_000 + b * 60,) * 2)

        drop_fingerprint_store(spark, table)  # location hygiene
        V.write_vector_store(
            V.assign_to_cells(emb_all, cents).filter(F.lit(False)), table)
        stream = (spark.readStream.schema(raw.schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(stream_dir)))
        assert se.run_vector_index_stream(stream, cents, table) == 2

        queries = emb_all.filter(F.col("vec_id") < V.N_QUERIES)
        got = {(r.query_id, r.rk): (r.neighbor_id, r.cos)
               for r in V.ivf_probe_store(spark, queries, cents, table)
               .collect()}
        corpus = emb_all.filter(F.col("vec_id") >= V.N_QUERIES)
        want = {(r.query_id, r.rk): (r.neighbor_id, r.cos)
                for r in V.probe_cells(
                    queries, cents,
                    V.assign_to_cells(corpus, cents)).collect()}
        assert got == want
        assert len(got) == V.N_QUERIES * V.TOP_K
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """Multi-step funnel twin: the streamed stage log (view / clicked /
    purchased per view event), accumulated across three event-time-
    ordered micro-batches through the persisted wait-set stores, must
    fold into EXACTLY the batch funnel's per-day counts — including
    funnels whose click and purchase arrive in different batches."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from hpctoolkit_dataframe_spark.queries import REGISTRY, load_table
    from hpctoolkit_dataframe_spark.queries.dedup import \
        drop_fingerprint_store

    prefix = "funnel_t"
    try:
        for t in ("views", "vc", "out"):
            drop_fingerprint_store(spark, f"{prefix}_{t}")
        ev = load_table(spark, SF_DIR, "events").select(
            "event_id", F.expr("ts div 1000").alias("ts_us"), "user_id",
            "event_type", "value", "props").toPandas()
        ev = ev.sort_values("ts_us")
        thirds = [ev.iloc[:len(ev) // 3],
                  ev.iloc[len(ev) // 3:2 * len(ev) // 3],
                  ev.iloc[2 * len(ev) // 3:]]
        for i, part in enumerate(thirds):
            table = pa.Table.from_pydict({
                "event_id": part["event_id"].astype("int64"),
                "ts": pa.array(part["ts_us"].astype("int64").tolist(),
                               pa.timestamp("us")),
                "user_id": part["user_id"].astype("int64"),
                "event_type": part["event_type"],
                "value": part["value"],
                "props": part["props"],
            })
            p = tmp_path / f"batch{i}.parquet"
            pq.write_table(table, p)
            os.utime(p, (1_700_000_000 + i * 60,) * 2)

        stream = se.normalize_events(
            spark.readStream.schema(se.EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(str(tmp_path)))
        out = se.run_funnel_stream(stream, prefix)
        day = F.expr("v_ts div 86400000000").alias("day")
        got = {(r.day, r.stage): r.n for r in
               out.groupBy(day, "stage")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
        want = {}
        for r in REGISTRY["funnel_view_click_purchase"].fn(
                spark, SF_DIR).collect():
            want[(r.day, "view")] = r.n_views
            if r.n_clicked:
                want[(r.day, "clicked")] = r.n_clicked
            if r.n_purchased:
                want[(r.day, "purchased")] = r.n_purchased
        assert got == want
        # cross-batch funnels actually exercised: some view's later
        # stage must land in a LATER micro-batch than the view itself
        stage_batches = {}
        for r in out.collect():
            stage_batches.setdefault(r.event_id, {})[r.stage] = r.batch_id
        assert any(
            st.get("clicked", 0) > st["view"] or
            st.get("purchased", 0) > st["view"]
            for st in stage_batches.values() if "view" in st)
    finally:
        for t in ("views", "vc", "out"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_streaming_funnel_resumes_from_checkpoint(spark, tmp_path):
    """Resumption contract: a second run_funnel_stream invocation with
    the same checkpoint + prefix replays only files added since the
    first run — stage counts equal one continuous run, never doubled."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from hpctoolkit_dataframe_spark.queries import REGISTRY, load_table
    from hpctoolkit_dataframe_spark.queries.dedup import \
        drop_fingerprint_store

    prefix = "funnel_ckpt_t"
    tables = ("views", "vc", "out")
    try:
        for t in tables:
            drop_fingerprint_store(spark, f"{prefix}_{t}")
        ev = load_table(spark, SF_DIR, "events").select(
            "event_id", F.expr("ts div 1000").alias("ts_us"), "user_id",
            "event_type", "value", "props").toPandas()
        ev = ev.sort_values("ts_us")
        parts = [ev.iloc[:len(ev) // 3],
                 ev.iloc[len(ev) // 3:2 * len(ev) // 3],
                 ev.iloc[2 * len(ev) // 3:]]
        stream_dir = tmp_path / "stream"
        stream_dir.mkdir()
        ckpt = str(tmp_path / "ckpt")

        def write_part(i):
            part = parts[i]
            table = pa.Table.from_pydict({
                "event_id": part["event_id"].astype("int64"),
                "ts": pa.array(part["ts_us"].astype("int64").tolist(),
                               pa.timestamp("us")),
                "user_id": part["user_id"].astype("int64"),
                "event_type": part["event_type"],
                "value": part["value"],
                "props": part["props"],
            })
            p = stream_dir / f"batch{i}.parquet"
            pq.write_table(table, p)
            os.utime(p, (1_700_000_000 + i * 60,) * 2)

        def run():
            stream = se.normalize_events(
                spark.readStream.schema(se.EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", 1).parquet(str(stream_dir)))
            return se.run_funnel_stream(stream, prefix,
                                        checkpoint_dir=ckpt,
                                        query_name="funnel_ckpt_q")

        write_part(0)
        write_part(1)
        run()                 # first invocation: batches 0-1
        write_part(2)
        out = run()           # resumes: must replay ONLY batch 2

        day = F.expr("v_ts div 86400000000").alias("day")
        got = {(r.day, r.stage): r.n for r in
               out.groupBy(day, "stage")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
        want = {}
        for r in REGISTRY["funnel_view_click_purchase"].fn(
                spark, SF_DIR).collect():
            want[(r.day, "view")] = r.n_views
            if r.n_clicked:
                want[(r.day, "clicked")] = r.n_clicked
            if r.n_purchased:
                want[(r.day, "purchased")] = r.n_purchased
        assert got == want
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_funnel_restart_without_checkpoint_refused(spark, tmp_path):
    """ADVICE r5: re-invoking a funnel stream on a prefix with leftover
    state tables and NO checkpoint_dir would replay everything against
    that state and double-count — the unsafe mode must refuse, not be
    the default."""
    import pytest as _pytest

    from hpctoolkit_dataframe_spark.streaming import events as se

    prefix = "funnel_guard_t"
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_out")
    try:
        spark.createDataFrame(
            [], "event_id long, v_ts long, stage string, batch_id long"
        ).write.saveAsTable(f"{prefix}_out")
        stream = (spark.readStream.schema(se.EVENTS_SCHEMA)
                  .parquet(str(tmp_path)))
        with _pytest.raises(ValueError, match="checkpoint_dir"):
            se.run_funnel_stream(stream, prefix)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_out")


def test_streaming_dsir_equals_batch_model(spark, tmp_path):
    """Mergeable-model twin: DSIR bucket models appended per
    micro-batch and cell-wise summed at read time must score every
    document IDENTICALLY to the batch dsir_importance_weights over the
    full corpus — exact equality, because the model is integer counts,
    merging is associative addition, and the weight computation sees
    bit-identical inputs either way."""
    import os

    from pyspark.sql import functions as F

    from hpctoolkit_dataframe_spark.queries.curation import \
        dsir_score_against_store

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    for b, cond in ((0, F.col("doc_id") % 2 == 0),
                    (1, F.col("doc_id") % 2 == 1)):
        docs.filter(cond).coalesce(1).write.mode("overwrite") \
            .parquet(str(tmp_path / f"db{b}"))
        part = next((tmp_path / f"db{b}").glob("*.parquet"))
        dst = stream_dir / f"batch{b}.parquet"
        part.rename(dst)
        os.utime(dst, (1_700_000_000 + b * 60,) * 2)
    store = str(tmp_path / "dsir_store")
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(stream_dir)))
    assert se.run_dsir_stream(stream, store) == 2

    got = {r.doc_id: (r.n_tokens, r.score_u) for r in
           dsir_score_against_store(
               spark, store, docs.filter(F.col("text").isNotNull()))
           .collect()}
    want = {r.doc_id: (r.n_tokens, r.score_u) for r in
            REGISTRY["dsir_importance_weights"].fn(spark, SF_DIR).collect()}
    assert got == want
