"""Streaming twins must agree with their batch counterparts."""

from pyspark.sql import functions as F

from hpctoolkit_dataframe_spark.queries import REGISTRY
from hpctoolkit_dataframe_spark.streaming import events as se

from .conftest import SF_DIR


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


