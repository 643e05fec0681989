"""Structured Streaming operators over document and ``events`` streams.

The reference has NO streaming surface (SURVEY.md §2.9) — this module
is the engine's scale extension:

- ``events_schema`` / ``normalize_events``: the fixed read schema of the
  ``events`` stream and its LONG-nanos ``ts`` contract;
- ``run_funnel_stream``: the view -> click -> purchase funnel over
  event-time-ordered micro-batches with persisted state tables.

File-source streams here (tests read a parquet table as a stream with
``availableNow``); swap the source for Kafka/queue in production — the
transformation graph is identical.
"""

from __future__ import annotations

from . import _drain

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T


def events_schema(sf_dir: str | None = None) -> T.StructType:
    """Read schema for the events stream.  ``ts`` on disk has changed
    vintage across testdata generations (int64 nanos through r2,
    microsecond TIMESTAMP from r4) — a streaming source must pin a fixed
    read schema, so sniff the parquet footer of the actual file and pick
    the matching ``ts`` type; either vintage is then normalized to the
    LONG-nanos contract by ``normalize_events``.  Defaults to the
    current-vintage TIMESTAMP when no file is available to sniff."""
    ts_type: T.DataType = T.TimestampNTZType()
    if sf_dir is not None:
        try:
            import pyarrow.parquet as pq

            arrow_t = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
            if str(arrow_t).startswith("int") or str(arrow_t) == "timestamp[ns]":
                # nanos vintage: read as LONG via nanosAsLong
                ts_type = T.LongType()
        except Exception:
            pass
    return T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", ts_type),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])


# current-vintage default (microsecond TIMESTAMP ts)
EVENTS_SCHEMA = events_schema()


def normalize_events(df: DataFrame) -> DataFrame:
    """Restore the LONG-nanoseconds ``ts`` contract on an events frame
    (batch or streaming) whose on-disk ``ts`` is a microsecond TIMESTAMP.
    Session tz must be UTC so the NTZ cast matches DuckDB's naive
    epoch_us read.  No-op if ``ts`` is already LONG."""
    if not dict(df.dtypes).get("ts", "").startswith("timestamp"):
        return df
    return df.select(*[
        F.expr("unix_micros(cast(ts as timestamp)) * 1000").alias("ts")
        if c == "ts" else F.col(c) for c in df.columns])


def _state_table(spark: SparkSession, name: str, schema: str) -> None:
    """Create a persisted state table if absent — clearing any orphaned
    managed location first (a session that died mid-write leaves the
    warehouse dir behind with no catalog entry, and the next
    saveAsTable fails LOCATION_ALREADY_EXISTS; CLAUDE.md rule, same
    helper as dedup.drop_fingerprint_store)."""
    from ..queries.dedup import delete_orphan_location

    if not spark.catalog.tableExists(name):
        delete_orphan_location(spark, name)
        spark.createDataFrame([], schema).write.saveAsTable(name)


def _guard_restart(spark: SparkSession, prefix: str,
                   suffixes: tuple, checkpoint_dir: str | None) -> None:
    """Without a checkpoint there is no source-offset log, so invoking
    a funnel stream AGAIN on a prefix that already holds state tables
    reprocesses every input file against the leftover wait-sets and
    double-counts.  Refuse that mode instead of defaulting into it
    (ADVICE r5): resume with the original checkpoint_dir, or start
    fresh under a new prefix / after dropping the state tables."""
    if checkpoint_dir:
        return
    leftover = [f"{prefix}_{s}" for s in suffixes
                if spark.catalog.tableExists(f"{prefix}_{s}")]
    if leftover:
        raise ValueError(
            f"state tables {leftover} already exist for prefix "
            f"'{prefix}' but no checkpoint_dir was supplied; "
            "re-running without the source-offset log would replay "
            "all input against leftover state and double-count. "
            "Pass the original checkpoint_dir to resume, or use a "
            "fresh prefix (or drop the state tables) to start over.")


def _first_point_after(anchors: DataFrame, points: DataFrame,
                       anchor_ts: str, point_ts: str, out: str,
                       on: str = "user_id") -> DataFrame:
    """For every anchor row, the MINIMUM point timestamp STRICTLY
    greater than the anchor's own, within the same ``on`` key — the
    per-batch step-matching core of the funnel stream.

    Shape: one union + one descending per-key sort + one incremental
    running-min window — O(n log n) in any single key's row count.
    The theta join it replaced (key equality + ts range) emitted
    |anchors_of_key| x |points_of_key| candidate pairs per key; the
    skewed-clone probe measured that shape at x17 on the batch funnel
    when one user held 45% of events, and a firehose user does the
    same to every micro-batch here.

    Strict inequality is encoded in the sort rank: points order before
    anchors at EQUAL ts ascending (rank 0 < 1), so after the
    descending sort an equal-ts point lands BEHIND the anchor and out
    of its running frame.  The frame ends at currentRow — an anchor
    contributes NULL to the point-min, so no exclusion bound is
    needed.  (unboundedPreceding, current) is the only frame Spark
    accumulates incrementally; a (1, unboundedFollowing) frame
    re-scans the suffix per row — O(n^2), see CLAUDE.md.

    Returns the anchor rows (all columns) plus ``out`` (NULL when no
    later point exists).  Horizon filtering is the caller's job."""
    acols = anchors.columns
    pts = points.select(
        F.col(on).alias("__on"), F.col(point_ts).alias("__ts"),
        F.lit(0).alias("__rk"),
        *[F.lit(None).cast(anchors.schema[c].dataType).alias(c)
          for c in acols if c != on])
    anc = anchors.select(
        F.col(on).alias("__on"), F.col(anchor_ts).alias("__ts"),
        F.lit(1).alias("__rk"),
        *[c for c in acols if c != on])
    w = (Window.partitionBy("__on")
         .orderBy(F.col("__ts").desc(), F.col("__rk").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    scanned = (anc.unionByName(pts)
               .withColumn(out, F.min(F.when(F.col("__rk") == 0,
                                             F.col("__ts"))).over(w)))
    return (scanned.filter(F.col("__rk") == 1)
            .select(F.col("__on").alias(on),
                    *[c for c in acols if c != on],
                    # a NULL key never matches under the equi-join
                    # semantics this scan replaces, but NULL keys
                    # share one window partition — mask the min so a
                    # NULL-key anchor cannot claim a NULL-key point
                    # (ADVICE r7; batch twin applies the same guard)
                    F.when(F.col("__on").isNotNull(), F.col(out))
                    .alias(out)))


def run_funnel_stream(events_stream: DataFrame, prefix: str,
                      horizon_us: int | None = None,
                      checkpoint_dir: str | None = None,
                      query_name: str = "funnel_stream") -> "DataFrame":
    """Multi-step funnel (view -> first click within H -> purchase
    within H of that click) as an INCREMENTAL computation over
    event-time-ordered micro-batches, with two persisted state tables:

    - ``{prefix}_views``: views still awaiting their first click
    - ``{prefix}_vc``:    views matched to a click, awaiting purchase

    Per batch: arriving views append to the wait-set; arriving clicks
    claim the earliest qualifying click per waiting view (batch order
    is event-time order, so the first batch containing a qualifying
    click holds the GLOBAL first); arriving purchases complete matched
    views.
    Entries whose window closed before the batch's max timestamp are
    purged, so state is bounded by one horizon of traffic regardless
    of stream length.  Completions/matches accumulate in
    ``{prefix}_out`` (event_id, v_ts, stage) — the twin test folds
    them per view-day and compares against the batch funnel query."""
    from ..queries.funnel import FUNNEL_H_US

    h = horizon_us or FUNNEL_H_US
    spark = events_stream.sparkSession

    _guard_restart(spark, prefix, ("views", "vc", "out"), checkpoint_dir)
    _state_table(spark, f"{prefix}_views",
                 "event_id long, user_id long, v_ts long")
    _state_table(spark, f"{prefix}_vc",
                 "event_id long, user_id long, v_ts long, c_ts long")
    _state_table(spark, f"{prefix}_out",
                 "event_id long, v_ts long, stage string, batch_id long")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select(
            "event_id", "user_id", "event_type",
            F.expr("ts div 1000").alias("ts_us")).localCheckpoint(True)
        hi = b.agg(F.max("ts_us")).head()[0]
        if hi is None:
            return
        views = (b.filter(F.col("event_type") == "view")
                 .select("event_id", "user_id",
                         F.col("ts_us").alias("v_ts")))
        clicks = (b.filter(F.col("event_type") == "click")
                  .select("user_id", F.col("ts_us").alias("c_ts")))
        purchases = (b.filter(F.col("event_type") == "purchase")
                     .select("user_id", F.col("ts_us").alias("p_ts")))

        # 1) wait-set = persisted waiting views + this batch's views
        waiting = (spark.table(f"{prefix}_views")
                   .unionByName(views).localCheckpoint(True))
        # 2) claim first qualifying click per waiting view: the
        #    window-scan core (hot-user linear); a min <= v_ts + h is
        #    exactly the old in-window join's MIN(c_ts)
        matched = (_first_point_after(waiting, clicks, "v_ts", "c_ts",
                                      out="c_ts")
                   .filter(F.col("c_ts") <= F.col("v_ts") + h)
                   .localCheckpoint(True))
        # 3) completed funnels: purchases against persisted + fresh vc
        vc_all = (spark.table(f"{prefix}_vc")
                  .unionByName(matched).localCheckpoint(True))
        done = (_first_point_after(vc_all, purchases, "c_ts", "p_ts",
                                   out="p_ts")
                .filter(F.col("p_ts") <= F.col("c_ts") + h)
                .select("event_id", "v_ts").distinct()
                .localCheckpoint(True))

        # emit stage records (append-only result log)
        out = (matched.select("event_id", "v_ts",
                              F.lit("clicked").alias("stage"))
               .unionByName(views.select(
                   "event_id", "v_ts", F.lit("view").alias("stage")))
               .unionByName(done.select(
                   "event_id", "v_ts", F.lit("purchased").alias("stage"))))
        out.withColumn("batch_id", F.lit(batch_id).cast("long")) \
            .write.mode("append").saveAsTable(f"{prefix}_out")

        # 4) advance state: drop matched + expired views; keep vc rows
        #    that are neither completed nor expired
        next_views = (waiting
                      .join(matched.select("event_id"), "event_id",
                            "left_anti")
                      .filter(F.col("v_ts") + h >= hi))
        next_vc = (vc_all
                   .join(done.select("event_id"), "event_id", "left_anti")
                   .filter(F.col("c_ts") + h >= hi))
        next_views.write.mode("overwrite").saveAsTable(f"{prefix}_views")
        next_vc.write.mode("overwrite").saveAsTable(f"{prefix}_vc")
        for t in ("views", "vc", "out"):
            spark.catalog.refreshTable(f"{prefix}_{t}")

    writer = events_stream.writeStream.foreachBatch(process)
    if checkpoint_dir:
        # source-offset log: a later invocation with the same
        # checkpoint+prefix RESUMES — only new files replay, so the
        # persisted wait-sets pick up where the last run stopped
        # (without it, a second run reprocesses everything against
        # leftover state and double-counts; resumption is test-pinned)
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.queryName(query_name).trigger(availableNow=True).start()
    _drain.drain(q, 900)
    return spark.table(f"{prefix}_out")
