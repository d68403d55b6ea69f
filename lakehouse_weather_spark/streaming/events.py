"""Event-time / streaming operators (SURVEY.md §2.10 — DERIVED; the
reference is batch-only, ``schedule_interval=None`` at dags/bronze.py:127).

Three layers:
- ``q_win_tumbling``: tumbling-window aggregate as a *batch* query
  (oracle-checked via date_trunc) — the semantics shared by batch and
  streaming execution.
- ``q_sessionize``: gap-based sessionization (30-min inactivity) as
  windowed batch SQL — the classic custom-stateful-streaming operator,
  expressed with lag + running sum so it stays oracle-checkable.
- ``stream_tumbling_counts``: the true Structured Streaming variant
  (readStream + withWatermark + window, availableNow trigger) —
  exercised in tests/test_streaming.py and equal to the batch query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_weather_spark.functions import dsum, sql_dsum
from lakehouse_weather_spark.registry import register
from lakehouse_weather_spark.sources.tables import load_table, with_event_ts
from lakehouse_weather_spark.streaming.runner import (
    run_available_now,
    session_conf,
)


def _ts_ltz(df):
    """Event-time column as TIMESTAMP (LTZ) — required by watermarks;
    schema-adaptive to both the int64-nanos and timestamp[us] layouts."""
    return with_event_ts(df, ntz=False)


@register(
    "q_win_tumbling",
    oracle=f"""
        SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                   AS window_start,
               event_type,
               count(*) AS n_events,
               {sql_dsum('value')} AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour window aggregate over event time (batch form of"
    " the streaming windowed agg; q_stream equivalent in streaming"
    " tests). window() + groupBy -> one shuffle with map-side partials.",
)
def q_win_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_sessionize",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR CAST(ts AS TIMESTAMP)
                             - CAST(lag(ts) OVER w AS TIMESTAMP) > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WHERE ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts, event_id,
                   sum(new_session) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_idx
            FROM flagged
        )
        SELECT user_id,
               CAST(session_idx AS BIGINT) AS session_idx,
               CAST(min(ts) AS TIMESTAMP) AS session_start,
               CAST(max(ts) AS TIMESTAMP) AS session_end,
               count(*) AS n_events
        FROM sess
        GROUP BY user_id, session_idx
    """,
    doc="Gap-based sessionization (30-min inactivity gap) via lag + "
    "running-sum — the batch-SQL form of a custom stateful streaming"
    " operator (applyInPandasWithState shape). One shuffle on user_id."
    " Complete case on ts (NULLS.md tier 1), mirroring the streaming"
    " twin: a NULL event-time has no position in the gap sequence.",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # complete case (NULLS.md tier 1): session order is defined by ts
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ -> epoch seconds via TIMESTAMP under the pinned-UTC session
    secs = F.col("ts").cast("timestamp").cast("long")
    gap = secs - F.lag(secs).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60), F.lit(1)).otherwise(F.lit(0)),
    )
    sess = flagged.withColumn(
        "session_idx",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


def stream_sessionize(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful streaming sessionization via
    ``applyInPandasWithState``: per-user state carries the OPEN session
    (idx, start, end, n_events) across micro-batches, so a session whose
    events straddle a batch boundary is stitched back together instead
    of being split. A session is emitted only once it is CLOSED — by a
    later event more than 30 minutes after its end, or by the event-time
    timeout when the watermark passes end+gap. Multi-batch equality with
    the batch q_sessionize is asserted in tests/test_streaming.py under
    maxFilesPerTrigger=1.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    static = spark.read.parquet(events_dir)

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_idx", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
        ]
    )
    # the open session, timestamps as epoch micros (exact integers)
    state_schema = StructType(
        [
            StructField("session_idx", LongType()),
            StructField("start_us", LongType()),
            StructField("end_us", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    gap = pd.Timedelta(minutes=30)
    gap_ms = 30 * 60 * 1000

    def _us(ts: pd.Timestamp) -> int:
        return ts.value // 1_000

    def _ts(us: int) -> pd.Timestamp:
        return pd.Timestamp(us * 1_000)

    def sessionize(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            # watermark passed end+gap: the open session can no longer
            # be extended — emit it, but KEEP the session counter in
            # state (n_events=0 marks "nothing open") so a later event
            # for this user continues the per-user numbering
            idx, start_us, end_us, n = state.get
            state.update((idx, end_us, end_us, 0))
            cols = [
                "user_id", "session_idx", "session_start",
                "session_end", "n_events",
            ]
            if n > 0:
                yield pd.DataFrame(
                    [(user_id, idx, _ts(start_us), _ts(end_us), n)],
                    columns=cols,
                )
            return
        events = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        sessions = []
        if state.exists:
            idx, start_us, end_us, n = state.get
            start = _ts(start_us) if n > 0 else None
            end = _ts(end_us) if n > 0 else None
        else:
            idx, start, end, n = 0, None, None, 0
        for ts in events["ts"]:
            if start is None:
                idx += 1
                start, end, n = ts, ts, 1
            elif ts - end > gap:
                sessions.append((user_id, idx, start, end, n))
                idx += 1
                start, end, n = ts, ts, 1
            else:
                # max() guards against in-watermark late rows that sort
                # before the carried session end
                end, n = max(end, ts), n + 1
        # carry the still-open session; flush it when the watermark
        # passes its close point
        state.update((idx, _us(start), _us(end), n))
        state.setTimeoutTimestamp(end.value // 1_000_000 + gap_ms)
        yield pd.DataFrame(
            sessions,
            columns=[
                "user_id", "session_idx", "session_start",
                "session_end", "n_events",
            ],
        )

    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = (
        reader.parquet(events_dir)
        .transform(_ts_ltz)
        .withWatermark("ts", "1 minute")
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    writer = (
        stream.writeStream.format("memory")
        .queryName("stream_sessions")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    run_available_now(writer, 120)
    return spark.table("stream_sessions")


def stream_enrich(
    spark: SparkSession,
    events_dir: str,
    sf_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Stream-static join: enrich the event stream with the (static)
    customer dimension on user_id % customer-count — the streaming
    analogue of the broadcast dimension join. The static side is
    re-read per micro-batch (picks up dimension updates); Spark plans a
    broadcast join, so the stream never shuffles.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    static_schema = spark.read.parquet(events_dir).schema
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    n_cust = customer.count()
    stream = (
        spark.readStream.schema(static_schema)
        .parquet(events_dir)
        .withColumn("c_custkey", F.col("user_id") % n_cust)
        .join(customer, "c_custkey")
        .select("event_id", "user_id", "event_type", "c_mktsegment")
    )
    writer = (
        stream.writeStream.format("memory")
        .queryName("stream_enriched")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    run_available_now(writer, 120)
    return spark.table("stream_enriched")


def stream_merge_sink(
    spark: SparkSession,
    events_dir: str,
    target_dir: str,
    checkpoint_dir: str,
) -> int:
    """foreachBatch streaming-merge sink: each micro-batch upserts the
    latest event per user into a VERSIONED target table (see
    ``pipeline.atomic``) — the standard streaming-lakehouse pattern.
    Each batch's merge lands as a new version committed by an atomic
    pointer replace, so readers never see a half state; on failure and
    replay the merge is idempotent against the last committed version
    (checkpoint + idempotent merge = effectively-once). Returns the
    target row count.
    """
    from lakehouse_weather_spark.pipeline.atomic import (
        publish,
        publish_df,
        read_current,
        resolve,
    )
    from lakehouse_weather_spark.pipeline.incremental import merge_upsert

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    static_schema = spark.read.parquet(events_dir).schema

    # seed an empty committed version with the right schema
    from lakehouse_weather_spark.sources.tables import local_df

    empty = local_df(
        spark, [], "user_id long, event_id long, value double"
    )
    publish_df(empty, target_dir)

    def upsert_batch(batch_df, batch_id: int) -> None:
        # ONE struct-valued max_by: the surviving (event_id, value) come
        # from the same source row (two independent max_bys could stitch
        # a torn record from different rows on tied timestamps), and the
        # (ts, event_id) ordering key makes the winner deterministic.
        latest = (
            batch_df.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("event_id", "value"),
                    F.struct(F.col("ts"), F.col("event_id")),
                ).alias("r")
            )
            .select("user_id", "r.event_id", "r.value")
        )
        s = batch_df.sparkSession
        base_path = resolve(target_dir)
        publish(
            target_dir,
            lambda path: merge_upsert(s, base_path, latest, "user_id", path),
        )

    writer = (
        spark.readStream.schema(static_schema)
        .parquet(events_dir)
        .transform(_ts_ltz)
        .writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    run_available_now(writer, 120)
    return read_current(spark, target_dir).count()


def stream_stream_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    checkpoint_dir: str,
    queryname: str = "view_click_joins",
) -> DataFrame:
    """Stream-stream inner join with watermarked state: match each
    'view' event to 'click' events by the same user within 1 hour after
    the view. Both sides carry watermarks so the join state is bounded —
    the canonical funnel/attribution streaming join.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Stream-stream joins keep one state store PER shuffle partition
    # and PER side; at this corpus size 32 partitions are pure store
    # open/commit overhead (measured 8.4 s -> ~3 s at 8), and more
    # partitions than cores only adds task waves (4-core host, sf0.001
    # traced run: 8 -> 4 took the join lifecycle from 7.6 s to 6.3 s,
    # same micro-batches). State
    # partitioning is fixed by the FIRST run's conf via the
    # checkpoint — exactly how a deployment sizes it — so set it for
    # the stream build and restore after.
    state_parts = min(8, spark.sparkContext.defaultParallelism)
    with session_conf(
        spark, "spark.sql.shuffle.partitions", str(state_parts)
    ):
        schema = spark.read.parquet(left_dir).schema

        views = (
            spark.readStream.schema(schema)
            .parquet(left_dir)
            .transform(_ts_ltz)
            .filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("view_ts"),
            )
            .withWatermark("view_ts", "2 hours")
        )
        clicks = (
            spark.readStream.schema(schema)
            .parquet(right_dir)
            .transform(_ts_ltz)
            .filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "2 hours")
        )
        joined = views.join(
            clicks,
            (F.col("v_user") == F.col("c_user"))
            & (F.col("click_ts") >= F.col("view_ts"))
            & (
                F.col("click_ts")
                < F.col("view_ts") + F.expr("INTERVAL 1 HOUR")
            ),
        ).select("view_id", "click_id", "v_user", "view_ts", "click_ts")
        writer = (
            joined.writeStream.format("memory")
            .queryName(queryname)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
        )
        run_available_now(writer, 180)
    return spark.table(queryname)


def stream_stream_left_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermarked state — the hard
    half of streaming joins: matched (view, click) pairs emit as they
    match, and a view with NO click in its 1-hour window emits exactly
    once WITH NULL click columns, but only after the join watermark
    (the min of both sides') passes the end of its window — Spark holds
    the view in state until then, because a matching click could still
    arrive. Correctness therefore depends on watermark ADVANCEMENT: a
    run whose input ends mid-window never flushes its tail (the test
    appends far-future sentinel rows to push the watermark past every
    real window — the stateful-sessionize precedent). State stays
    bounded by the same eviction: views leave state at window end +
    watermark delay, never accumulate."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(left_dir).schema

    def reader(path: str):
        r = spark.readStream.schema(schema)
        if max_files_per_trigger:
            r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return r.parquet(path)

    views = (
        reader(left_dir)
        .transform(_ts_ltz)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    clicks = (
        reader(right_dir)
        .transform(_ts_ltz)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") < F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select("view_id", "click_id", "v_user", "view_ts", "click_ts")
    writer = (
        joined.writeStream.format("memory")
        .queryName("view_click_left_joins")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    run_available_now(writer, 180)
    return spark.table("view_click_left_joins")


def stream_stream_full_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream-stream FULL OUTER join with watermarked state — the
    final rung of the streaming-join ladder: matched (view, click)
    pairs emit as they match, a view with NO click in its 1-hour
    window emits exactly once with NULL click columns, AND a click
    matching NO view emits exactly once with NULL view columns. Both
    unmatched sides are held in state until the join watermark (the
    min of the two input watermarks) proves no counterpart can still
    arrive, then flush exactly once — so emission again depends on
    watermark ADVANCEMENT (the test pushes it with far-future sentinel
    files on both sides). State stays bounded: each side's rows leave
    state once the watermark passes their join-window end. Spark
    requires at least one watermark-bounded range condition between
    the event-time columns for outer joins — the 1-hour band below is
    exactly that."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(left_dir).schema

    def reader(path: str):
        r = spark.readStream.schema(schema)
        if max_files_per_trigger:
            r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return r.parquet(path)

    views = (
        reader(left_dir)
        .transform(_ts_ltz)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    clicks = (
        reader(right_dir)
        .transform(_ts_ltz)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") < F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        "fullOuter",
    ).select(
        "view_id", "click_id", "v_user", "c_user", "view_ts", "click_ts"
    )
    writer = (
        joined.writeStream.format("memory")
        .queryName("view_click_full_joins")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    run_available_now(writer, 180)
    return spark.table("view_click_full_joins")


def stream_dedup(
    spark: SparkSession, events_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` on a content key — the reference's
    crawl-time visited-hash dedup (``bronze.py:64-70``) as a streaming
    operator whose state is garbage-collected by the watermark instead
    of growing forever (the driver-side Python set's failure mode).
    Demo keys on (user_id, event_type): first event per pair survives.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    static = spark.read.parquet(events_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(events_dir)
        .transform(_ts_ltz)
        .withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "event_id")
    )
    writer = (
        stream.writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    run_available_now(writer, 120)
    return spark.table("stream_dedup")


def stream_tumbling_counts(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    output_mode: str = "complete",
) -> DataFrame:
    """True Structured Streaming tumbling-window count with watermark:
    readStream over a directory of events parquet files (the file-stream
    source requires a directory — new files appearing there are
    incrementally processed), 1-hour windows, 2-hour watermark for late
    data, availableNow trigger into a memory sink. Returns the completed
    result table (equal to the batch q_win_tumbling counts).

    output_mode semantics matter for late data: in COMPLETE mode all
    window state is retained and late rows still aggregate; in APPEND
    mode a window emits once the watermark passes its end, its state is
    evicted, and rows older than the watermark are DROPPED (bounded
    state) — asserted in tests/test_streaming.py.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    static = spark.read.parquet(events_dir)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = (
        reader
        .parquet(events_dir)
        # watermarks require TIMESTAMP (LTZ); session tz is pinned UTC so
        # the cast to NTZ after aggregation is deterministic
        .transform(_ts_ltz)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    writer = (
        stream.writeStream.format("memory")
        .queryName("tumbling_counts")
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
    )
    run_available_now(writer, 120)
    return spark.table("tumbling_counts")


def stream_sliding_counts(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """True Structured Streaming form of q_win_sliding: the SAME
    window('1 hour', '15 minutes') + watermark shape, availableNow
    trigger into a memory sink — each event still expands into its 4
    overlapping windows before the (windowed, watermark-bounded)
    stateful aggregation. Equality with the batch query is asserted in
    tests/test_streaming.py."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    static = spark.read.parquet(events_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(events_dir)
        .transform(_ts_ltz)
        .withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    writer = (
        stream.writeStream.format("memory")
        .queryName("sliding_counts")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
    )
    run_available_now(writer, 120)
    return spark.table("sliding_counts")


def stream_session_window(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """True Structured Streaming form of q_session_window: the SAME
    native session_window(ts, '30 minutes') aggregate over a file
    stream with a watermark — Spark's built-in dynamic-gap session
    state (merge-on-overlap, evict past the watermark), which is the
    bounded-state way to sessionize an unbounded stream. Equality with
    the batch q_session_window is asserted in tests/test_streaming.py.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    static = spark.read.parquet(events_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(events_dir)
        .transform(_ts_ltz)
        .withWatermark("ts", "2 hours")
        .groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("w_start"),
            F.col("w.end").cast("timestamp_ntz").alias("w_end"),
            "n_events",
        )
    )
    writer = (
        stream.writeStream.format("memory")
        .queryName("session_window_counts")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
    )
    run_available_now(writer, 120)
    return spark.table("session_window_counts")


@register(
    "q_time_rollup",
    oracle=f"""
        SELECT CAST('hour' AS VARCHAR) AS grain,
               CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                   AS bucket_start,
               event_type, count(*) AS n_events,
               {sql_dsum('value')} AS sum_value
        FROM events WHERE ts IS NOT NULL GROUP BY 2, 3
        UNION ALL
        SELECT 'day',
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP),
               event_type, count(*), {sql_dsum('value')}
        FROM events WHERE ts IS NOT NULL GROUP BY 2, 3
        UNION ALL
        SELECT 'week',
               CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP),
               event_type, count(*), {sql_dsum('value')}
        FROM events WHERE ts IS NOT NULL GROUP BY 2, 3
    """,
    doc="Multi-resolution time rollup (hour/day/week) in ONE pass — the"
    " TimescaleDB-continuous-aggregate / hypertable-rollup shape."
    " GROUPING SETS over pre-computed truncations: Spark plans a single"
    " Expand + partial/final aggregate (one shuffle for all three"
    " grains) instead of three scans. At 100 TB the coarser grains"
    " piggyback on the hour aggregation nearly for free. Complete case"
    " on ts (NULLS.md tier 1): a NULL ts truncates to NULL at EVERY"
    " grain, which would collapse the three grain labels into one"
    " engine-dependent 'week' row under the grouping-sets CASE.",
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # complete case (NULLS.md tier 1): NULL ts has no rollup bucket
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    ev.createOrReplaceTempView("v_events_rollup")
    inner = (
        "SELECT event_type, value,"
        " date_trunc('hour', ts) AS h,"
        " date_trunc('day', ts) AS d,"
        " date_trunc('week', ts) AS w"
        " FROM v_events_rollup"
    )
    dsum_sql = (
        "CAST(sum(CAST(round((value) * 10000) AS BIGINT)) AS DOUBLE) / 10000"
    )
    return spark.sql(
        f"""
        SELECT CASE WHEN h IS NOT NULL THEN 'hour'
                    WHEN d IS NOT NULL THEN 'day'
                    ELSE 'week' END AS grain,
               coalesce(h, d, w) AS bucket_start,
               event_type,
               count(*) AS n_events,
               {dsum_sql} AS sum_value
        FROM ({inner})
        GROUP BY GROUPING SETS ((h, event_type), (d, event_type), (w, event_type))
        """
    )


@register(
    "q_session_window",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR CAST(ts AS TIMESTAMP)
                             - CAST(lag(ts) OVER w AS TIMESTAMP) > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WHERE ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts,
                   sum(new_session) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_idx
            FROM flagged
        )
        SELECT user_id,
               CAST(min(ts) AS TIMESTAMP) AS w_start,
               CAST(max(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE AS w_end,
               count(*) AS n_events
        FROM sess
        GROUP BY user_id, session_idx
    """,
    doc="Sessionization via Spark's NATIVE session_window(ts, gap) —"
    " the built-in dynamic-gap session aggregate (window end = last"
    " event + gap), usable identically in batch and Structured"
    " Streaming. Complements the hand-rolled q_sessionize (lag +"
    " running sum) and the stateful applyInPandasWithState variant;"
    " one shuffle on (user_id, session merge).",
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # complete case (NULLS.md tier 1): session membership is defined
    # by event time; session_window would silently drop NULL ts on the
    # Spark side only, so the filter is mirrored in the oracle
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    # session_window needs TIMESTAMP (LTZ); session tz pinned UTC makes
    # the NTZ<->LTZ casts deterministic
    ev = ev.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
    return (
        ev.groupBy("user_id", F.session_window("ts_ltz", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("w_start"),
            F.col("w.end").cast("timestamp_ntz").alias("w_end"),
            "n_events",
        )
    )


@register(
    "q_funnel",
    oracle="""
        WITH v AS (
            SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'view'
        ),
        c AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'click'
        ),
        conv AS (
            SELECT DISTINCT v.event_id
            FROM v JOIN c ON c.user_id = v.user_id
                         AND c.ts > v.ts
                         AND c.ts <= v.ts + INTERVAL 1 HOUR
        )
        SELECT CAST(date_trunc('hour', v.ts) AS TIMESTAMP) AS hr,
               count(*) AS n_views,
               count(conv.event_id) AS n_converted
        FROM v LEFT JOIN conv ON v.event_id = conv.event_id
        GROUP BY 1
    """,
    doc="Funnel conversion (view -> click within 1 hour, same user) per"
    " event hour — the batch twin of the watermarked stream-stream join"
    " (stream_stream_join). The view-click match is an equi-join on"
    " user_id with a range predicate; at 100 TB the range narrows each"
    " user's sort-merge group, or the streaming form bounds state with"
    " watermarks.",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "event_id", F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    conv = (
        v.join(
            c,
            (F.col("c_user") == F.col("v_user"))
            & (F.col("c_ts") > F.col("v_ts"))
            & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select("event_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    return (
        v.join(conv, "event_id", "left")
        .groupBy(F.date_trunc("hour", "v_ts").alias("hr"))
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.count("converted").alias("n_converted"),
        )
    )


@register(
    "q_event_pattern",
    oracle="""
        WITH seqs AS (
            SELECT user_id,
                   string_agg(CASE event_type
                                  WHEN 'view' THEN 'v'
                                  WHEN 'click' THEN 'c'
                                  WHEN 'purchase' THEN 'p'
                                  WHEN 'signup' THEN 's'
                                  ELSE 'e' END, ''
                              ORDER BY ts, event_id) AS seq
            FROM events GROUP BY user_id
        )
        SELECT user_id,
               CAST(length(seq) AS INTEGER) AS n_events,
               CAST(length(regexp_extract_all(seq, 'v[^p]*p'))
                    AS INTEGER) AS n_conversions,
               (seq LIKE '%e%') AS saw_error,
               CAST(length(regexp_extract_all(seq, 'ee+'))
                    AS INTEGER) AS error_bursts
        FROM seqs
    """,
    doc="MATCH_RECOGNIZE-style sequence pattern matching: each user's"
    " event history compresses to a symbol string in strict"
    " (ts, event_id) order, then behavioral patterns are plain regexes"
    " — conversions = non-overlapping 'view ... purchase' episodes"
    " (v[^p]*p), error bursts = runs of 2+ errors. One groupBy builds"
    " the per-key sequence (bounded by events-per-user); the regex"
    " scan is narrow. Symbol alphabet + patterns avoid every"
    " Java-vs-RE2 divergence, so episode counts oracle-match exactly"
    " — the sessionless behavioral-pattern primitive SQL engines"
    " bolt on as MATCH_RECOGNIZE.",
)
def q_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sym = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    seqs = (
        ev.select("user_id", "ts", "event_id", sym.alias("sym"))
        .groupBy("user_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(ts, event_id, sym))), x -> x.sym), '')"
            ).alias("seq")
        )
    )
    return seqs.select(
        "user_id",
        F.length("seq").cast("int").alias("n_events"),
        F.expr("size(regexp_extract_all(seq, 'v[^p]*p', 0))")
        .cast("int")
        .alias("n_conversions"),
        F.col("seq").contains("e").alias("saw_error"),
        F.expr("size(regexp_extract_all(seq, 'ee+', 0))")
        .cast("int")
        .alias("error_bursts"),
    )


@register(
    "q_event_transitions",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS next_type
            FROM events
            WHERE ts IS NOT NULL
        ),
        cnt AS (
            SELECT event_type AS from_type, next_type AS to_type,
                   CAST(count(*) AS BIGINT) AS n
            FROM ordered WHERE next_type IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT from_type, to_type, n,
               CAST(n AS DOUBLE)
                   / sum(n) OVER (PARTITION BY from_type) AS prob
        FROM cnt
    """,
    doc="First-order Markov transition matrix of user behavior:"
    " P(next event type | current type) from per-user lead() pairs —"
    " one key-partitioned window + one 25-group count, probabilities"
    " as single exact-integer divisions (oracle-exact). The behavioral"
    " summary that powers next-action prediction features and funnel"
    " drop-off analysis; at 100 TB the transition table stays 25 rows"
    " however large the event log grows.",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # complete case (NULLS.md tier 1): transition order is defined by
    # ts — a NULL event-time would take an engine-dependent position
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    cnt = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    per_from = Window.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(per_from)).alias("prob"),
    )


@register(
    "q_retention_cohorts",
    oracle="""
        WITH firsts AS (
            SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT e.user_id, f.cohort_week,
                   date_diff('week', f.cohort_week,
                             date_trunc('week', e.ts)) AS week_offset
            FROM events e JOIN firsts f USING (user_id)
        )
        SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
               CAST(week_offset AS INTEGER) AS week_offset,
               CAST(count(*) AS BIGINT) AS n_active_users
        FROM activity
        GROUP BY 1, 2
    """,
    doc="Retention cohort matrix: users cohorted by first-seen week,"
    " counted distinct-active per (cohort, week offset) — the"
    " product-analytics staple. Two shuffles (per-user min, then the"
    " distinct-activity count); offsets are integer week arithmetic on"
    " truncated timestamps, so every cell oracle-matches. At scale the"
    " firsts table is one row per user and broadcast-joins back.",
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("timestamp_ntz").alias(
            "cohort_week"
        )
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.expr(
                "CAST(datediff(week, cohort_week,"
                " date_trunc('week', ts)) AS INT)"
            ).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active_users")
    )


@register(
    "q_win_sliding",
    oracle=f"""
        WITH es AS (
            SELECT event_type, value,
                   epoch_ns(ts) // 1000000000 AS sec
            FROM events
            WHERE ts IS NOT NULL
        ),
        expanded AS (
            SELECT event_type, value,
                   (sec // 900) * 900 - k * 900 AS start_sec
            FROM es CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
        )
        SELECT make_timestamp(start_sec * 1000000) AS window_start,
               event_type,
               count(*) AS n_events,
               {sql_dsum('value')} AS sum_value
        FROM expanded
        GROUP BY 1, 2
    """,
    doc="Sliding 1-hour window with 15-minute slide: every event lands"
    " in exactly 4 overlapping windows — the smoothing/alerting"
    " window shape (tumbling windows quantize bursts at the"
    " boundary; sliding windows see them at 4x resolution). Spark's"
    " window(ts, '1 hour', '15 minutes') replicates each row into its"
    " 4 windows BEFORE the partial agg, so the shuffle carries only"
    " (window, type) partials — same one-exchange shape as tumbling"
    " at 4x partial rows, and the identical streaming form runs under"
    " withWatermark. The oracle expands the same 4 quarter-hour"
    " offsets arithmetically on epoch seconds.",
)
def q_win_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # complete case (NULLS.md tier 1): F.window assigns no windows to
    # a NULL ts (silent Spark-side drop) — mirror the drop explicitly
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# --- strict multi-stage window funnel --------------------------------

# Funnel stage sequence and the window anchored at the first stage.
FUNNEL_STAGES = ("view", "click", "signup", "purchase")
_FUNNEL_WINDOW = "INTERVAL 1 HOUR"


@register(
    "q_window_funnel",
    oracle=f"""
        WITH s1 AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = '{FUNNEL_STAGES[1]}'
              AND e.ts > s1.t1 AND e.ts <= s1.t1 + {_FUNNEL_WINDOW}
            GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e
            JOIN s1 ON e.user_id = s1.user_id
            JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = '{FUNNEL_STAGES[2]}'
              AND e.ts > s2.t2 AND e.ts <= s1.t1 + {_FUNNEL_WINDOW}
            GROUP BY e.user_id
        ),
        s4 AS (
            SELECT e.user_id, min(e.ts) AS t4
            FROM events e
            JOIN s1 ON e.user_id = s1.user_id
            JOIN s3 ON e.user_id = s3.user_id
            WHERE e.event_type = '{FUNNEL_STAGES[3]}'
              AND e.ts > s3.t3 AND e.ts <= s1.t1 + {_FUNNEL_WINDOW}
            GROUP BY e.user_id
        ),
        staged AS (
            SELECT s1.user_id,
                   CASE WHEN s4.user_id IS NOT NULL THEN 4
                        WHEN s3.user_id IS NOT NULL THEN 3
                        WHEN s2.user_id IS NOT NULL THEN 2
                        ELSE 1 END AS max_stage
            FROM s1
            LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
            LEFT JOIN s4 ON s1.user_id = s4.user_id
        )
        SELECT CAST(max_stage AS BIGINT) AS max_stage,
               CAST(count(*) AS BIGINT) AS n_users
        FROM staged GROUP BY max_stage
    """,
    doc="Strict-order multi-stage window funnel (the ClickHouse"
    " windowFunnel shape, greedy-from-earliest variant): anchored at"
    " each user's FIRST view, how deep does the"
    " view>click>signup>purchase chain get with every later stage"
    " strictly after its predecessor and inside one hour of the"
    " anchor? Earliest-eligible (min) choices make the chain"
    " deterministic and SQL-mirrorable; q_funnel's single-hop"
    " conversion is the 2-stage special case. Each stage is one"
    " user-keyed equi-join + partial min — four narrow shuffles"
    " total, no window function touches the raw stream, so the plan"
    " scales with the user shard.",
)
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    # the anchor deadline (t1 + window) rides along through every
    # stage aggregate (user_id -> deadline is functionally dependent,
    # so adding it to the groupBy keys is free) — each stage joins
    # ONLY its predecessor instead of re-joining s1 for the deadline
    # (two joins and their shuffles saved vs the first formulation)
    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .withColumn("deadline", F.expr(f"t1 + {_FUNNEL_WINDOW}"))
    )

    def next_stage(prev: DataFrame, prev_t: str, stage: str, out: str):
        return (
            ev.filter(F.col("event_type") == stage)
            .join(
                prev.select("user_id", prev_t, "deadline"), "user_id"
            )
            .filter(
                (F.col("ts") > F.col(prev_t))
                & (F.col("ts") <= F.col("deadline"))
            )
            .groupBy("user_id", "deadline")
            .agg(F.min("ts").alias(out))
        )

    s2 = next_stage(s1, "t1", FUNNEL_STAGES[1], "t2")
    s3 = next_stage(s2, "t2", FUNNEL_STAGES[2], "t3")
    s4 = next_stage(s3, "t3", FUNNEL_STAGES[3], "t4")
    staged = (
        s1.select("user_id")
        .join(s2.select("user_id", "t2"), "user_id", "left")
        .join(s3.select("user_id", "t3"), "user_id", "left")
        .join(s4.select("user_id", "t4"), "user_id", "left")
        .select(
            F.when(F.col("t4").isNotNull(), 4)
            .when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .cast("bigint")
            .alias("max_stage")
        )
    )
    return staged.groupBy("max_stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


# --- cohort lifetime-value curve -------------------------------------


@register(
    "q_cohort_ltv",
    oracle=f"""
        WITH firsts AS (
            SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        contrib AS (
            SELECT f.cohort_week,
                   CAST(date_diff('week', f.cohort_week,
                        date_trunc('week', e.ts)) AS BIGINT)
                       AS week_offset,
                   CAST(round(e.value * 10000) AS BIGINT) AS vfx
            FROM events e JOIN firsts f ON e.user_id = f.user_id
        ),
        sizes AS (
            SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users
            FROM firsts GROUP BY cohort_week
        ),
        weekly AS (
            SELECT cohort_week, week_offset,
                   CAST(sum(vfx) AS BIGINT) AS v
            FROM contrib GROUP BY cohort_week, week_offset
        ),
        cum AS (
            SELECT cohort_week, week_offset,
                   CAST(sum(v) OVER (PARTITION BY cohort_week
                        ORDER BY week_offset
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS cum_fx
            FROM weekly
        )
        SELECT c.cohort_week, c.week_offset, s.n_users,
               CAST(c.cum_fx AS DOUBLE) / 10000 AS cum_value,
               CAST(c.cum_fx // s.n_users AS BIGINT) AS ltv_per_user_fx
        FROM cum c JOIN sizes s USING (cohort_week)
    """,
    doc="Cohort lifetime-value curve: users cohort by first-event"
    " week; each cohort's cumulative fixed-point value by week-of-age"
    " and its per-user LTV (floor-divided fixed point) — the"
    " payback-period view that retention counts (q_retention_cohorts)"
    " can't give because it weights activity by VALUE. The raw"
    " stream is touched by one user-keyed join + one partial agg;"
    " the running sum is a window over the |cohorts| x |ages| table."
    " All integer until one display division, so the oracle"
    " hash-matches.",
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    contrib = ev.join(firsts, "user_id").select(
        "cohort_week",
        F.expr(
            "cast(datediff(week, cohort_week, date_trunc('week', ts))"
            " as bigint)"
        ).alias("week_offset"),
        F.round(F.col("value") * 10_000, 0).cast("bigint").alias("vfx"),
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    weekly = contrib.groupBy("cohort_week", "week_offset").agg(
        F.sum("vfx").cast("bigint").alias("v")
    )
    wcum = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = weekly.select(
        "cohort_week",
        "week_offset",
        F.sum("v").over(wcum).cast("bigint").alias("cum_fx"),
    )
    return cum.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_users",
        (F.col("cum_fx").cast("double") / 10_000).alias("cum_value"),
        F.expr("cast(cum_fx div n_users as bigint)").alias(
            "ltv_per_user_fx"
        ),
    )


@register(
    "q_growth_accounting",
    oracle="""
        WITH active AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS week
            FROM events
        ),
        ctx AS (
            SELECT user_id, week,
                   min(week) OVER (PARTITION BY user_id) AS first_week,
                   lag(week) OVER (PARTITION BY user_id
                                   ORDER BY week) AS prev_week,
                   lead(week) OVER (PARTITION BY user_id
                                    ORDER BY week) AS next_week
            FROM active
        )
        SELECT CAST(week AS TIMESTAMP) AS week,
               CAST(count(*) AS BIGINT) AS n_active,
               CAST(sum(CASE WHEN week = first_week
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN prev_week IS NOT NULL
                             AND date_diff('week', prev_week, week) = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
               CAST(sum(CASE WHEN prev_week IS NOT NULL
                             AND date_diff('week', prev_week, week) > 1
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_resurrected,
               CAST(sum(CASE WHEN next_week IS NULL
                             OR date_diff('week', week, next_week) > 1
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_churn_next
        FROM ctx GROUP BY week
    """,
    doc="Weekly growth accounting — every active user classifies as NEW"
    " (first-ever week), RETAINED (also active the immediately prior"
    " week), or RESURRECTED (returning after a gap), plus the count"
    " that will NOT return next week (churn-next): the"
    " new+retained+resurrected-churned decomposition growth teams"
    " reconcile MAU movement with. One distinct shuffle builds the"
    " (user, week) activity table; first/prev/next come from"
    " per-user windows (parallel across users, each a handful of"
    " weeks); the final agg is week-bounded. All classifications are"
    " integer week arithmetic on truncated timestamps — no float, no"
    " timezone wobble (session pinned UTC).",
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    active = ev.select(
        "user_id",
        F.date_trunc("week", "ts").cast("timestamp_ntz").alias("week"),
    ).distinct()
    wu = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("week")
    ctx = active.select(
        "user_id",
        "week",
        F.min("week").over(wu).alias("first_week"),
        F.lag("week").over(wo).alias("prev_week"),
        F.lead("week").over(wo).alias("next_week"),
    )
    wk = lambda a, b: F.expr(f"datediff(week, {a}, {b})")  # noqa: E731
    return ctx.groupBy("week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
        F.sum(F.when(F.col("week") == F.col("first_week"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(
            F.when(
                F.col("prev_week").isNotNull()
                & (wk("prev_week", "week") == 1),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev_week").isNotNull()
                & (wk("prev_week", "week") > 1),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_resurrected"),
        F.sum(
            F.when(
                F.col("next_week").isNull()
                | (wk("week", "next_week") > 1),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_churn_next"),
    )


def stream_zset_ivm(
    spark: SparkSession,
    changelog_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    snapshot_df,
) -> None:
    """Streaming Z-set view maintenance: the batch delta rule of
    ``operators/ivm.q_zset_ivm`` running continuously. ``snapshot_df``
    (event_type, n_rows, total_fx) seeds a versioned target; every
    micro-batch of the weighted changelog (event_type, fx, w with
    w = +1 insert / -1 retraction) folds in as ONE group-sized outer
    join — groups whose weight reaches zero vanish. Linear aggregates
    make the fold exact regardless of how the changelog splits into
    micro-batches, which is the property the equals-batch test pins.
    """
    from lakehouse_weather_spark.pipeline.atomic import (
        publish,
        publish_df,
        read_current,
    )

    publish_df(snapshot_df, target_dir)

    def fold_batch(batch_df, batch_id: int) -> None:
        s = batch_df.sparkSession
        delta = batch_df.groupBy("event_type").agg(
            F.sum("w").cast("bigint").alias("dn"),
            F.sum(F.col("w") * F.col("fx")).cast("bigint").alias("dfx"),
        )
        cur = read_current(s, target_dir)
        merged = (
            cur.join(delta, "event_type", "full_outer")
            .select(
                "event_type",
                (
                    F.coalesce(F.col("n_rows"), F.lit(0))
                    + F.coalesce(F.col("dn"), F.lit(0))
                ).cast("bigint").alias("n_rows"),
                (
                    F.coalesce(F.col("total_fx"), F.lit(0))
                    + F.coalesce(F.col("dfx"), F.lit(0))
                ).cast("bigint").alias("total_fx"),
            )
            .filter(F.col("n_rows") > 0)
        )

        def write_version(path: str) -> None:
            merged.write.mode("overwrite").parquet(path)

        publish(target_dir, write_version)

    writer = (
        spark.readStream.schema("event_type string, fx bigint, w int")
        .option("maxFilesPerTrigger", 1)  # force multi-batch folding
        .parquet(changelog_dir)
        .writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    run_available_now(writer, 120)


@register(
    "q_running_unique",
    oracle="""
        WITH firsts AS (
            SELECT user_id, date_trunc('day', min(ts)) AS first_day
            FROM events GROUP BY user_id
        ),
        daily AS (
            SELECT first_day AS day,
                   CAST(count(*) AS BIGINT) AS n_new
            FROM firsts GROUP BY first_day
        )
        SELECT CAST(day AS TIMESTAMP) AS day, n_new,
               CAST(sum(n_new) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_users
        FROM daily
    """,
    doc="Cumulative unique-user adoption curve via the FIRST-TOUCH"
    " trick: a naive 'distinct users up to each day' needs a"
    " cumulative distinct over raw events (quadratic or a giant"
    " state); instead each user reduces to one first-seen day, new"
    " users count per day, and a cumulative sum over the BOUNDED"
    " day list replays the curve exactly — running distinct"
    " becomes running SUM because first-touches never repeat. Two"
    " partial-agg shuffles at user then day granularity; the only"
    " no-partition window runs on calendar-bounded rows.",
)
def q_running_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("timestamp_ntz").alias(
            "first_day"
        )
    )
    daily = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day", "n_new", F.sum("n_new").over(w).cast("bigint").alias("cum_users")
    )


# ---------------------------------------------------------------------------
# Streaming dedup with state-bounded watermark (registered query)
# ---------------------------------------------------------------------------


@register(
    "q_stream_dedup",
    oracle="""
        SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="TRUE Structured Streaming deduplication through the oracle"
    " gate: the pytest-proven ``stream_dedup`` operator (readStream ->"
    " dropDuplicatesWithinWatermark(user_id, event_type) with an"
    " event-time watermark -> availableNow memory sink) run end-to-end"
    " and hash-checked against batch SELECT DISTINCT. The watermark"
    " BOUNDS the dedup state (keys older than it are evicted — the"
    " only way streaming dedup survives an unbounded stream; plain"
    " dropDuplicates state grows forever). The registered output is"
    " the emission-idempotent key projection (a key re-emitted after"
    " state eviction collapses in the final distinct); multi-batch"
    " state behavior is asserted in tests/test_streaming.py.",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"lws_stream_dedup_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    events_dir = os.path.join(base, "events")
    os.makedirs(events_dir)
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        # Spark-written layout: a directory of part files — link each
        # data file directly so the stream source sees a flat dir
        import glob

        for f in glob.glob(os.path.join(src, "*.parquet")):
            os.symlink(f, os.path.join(events_dir, os.path.basename(f)))
    else:
        os.symlink(src, os.path.join(events_dir, "events.parquet"))
    sink = stream_dedup(spark, events_dir, os.path.join(base, "ckpt"))
    return sink.select("user_id", "event_type").distinct()


def stream_dedup_to_files(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """``stream_dedup`` against Spark's transactional FILE sink — the
    restart/exactly-once shape: the checkpoint carries both the source
    offsets (which input files are consumed) and the dedup state, and
    the file sink's own commit log makes replayed batches idempotent.
    Stop/restart with the SAME checkpoint resumes where the last run
    committed: already-consumed files are not re-read, already-seen
    keys stay deduplicated ACROSS restarts, and a restart with no new
    input emits nothing (tests/test_streaming.py proves all three).
    This is the durability contract a production landing job runs
    under; the memory-sink variant above keeps the oracle-gated
    semantics check."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    static = spark.read.parquet(events_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(events_dir)
        .transform(_ts_ltz)
        .withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "event_id")
    )
    writer = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    run_available_now(writer, 120)


def stream_static_enrich(
    spark: SparkSession,
    events_dir: str,
    dim: DataFrame,
    checkpoint_dir: str,
    queryname: str = "stream_static_enrich",
) -> DataFrame:
    """STREAM-STATIC join: the unbounded event stream enriched against
    a bounded dimension — the lookup-join every streaming landing path
    runs (ref: the bronze DAG joins nothing and re-reads everything,
    ``dags/bronze.py``; here enrichment happens in-flight). The static
    side re-resolves per micro-batch (Spark re-plans it each trigger,
    so a dimension UPDATE is picked up at the next batch) and joins
    statelessly — no watermark, no state store: only stream-STREAM
    joins buffer state. At 100 TB/day the dimension broadcasts and
    the stream never shuffles for the lookup."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    static = spark.read.parquet(events_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(events_dir)
        .transform(_ts_ltz)
        .join(F.broadcast(dim), "user_id", "left")
    )
    writer = (
        stream.writeStream.format("memory")
        .queryName(queryname)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    run_available_now(writer, 120)
    return spark.table(queryname)


@register(
    "q_stream_static_enrich",
    oracle="""
        SELECT c.c_mktsegment AS segment,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(e.value * 100) AS BIGINT))
                    AS BIGINT) AS sum_fx
        FROM events e JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY c.c_mktsegment
    """,
    doc="TRUE Structured Streaming stream-static enrichment through"
    " the oracle gate: readStream over the events files, broadcast"
    " left join against the customer dimension INSIDE the stream"
    " (stateless — no watermark or state store needed for"
    " stream-static), availableNow into a memory sink, then the"
    " enriched rows aggregate per segment and hash-check against the"
    " equivalent batch join. Proves the in-flight lookup join emits"
    " exactly the batch semantics (inner-matched rows; the left-join"
    " stream keeps unmatched events flowing, which the aggregation"
    " filter drops to mirror the batch INNER join).",
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import hashlib
    import os
    import shutil
    import tempfile

    from lakehouse_weather_spark.sources.tables import load_table

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(
        tempfile.gettempdir(), f"lws_stream_enrich_{tag}_{os.getpid()}"
    )
    shutil.rmtree(base, ignore_errors=True)
    events_dir = os.path.join(base, "events")
    os.makedirs(events_dir)
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        for f in glob.glob(os.path.join(src, "*.parquet")):
            os.symlink(f, os.path.join(events_dir, os.path.basename(f)))
    else:
        os.symlink(src, os.path.join(events_dir, "events.parquet"))
    # _matched: always-non-null marker so the INNER-join mirror below
    # filters on join success itself, not on the segment attribute —
    # a matched customer with NULL c_mktsegment must be KEPT (it forms
    # the oracle's NULL group), which segment IS NOT NULL would drop
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(1).alias("_matched"),
    )
    sink = stream_static_enrich(
        spark,
        events_dir,
        dim,
        os.path.join(base, "ckpt"),
        queryname=f"stream_static_enrich_{tag}",
    )
    return (
        sink.filter(F.col("_matched").isNotNull())
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.expr("cast(sum(cast(round(value * 100) as bigint)) as bigint)")
            .alias("sum_fx"),
        )
    )


@register(
    "q_stream_join",
    oracle="""
        WITH views AS (
            SELECT event_id AS view_id, user_id, ts AS view_ts
            FROM events WHERE event_type = 'view'
        ),
        clicks AS (
            SELECT event_id AS click_id, user_id, ts AS click_ts
            FROM events WHERE event_type = 'click'
        )
        SELECT v.view_id, c.click_id, v.user_id
        FROM views v JOIN clicks c
          ON c.user_id = v.user_id
         AND c.click_ts >= v.view_ts
         AND c.click_ts < CAST(v.view_ts AS TIMESTAMP) + INTERVAL 1 HOUR
    """,
    doc="TRUE Structured Streaming stream-STREAM inner join through"
    " the oracle gate: both sides readStream over the events files,"
    " watermarked 2 hours, views matched to clicks of the same user"
    " within 1 hour after the view (the canonical funnel/attribution"
    " join; state on BOTH sides is bounded by the watermarks —"
    " unbounded-state stream joins die in production), availableNow"
    " into a memory sink, hash-checked against the equivalent batch"
    " range join. Multi-batch watermark eviction is separately proven"
    " in tests/test_streaming.py (sentinel-file advancement); the"
    " left-outer half lives in stream_stream_left_join.",
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import hashlib
    import os
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(
        tempfile.gettempdir(), f"lws_stream_join_{tag}_{os.getpid()}"
    )
    shutil.rmtree(base, ignore_errors=True)
    events_dir = os.path.join(base, "events")
    os.makedirs(events_dir)
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        for f in glob.glob(os.path.join(src, "*.parquet")):
            os.symlink(f, os.path.join(events_dir, os.path.basename(f)))
    else:
        os.symlink(src, os.path.join(events_dir, "events.parquet"))
    sink = stream_stream_join(
        spark,
        events_dir,
        events_dir,
        os.path.join(base, "ckpt"),
        queryname=f"stream_join_{tag}",
    )
    return sink.select(
        "view_id", "click_id", F.col("v_user").alias("user_id")
    )


_SESS_GAP_MIN = 30


@register(
    "q_stream_session_evict",
    oracle=f"""
        WITH pts AS (
            -- complete cases: NULL ts would desync the lag order
            -- (NULLS FIRST in Spark vs LAST here); sentinel user -1
            -- exists only on the stream side and is filtered there
            SELECT user_id, ts, event_id, epoch_us(ts) AS us
            FROM events
            WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ),
        marked AS (
            SELECT user_id, us,
                   CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w
                           > {_SESS_GAP_MIN} * 60 * 1000000
                        THEN 1 ELSE 0 END AS new_sess,
                   ts, event_id
            FROM pts
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, us,
                   sum(new_sess) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sid
            FROM marked
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(min(us) AS BIGINT) AS start_us,
               CAST(max(us) AS BIGINT) AS end_us
        FROM sess GROUP BY user_id, sid
    """,
    doc="TRUE timer-driven stateful sessionization through the oracle"
    " gate: transformWithStateInPandas (RocksDB state, EventTime"
    f" mode) sessionizes each user's stream with a {_SESS_GAP_MIN}-"
    "minute idle gap, REGISTERED EVENT-TIME TIMERS evict closed"
    " sessions from the store exactly once (sessions superseded by a"
    " later event close inline; terminal sessions can ONLY flush via"
    " a fired timer after far-future sentinel files advance the"
    " watermark), and the emitted session set hash-matches the batch"
    " lag/cumulative-sum sessionization. This is the state-TTL"
    " surface SURVEY §2.10 declares, proven against SQL semantics"
    " rather than only pytest fixtures. State is bounded: every key's"
    " state leaves the store at watermark-passage, never accumulates.",
)
def q_stream_session_evict(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import hashlib
    import os
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakehouse_weather_spark.streaming.stateful import (
        stream_session_eviction,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(
        tempfile.gettempdir(), f"lws_sess_evict_{tag}_{os.getpid()}"
    )
    shutil.rmtree(base, ignore_errors=True)
    events_dir = os.path.join(base, "events")
    os.makedirs(events_dir)
    src = os.path.join(sf_dir, "events.parquet")
    srcs = (
        sorted(glob.glob(os.path.join(src, "*.parquet")))
        if os.path.isdir(src)
        else [src]
    )
    for i, f in enumerate(srcs):
        link = os.path.join(events_dir, f"{i:04d}.parquet")
        os.symlink(f, link)
    n_real = len(srcs)
    # sentinel files (user -1, far future): each its own micro-batch
    # so the watermark advances -> timers REGISTER -> timers FIRE.
    # FileStreamSource orders files by mtime (a link's is its
    # target's) and breaks same-second ties arbitrarily, so the
    # sentinels are stamped 100 s apart after the newest real file.
    # The real files share the first batch (maxFilesPerTrigger=n_real),
    # so their own order does not matter and their times stay as they
    # are: the corpus is read-only input.
    newest = max(os.stat(f).st_mtime for f in srcs)
    t0 = pq.read_table(srcs[0], columns=None).slice(0, 1)
    ts_type = t0.schema.field("ts").type
    import pyarrow.compute as pc

    his = [
        pc.max(pc.cast(pq.read_table(f).column("ts"), pa.int64())).as_py()
        for f in srcs
    ]
    his = [h for h in his if h is not None]
    if not his:
        # empty corpus: nothing to sessionize — the oracle returns 0
        # rows; skip the stream entirely (a sentinel-only stream would
        # just churn state for user -1)
        from lakehouse_weather_spark.sources.tables import local_df

        return local_df(
            spark,
            [],
            "user_id bigint, n_events bigint,"
            " start_us bigint, end_us bigint",
        )
    hi = max(his)
    unit = ts_type.unit if pa.types.is_timestamp(ts_type) else "ns"
    per_sec = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[unit]
    century = 100 * 365 * 24 * 3600 * per_sec
    year = 365 * 24 * 3600 * per_sec
    for k in (1, 2, 3):
        row = t0
        row = row.set_column(
            row.schema.get_field_index("ts"),
            "ts",
            # +100y/+101y/+102y: far enough to flush every real
            # session, near enough to stay datetime64[ns]-representable
            # (pandas overflows past year 2262)
            pa.array(
                [hi + century + k * year], type=pa.int64()
            ).cast(ts_type),
        )
        row = row.set_column(
            row.schema.get_field_index("user_id"),
            "user_id",
            pa.array([-1], type=row.schema.field("user_id").type),
        )
        path = os.path.join(events_dir, f"zz_sentinel_{k}.parquet")
        # coerce ns -> us on write: a Spark-written source can be
        # INT96 (pyarrow reports timestamp[ns]), and copying that unit
        # would emit TIMESTAMP(NANOS), which Spark cannot read back as
        # a timestamp column. MICROS is readable alongside any source.
        pq.write_table(
            row, path, coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        os.utime(path, (newest + k * 100,) * 2)
    sink = stream_session_eviction(
        spark,
        events_dir,
        os.path.join(base, "ckpt"),
        gap_minutes=_SESS_GAP_MIN,
        watermark="1 minute",
        max_files_per_trigger=max(1, n_real),
    )
    return sink.filter(F.col("user_id") != -1).select(
        "user_id", "n_events", "start_us", "end_us"
    )


# ---------------------------------------------------------------------------
# round 10: new-vs-returning split + session bounce rate
# ---------------------------------------------------------------------------


@register(
    "q_new_vs_returning",
    oracle="""
        WITH pts AS (
            -- complete case (NULLS.md tier 1): day buckets order by
            -- ts; identity matters, so NULL user_id drops too
            -- (count(DISTINCT user_id) would skip it one-sidedly
            -- against the NULL first-touch group)
            SELECT user_id, date_trunc('day', ts) AS d
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ),
        firsts AS (
            SELECT user_id, min(d) AS first_day FROM pts GROUP BY 1
        ),
        active AS (
            SELECT DISTINCT p.user_id, p.d, f.first_day
            FROM pts p JOIN firsts f USING (user_id)
        )
        SELECT CAST(d AS TIMESTAMP) AS day,
               CAST(sum(CASE WHEN d = first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN d > first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returning
        FROM active GROUP BY d
    """,
    doc="Daily active users split into NEW (first-touch day) vs"
    " RETURNING — the growth-accounting headline every product"
    " dashboard leads with (q_running_unique's cumulative curve is"
    " the integral of this table's n_new column). Each user reduces"
    " to one first-seen day (partial-agg shuffle), the distinct"
    " (user, day) activity joins back on user_id, and the split is"
    " an exact integer comparison — no window at all, three narrow"
    " shuffles, all user-sharded. Complete case on ts AND user_id"
    " (NULLS.md tier 1): identity matters, and count-distinct skips"
    " NULL one-sidedly against the NULL first-touch group.",
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    # complete case (NULLS.md tier 1): see oracle comment
    pts = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.date_trunc("day", "ts").alias("d"))
    )
    firsts = pts.groupBy("user_id").agg(F.min("d").alias("first_day"))
    active = pts.join(firsts, "user_id").distinct()
    return active.groupBy(F.col("d").alias("day")).agg(
        F.sum(
            F.when(F.col("d") == F.col("first_day"), 1).otherwise(0)
        ).cast("bigint").alias("n_new"),
        F.sum(
            F.when(F.col("d") > F.col("first_day"), 1).otherwise(0)
        ).cast("bigint").alias("n_returning"),
    )


@register(
    "q_bounce_rate",
    oracle=f"""
        WITH pts AS (
            -- complete case (NULLS.md tier 1): sessions are a time
            -- ordering per identity
            SELECT user_id, ts, event_id
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ),
        flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR CAST(ts AS TIMESTAMP)
                             - CAST(lag(ts) OVER w AS TIMESTAMP)
                             > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM pts
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts,
                   sum(new_session) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS sid
            FROM flagged
        ),
        per_sess AS (
            SELECT user_id, sid,
                   date_trunc('day', min(ts)) AS d,
                   count(*) AS n_events
            FROM sess GROUP BY 1, 2
        )
        SELECT CAST(d AS TIMESTAMP) AS day,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_bounces,
               CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*) AS bounce_rate
        FROM per_sess GROUP BY d
    """,
    doc="Daily bounce rate: fraction of 30-minute-gap sessions that"
    " contain exactly one event, keyed by session START day — the"
    " engagement-quality metric next to q_new_vs_returning on the"
    " same dashboard. Reuses the q_sessionize lag/running-sum"
    " decomposition (user-partitioned windows only), then two"
    " partial-agg shuffles (per-session, per-day); the rate is one"
    " IEEE division of exact counts. Complete case on ts/user_id"
    " (NULLS.md tier 1), mirroring q_sessionize.",
)
def q_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # complete case (NULLS.md tier 1): mirrors q_sessionize
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", "ts", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("timestamp").cast("long")
    gap = secs - F.lag(secs).over(w)
    sess = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60), F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn(
        "sid",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_sess = sess.groupBy("user_id", "sid").agg(
        F.date_trunc("day", F.min("ts")).alias("d"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounce = F.sum(
        F.when(F.col("n_events") == 1, 1).otherwise(0)
    ).cast("bigint")
    return per_sess.groupBy(F.col("d").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        bounce.alias("n_bounces"),
        (bounce.cast("double") / F.count(F.lit(1))).alias("bounce_rate"),
    )


@register(
    "q_session_duration_stats",
    oracle="""
        WITH pts AS (
            -- complete case (NULLS.md tier 1): sessions are a time
            -- ordering per identity (mirrors q_sessionize)
            SELECT user_id, ts, event_id
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ),
        flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR CAST(ts AS TIMESTAMP)
                             - CAST(lag(ts) OVER w AS TIMESTAMP)
                             > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM pts
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts,
                   sum(new_session) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS sid
            FROM flagged
        ),
        per_sess AS (
            SELECT user_id, sid,
                   date_trunc('day', min(ts)) AS d,
                   epoch_ns(max(ts)) // 1000000000
                       - epoch_ns(min(ts)) // 1000000000 AS dur_sec,
                   count(*) AS n_events
            FROM sess GROUP BY 1, 2
        ),
        ranked AS (
            SELECT d, dur_sec, n_events,
                   row_number() OVER (PARTITION BY d
                       ORDER BY dur_sec, user_id, sid) AS rn,
                   count(*) OVER (PARTITION BY d) AS n
            FROM per_sess
        )
        SELECT CAST(d AS TIMESTAMP) AS day,
               CAST(max(n) AS BIGINT) AS n_sessions,
               CAST(min(CASE WHEN rn = greatest(1, (n * 50) // 100)
                             THEN dur_sec END) AS BIGINT) AS p50_sec,
               CAST(min(CASE WHEN rn = greatest(1, (n * 90) // 100)
                             THEN dur_sec END) AS BIGINT) AS p90_sec,
               CAST(sum(n_events) AS DOUBLE) / max(n)
                   AS avg_events_per_session
        FROM ranked GROUP BY d
    """,
    doc="Session-duration distribution per start day: exact p50/p90"
    " duration (rank-selection idiom, q_agg_quantiles — no"
    " interpolation, engine-portable integer seconds) and mean events"
    " per session — the engagement-depth row next to q_bounce_rate"
    " on the same dashboard. Reuses the q_sessionize lag/running-sum"
    " decomposition (user-partitioned windows), then one"
    " day-partitioned rank window over the SESSION table (thousands"
    " of rows per day, not events). Complete case on ts/user_id"
    " (NULLS.md tier 1), mirroring q_sessionize.",
)
def q_session_duration_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # complete case (NULLS.md tier 1): mirrors q_sessionize
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", "ts", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("timestamp").cast("long")
    gap = secs - F.lag(secs).over(w)
    sess = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60), F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn(
        "sid",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_sess = sess.groupBy("user_id", "sid").agg(
        F.date_trunc("day", F.min("ts")).alias("d"),
        (
            F.max(secs) - F.min(secs)
        ).cast("bigint").alias("dur_sec"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wr = Window.partitionBy("d").orderBy("dur_sec", "user_id", "sid")
    ranked = per_sess.select(
        "d",
        "dur_sec",
        "n_events",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("d")).alias("n"),
    )
    return ranked.groupBy(F.col("d").alias("day")).agg(
        F.max("n").cast("bigint").alias("n_sessions"),
        F.min(
            F.when(
                F.col("rn")
                == F.greatest(F.lit(1), F.expr("div(n * 50, 100)")),
                F.col("dur_sec"),
            )
        ).cast("bigint").alias("p50_sec"),
        F.min(
            F.when(
                F.col("rn")
                == F.greatest(F.lit(1), F.expr("div(n * 90, 100)")),
                F.col("dur_sec"),
            )
        ).cast("bigint").alias("p90_sec"),
        (F.sum("n_events").cast("double") / F.max("n"))
        .alias("avg_events_per_session"),
    )


@register(
    "q_peak_hour_profile",
    oracle="""
        WITH pts AS (
            -- complete case (NULLS.md tier 1): the hour-of-day cell
            -- is derived from ts (engine-free epoch arithmetic, no
            -- session-timezone hour() in the gate)
            SELECT event_type,
                   (epoch_ns(ts) // 1000000000 // 3600) % 24 AS hr
            FROM events WHERE ts IS NOT NULL
        ),
        hourly AS (
            SELECT event_type, hr, CAST(count(*) AS BIGINT) AS c
            FROM pts GROUP BY 1, 2
        ),
        marked AS (
            SELECT event_type, hr, c,
                   max(c) OVER (PARTITION BY event_type) AS mx,
                   sum(c) OVER (PARTITION BY event_type) AS tot
            FROM hourly
        )
        SELECT event_type,
               CAST(max(tot) AS BIGINT) AS n_events,
               CAST(min(CASE WHEN c = mx THEN hr END) AS BIGINT)
                   AS peak_hour,
               CAST(max(mx) AS BIGINT) AS peak_count,
               CAST(max(mx) AS DOUBLE) / max(tot) AS peak_share
        FROM marked GROUP BY event_type
    """,
    doc="Peak-hour profile per event type: the UTC hour-of-day with"
    " the most traffic (deterministic tie-break: smallest hour among"
    " maxima — never an engine's arbitrary max_by pick), its count"
    " and share — the diurnal-seasonality row capacity planning and"
    " the q_volume_anomaly baseline read first. Hour comes from"
    " epoch-second arithmetic ((secs // 3600) % 24), not hour()"
    " under a session timezone; the only windows run over the"
    " |types| x 24 hourly cells after one partial-agg shuffle."
    " Complete case on ts (NULLS.md tier 1).",
)
def q_peak_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # complete case (NULLS.md tier 1): hour cell derives from ts
    pts = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.expr(
                "pmod(div(cast(cast(ts as timestamp) as long),"
                " 3600), 24)"
            ).cast("bigint").alias("hr"),
        )
    )
    hourly = pts.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    marked = hourly.select(
        "event_type",
        "hr",
        "c",
        F.max("c").over(Window.partitionBy("event_type")).alias("mx"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("tot"),
    )
    return marked.groupBy("event_type").agg(
        F.max("tot").cast("bigint").alias("n_events"),
        F.min(
            F.when(F.col("c") == F.col("mx"), F.col("hr"))
        ).cast("bigint").alias("peak_hour"),
        F.max("mx").cast("bigint").alias("peak_count"),
        (F.max("mx").cast("double") / F.max("tot")).alias("peak_share"),
    )
