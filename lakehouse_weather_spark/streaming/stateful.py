"""Custom stateful streaming operator: incremental per-user profile.

The running aggregate every event pipeline ends up needing — per-key
counters/totals/last-seen maintained across micro-batches — expressed
on Spark's arbitrary-state API ladder:

- **transformWithStateInPandas** (Spark 4 StatefulProcessor, RocksDB
  state store): the preferred backend — typed ValueState plus
  event-time TIMERS, both exercised here: the profile processor uses
  ValueState only, and ``stream_session_eviction`` registers/deletes/
  fires real timers to evict idle-session state (proven multi-batch in
  tests/test_stateful.py). It needs ``google.protobuf`` in the
  Python workers (the driver<->state-server protocol is protobuf).
  This container does not ship protobuf on sys.path, but a pure-Python
  copy rides along inside the preinstalled Google Cloud SDK;
  ``_ensure_protobuf`` discovers it, exports it to driver AND worker
  interpreters (sys.path + PYTHONPATH, set before the JVM boots), and
  flips protobuf's own documented escape hatch for the one-minor
  gencode/runtime gap. The backend stays gated on ``HAS_TWS_DEPS`` and
  skips cleanly on hosts with no protobuf anywhere.
- **applyInPandasWithState** (GroupState): dependency-free fallback
  with the same output contract, fully tested here multi-batch.

Both backends emit one updated profile row per (user, micro-batch), so
an Update-mode sink converges to the batch groupBy aggregate — asserted
in tests/test_stateful.py under maxFilesPerTrigger=1.

The reference has no streaming at all (manually-triggered Airflow
full rebuilds, ``dags/bronze.py:127`` ``schedule_interval=None``);
this operator is the incremental replacement for its
recompute-the-world loop.
"""

from __future__ import annotations

import importlib.util
from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from lakehouse_weather_spark.streaming.runner import (
    run_available_now,
    session_conf,
)


def _find_protobuf() -> bool:
    try:
        # find_spec on a dotted name imports the parent package, so a
        # missing `google` namespace raises instead of returning None
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


# Known on-disk pure-Python protobuf distributions on hosts that do not
# ship it on sys.path (the Google Cloud SDK vendors one). Checked only
# when the normal import fails; nothing outside these paths is touched.
_PROTOBUF_FALLBACK_ROOTS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def _ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable in driver and workers if any
    fallback distribution exists. Must run before the SparkSession's
    JVM starts so local-mode Python workers inherit PYTHONPATH. The
    vendored runtime can trail pyspark's gencode by a minor version
    (6.32 vs 6.33); protobuf's own documented override
    (TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK) bridges exactly that
    gap — cross-version loading within a major is wire-compatible."""
    if _find_protobuf():
        return True
    import os
    import sys

    for root in _PROTOBUF_FALLBACK_ROOTS:
        if not os.path.isdir(os.path.join(root, "google", "protobuf")):
            continue
        os.environ.setdefault(
            "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true"
        )
        if root not in sys.path:
            sys.path.append(root)
        parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if root not in parts:
            os.environ["PYTHONPATH"] = os.pathsep.join(
                [p for p in parts if p] + [root]
            )
        importlib.invalidate_caches()
        if _find_protobuf():
            return True
    return False


HAS_TWS_DEPS = _ensure_protobuf()

# TWS additionally needs protobuf importable in the PYTHON WORKERS the
# JVM spawns — they inherit PYTHONPATH only if the export above ran
# BEFORE the JVM booted. Record that fact at import time: if a
# SparkContext is already live when the export happens, this session's
# workers never see it and TWS would crash its driver worker.
def _tws_workers_ok() -> bool:
    if not HAS_TWS_DEPS:
        return False
    import os

    parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    native = not any(p in parts for p in _PROTOBUF_FALLBACK_ROOTS)
    if native:
        return True
    from pyspark import SparkContext

    # exported path: safe only if no JVM was running at export time
    return SparkContext._active_spark_context is None


_TWS_WORKERS_OK = _tws_workers_ok()

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _state_store(spark: SparkSession, backend: str):
    """transformWithState requires the RocksDB state store: set it for
    this stream's run only, so later stateful streams in the session
    keep the session's own provider."""
    if backend != "tws":
        return nullcontext()
    return session_conf(
        spark, "spark.sql.streaming.stateStore.providerClass",
        _ROCKSDB_PROVIDER,
    )


# state carried per user: event count, value total, last event-time
# (epoch micros — exact integer, no float drift across batches)
_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        StructField("last_us", LongType()),
    ]
)
PROFILE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_ts_us", LongType()),
    ]
)


def _fold(pdf, n: int, total: float, last_us: int):
    import pandas as pd

    n += len(pdf)
    total += float(pdf["value"].sum())
    # ts arrives as int64 epoch-nanos (legacy fixture encoding) or as
    # datetime64 (timestamp[us] files); both reduce to exact epoch-micros
    tmax = pdf["ts"].max()
    us = (
        int(tmax) // 1_000
        if not isinstance(tmax, pd.Timestamp)
        else tmax.value // 1_000
    )
    last_us = max(last_us, us)
    return n, total, last_us


def _profile_rows(user_id: int, n: int, total: float, last_us: int):
    import pandas as pd

    return pd.DataFrame(
        [(user_id, n, total, last_us)],
        columns=["user_id", "n_events", "total_value", "last_ts_us"],
    )


def _make_stateful_processor():
    """Build the StatefulProcessor lazily — the import ladder exists
    only when the TWS backend is actually selected."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class UserProfileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("profile", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            n, total, last_us = (
                self._state.get() if self._state.exists() else (0, 0.0, 0)
            )
            for pdf in rows:
                n, total, last_us = _fold(pdf, n, total, last_us)
            self._state.update((n, total, last_us))
            yield _profile_rows(key[0], n, total, last_us)

        def close(self) -> None:
            pass

    return UserProfileProcessor()


def _tws_transform(grouped):
    return grouped.transformWithStateInPandas(
        statefulProcessor=_make_stateful_processor(),
        outputStructType=PROFILE_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def _gswp_transform(grouped):
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def profile(key, pdfs, state: GroupState):
        n, total, last_us = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n, total, last_us = _fold(pdf, n, total, last_us)
        state.update((n, total, last_us))
        yield _profile_rows(key[0], n, total, last_us)

    return grouped.applyInPandasWithState(
        profile,
        outputStructType=PROFILE_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_running_profile(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    backend: str = "auto",
) -> DataFrame:
    """Run the incremental per-user profile over a file stream and
    return the Update-mode memory-sink table (latest row per user =
    converged profile). backend: 'tws' | 'gswp' | 'auto' (tws when its
    protobuf dependency is importable, else gswp).
    """
    if backend == "auto":
        backend = "tws" if HAS_TWS_DEPS else "gswp"
    if backend not in ("tws", "gswp"):
        raise ValueError(f"unknown backend {backend!r}")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    static = spark.read.parquet(events_dir)

    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    grouped = reader.parquet(events_dir).groupBy("user_id")
    stream = _tws_transform(grouped) if backend == "tws" else _gswp_transform(grouped)

    # Stable digest, not Python hash(): str hash is salted per
    # interpreter and mod-1e7 collisions across distinct checkpoint
    # dirs could silently read/replace another run's memory sink.
    import hashlib

    name = "profile_" + hashlib.md5(checkpoint_dir.encode()).hexdigest()[:16]
    writer = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    with _state_store(spark, backend):
        run_available_now(writer, 180)
    return spark.table(name)


def latest_profiles(updates: DataFrame) -> DataFrame:
    """Collapse the Update-mode log to the converged row per user
    (n_events is monotone, so max_by on it picks the final update)."""
    return updates.groupBy("user_id").agg(
        F.max_by(
            F.struct("n_events", "total_value", "last_ts_us"), F.col("n_events")
        ).alias("p")
    ).select("user_id", "p.n_events", "p.total_value", "p.last_ts_us")


# ---------------------------------------------------------------------------
# Timer-driven session eviction: event-time timers + state TTL proof
# ---------------------------------------------------------------------------

# session-eviction output: one row per CLOSED session, emitted exactly
# once — either by the arrival of a later-session event for the same
# user ('event') or by an event-time TIMER firing after the watermark
# passes session_end + gap ('timer'). The timer path is what proves
# state actually leaves the store for idle keys.
SESSION_EVICT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("closed_by", StringType()),
        # watermark (ms) of the emitting micro-batch: lets a test prove
        # a timer fired MID-stream, not in one terminal flush
        StructField("wm_ms", LongType()),
    ]
)

_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
    ]
)


def _ts_to_us(v) -> int:
    import pandas as pd

    return int(v) // 1_000 if not isinstance(v, pd.Timestamp) else v.value // 1_000


def _make_session_evict_processor(gap_us: int):
    """StatefulProcessor that sessionizes each user's event stream with
    an idle ``gap`` and EVICTS closed sessions via registered
    event-time timers: every handleInputRows re-arms ONE timer at
    session_end + gap (deleting the stale one), and handleExpiredTimer
    emits the session row and clears state — the timer/TTL surface
    transformWithState exists for. Sessions superseded inside
    handleInputRows (a new event beyond the gap) close inline, so the
    operator's output equals batch sessionization while the TIMER path
    covers the idle tail no later event will ever close."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class SessionEvictProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._state = handle.getValueState(
                "session", _SESSION_STATE_SCHEMA
            )

        def _row(self, user_id, n, start_us, end_us, closed_by, wm_ms):
            import pandas as pd

            return pd.DataFrame(
                [(user_id, n, start_us, end_us, closed_by, wm_ms)],
                columns=[
                    "user_id", "n_events", "start_us", "end_us",
                    "closed_by", "wm_ms",
                ],
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            us: list[int] = []
            for pdf in rows:
                us.extend(_ts_to_us(v) for v in pdf["ts"])
            us.sort()
            have = self._state.exists()
            n, start_us, end_us = (
                self._state.get() if have else (0, 0, 0)
            )
            for t in us:
                if have and t - end_us > gap_us:
                    # a later-session event closes the open session
                    # inline — the timer would fire too late to keep
                    # the two sessions apart
                    yield self._row(
                        key[0], n, start_us, end_us, "event",
                        timer_values.getCurrentWatermarkInMs(),
                    )
                    have = False
                if not have:
                    n, start_us, end_us, have = 1, t, t, True
                else:
                    n += 1
                    end_us = max(end_us, t)
            self._state.update((n, start_us, end_us))
            # exactly one armed timer per key: re-arm at the new
            # session end (listTimers returns this key's timers only)
            for old in self._handle.listTimers():
                self._handle.deleteTimer(old)
            self._handle.registerTimer((end_us + gap_us) // 1_000)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            # watermark passed session_end + gap: no event can close
            # this session any more — emit once and drop the state
            # (parameter names must match the base class exactly: the
            # runtime invokes this hook with keyword arguments)
            if self._state.exists():
                n, start_us, end_us = self._state.get()
                yield self._row(
                    key[0], n, start_us, end_us, "timer",
                    timerValues.getCurrentWatermarkInMs(),
                )
                self._state.clear()

        def close(self) -> None:
            pass

    return SessionEvictProcessor()


def _gswp_session_eviction(grouped, gap_us: int):
    """GroupState twin of the TWS session-evict processor: the same
    inline-close + idle-eviction semantics on applyInPandasWithState's
    EventTimeTimeout ladder rung (state.setTimeoutTimestamp arms the
    'timer', hasTimedOut is the firing). Dependency-free — used where
    the TWS protobuf export could not reach the JVM's workers."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def row(user_id, n, start_us, end_us, closed_by, wm_ms):
        return pd.DataFrame(
            [(user_id, n, start_us, end_us, closed_by, wm_ms)],
            columns=[
                "user_id", "n_events", "start_us", "end_us",
                "closed_by", "wm_ms",
            ],
        )

    def fold(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, start_us, end_us = state.get
            yield row(
                key[0], n, start_us, end_us, "timer",
                state.getCurrentWatermarkMs(),
            )
            state.remove()
            return
        us: list[int] = []
        for pdf in pdfs:
            us.extend(_ts_to_us(v) for v in pdf["ts"])
        us.sort()
        have = state.exists
        n, start_us, end_us = state.get if have else (0, 0, 0)
        for t in us:
            if have and t - end_us > gap_us:
                yield row(
                    key[0], n, start_us, end_us, "event",
                    state.getCurrentWatermarkMs(),
                )
                have = False
            if not have:
                n, start_us, end_us, have = 1, t, t, True
            else:
                n += 1
                end_us = max(end_us, t)
        state.update((n, start_us, end_us))
        state.setTimeoutTimestamp((end_us + gap_us) // 1_000)

    return grouped.applyInPandasWithState(
        fold,
        outputStructType=SESSION_EVICT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_session_eviction(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    gap_minutes: int = 30,
    watermark: str = "1 minute",
    max_files_per_trigger: int | None = None,
    backend: str = "auto",
) -> DataFrame:
    """Sessionize a user event stream with timer-driven state eviction:
    closed sessions emit exactly once, idle keys leave the store when
    their event-time timer fires. backend: 'tws' (StatefulProcessor
    timers, RocksDB) | 'gswp' (GroupState EventTimeTimeout) | 'auto'
    (tws when its protobuf reached the JVM's worker env, else gswp —
    both share the one semantics contract). Returns the append-mode
    memory-sink table of closed sessions."""
    if backend == "auto":
        backend = "tws" if _TWS_WORKERS_OK else "gswp"
    if backend == "tws" and not HAS_TWS_DEPS:
        raise RuntimeError("transformWithState needs google.protobuf")
    if backend not in ("tws", "gswp"):
        raise ValueError(f"unknown backend {backend!r}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    static = spark.read.parquet(events_dir)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    stream = reader.parquet(events_dir)
    # event-time timers key off the watermark: normalize ts to a real
    # timestamp column first (legacy int64-nanos fixtures included)
    ts_field = dict(
        (f.name, f.dataType.simpleString()) for f in static.schema.fields
    )["ts"]
    if ts_field == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    # complete cases BEFORE the stateful operator, mirroring the
    # oracle: a NULL ts passes the watermark late-data predicate but
    # reaches the processor as pd.NaT (where _ts_to_us would raise);
    # a NULL user_id has no session identity. Dropping both here keeps
    # the stream's row set equal to the oracle's `pts` CTE.
    grouped = (
        stream.withWatermark("ts", watermark)
        .select("user_id", "ts")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .groupBy("user_id")
    )
    gap_us = gap_minutes * 60 * 1_000_000
    if backend == "tws":
        out = grouped.transformWithStateInPandas(
            statefulProcessor=_make_session_evict_processor(gap_us),
            outputStructType=SESSION_EVICT_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )
    else:
        out = _gswp_session_eviction(grouped, gap_us)
    import hashlib

    name = "sess_evict_" + hashlib.md5(
        checkpoint_dir.encode()
    ).hexdigest()[:16]
    writer = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    with _state_store(spark, backend):
        run_available_now(writer, 180)
    return spark.table(name)


# ---------------------------------------------------------------------------
# Streaming heavy hitters: Misra-Gries summary carried across batches
# ---------------------------------------------------------------------------

HH_STREAM_K = 20  # summary size: candidates cover freq > n/K exactly


def stream_heavy_users(
    spark,
    events_dir: str,
    checkpoint_dir: str,
    k: int = HH_STREAM_K,
    max_files_per_trigger: int | None = None,
):
    """Per-event-type heavy USERS over a file stream: a Misra-Gries
    summary of user_id lives in per-key state and folds each
    micro-batch in arrival order — so after the stream drains, the
    summary equals a single sequential MG pass over all events, and its
    classical guarantee holds EXACTLY: every user with frequency
    > n/k for that event_type is in the candidate set (asserted with an
    exact recount in tests/test_stateful.py). This is the streaming
    form of q_heavy_hitters' bounded-memory pass: state is O(k) per
    key forever, however unbounded the user universe grows.

    Returns the Update-mode memory-sink table; the final summary per
    event_type is the row with the largest n_seen."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [
            StructField("items", ArrayType(LongType())),
            StructField("counts", ArrayType(LongType())),
            StructField("n_seen", LongType()),
        ]
    )
    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("users", ArrayType(LongType())),
            StructField("n_seen", LongType()),
        ]
    )

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            items, counts, n = state.get
            mg = dict(zip(items, counts))
        else:
            mg, n = {}, 0
        for pdf in pdfs:
            for u in pdf["user_id"]:
                u = int(u)
                n += 1
                if u in mg:
                    mg[u] += 1
                elif len(mg) < k - 1:
                    mg[u] = 1
                else:
                    dead = []
                    for key_u in mg:
                        mg[key_u] -= 1
                        if mg[key_u] == 0:
                            dead.append(key_u)
                    for key_u in dead:
                        del mg[key_u]
        state.update((list(mg.keys()), list(mg.values()), n))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "users": [list(mg.keys())],
                "n_seen": [n],
            }
        )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    static = spark.read.parquet(events_dir)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = (
        reader.parquet(events_dir)
        .groupBy("event_type")
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # Stable digest, not Python hash(): str hash is salted per
    # interpreter and mod-1e7 collisions across distinct checkpoint
    # dirs could silently read/replace another run's memory sink.
    import hashlib

    name = "hh_" + hashlib.md5(checkpoint_dir.encode()).hexdigest()[:16]
    writer = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    run_available_now(writer, None)
    from pyspark.sql import functions as F

    tbl = spark.table(name)
    return tbl.groupBy("event_type").agg(
        F.max_by(F.struct("users", "n_seen"), "n_seen").alias("s")
    ).select("event_type", "s.users", "s.n_seen")
