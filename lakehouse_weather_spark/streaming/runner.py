"""Run a streaming write to the end of its input, or fail loudly, and
scope the session confs a stream sets for itself."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def run_available_now(
    writer: DataStreamWriter, timeout_s: float | None
) -> StreamingQuery:
    """Start ``writer`` under the availableNow trigger and wait until it
    has drained every input available at start (``timeout_s=None``
    waits without limit).

    ``awaitTermination(timeout)`` only returns False on timeout: the
    query keeps running and a memory sink serves whatever micro-batches
    have landed so far. Here a timeout stops the query and raises, so a
    partial result never passes for a complete one."""
    q = writer.trigger(availableNow=True).start()
    if timeout_s is None:
        q.awaitTermination()
    elif not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not drain its input"
            f" within {timeout_s} s; stopped"
        )
    return q


@contextmanager
def session_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for the block and restore the previous value
    after it, also when the block raises: a stream that sizes its own
    state (partitions, store provider) must not resize every later
    query of a shared session."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
