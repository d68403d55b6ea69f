"""Streaming run hygiene: a stream that times out fails loudly instead
of serving a partial sink, the session confs a stream sets for itself
do not outlive it, and the session-evict query never writes its input
files' times."""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.check_oracle import compare_one, duck_con  # noqa: E402

from lakehouse_weather_spark.registry import load_all  # noqa: E402
from lakehouse_weather_spark.sources.tables import TABLES  # noqa: E402
from lakehouse_weather_spark.streaming.events import (  # noqa: E402
    stream_stream_join,
)
from lakehouse_weather_spark.streaming.runner import (  # noqa: E402
    run_available_now,
    session_conf,
)
from lakehouse_weather_spark.streaming.stateful import (  # noqa: E402
    _TWS_WORKERS_OK,
    stream_session_eviction,
)

_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
_HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider"
)


def _events_dir(sf_dir: str, tmp_path: Path) -> str:
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    (events_dir / "events.parquet").symlink_to(
        Path(sf_dir) / "events.parquet"
    )
    return str(events_dir)


def test_timeout_stops_the_query_and_raises(spark, sf_dir, tmp_path):
    events_dir = _events_dir(sf_dir, tmp_path)
    schema = spark.read.parquet(events_dir).schema
    writer = (
        spark.readStream.schema(schema)
        .parquet(events_dir)
        .groupBy("event_type")
        .count()
        .writeStream.format("memory")
        .queryName("timeout_probe")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    with pytest.raises(TimeoutError, match="timeout_probe"):
        run_available_now(writer, 0.001)
    assert spark.streams.active == []


def test_session_conf_restores_on_error(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with pytest.raises(RuntimeError):
        with session_conf(spark, key, "3"):
            assert spark.conf.get(key) == "3"
            raise RuntimeError("stream failed")
    assert spark.conf.get(key) == before


@pytest.mark.skipif(
    not _TWS_WORKERS_OK, reason="transformWithState backend unavailable"
)
def test_session_eviction_restores_state_store_provider(
    spark, sf_dir, tmp_path
):
    with session_conf(spark, _PROVIDER, _HDFS_PROVIDER):
        stream_session_eviction(
            spark,
            _events_dir(sf_dir, tmp_path),
            str(tmp_path / "ckpt"),
            backend="tws",
        ).collect()
        assert spark.conf.get(_PROVIDER) == _HDFS_PROVIDER


def test_stream_join_restores_shuffle_partitions(spark, sf_dir, tmp_path):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    events_dir = _events_dir(sf_dir, tmp_path)
    stream_stream_join(
        spark, events_dir, events_dir, str(tmp_path / "ckpt"),
        queryname="join_conf_probe",
    ).collect()
    assert spark.conf.get(key) == before


def test_session_evict_leaves_source_mtime_and_keeps_parity(
    spark, sf_dir, tmp_path
):
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    for t in TABLES:
        src = Path(sf_dir) / f"{t}.parquet"
        if t == "events":
            shutil.copyfile(src, corpus / "events.parquet")
        else:
            (corpus / f"{t}.parquet").symlink_to(src)
    events = corpus / "events.parquet"
    # a corpus written after 2027-01-15, where the sentinel times were
    # once pinned: the sentinels must still sort after it
    mtime = 1_900_000_000
    os.utime(events, (mtime, mtime))

    name = "q_stream_session_evict"
    res = compare_one(
        name, load_all()[name], spark, duck_con(str(corpus)), str(corpus)
    )
    assert res["status"] == "OK", res
    assert os.stat(events).st_mtime == mtime

    tag = hashlib.md5(str(corpus).encode()).hexdigest()[:8]
    commits = os.path.join(
        tempfile.gettempdir(),
        f"lws_sess_evict_{tag}_{os.getpid()}",
        "ckpt",
        "commits",
    )
    batches = [f for f in os.listdir(commits) if f.isdigit()]
    # the data batch plus one per sentinel file
    assert len(batches) >= 4, batches
