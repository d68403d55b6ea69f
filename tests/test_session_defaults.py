"""Driver memory defaults, checked without booting a JVM: the heap is
committed lazily (no -Xms, no pre-touch) and its ceiling is sized from
the host's MemTotal, so a default session never asks for more memory
than the machine has."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from lakehouse_weather_spark.session import (  # noqa: E402
    default_driver_mem,
    driver_memory_options,
)


def _mb(spec: str) -> int:
    assert spec.endswith("m"), spec
    return int(spec[:-1])


def _meminfo(tmp_path, kb: int) -> str:
    path = tmp_path / "meminfo"
    path.write_text(
        f"MemTotal:       {kb} kB\nMemFree:        {kb // 2} kB\n"
    )
    return str(path)


def test_default_jvm_options_neither_pin_nor_pretouch_the_heap(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", raising=False)
    mem, opts = driver_memory_options()
    assert "-Xms" not in opts
    assert "AlwaysPreTouch" not in opts
    with open("/proc/meminfo") as fh:
        total_kb = next(
            int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:")
        )
    assert 0 < _mb(mem) <= total_kb // 1024


def test_default_heap_is_half_of_memtotal_capped_at_16g(tmp_path):
    assert default_driver_mem(_meminfo(tmp_path, 4 * 1024 * 1024)) == "2048m"
    assert default_driver_mem(_meminfo(tmp_path, 16456384)) == "8035m"
    assert default_driver_mem(_meminfo(tmp_path, 64 * 1024 * 1024)) == (
        "16384m"
    )
    assert default_driver_mem(str(tmp_path / "absent")) == "16384m"


def test_env_overrides_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.setenv(
        "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-Xms3g -XX:+AlwaysPreTouch"
    )
    assert driver_memory_options() == ("3g", "-Xms3g -XX:+AlwaysPreTouch")
