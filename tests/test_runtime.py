"""Session-default guards for runtime.spark_builder_defaults.

The off-heap execution pool is what keeps string-heavy shuffle map
stages from pinning the old generation (GC-overhead JVM death at
~heap-sized inputs, measured on the 6M-row corpus layout with a 10 GB
ParallelGC heap) — these tests pin that it is on by default, sized by
core count, cleanly disableable for deployments that budget memory
differently, and that a malformed size fails naming the setting.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_toolkit_spark.runtime import spark_builder_defaults


class _RecordingBuilder:
    """Stands in for SparkSession.builder: records every config(k, v)."""

    def __init__(self):
        self.options: dict[str, str] = {}

    def config(self, key, value):
        self.options[key] = value
        return self


def _opts() -> dict[str, str]:
    return spark_builder_defaults(_RecordingBuilder()).options


def test_offheap_on_by_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_OFFHEAP_MB", raising=False)
    opts = _opts()
    assert opts["spark.memory.offHeap.enabled"] == "true"
    size = opts["spark.memory.offHeap.size"]
    assert size.endswith("m") and int(size[:-1]) >= 192
    # sized by core count: one ~192MB page-holding task per core
    assert int(size[:-1]) == 192 * (os.cpu_count() or 8)


def test_offheap_env_override_and_disable(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_OFFHEAP_MB", "1024")
    opts = _opts()
    assert opts["spark.memory.offHeap.size"] == "1024m"

    monkeypatch.setenv("SPARK_GRAFT_OFFHEAP_MB", "0")
    opts = _opts()
    assert "spark.memory.offHeap.enabled" not in opts
    assert "spark.memory.offHeap.size" not in opts


@pytest.mark.parametrize("bad", ["", "  ", "1g", "512m", "1.5", "lots"])
def test_offheap_malformed_env_names_the_setting(monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_OFFHEAP_MB", bad)
    with pytest.raises(ValueError) as err:
        _opts()
    assert "SPARK_GRAFT_OFFHEAP_MB" in str(err.value)
    assert repr(bad) in str(err.value)
