"""Guards for runtime.spark_builder_defaults and runtime.tune_malloc.

The off-heap execution pool is what keeps string-heavy shuffle map
stages from pinning the old generation (GC-overhead JVM death at
~heap-sized inputs, measured on the 6M-row corpus layout with a 10 GB
ParallelGC heap) — these tests pin that it is on by default, sized by
core count, cleanly disableable for deployments that budget memory
differently, and that a malformed size fails naming the setting.

After tune_malloc(), invalidating import caches drops zipimporters instead
of re-reading their archives; imports from a zip must stay sound, including
for an archive rewritten in place.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_toolkit_spark.runtime import spark_builder_defaults, tune_malloc


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


def _write_zpkg(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        for name in modules:
            zf.writestr(f"zpkg/{name}.py", f"NAME = {name!r}\n")


def test_tune_malloc_makes_zip_invalidation_lazy_and_sound(tmp_path):
    tune_malloc()
    zpath = str(tmp_path / "zpkg.zip")
    _write_zpkg(zpath, ["a", "b"])
    sys.path.insert(0, zpath)
    try:
        importlib.invalidate_caches()
        assert importlib.import_module("zpkg.a").NAME == "a"
        assert any(isinstance(v, zipimport.zipimporter)
                   for v in sys.path_importer_cache.values())

        importlib.invalidate_caches()
        assert not any(isinstance(v, zipimport.zipimporter)
                       for v in sys.path_importer_cache.values())

        # rewritten in place: a new member ahead of the old ones shifts
        # their offsets in the archive
        _write_zpkg(zpath, ["c", "a", "b"])
        importlib.invalidate_caches()
        assert importlib.import_module("zpkg.b").NAME == "b"
        assert importlib.import_module("zpkg.c").NAME == "c"
    finally:
        sys.path.remove(zpath)
        for name in [m for m in sys.modules
                     if m == "zpkg" or m.startswith("zpkg.")]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache
                    if k.startswith(zpath)]:
            del sys.path_importer_cache[key]
