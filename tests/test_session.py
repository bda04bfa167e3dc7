"""Session defaults that are decided before a JVM starts."""

import pytest

from datashare_extension_neo4j_spark.session import CODEGEN_CACHE_ENTRIES, driver_memory


@pytest.mark.parametrize(
    "mem_total_kb, heap",
    [
        (16_479_544, "8046m"),  # 15.7 GB host: half of RAM
        (264_000_000, "49152m"),  # 252 GB host: the 48g cap
        (1_048_576, "1024m"),  # 1 GB host: the 1g floor
    ],
)
def test_driver_memory_is_half_of_ram(tmp_path, monkeypatch, mem_total_kb, heap):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        f"MemFree:         1000 kB\nMemTotal:       {mem_total_kb} kB\n"
    )
    assert driver_memory(str(meminfo)) == heap
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory(str(meminfo)) == "3g"


def test_driver_memory_without_meminfo(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert driver_memory(str(tmp_path / "missing")) == "48g"


def test_codegen_cache_holds_the_plan_set(spark):
    """The session's generated-class cache is the documented size, not
    Spark's 100 entries, which the registry's plans overflow."""
    conf = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert conf == str(CODEGEN_CACHE_ENTRIES) and CODEGEN_CACHE_ENTRIES >= 2000
