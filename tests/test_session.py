"""Session defaults that depend on the host."""

from __future__ import annotations

from tenzir_spark.session import driver_memory

MEMINFO = """MemTotal:       15728640 kB
MemFree:        14000000 kB
MemAvailable:   15000000 kB
Shmem:             12000 kB
"""


def test_driver_memory_is_half_of_memtotal(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    f = tmp_path / "meminfo"
    f.write_text(MEMINFO)
    assert driver_memory(str(f)) == "7680m"  # 15 GiB host -> 7.5 GiB heap


def test_driver_memory_clamps(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    small, big = tmp_path / "small", tmp_path / "big"
    small.write_text("MemTotal:         524288 kB\n")
    big.write_text("MemTotal:       1073741824 kB\n")
    assert driver_memory(str(small)) == "1024m"
    assert driver_memory(str(big)) == "32768m"


def test_driver_memory_env_overrides(tmp_path, monkeypatch):
    f = tmp_path / "meminfo"
    f.write_text(MEMINFO)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert driver_memory(str(f)) == "3g"


def test_driver_memory_without_meminfo(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert driver_memory(str(tmp_path / "absent")) == "4g"
    (tmp_path / "odd").write_text("SwapTotal: 0 kB\n")
    assert driver_memory(str(tmp_path / "odd")) == "4g"
