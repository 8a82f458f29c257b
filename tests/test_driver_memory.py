"""Driver heap sizing: half the host's RAM, capped at 24g, env override kept."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from identity_matching_spark.session import DRIVER_MEMORY_CAP_MB, driver_memory

MEMINFO = "MemTotal:       {kb} kB\nMemFree:         1000000 kB\n"


def _meminfo(tmp_path, kb: int) -> str:
    path = tmp_path / "meminfo"
    path.write_text(MEMINFO.format(kb=kb))
    return str(path)


def test_half_of_ram_below_the_cap(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    # a 15.7 GiB host gets a ~7.9 GiB heap, not 24g
    assert driver_memory(_meminfo(tmp_path, 16479424)) == "8046m"
    assert driver_memory(_meminfo(tmp_path, 4 * 1024 * 1024)) == "2048m"


def test_capped_at_24g_on_big_hosts(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert DRIVER_MEMORY_CAP_MB == 24 * 1024
    assert driver_memory(_meminfo(tmp_path, 48 * 1024 * 1024)) == "24576m"
    assert driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "24576m"


def test_unreadable_meminfo_falls_back_to_the_cap(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert driver_memory(str(tmp_path / "missing")) == "24576m"
    garbled = tmp_path / "garbled"
    garbled.write_text("MemFree: 10 kB\n")
    assert driver_memory(str(garbled)) == "24576m"


def test_env_override_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "3g"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "")
    assert driver_memory(_meminfo(tmp_path, 16479424)) == "8046m"


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="needs procfs")
def test_host_default_fits_in_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    with open("/proc/meminfo") as fh:
        total_mb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1]) // 1024
    assert int(driver_memory().rstrip("m")) <= total_mb // 2
