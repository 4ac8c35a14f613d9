"""Session defaults that depend on the host."""

from __future__ import annotations

from kgtk_spark.session import driver_memory


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_fits_the_host(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    # 15.7 GiB host: 60% of it, below the 16g cap.
    assert driver_memory(_meminfo(tmp_path, 16_456_384)) == "9642m"
    # Large host: capped at 16g.
    assert driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "16384m"
    # Unreadable RAM size: the cap.
    assert driver_memory(str(tmp_path / "missing")) == "16384m"


def test_driver_memory_env_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory(_meminfo(tmp_path, 16_456_384)) == "3g"
