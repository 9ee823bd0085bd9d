"""Session defaults: the driver heap fits the host unless the caller sets
it (a fixed 16g overcommits a 15 GB machine)."""

import pytest

from vlm_ocr_doc_reader_spark.sources.session import (default_driver_memory,
                                                      session_conf)


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\n"
                 "MemFree:         1000 kB\n")
    return str(p)


@pytest.mark.parametrize("total_gib, want", [
    (15, f"{15 * 1024 // 4}m"),   # a quarter of RAM
    (2, "1024m"),                 # never below 1 GiB
    (64, "8192m"),                # never above 8 GiB
])
def test_driver_memory_default_is_quarter_of_ram_clamped(tmp_path,
                                                         total_gib, want):
    info = _meminfo(tmp_path, total_gib * 1024 * 1024)
    assert default_driver_memory(info) == want
    assert session_conf(meminfo=info)["spark.driver.memory"] == want


def test_driver_memory_caller_override_wins(tmp_path):
    info = _meminfo(tmp_path, 15 * 1024 * 1024)
    conf = session_conf(extra_conf={"spark.driver.memory": "4g"},
                        meminfo=info)
    assert conf["spark.driver.memory"] == "4g"


def test_meminfo_without_total_fails_loudly(tmp_path):
    p = tmp_path / "meminfo"
    p.write_text("MemFree: 1000 kB\n")
    with pytest.raises(RuntimeError):
        default_driver_memory(str(p))
