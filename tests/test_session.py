"""Session defaults that depend on the host."""

from win64_local_ocr_tool_spark.session import default_driver_memory


def _meminfo(tmp_path, kib: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {kib} kB\nMemFree:         1024 kB\n"
        "MemAvailable:    2048 kB\n"
    )
    return str(p)


def test_driver_memory_is_half_of_host_ram(tmp_path):
    # a 15 GiB host gets 7.5 GiB, never more than it has
    assert default_driver_memory(_meminfo(tmp_path, 15 << 20)) == "7680m"
    assert default_driver_memory(_meminfo(tmp_path, 4 << 20)) == "2048m"


def test_driver_memory_caps_at_16g(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 256 << 20)) == "16384m"


def test_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "16384m"
    (tmp_path / "odd").write_text("MemFree: 1 kB\n")
    assert default_driver_memory(str(tmp_path / "odd")) == "16384m"
