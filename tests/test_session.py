"""Session defaults that depend on the host."""

from data_engineering_capstone_project__spark.session import default_driver_memory


def _meminfo(tmp_path, text):
    p = tmp_path / "meminfo"
    p.write_text(text)
    return str(p)


def test_driver_memory_is_sixty_percent_of_memtotal(tmp_path):
    # 15 GiB host: 60% = 9216 MiB, below the 16g cap
    m = _meminfo(tmp_path, "MemTotal:       15728640 kB\nMemFree:  1 kB\n")
    assert default_driver_memory(m) == "9216m"


def test_driver_memory_capped_at_16g(tmp_path):
    m = _meminfo(tmp_path, "MemFree:  1 kB\nMemTotal:       67108864 kB\n")
    assert default_driver_memory(m) == "16384m"


def test_driver_memory_unreadable_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "16g"
    assert default_driver_memory(_meminfo(tmp_path, "MemTotal: lots\n")) == "16g"
