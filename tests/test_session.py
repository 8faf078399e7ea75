"""Session defaults: the ones that depend on the host, and the codegen
class cache."""

from data_engineering_capstone_project__spark.session import (
    codegen_compiles,
    default_driver_memory,
)


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


def test_warm_rerun_compiles_no_generated_class(spark):
    """The session's codegen cache holds more than Spark's default of
    100 classes: after 120 distinct ones, the first query runs again
    without compiling."""

    def query(i):
        # a distinct literal per query is distinct generated code
        return spark.range(8).selectExpr(f"id * {i + 2} + {i} AS x")

    c0 = codegen_compiles(spark)
    for i in range(60):
        query(i).collect()
    assert codegen_compiles(spark) - c0 > 100
    c1 = codegen_compiles(spark)
    query(0).collect()
    assert codegen_compiles(spark) - c1 == 0
