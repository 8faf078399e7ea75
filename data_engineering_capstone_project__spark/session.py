"""SparkSession factory.

Local-mode defaults tuned for the test harness (local[N], single JVM) while
keeping every knob cluster-appropriate: AQE on (runtime re-planning, skew
join handling, partition coalescing), UTC session timezone (parity with the
DuckDB oracle, whose timestamps are UTC-naive), Arrow enabled for the
pandas-UDF slow path.

Generated code is compiled once per session, not once per pass: Spark
caches the classes Janino compiles for whole-stage codegen and expression
projections in an LRU of ``spark.sql.codegen.cache.maxEntries`` entries,
100 by default. One pass of the 32 headline queries compiles 376
distinct classes, so at the default every warm pass evicted and
recompiled 393 classes. ``get_spark`` sets 1000 entries, the headline
set's working set with room to spare (the conf's comment has the
numbers), and ``codegen_compiles`` counts compiles, so a warm pass that
still compiles is visible. ``bench.py`` repeats each query back to back,
and a class reused at once is never evicted, so its steady runs read the
same at either size; its second whole pass over the headline set is the
run that shows eviction.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_APP = "data_engineering_capstone_project__spark"

# serializes no_aqe windows across driver threads (review r15) — RLock so
# an operator that nests no_aqe (directly or via a callee) cannot deadlock
_NO_AQE_LOCK = threading.RLock()


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Default ``spark.driver.memory``: 60% of the host's ``MemTotal``,
    at most 16g, so a driver that outgrows it fails with a Java
    ``OutOfMemoryError`` instead of being ended by the kernel's OOM
    killer. 16g where ``meminfo`` cannot be read."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mb = int(line.split()[1]) * 6 // 10 // 1024
                    return f"{min(mb, 16 * 1024)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "16g"


def get_spark(
    app_name: str = DEFAULT_APP,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``shuffle_partitions`` defaults to the core count — 200 is wrong in both
    directions for local mode; on a real cluster callers size it to
    ~2-3× total executor cores and AQE coalesces from there.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        # wide-agg plans (auto-sized MinHash signatures run up to ~350
        # min-aggregates) stay inside whole-stage codegen; the default
        # cap of 100 fields silently drops them to interpreted eval
        .config("spark.sql.codegen.maxFields", "400")
        # the codegen class cache (a static conf, fixed at session
        # creation). The 32 headline queries compile 376 distinct
        # classes; at Spark's default of 100 entries every later pass
        # over them recompiled 393, at 1000 the second pass compiles 4
        # and the third 0. One tools/check_oracle.py run of all 175
        # entries at sf0.001 compiles 3,189 distinct classes: 7,311
        # compiles at 100, 3,377 at 1000. Keeping all of them (4000)
        # left Metaspace 12% and the JIT code heaps 18% above the
        # default's at that session's end; 1000 stays within 7%
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # zstd for every parquet the engine writes (guide §6: smaller
        # than snappy at similar read speed — artifact/index/publication
        # reads are the steady-state cost at scale). Transparent to all
        # readers (including DuckDB oracles); env-overridable so a
        # deployment can pick its own codec without a code change.
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes compiled for generated code so far in this session's JVM
    (Spark's ``CodegenMetrics`` compilation-time count: one per codegen
    cache miss)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


@contextmanager
def no_aqe(spark: SparkSession):
    """Disable adaptive query execution around a METADATA-SIZED action.

    AQE materializes each exchange as its own Spark job before
    re-optimizing — the right trade for corpus-scale queries (runtime
    skew/coalesce decisions), pure overhead for the engine's tiny
    bounded-output actions (scalar digests, partition-size collects,
    quantile probes): their final aggregate is a single/tiny partition
    by construction, so there is nothing for AQE to re-plan, and the
    extra stage-job costs a scheduler round trip per call (measured
    ~2× the latency of the same action without AQE on this harness).

    Scope discipline: wrap ONLY driver-side metadata actions, never a
    data-path query. The flag is session-scoped, so another thread
    planning a query inside this window would plan it without AQE —
    correct but less adaptive; the engine's own operators only call
    this around short synchronous collects. Overlapping ``no_aqe``
    windows from several driver threads are serialized by a module
    lock (review r15): interleaved restore ordering could otherwise
    leave AQE off after the last window exits.
    """
    with _NO_AQE_LOCK:
        prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
        if prev == "false":
            yield
            return
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)
