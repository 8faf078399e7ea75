"""Where one ingest tick spends its Spark jobs.

Bootstraps an ingest root from ``perfbench.gen.gen_ingest`` (seed 3,
300 bootstrap docs, 301-doc batches) on ``local[2]`` and runs two ticks:
the first in the JVM (cold) and the second (warm). For each tick it
prints the wall time, the whole-stage-codegen compile count, and every
job of the tick's job group with its duration and call site, read once
from the status store after the tick. Point it at any repo checkout to
A/B trees:

    python tools/tick_jobs.py [repo_root] [--bm25]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

repo = (
    sys.argv[1]
    if len(sys.argv) > 1 and not sys.argv[1].startswith("--")
    else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
sys.path.insert(0, repo)

from data_engineering_capstone_project__spark.plans import ingest  # noqa: E402
from data_engineering_capstone_project__spark.session import (  # noqa: E402
    codegen_compiles,
    get_spark,
)
from perfbench.gen import gen_ingest  # noqa: E402

SEED = 3
DOC_SCHEMA = "doc_id long, text string"


def _ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


def job_rows(spark, group: str) -> list[tuple[int, float, str]]:
    """``(job id, seconds, call site)`` for every job of ``group``."""
    store = spark.sparkContext._jsc.sc().statusStore()
    rows = []
    for jid in sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group)):
        job = store.job(jid)
        t0, t1 = _ms(job.submissionTime()), _ms(job.completionTime())
        dt = (t1 - t0) / 1000.0 if t0 is not None and t1 is not None else float("nan")
        rows.append((jid, dt, job.name()))
    return rows


def run_tick(spark, batch, root: str, label: str) -> None:
    sc = spark.sparkContext
    c0 = codegen_compiles(spark)
    sc.setJobGroup(label, label)
    t0 = time.perf_counter()
    try:
        pub, stats = ingest.ingest_batch(spark, batch, root)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    dt = time.perf_counter() - t0
    pub.unpersist()
    rows = job_rows(spark, label)
    print(
        f"{label}: {dt:.2f} s, {len(rows)} jobs, "
        f"{codegen_compiles(spark) - c0} codegen compiles, {stats}"
    )
    for jid, sec, site in rows:
        print(f"  job {jid:4d} {sec:6.3f} s  {site}")


def main() -> int:
    bm25 = "--bm25" in sys.argv
    spark = get_spark(
        app_name="tick_jobs",
        master="local[2]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    docs = gen_ingest(SEED, 2)
    root = os.path.join(tempfile.mkdtemp(prefix="tickjobs_"), "r")
    ingest.init_ingest_indexes(
        spark, spark.createDataFrame(docs["bootstrap"], DOC_SCHEMA), root, bm25_index=bm25
    )
    print(f"repo={repo} bm25={bm25}")
    for label, rows in zip(("cold", "warm"), docs["batches"]):
        run_tick(spark, spark.createDataFrame(rows, DOC_SCHEMA), root, label)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
