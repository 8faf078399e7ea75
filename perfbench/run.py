"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics (the layers a workload does not
reach read 0). The line before it carries diagnostics. The exit code is
0 only when every output check passed.

Each run works in a fresh directory under ``.perfbench_tmp/`` (artifact
root, Spark local dirs, warehouse, JVM temp dir, ingest root, generated
inputs), deleted at exit. ``--trace 1`` also writes its spans to
``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# local[2]: the inputs are a few MB, so more task threads add no speed,
# only contention with the driver, JIT and GC threads and the Python
# workers on a small host
MAX_CPUS = 2


class Context:
    def __init__(self, args, run_dir: str, tracer):
        from perfbench.workloads import Clock, Session

        self.seed = args.seed
        self.seconds = args.seconds
        self.run_dir = run_dir
        self.bench_dir = BENCH_DIR
        self.clock = Clock(T_PROCESS)
        self.tracer = tracer
        cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        self.session = Session(run_dir, cpus, tracer)

    def tracing(self, on: bool) -> None:
        """Record spans only in the phases whose layers are reported."""
        if self.tracer is not None:
            self.tracer.active = on


def isolate(run_dir: str) -> None:
    """Point every engine, Spark and Python temporary location into
    ``run_dir`` before anything creates one."""
    for sub in ("artifacts", "spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_ARTIFACT_ROOT"] = os.path.join(run_dir, "artifacts")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    # the short-lived JVM that spark-submit starts to build the driver
    # command line; the driver JVM gets the same flags from Session
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )


def host_state() -> dict:
    from bench import _java_procs

    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:9]]
    return {"java_procs": _java_procs(), "loadavg_1m": os.getloadavg()[0], "cpu_ticks": cpu}


def _steal_share(pre: list[int], post: list[int]) -> float:
    d = [b - a for a, b in zip(pre, post)]
    return d[7] / max(1, sum(d))


def run(args) -> int:
    for p in (ROOT, os.path.join(ROOT, "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)
    from perfbench.workloads import WORKLOADS

    workload = WORKLOADS[args.workload]
    pre = host_state()
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    ctx = None
    try:
        isolate(run_dir)
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer()
        ctx = Context(args, run_dir, tracer)
        res = workload(ctx)
        if tracer is not None:
            tracer.unwrap()
    finally:
        if ctx is not None:
            ctx.session.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass

    post = host_state()
    foreign = sorted(set(pre["java_procs"]) | set(post["java_procs"]))
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "foreign_jvms": [f"{p}: {pre['java_procs'].get(p) or post['java_procs'].get(p)}" for p in foreign],
        "loadavg_pre": pre["loadavg_1m"],
        "loadavg_post": post["loadavg_1m"],
        # share of CPU time the hypervisor gave to other guests during the
        # run: the host's load, which slows every timing of the run
        "steal_share": _steal_share(pre["cpu_ticks"], post["cpu_ticks"]),
        **res.diag,
    }
    if args.trace:
        layers = {
            f"{span}.{stat}": v
            for span, stats in tracer.totals().items()
            for stat, v in stats.items()
        }
        layers.update(res.layers)
        layers["trace.work_s"] = res.metrics["work_s"][0]
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            declared = json.load(f)["per_layer"]
        metrics = {
            m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]}
            for m in declared
        }
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in res.metrics.items()}
    print(json.dumps({"diagnostics": diag}), flush=True)
    print(
        json.dumps(
            {
                "correct": res.correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if res.correct and res.failed == 0 else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        return run(args)
    except Exception:  # noqa: BLE001 - any crash is a failed run without a result
        traceback.print_exc()
        return 2


if __name__ == "__main__":
    raise SystemExit(main())
