"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q

The two end-to-end tests run the benchmark CLI on ``etl_ingest`` with a
2-state delivery in a subprocess (under a minute each).
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
import time

import pytest

from perfbench import gen
from perfbench.trace import ENGINE_PKG, Span, Tracer, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _tree(path: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(dp, f), path)
        for dp, _, fs in os.walk(path)
        for f in fs
    )


def test_same_seed_same_multistate_inputs(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.gen_multistate(7, a, n_states=5, total_schools=300)
    gen.gen_multistate(7, b, n_states=5, total_schools=300)
    gen.gen_multistate(8, c, n_states=5, total_schools=300)
    files = _tree(a)
    assert files == _tree(b)
    for f in files:
        if f.endswith(".json"):  # the manifest names its own directory
            continue
        assert filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f
    differ = [
        f
        for f in files
        if f.endswith("_nslp.tsv")
        and not filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False)
    ]
    assert differ


def test_same_seed_same_ingest_inputs():
    a, b, c = gen.gen_ingest(3, 2), gen.gen_ingest(3, 2), gen.gen_ingest(4, 2)
    assert json.dumps(a, sort_keys=True, default=list) == json.dumps(
        b, sort_keys=True, default=list
    )
    assert a["bootstrap"] != c["bootstrap"]
    assert len(a["batches"]) == 2
    first = a["batches"][0]
    assert len(first) == gen.BATCH_FRESH + gen.PLANT_EXACT + gen.PLANT_NEAR + gen.PLANT_WITHIN
    assert len({i for i, _ in first}) == len(first)


def _read_tsv(path: str) -> list[dict]:
    with open(path) as f:
        header = f.readline().rstrip("\n").split("\t")
        return [dict(zip(header, line.rstrip("\n").split("\t"))) for line in f]


def test_multistate_fixture_shape(tmp_path):
    info = gen.gen_multistate(5, str(tmp_path), n_states=4, total_schools=400)
    states = info["manifest"]["states"]
    assert len(states) == 4
    lunch = [r for st in states for r in _read_tsv(st["lunch"])]
    brkf = [r for st in states for r in _read_tsv(st["breakfast"])]
    assert set(gen.LUNCH_COLS) <= set(lunch[0])
    assert all(int(r["DAYS_LUNCH"]) > 0 for r in lunch)
    assert all(int(r["DAYS_BRKF"]) > 0 for r in brkf)
    assert any(r["LUNCH_FREE"] == "" for r in lunch)
    lunch_ids = {(r["SCHOOL_NAME"], r["DISTRICT_ID"]) for r in lunch}
    brkf_ids = {(r["SCHOOL_NAME"], r["DISTRICT_ID"]) for r in brkf}
    # some linked schools spell the district id padded on one side only
    assert lunch_ids - brkf_ids and brkf_ids - lunch_ids
    assert len(lunch) == len({(r["SCHOOL_NAME"], r["CLAIM_DATE"]) for r in lunch})


def test_self_time_arithmetic():
    spans = [
        Span(0, "root", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "b", 0, 3.0, 6.0),  # overlaps a: covered part is 1..6
        Span(3, "a.child", 1, 2.0, 3.5),
        Span(4, "late", 0, 9.0, 12.0),  # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.5)
    assert st[4] == pytest.approx(3.0)


def test_tracer_wraps_importers_and_restores(monkeypatch):
    import types


    home = types.ModuleType(f"{ENGINE_PKG}.fake_home")
    user = types.ModuleType(f"{ENGINE_PKG}.fake_user")

    def f(x):
        return x + 1

    home.f = f
    user.f = f  # what ``from fake_home import f`` binds
    monkeypatch.setitem(sys.modules, home.__name__, home)
    monkeypatch.setitem(sys.modules, user.__name__, user)
    tr = Tracer()
    tr.active = True
    tr.wrap(home, "f", "fake.f")
    assert home.f is not f and user.f is home.f
    assert user.f(1) == 2
    tr.active = False
    assert home.f(2) == 3  # an inactive tracer records nothing
    tot = tr.totals()
    assert tot["fake.f"]["calls"] == 1 and tot["fake.f"]["jobs"] == 0
    tr.unwrap()
    assert home.f is f and user.f is f


def test_tracer_within_and_since(monkeypatch):
    import types

    mod = types.ModuleType(f"{ENGINE_PKG}.fake_io")

    def write(x):
        return x

    def outer(x):
        return mod.write(x)

    mod.write, mod.outer = write, outer
    monkeypatch.setitem(sys.modules, mod.__name__, mod)
    tr = Tracer()
    tr.active = True
    tr.wrap(mod, "outer", "fake.outer")
    tr.wrap(mod, "write", "fake.write", within="fake.outer")
    mod.write(1)  # not inside fake.outer: no span
    t_mid = time.perf_counter()
    mod.outer(2)
    tr.unwrap()
    assert [s.name for s in tr.spans] == ["fake.outer", "fake.write"]
    assert tr.spans[1].parent == tr.spans[0].sid
    assert set(tr.totals(since=t_mid)) == {"fake.outer", "fake.write"}
    assert tr.totals(since=time.perf_counter()) == {}


def _run_two_states(corrupt: bool) -> tuple[int, dict]:
    """Run the CLI on ``etl_ingest`` with a 2-state delivery, optionally
    corrupting one state's golden after it is written."""
    code = f"""
import sys
import time
sys.path.insert(0, {ROOT!r})
import duckdb
from perfbench import golden, run, workloads
workloads.MS_STATES = 2
workloads.MS_SCHOOLS = 60
if {corrupt!r}:
    write = golden.write_goldens
    def corrupted(manifest):
        n = write(manifest)
        p = manifest["states"][0]["golden"]
        con = duckdb.connect()
        con.execute(
            f"COPY (SELECT * REPLACE (\\"FR Lunch Meals\\" + 1 AS \\"FR Lunch Meals\\")"
            f" FROM read_parquet('{{p}}')) TO '{{p}}.tmp' (FORMAT parquet)"
        )
        con.close()
        import os
        os.replace(p + ".tmp", p)
        return n
    golden.write_goldens = corrupted
sys.exit(run.main(["--workload", "etl_ingest", "--seed", "5", "--seconds", "10"]))
"""
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    lines = [line for line in p.stdout.splitlines() if line.startswith("{")]
    return p.returncode, json.loads(lines[-1]) if lines else {}


def test_two_state_golden_agrees_with_spark():
    rc, res = _run_two_states(corrupt=False)
    assert rc == 0, res
    # warm-up delivery, 2 states, 2 ingest ticks and the replay
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] == 6
    assert res["metrics"]["work_s"]["value"] > 0


def test_corrupted_golden_fails_the_run():
    rc, res = _run_two_states(corrupt=True)
    assert rc != 0
    assert res["correct"] is False
    assert res["failed"] / res["attempted"] > 0
