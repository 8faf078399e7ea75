"""Multi-state manifest orchestration (VERDICT r2 next-round #1):
N states → clean/derive/assemble → state-partitioned parquet + per-state
QA rollup, with partition pruning on the output and a qa_diff sample on
seeded mismatches."""

from __future__ import annotations

import json
import os
import tempfile

import pytest

DICT_HEADER = [
    "raw_data_column", "raw_data_column_name",
    "equivalent_clean_data_name", "notes",
]

DICT1_ROWS = [
    ("c1", "SCHOOL_NAME", "school name", ""),
    ("c2", "CLAIM_DATE", "claim date", ""),
    ("c3", "DISTRICT_ID", "district id", ""),
    ("c4", "PUBLIC", "PUBLIC", ""),
    ("c5", "SCHOOL TYPE", "SCHOOL TYPE", ""),
    ("c6", "LUNCH_FREE", "Lunch Meals-Free", ""),
    ("c7", "LUNCH_RED", "Lunch Meals-Reduced", ""),
    ("c8", "LUNCH_PAID", "Lunch Meals-Paid", ""),
    ("c9", "DAYS_LUNCH", "Operating Days-Lunch Only", ""),
    ("c10", "ENR_FREE", "Enrollment-Free", ""),
    ("c11", "ENR_RED", "Enrollment-Reduced", ""),
    ("c12", "ENR_TOT", "Enrollment-Total", ""),
    ("c13", "CEP_FLAG", "CEP (Y/N)", ""),
    ("c14", "SCHOOL_ID", "School ID", ""),
    ("c15", "SCHOOL_LEVEL", "School Level-Original", ""),
    ("c16", "OLD_COL", "THIS IS NOT USED", ""),
]

DICT2_ROWS = [
    ("b1", "SCHOOL_NAME", "school name", ""),
    ("b2", "CLAIM_DATE", "claim date", ""),
    ("b3", "DISTRICT_ID", "district id", ""),
    ("b4", "TRADITIONAL_MODEL", "TRADITIONAL_MODEL", ""),
    ("b5", "MID_MORNING_MODEL", "MID_MORNING_MODEL", ""),
    ("b6", "CLASSROOM_MODEL", "CLASSROOM_MODEL", ""),
    ("b7", "REDUCED_PRICE_MODEL", "REDUCED_PRICE_MODEL", ""),
    ("b8", "GRAB_N_GO_MODEL", "GRAB_N_GO_MODEL", ""),
    ("b9", "FREE_MODEL", "FREE_MODEL", ""),
    ("b10", "BRKF_FREE", "Breakfast Meals-Free", ""),
    ("b11", "BRKF_RED", "Breakfast Meals-Reduced", ""),
    ("b12", "DAYS_BRKF", "Operating Days-Breakfast Only", ""),
    ("b13", "SCHOOL_YEAR", "School Year", ""),
]

LUNCH_HEADER = [
    "SCHOOL_NAME", "CLAIM_DATE", "DISTRICT_ID", "PUBLIC", "SCHOOL TYPE",
    "LUNCH_FREE", "LUNCH_RED", "LUNCH_PAID", "DAYS_LUNCH", "ENR_FREE",
    "ENR_RED", "ENR_TOT", "CEP_FLAG", "SCHOOL_ID", "SCHOOL_LEVEL", "OLD_COL",
]

BRKF_HEADER = [
    "SCHOOL_NAME", "CLAIM_DATE", "DISTRICT_ID", "TRADITIONAL_MODEL",
    "MID_MORNING_MODEL", "CLASSROOM_MODEL", "REDUCED_PRICE_MODEL",
    "GRAB_N_GO_MODEL", "FREE_MODEL", "BRKF_FREE", "BRKF_RED", "DAYS_BRKF",
    "SCHOOL_YEAR",
]


def _write_tsv(dirpath, name, header, rows):
    path = os.path.join(dirpath, name)
    with open(path, "w") as f:
        f.write("\t".join(header) + "\n")
        for r in rows:
            f.write("\t".join("" if v is None else str(v) for v in r) + "\n")
    return path


def _state_rows(state, n=3):
    lunch, brkf = [], []
    for i in range(n):
        name = f"{state} School {i}"
        did = str(100 + i)
        lunch.append(
            (name, "2017-10", did, "YES", "REGULAR", str(100 + 10 * i), "20",
             "30", "20", "150", "25", "200", "N", str(i), "Elementary School",
             "junk")
        )
        brkf.append(
            (name, "2017-10", did.zfill(6), "Y", "N", "N", "Y", "N", "Y",
             str(60 + i), "15", "20", None)
        )
    return lunch, brkf


@pytest.fixture(scope="module")
def manifest_dir(spark):
    with tempfile.TemporaryDirectory(prefix="nkh_multi_") as d:
        _write_tsv(d, "dict1.tsv", DICT_HEADER, DICT1_ROWS)
        _write_tsv(d, "dict2.tsv", DICT_HEADER, DICT2_ROWS)
        states = []
        for st in ("AA", "BB", "CC"):
            lunch, brkf = _state_rows(st)
            # BB carries an extra undictionaried column (state structure
            # drift — the reference's 4-6-datasets-per-state reality)
            lh, rows = LUNCH_HEADER, lunch
            if st == "BB":
                lh = [*LUNCH_HEADER, "EXTRA_STATE_COL"]
                rows = [(*r, "x") for r in lunch]
            _write_tsv(d, f"{st.lower()}_lunch.tsv", lh, rows)
            _write_tsv(d, f"{st.lower()}_breakfast.tsv", BRKF_HEADER, brkf)
            states.append(
                {
                    "state": st,
                    "lunch": os.path.join(d, f"{st.lower()}_lunch.tsv"),
                    "breakfast": os.path.join(d, f"{st.lower()}_breakfast.tsv"),
                }
            )
        manifest = {
            "dict1": os.path.join(d, "dict1.tsv"),
            "dict2": os.path.join(d, "dict2.tsv"),
            "output": os.path.join(d, "final_parquet"),
            "states": states,
        }
        mpath = os.path.join(d, "manifest.json")
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        yield d, mpath


def test_multistate_end_to_end(spark, manifest_dir):
    from data_engineering_capstone_project__spark.plans.multistate import (
        load_manifest,
        run_multistate,
    )

    d, mpath = manifest_dir
    specs, out = load_manifest(mpath)
    assert [s.state for s in specs] == ["AA", "BB", "CC"]
    combined, rollup = run_multistate(spark, specs, output_path=out)

    # every state landed, tagged, and QA was skipped (no goldens)
    back = spark.read.parquet(out)
    per_state = {
        r["state"]: r["count"]
        for r in back.groupBy("state").count().collect()
    }
    assert per_state == {"AA": 3, "BB": 3, "CC": 3}
    rrows = {r["state"]: r for r in rollup.collect()}
    assert all(rrows[s]["equivalent"] is None for s in ("AA", "BB", "CC"))

    # partition layout on disk + pruning in the plan: a state filter must
    # become a PartitionFilter on the scan (reads one directory at scale)
    assert os.path.isdir(os.path.join(out, "state=AA"))
    pruned = back.filter(back["state"] == "AA")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "= AA)" in plan
    assert "(3) Filter" not in plan  # absorbed by the scan, no residual

    # derived measures survived orchestration (FR Lunch ADP = (free+red)/days)
    a0 = back.filter(
        (back["state"] == "AA") & (back["school name"] == "AA School 0")
    ).collect()[0]
    assert a0["FR Lunch ADP"] == 6.0
    assert a0["NCES ID"] == "000100"


@pytest.mark.slow
def test_multistate_qa_rollup_and_exit(spark, manifest_dir, capsys):
    """Golden QA: passing states PASS; a seeded mismatch FAILs the run with
    non-zero exit and a printed qa_diff sample naming the bad row."""
    from data_engineering_capstone_project__spark.plans import multistate as ms

    d, mpath = manifest_dir
    specs, out = ms.load_manifest(mpath)

    # build goldens from the real per-state outputs, then corrupt CC's
    combined, _ = ms.run_multistate(spark, specs)
    goldens = {}
    for st in ("AA", "BB", "CC"):
        g = combined.filter(combined["state"] == st).drop("state")
        if st == "CC":
            g = g.withColumn(
                "NCES ID",
                g["NCES ID"].substr(1, 3),  # seeded corruption
            )
        gp = os.path.join(d, f"golden_{st.lower()}")
        g.write.mode("overwrite").parquet(gp)
        goldens[st] = gp

    with open(mpath) as f:
        doc = json.load(f)
    for ent in doc["states"]:
        ent["golden"] = goldens[ent["state"]]
    mpath2 = os.path.join(d, "manifest_golden.json")
    with open(mpath2, "w") as f:
        json.dump(doc, f)

    rc = ms.main(["--manifest", mpath2, "--diff-sample", "3"])
    outtext = capsys.readouterr().out
    assert rc == 2
    assert "PASS AA" in outtext and "PASS BB" in outtext
    assert "FAIL CC" in outtext
    assert "1/3 states failed QA" in outtext
    # the diff sample shows *which* rows differ, on both sides
    assert "produced-only" in outtext and "golden-only" in outtext


def test_multistate_rollup_single_job_and_qa_gated_write(spark, manifest_dir):
    """The rollup must be ONE collected action (one qa_vs_golden grouped
    by state), and a QA failure must leave the previous output untouched
    (the staged output is published only on QA pass)."""
    from data_engineering_capstone_project__spark.plans import multistate as ms

    d, mpath = manifest_dir
    specs, _ = ms.load_manifest(mpath)

    combined, _ = ms.run_multistate(spark, specs)
    goldens = {}
    for st in ("AA", "BB", "CC"):
        g = combined.filter(combined["state"] == st).drop("state")
        gp = os.path.join(d, f"golden1j_{st.lower()}")
        g.write.mode("overwrite").parquet(gp)
        goldens[st] = gp
    specs_g = [
        ms.StateSpec(
            state=s.state, lunch=s.lunch, breakfast=s.breakfast,
            dict1=s.dict1, dict2=s.dict2, golden=goldens[s.state],
        )
        for s in specs
    ]

    # ONE driver action for the whole 3-state QA rollup (one grouped
    # qa_vs_golden over the state-tagged plan) — job counts are
    # meaningless under AQE (one action fans into a job per query stage),
    # so count actions directly. Plan construction (one dictionary
    # collect) happens first, outside the counted window.
    combined = ms.build_delivery(spark, specs_g)
    dfcls = type(spark.range(1))  # concrete class (classic vs connect)
    actions: list[str] = []
    orig_collect, orig_count = dfcls.collect, dfcls.count

    def counted_collect(self):
        actions.append("collect")
        return orig_collect(self)

    def counted_count(self):
        actions.append("count")
        return orig_count(self)

    dfcls.collect = counted_collect
    dfcls.count = counted_count
    try:
        rows = ms.qa_rollup_rows(spark, specs_g, combined)
    finally:
        dfcls.collect = orig_collect
        dfcls.count = orig_count
    assert actions == ["collect"]  # one rollup action, zero per-state jobs
    assert all(r[4] for r in rows)

    # QA-gated write: corrupt one golden, point output at a fresh path —
    # the failing run must NOT create/replace it
    bad = spark.read.parquet(goldens["CC"]).withColumn(
        "NCES ID", F_substr_3("NCES ID")
    )
    badp = os.path.join(d, "golden1j_cc_bad")
    bad.write.mode("overwrite").parquet(badp)
    specs_bad = [
        s if s.state != "CC"
        else ms.StateSpec(
            state=s.state, lunch=s.lunch, breakfast=s.breakfast,
            dict1=s.dict1, dict2=s.dict2, golden=badp,
        )
        for s in specs_g
    ]
    out2 = os.path.join(d, "gated_out")
    _, rollup2 = ms.run_multistate(spark, specs_bad, output_path=out2)
    assert any(r["equivalent"] is False for r in rollup2.collect())
    assert not os.path.exists(out2)  # previous output never clobbered
    # explicit override still writes
    ms.run_multistate(spark, specs_bad, output_path=out2, write_on_qa_fail=True)
    assert os.path.isdir(out2)


def F_substr_3(col):
    from pyspark.sql import functions as F

    return F.col(col).substr(1, 3)


def test_manifest_validation(spark, manifest_dir):
    from data_engineering_capstone_project__spark.plans.multistate import (
        load_manifest,
    )

    d, _ = manifest_dir
    bad = os.path.join(d, "bad_manifest.json")
    with open(bad, "w") as f:
        json.dump({"states": [{"state": "XX"}]}, f)
    with pytest.raises(ValueError, match="missing"):
        load_manifest(bad)
    with open(bad, "w") as f:
        json.dump({"states": []}, f)
    with pytest.raises(ValueError, match="no 'states'"):
        load_manifest(bad)


def _tree(path):
    """{relative path: bytes} of every file under ``path``."""
    out = {}
    for dp, _, fs in os.walk(path):
        for f in fs:
            full = os.path.join(dp, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = fh.read()
    return out


def _staging_left(out):
    parent, base = os.path.split(out)
    return [n for n in os.listdir(parent) if n.startswith(f".{base}.staging")]


@pytest.fixture(scope="module")
def gated_specs(spark, manifest_dir):
    """(specs with passing goldens, the same with CC's golden corrupted);
    the goldens are the delivery's own per-state output."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from data_engineering_capstone_project__spark.plans import multistate as ms

    d, mpath = manifest_dir
    specs, _ = ms.load_manifest(mpath)
    gdir = os.path.join(d, "gate_goldens")
    ms.build_delivery(spark, specs).write.mode("overwrite").partitionBy(
        "state"
    ).parquet(gdir)
    good = [replace(s, golden=os.path.join(gdir, f"state={s.state}")) for s in specs]
    badp = os.path.join(d, "gate_golden_cc_bad")
    spark.read.parquet(good[2].golden).withColumn(
        "NCES ID", F.col("NCES ID").substr(1, 3)
    ).write.mode("overwrite").parquet(badp)
    return good, [*good[:2], replace(good[2], golden=badp)]


def test_qa_failure_keeps_previous_output(spark, manifest_dir, gated_specs):
    """A QA-failing run leaves the previous output byte-identical and no
    staging directory behind; ``write_on_qa_fail=True`` still publishes."""
    from data_engineering_capstone_project__spark.plans import multistate as ms

    d, _ = manifest_dir
    good, bad = gated_specs
    out = os.path.join(d, "gate_out_fail")
    _, rollup = ms.run_multistate(spark, good, output_path=out)
    assert all(r["equivalent"] for r in rollup.collect())
    before = _tree(out)
    assert sum(f.endswith(".parquet") for f in before) == 3  # one per state

    _, rollup = ms.run_multistate(spark, bad, output_path=out)
    assert [r["state"] for r in rollup.collect() if r["equivalent"] is False] == ["CC"]
    assert _tree(out) == before
    assert _staging_left(out) == []

    ms.run_multistate(spark, bad, output_path=out, write_on_qa_fail=True)
    after = _tree(out)
    assert after != before and sum(f.endswith(".parquet") for f in after) == 3
    assert _staging_left(out) == []


def test_crash_before_publish_keeps_previous_output(
    spark, manifest_dir, gated_specs, monkeypatch
):
    """An exception between the staged write and the publish leaves the
    previous output intact and removes the staging directory."""
    from data_engineering_capstone_project__spark.plans import multistate as ms

    d, _ = manifest_dir
    good, _ = gated_specs
    out = os.path.join(d, "gate_out_crash")
    ms.run_multistate(spark, good, output_path=out)
    before = _tree(out)

    def crash(*_a, **_k):
        assert len(_staging_left(out)) == 1  # the staged write happened
        raise RuntimeError("injected crash before publish")

    monkeypatch.setattr(ms, "qa_rollup_rows", crash)
    with pytest.raises(RuntimeError, match="injected"):
        ms.run_multistate(spark, good, output_path=out)
    assert _tree(out) == before
    assert _staging_left(out) == []


def test_65_state_delivery_job_bound_and_parity(spark, tmp_path):
    """The paper's 65-state shape, a few rows per state, one state with
    extra undictionaried columns and one with its own dictionary: the
    delivery launches a bounded number of jobs, and each state's written
    rows equal that state run alone through ``run_reference_pipeline``."""
    from concurrent.futures import ThreadPoolExecutor

    from data_engineering_capstone_project__spark.plans import multistate as ms
    from data_engineering_capstone_project__spark.plans.pipeline import (
        run_reference_pipeline,
    )

    d = str(tmp_path)
    dict1 = _write_tsv(d, "dict1.tsv", DICT_HEADER, DICT1_ROWS)
    dict2 = _write_tsv(d, "dict2.tsv", DICT_HEADER, DICT2_ROWS)
    # S07 keeps OLD_COL under a clean name instead of dropping it
    own = _write_tsv(
        d, "dict1_s07.tsv", DICT_HEADER,
        [(*r[:2], "Legacy Column", "") if r[1] == "OLD_COL" else r for r in DICT1_ROWS],
    )
    specs = []
    for i in range(65):
        st = f"S{i:02d}"
        lunch, brkf = _state_rows(st, n=2)
        lunch = [(*r[:5], str(int(r[5]) + i), *r[6:]) for r in lunch]
        lh = LUNCH_HEADER
        if i == 3:
            lh = [*LUNCH_HEADER, "EXTRA_A", "EXTRA_B"]
            lunch = [(*r, "x", "y") for r in lunch]
        specs.append(
            ms.StateSpec(
                st,
                _write_tsv(d, f"{st}_lunch.tsv", lh, lunch),
                _write_tsv(d, f"{st}_breakfast.tsv", BRKF_HEADER, brkf),
                own if i == 7 else dict1,
                dict2,
            )
        )
    out = os.path.join(d, "out")
    sc = spark.sparkContext
    sc.setJobGroup("multistate_65", "65-state delivery")
    try:
        ms.run_multistate(spark, specs, output_path=out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("multistate_65"))
    assert jobs <= 20, jobs

    written = spark.read.parquet(out)
    got: dict[str, list] = {}
    for r in written.collect():
        got.setdefault(r["state"], []).append(r.asDict())

    def alone(s):
        final = run_reference_pipeline(spark, s.lunch, s.breakfast, s.dict1, s.dict2)[0]
        return s.state, final.columns, final.collect()

    with ThreadPoolExecutor(4) as pool:
        results = list(pool.map(alone, specs))
    assert len(got) == 65 and all(len(v) == 2 for v in got.values())
    for st, cols, rows in results:
        extra = [c for c in written.columns if c not in cols and c != "state"]
        assert all(r[c] is None for r in got[st] for c in extra), st
        assert sorted(tuple(r[c] for c in cols) for r in got[st]) == sorted(
            tuple(r) for r in rows
        ), st
    cols_of = {st: cols for st, cols, _ in results}
    assert "Legacy Column" in cols_of["S07"] and "Legacy Column" not in cols_of["S00"]
    assert "EXTRA_A" not in written.columns
    # Unique ID keeps the reference's 'WI' prefix in every state
    assert {r["Unique ID"][:3] for v in got.values() for r in v} == {"WI-"}


def test_missing_derive_input_refused(spark, manifest_dir, tmp_path):
    """A state whose dictionary leaves SCHOOL_NAME unrenamed has no
    ``school name`` after cleaning: the delivery refuses it by name
    instead of reading NULL for it through the by-name union."""
    from dataclasses import replace

    from data_engineering_capstone_project__spark.plans import multistate as ms

    d, mpath = manifest_dir
    specs, _ = ms.load_manifest(mpath)
    rows = [(*r[:2], "SCHOOL_NAME", "") if r[1] == "SCHOOL_NAME" else r for r in DICT1_ROWS]
    own = _write_tsv(str(tmp_path), "dict1_keep_name.tsv", DICT_HEADER, rows)
    bad = [specs[0], replace(specs[1], dict1=own)]
    out = os.path.join(str(tmp_path), "out")
    with pytest.raises(ValueError, match=r"\['BB'\]: cleaned lunch file lacks \['school name'\]"):
        ms.run_multistate(spark, bad, output_path=out)
    assert not os.path.exists(out) and _staging_left(out) == []


def test_remote_paths_refused_and_file_uri_output(spark, manifest_dir, tmp_path):
    """Inputs and output are local: another scheme raises before any plan
    is built, and a ``file:`` URI output lands at its local path."""
    from dataclasses import replace

    from data_engineering_capstone_project__spark.plans import multistate as ms

    d, mpath = manifest_dir
    specs, _ = ms.load_manifest(mpath)
    for url in ("s3a://bucket/out", "hdfs://nn/out"):
        with pytest.raises(ValueError, match="only local paths"):
            ms.run_multistate(spark, specs, output_path=url)
    with pytest.raises(ValueError, match="only local paths"):
        ms.run_multistate(spark, [replace(specs[0], lunch="s3a://bucket/l.tsv")])
    with open(mpath) as f:
        doc = json.load(f)
    doc["states"][0]["breakfast"] = "hdfs://nn/b.tsv"
    remote = os.path.join(str(tmp_path), "remote.json")
    with open(remote, "w") as f:
        json.dump(doc, f)
    with pytest.raises(ValueError, match="only local paths"):
        ms.load_manifest(remote)

    out = os.path.join(str(tmp_path), "uri_out")
    ms.run_multistate(spark, specs[:1], output_path=f"file://{out}")
    assert os.path.isdir(os.path.join(out, "state=AA"))
    assert _staging_left(out) == []


def test_read_tsv_tagged_paths(spark, tmp_path, monkeypatch):
    """Tags come from each row's file path, also for names Spark reports
    URL-encoded; a file mapped to two values yields its rows twice, and a
    row whose path matches no key fails the job instead of vanishing."""
    from data_engineering_capstone_project__spark.sources import io as io_mod

    d = os.path.join(str(tmp_path), "dir with space")
    os.makedirs(d)
    a = _write_tsv(d, "a b+c%1.tsv", ["X"], [("1",), ("2",)])
    b = _write_tsv(d, "ü.tsv", ["X"], [("3",)])
    tagged = io_mod.read_tsv_tagged(spark, {a: ["S1"], b: ["S2", "S3"]}, ["X"], "state")
    assert sorted((r["X"], r["state"]) for r in tagged.collect()) == [
        ("1", "S1"), ("2", "S1"), ("3", "S2"), ("3", "S3"),
    ]
    # one file, one value: the same lookup
    one = io_mod.read_tsv_tagged(spark, {f"file://{a}": ["S1"]}, ["X"], "state")
    assert [r["state"] for r in one.collect()] == ["S1", "S1"]

    monkeypatch.setattr(io_mod, "local_path", lambda p: "/elsewhere" + p)
    with pytest.raises(Exception, match="no state for input file"):
        io_mod.read_tsv_tagged(spark, {a: ["S1"]}, ["X"], "state").collect()


def test_read_golden_schema_is_sparks(spark, tmp_path):
    """``read_golden`` gives the schema Spark infers: from the footer with
    no Spark job for plain types, and through Spark's own inference for
    types whose mapping follows reader settings (tz-naive timestamps,
    binary under binaryAsString, unsigned ints)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_capstone_project__spark.plans.qa import read_golden

    plain = os.path.join(str(tmp_path), "plain.parquet")
    pq.write_table(
        pa.table({
            "n": pa.array([1], pa.int64()), "x": pa.array([0.5]), "s": ["a"],
            "d": pa.array([dt.date(2020, 1, 1)]), "flag": [True],
        }),
        plain,
    )
    sc = spark.sparkContext
    sc.setJobGroup("read_golden_plain", "footer schema")
    try:
        got = read_golden(spark, plain)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("read_golden_plain") == []
    assert got.dtypes == spark.read.parquet(plain).dtypes

    tricky = os.path.join(str(tmp_path), "tricky.parquet")
    pq.write_table(
        pa.table({
            "ts": pa.array([dt.datetime(2020, 1, 1, 12)], pa.timestamp("us")),
            "u": pa.array([7], pa.uint32()),
            "bin": pa.array([b"ab"], pa.binary()),
        }),
        tricky,
    )
    assert read_golden(spark, tricky).dtypes == spark.read.parquet(tricky).dtypes
    assert dict(read_golden(spark, tricky).dtypes)["ts"] == "timestamp_ntz"
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        assert dict(read_golden(spark, tricky).dtypes)["bin"] == "string"
    finally:
        spark.conf.set(key, prev)
