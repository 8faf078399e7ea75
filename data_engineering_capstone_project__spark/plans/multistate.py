"""Multi-state batch orchestration — the reference's real operating shape.

The reference script processes ONE state's file set per run, but its
operating contract is "datasets from 65 states and each state has 4-6 data
sets" (``Read.md:1``; PDF slide 31 "can be [extended to] 40 states"). This
module is that product: a manifest lists every state's raw files (plus
dictionary templates, shared or per-state), and one invocation cleans,
derives, and assembles all of them into a single state-partitioned parquet
dataset with a per-state QA rollup.

Manifest (JSON)::

    {
      "dict1": "template1.tsv",          # shared defaults (per-state
      "dict2": "template2.tsv",          #  overrides allowed)
      "output": "/path/final_parquet",   # partitioned by `state`
      "states": [
        {"state": "WI", "lunch": "wi_lunch.tsv",
         "breakfast": "wi_breakfast.tsv",
         "golden": "wi_golden.parquet"},          # optional per-state QA
        {"state": "MN", "lunch": "...", "breakfast": "...",
         "dict1": "mn_template1.tsv"}             # state-specific dict
      ]
    }

Scale posture: the delivery is ONE state-tagged plan, and its Spark job
count does not grow with the state count. Headers are read on the driver;
the files sharing a header and dictionary pair are one all-string scan,
each row tagged with its ``state``, cleaned by a driver-side plan (a
state whose cleaned file lacks a column derive reads is refused before
any data is read), and unioned by name; derive runs once per side, and the linkage
join carries ``state`` as one more key. The output is written once, one
file per ``state`` partition, to a staging directory; QA is one grouped
comparison of the staged parquet with the state-tagged goldens; a rename
publishes it only when QA passes. TSVs, dictionaries and the output must
be local paths or ``file:`` URIs (``ValueError`` otherwise). The CLI exits
non-zero if any state fails, printing a bounded ``qa_diff`` sample from
the staged rows (the reference's INTERSECT-count method says *that*
tables differ, never *where* — ``shareOurStrengthSQLCodev4.sql:1116-1126``).

Spark jobs per delivery (``local[2]``, AQE on, one job group): 8 for
perfbench's 3 states and 9 for 65 (the per-state loop launched 49 and 979):
one dictionary collect, the staged write's stages, the QA collect's stages.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import uuid
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_capstone_project__spark.plans.cleaner import (
    apply_clean_plan,
    build_clean_plan,
    read_dictionaries,
)
from data_engineering_capstone_project__spark.plans.derive import (
    assemble_final,
    derive_breakfast,
    derive_lunch,
    missing_inputs,
)
from data_engineering_capstone_project__spark.plans.qa import (
    print_diff,
    qa_vs_golden,
    read_golden,
)
from data_engineering_capstone_project__spark.sources.io import (
    local_path,
    read_tsv_tagged,
    replace_dir,
    tsv_header,
)

QA_ROLLUP_SCHEMA = (
    "state string, count_a long, count_b long, count_common long, "
    "equivalent boolean, note string"
)


@dataclass(frozen=True)
class StateSpec:
    """One state's file set, resolved against manifest-level defaults."""

    state: str
    lunch: str
    breakfast: str
    dict1: str
    dict2: str
    golden: str | None = None


def load_manifest(path: str) -> tuple[list[StateSpec], str | None]:
    """Parse and validate a manifest file → (state specs, output path)."""
    with open(path) as f:
        doc = json.load(f)
    states_raw = doc.get("states")
    if not states_raw:
        raise ValueError(f"manifest {path} has no 'states' entries")
    specs = []
    seen: set[str] = set()
    for ent in states_raw:
        st = ent.get("state")
        if not st:
            raise ValueError(f"manifest state entry missing 'state': {ent}")
        if st in seen:
            raise ValueError(f"duplicate state {st!r} in manifest")
        seen.add(st)
        missing = [k for k in ("lunch", "breakfast") if not ent.get(k)]
        dict1 = ent.get("dict1", doc.get("dict1"))
        dict2 = ent.get("dict2", doc.get("dict2"))
        missing += [k for k, v in (("dict1", dict1), ("dict2", dict2)) if not v]
        if missing:
            raise ValueError(f"state {st}: missing {missing}")
        for p in (ent["lunch"], ent["breakfast"], dict1, dict2):
            local_path(p)  # ValueError on a remote scheme: these are opened locally
        specs.append(
            StateSpec(
                state=st,
                lunch=ent["lunch"],
                breakfast=ent["breakfast"],
                dict1=dict1,
                dict2=dict2,
                golden=ent.get("golden"),
            )
        )
    return specs, doc.get("output")


def _side(
    spark: SparkSession, specs: list[StateSpec], side: str, prefer: int, dicts: dict
) -> DataFrame:
    """One side (lunch or breakfast) of every state, cleaned and tagged:
    one scan per (header, dictionary pair), unioned by name. Raises if a
    cleaned file lacks a column derive reads (the union would fill NULL)."""
    groups: dict[tuple, dict[str, list[str]]] = {}
    for s in specs:
        path = getattr(s, side)
        key = (tuple(tsv_header(path)), s.dict1, s.dict2)
        groups.setdefault(key, {}).setdefault(path, []).append(s.state)
    frames = []
    for (cols, d1, d2), files in groups.items():
        plan = build_clean_plan(cols, dicts[d1], dicts[d2], prefer=prefer)
        kept = [plan.renames.get(c, c) for c in cols if c not in plan.drops]
        if lack := missing_inputs(side, kept):
            raise ValueError(f"states {sum(files.values(), [])}: cleaned {side} file lacks {lack}")
        frames.append(apply_clean_plan(read_tsv_tagged(spark, files, cols, "state"), plan))
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def build_delivery(spark: SparkSession, specs: list[StateSpec]) -> DataFrame:
    """Every state through the full reference flow (ingest → clean →
    derive → assemble) as one plan tagged with ``state``; building it runs
    one Spark job, the dictionary collect. Template priority mirrors the
    reference asymmetry (SURVEY §1.3): lunch prefers template 1, breakfast
    template 2."""
    dicts = read_dictionaries(spark, [p for s in specs for p in (s.dict1, s.dict2)])
    lunch = derive_lunch(_side(spark, specs, "lunch", 1, dicts))
    breakfast = derive_breakfast(_side(spark, specs, "breakfast", 2, dicts))
    return assemble_final(lunch, breakfast, by=["state"])


def state_final(spark: SparkSession, spec: StateSpec) -> DataFrame:
    """One state's final table, tagged with its ``state``: the 1-state
    case of ``build_delivery``."""
    return build_delivery(spark, [spec])


def qa_rollup_rows(
    spark: SparkSession, specs: list[StateSpec], produced: DataFrame
) -> list[tuple]:
    """Per-state QA report rows in ONE collect: ``produced`` (tagged with
    ``state``) against the state-tagged union of the goldens, one grouped
    ``qa_vs_golden`` per distinct golden schema. Golden-less states get a
    literal skip row driver-side."""
    by_schema: dict[str, list[tuple[str, DataFrame]]] = {}
    for spec in specs:
        if spec.golden is not None:
            g = read_golden(spark, spec.golden)
            by_schema.setdefault(g.schema.json(), []).append((spec.state, g))
    reports = [
        qa_vs_golden(
            produced.filter(F.col("state").isin([st for st, _ in group])),
            reduce(DataFrame.unionAll, [g.select(F.lit(st).alias("state"), "*") for st, g in group]),
            by=["state"],
        )
        for group in by_schema.values()
    ]
    found = (
        {r["state"]: r for r in reduce(DataFrame.unionByName, reports).collect()}
        if reports else {}
    )
    rows = []
    for spec in specs:
        r = found.get(spec.state)
        if spec.golden is None:
            rows.append((spec.state, None, None, None, None, "no golden; QA skipped"))
        elif r is None:  # no rows on either side
            rows.append((spec.state, 0, 0, 0, True, ""))
        else:
            rows.append((spec.state, r["count_a"], r["count_b"], r["count_common"],
                         bool(r["equivalent"]), r["note"]))
    return rows


def run_multistate(
    spark: SparkSession,
    specs: list[StateSpec],
    output_path: str | None = None,
    write_on_qa_fail: bool = False,
    diff_sample: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Run every state's pipeline; return (combined final, QA rollup).

    The combined final is the lazy plan of ``build_delivery``. The rollup
    has one row per state: counts + equivalence where a golden exists, a
    skip note where none does. ``diff_sample > 0`` prints that many
    differing rows per side for each failing state.

    With ``output_path`` (a local path or ``file:`` URI), the plan is
    written once, one file per ``state`` partition, to a staging directory
    beside it; QA reads the staged parquet in one collect, and a rename
    publishes it only when no state failed (or ``write_on_qa_fail``). A
    failing or interrupted run leaves the previous output as it was and no
    staging directory behind. Without it, QA runs over the lazy plan.
    """
    out = local_path(output_path) if output_path else None
    combined = build_delivery(spark, specs)
    if not out:
        rows = qa_rollup_rows(spark, specs, combined)
        print_qa_failures(spark, specs, rows, combined, diff_sample)
        return combined, spark.createDataFrame(rows, QA_ROLLUP_SCHEMA)
    # the staged dataset's own name is not hidden (Spark ignores hidden
    # input paths); its parent is, so readers of out's parent skip it
    tmp = os.path.join(
        os.path.dirname(out), f".{os.path.basename(out)}.staging-{uuid.uuid4().hex[:12]}"
    )
    staging = os.path.join(tmp, "data")
    try:
        combined.repartition("state").write.mode("overwrite").partitionBy(
            "state"
        ).parquet(staging)
        staged = spark.read.schema(combined.schema).parquet(staging)
        rows = qa_rollup_rows(spark, specs, staged)
        print_qa_failures(spark, specs, rows, staged, diff_sample)
        if write_on_qa_fail or not any(r[4] is False for r in rows):
            replace_dir(staging, out, os.path.join(tmp, "previous"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return combined, spark.createDataFrame(rows, QA_ROLLUP_SCHEMA)


def print_qa_failures(
    spark: SparkSession, specs: list[StateSpec], rollup_rows, produced: DataFrame,
    sample: int = 5,
) -> None:
    """For each failed state, print up to ``sample`` differing rows per
    side (A = produced-only, B = golden-only), read from ``produced``
    (the staged output, or the lazy plan when nothing is written)."""
    goldens = {s.state: s.golden for s in specs}
    for state, _, _, _, equivalent, note in rollup_rows if sample > 0 else ():
        if equivalent is False:
            print(f"state {state}: QA FAILED ({note or 'row mismatch'})")
            if not note:  # a schema-level mismatch is explained by its note
                print_diff(produced.filter(F.col("state") == state),
                           read_golden(spark, goldens[state]), sample)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--out", default=None, help="override manifest output")
    ap.add_argument(
        "--diff-sample", type=int, default=5,
        help="differing rows to print per side on QA failure",
    )
    args = ap.parse_args(argv)

    from data_engineering_capstone_project__spark.session import get_spark

    spark = get_spark(app_name="multistate_pipeline")
    specs, manifest_out = load_manifest(args.manifest)
    out = args.out or manifest_out
    _, rollup = run_multistate(spark, specs, output_path=out, diff_sample=args.diff_sample)
    rows = sorted(rollup.collect(), key=lambda r: r["state"])
    for r in rows:
        status = "SKIP" if r["equivalent"] is None else "PASS" if r["equivalent"] else "FAIL"
        counts = (
            f" a={r['count_a']} b={r['count_b']} common={r['count_common']}"
            if r["count_a"] is not None else ""
        )
        note = f" note={r['note']}" if r["note"] else ""
        print(f"{status:4s} {r['state']}{counts}{note}")
    failed = [r for r in rows if r["equivalent"] is False]
    if failed:
        print(f"{len(failed)}/{len(rows)} states failed QA")
        if out:
            print(f"output write to {out} skipped (QA gate)")
        return 2
    if out:
        print(f"wrote {out} (partitioned by state, {len(rows)} states)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
