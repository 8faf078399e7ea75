"""The reference's end-user deliverable as a callable pipeline + CLI.

A user of the reference runs one T-SQL script over (a) two data-dictionary
TSVs and (b) raw state TSV extracts, producing the final wide table plus a
QA comparison against a golden file (shareOurStrengthSQLCodev4.sql, whole
file). This module is that product on Spark: point it at the same files.

    python -m data_engineering_capstone_project__spark.plans.pipeline \
        --lunch lunch.tsv --breakfast breakfast.tsv \
        --dict1 template1.tsv --dict2 template2.tsv \
        --out /path/final_parquet [--golden golden.parquet]

Scale posture: the 1-state case of ``plans.multistate.build_delivery``
(one flow for one or 65 states): dictionaries are read to the driver once;
the raw files stream through one Project each; the only shuffles are the
final record-linkage join and the DISTINCT (see SCALE.md).
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession

from data_engineering_capstone_project__spark.plans.multistate import StateSpec, state_final
from data_engineering_capstone_project__spark.plans.qa import (
    print_diff,
    qa_vs_golden,
    read_golden,
)
from data_engineering_capstone_project__spark.sources.io import write_parquet


def run_reference_pipeline(
    spark: SparkSession,
    lunch_path: str,
    breakfast_path: str,
    dict1_path: str,
    dict2_path: str,
    output_path: str | None = None,
    golden_path: str | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Full reference flow: ingest → clean → derive → assemble (→ write,
    → QA vs golden). Returns (final_df, qa_report_or_None).

    Template priority mirrors the reference asymmetry (SURVEY §1.3): the
    breakfast file prefers template 2, the lunch file template 1.
    """
    spec = StateSpec("", lunch_path, breakfast_path, dict1_path, dict2_path)
    final = state_final(spark, spec).drop("state")
    if output_path:
        write_parquet(final, output_path)
    qa = qa_vs_golden(final, read_golden(spark, golden_path)) if golden_path else None
    return final, qa


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--lunch", required=True)
    ap.add_argument("--breakfast", required=True)
    ap.add_argument("--dict1", required=True)
    ap.add_argument("--dict2", required=True)
    ap.add_argument("--out", default=None)
    ap.add_argument("--golden", default=None)
    ap.add_argument("--show", type=int, default=5, help="rows to print")
    ap.add_argument(
        "--diff-sample", type=int, default=5,
        help="differing rows to print per side when QA fails",
    )
    args = ap.parse_args(argv)

    from data_engineering_capstone_project__spark.session import get_spark

    spark = get_spark(app_name="reference_pipeline")
    final, qa = run_reference_pipeline(
        spark, args.lunch, args.breakfast, args.dict1, args.dict2,
        output_path=args.out, golden_path=args.golden,
    )
    print(f"final table: {final.count()} rows x {len(final.columns)} columns")
    final.show(args.show, truncate=False)
    if qa is not None:
        row = qa.collect()[0]
        note = f" note={row['note']}" if row["note"] else ""
        print(
            f"QA: count_a={row['count_a']} count_b={row['count_b']} "
            f"common={row['count_common']} equivalent={row['equivalent']}{note}"
        )
        if not row["equivalent"]:
            if not row["note"]:  # show *where* the tables differ
                print_diff(final, read_golden(spark, args.golden), args.diff_sample)
            return 2
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
