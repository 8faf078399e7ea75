"""Independent DuckDB goldens and output checks.

The multistate golden adapts the reference-pipeline oracle
(``__spark_entry__.REF_PIPELINE_SQL``) from inline VALUES to the raw
TSVs read with ``all_varchar=true``, and keeps every column the engine
writes under the engine's own column names, so one golden serves both
the engine's QA gate (``qa_vs_golden``) and the check of the written
dataset.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

from perfbench.gen import MODEL_COLS

LUNCH_OUT = [
    ("SCHOOL_NAME", "school name"),
    ("CLAIM_DATE", "claim date"),
    ("DISTRICT_ID", "district id"),
    ("PUBLIC", "PUBLIC"),
    ("SCHOOL TYPE", "SCHOOL TYPE"),
    ("LUNCH_FREE", "Lunch Meals-Free"),
    ("LUNCH_RED", "Lunch Meals-Reduced"),
    ("LUNCH_PAID", "Lunch Meals-Paid"),
    ("DAYS_LUNCH", "Operating Days-Lunch Only"),
    ("ENR_FREE", "Enrollment-Free"),
    ("ENR_RED", "Enrollment-Reduced"),
    ("ENR_TOT", "Enrollment-Total"),
    ("CEP_FLAG", "CEP (Y/N)"),
    ("SCHOOL_ID", "School ID"),
    ("SCHOOL_LEVEL", "School Level-Original"),
]
BRKF_OUT = [
    ("SCHOOL_NAME", "b_school name"),
    ("CLAIM_DATE", "b_claim date"),
    ("DISTRICT_ID", "b_district id"),
    *[(c, c) for c in MODEL_COLS],
    ("BRKF_FREE", "Breakfast Meals-Free"),
    ("BRKF_RED", "Breakfast Meals-Reduced"),
    ("DAYS_BRKF", "Operating Days-Breakfast Only"),
    ("SCHOOL_YEAR", "School Year"),
]


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def state_golden_sql(
    lunch: str, breakfast: str, lunch_cols: list[str], brkf_cols: list[str]
) -> str:
    """One state's final table (every written column but ``state``)."""

    def read(path, cols):
        spec = ", ".join(f"'{c}': 'VARCHAR'" for c in cols)
        return (
            f"read_csv('{path}', delim='\t', header=true, quote='', "
            f"escape='', columns={{{spec}}})"
        )

    d = lambda c: f"TRY_CAST({_q(c)} AS DOUBLE)"  # noqa: E731
    lsel = ", ".join(f"{_q(r)} AS {_q(c)}" for r, c in LUNCH_OUT)
    bsel = ", ".join(f"{_q(r)} AS {_q(c)}" for r, c in BRKF_OUT)
    cols = [c for _, c in LUNCH_OUT] + [
        "School Type-Original", "FR Lunch Meals", "FR Lunch ADP", "Unique ID",
        "NCES ID", "FR Enrollment", "FR Enrollment Percentage",
        "School Level-Standardized", "School Type-Standardized",
    ] + [c for _, c in BRKF_OUT] + [
        "Breakfast Delivery Model from State Agency-Original",
        "FR Breakfast Meals", "FR Breakfast ADP", "School_Year", "Target Area",
    ]
    models = " || ".join(
        f"'{lbl}' || COALESCE({_q(c)}, '')"
        for lbl, c in zip(
            ["O=", ", P=", ", Q=", ", R=", ", S=", ", T="], MODEL_COLS
        )
    )
    return f"""
WITH lunch AS (SELECT * FROM {read(lunch, lunch_cols)}),
brkf AS (SELECT * FROM {read(breakfast, brkf_cols)}),
dl AS (
  SELECT {lsel},
    CASE WHEN PUBLIC='YES' AND "SCHOOL TYPE"<>'RCCI' THEN 'Public'
         WHEN PUBLIC='NO' AND "SCHOOL TYPE"<>'RCCI' THEN 'Nonpublic'
         WHEN PUBLIC='YES' AND "SCHOOL TYPE"='RCCI' THEN 'Public RCCI'
         WHEN PUBLIC='NO' AND "SCHOOL TYPE"='RCCI' THEN 'Nonpublic RCCI'
    END AS "School Type-Original",
    {d('LUNCH_FREE')} + {d('LUNCH_RED')} AS "FR Lunch Meals",
    ({d('LUNCH_FREE')} + {d('LUNCH_RED')})
      / NULLIF({d('DAYS_LUNCH')}, 0) AS "FR Lunch ADP",
    'WI' || '-' || '0' || COALESCE(SCHOOL_ID, '') || '-'
      || COALESCE(DISTRICT_ID, '') AS "Unique ID",
    right('000000' || DISTRICT_ID, 6) AS "NCES ID",
    {d('ENR_FREE')} + {d('ENR_RED')} AS "FR Enrollment",
    CASE WHEN CEP_FLAG='N' THEN ({d('ENR_FREE')} + {d('ENR_RED')})
                                / NULLIF({d('ENR_TOT')}, 0)
         WHEN CEP_FLAG='Y' THEN {d('LUNCH_FREE')}
                                / NULLIF({d('LUNCH_FREE')} + {d('LUNCH_PAID')}, 0)
         ELSE NULL END AS "FR Enrollment Percentage",
    CASE WHEN SCHOOL_LEVEL IS NULL THEN 'Unknown'
         WHEN SCHOOL_LEVEL='High School' THEN 'High'
         WHEN SCHOOL_LEVEL='Elementary/Sec Combined' THEN 'Other'
         WHEN SCHOOL_LEVEL='RCCI' THEN 'Other'
         WHEN SCHOOL_LEVEL='Unknown' THEN 'Unknown'
         WHEN SCHOOL_LEVEL='Elementary School' THEN 'Primary'
         WHEN SCHOOL_LEVEL='Junior H.S' THEN 'Middle/High'
         WHEN SCHOOL_LEVEL='Middle School' THEN 'Middle'
         ELSE NULL END AS "School Level-Standardized"
  FROM lunch
),
dl2 AS (
  SELECT *,
    CASE WHEN "School Type-Original"='Public' THEN 'Public'
         WHEN "School Type-Original"='Nonpublic' THEN 'Nonpublic'
         WHEN "School Type-Original"='Public RCCI' THEN 'Other'
         ELSE NULL END AS "School Type-Standardized"
  FROM dl
),
db AS (
  SELECT {bsel},
    {models} AS "Breakfast Delivery Model from State Agency-Original",
    {d('BRKF_FREE')} + {d('BRKF_RED')} AS "FR Breakfast Meals",
    ({d('BRKF_FREE')} + {d('BRKF_RED')})
      / NULLIF({d('DAYS_BRKF')}, 0) AS "FR Breakfast ADP",
    CASE WHEN SCHOOL_YEAR IS NULL THEN '17-18' ELSE SCHOOL_YEAR END AS "School_Year",
    CAST(NULL AS VARCHAR) AS "Target Area"
  FROM brkf
)
SELECT DISTINCT {", ".join(_q(c) for c in cols)}
FROM dl2 l JOIN db b
  ON l."school name" = b."b_school name" AND l."claim date" = b."b_claim date"
 AND right('000000' || l."district id", 6) = right('000000' || b."b_district id", 6)
"""


def _header(path: str) -> list[str]:
    with open(path) as f:
        return f.readline().rstrip("\n").split("\t")


def write_goldens(manifest: dict) -> int:
    """Compute every state's golden in DuckDB and write it where the
    manifest points; return the total golden row count."""
    con = duckdb.connect()
    total = 0
    try:
        for st in manifest["states"]:
            sql = state_golden_sql(
                st["lunch"], st["breakfast"], _header(st["lunch"]), _header(st["breakfast"])
            )
            con.execute(f"COPY ({sql}) TO '{st['golden']}' (FORMAT parquet)")
            total += con.execute(
                f"SELECT count(*) FROM read_parquet('{st['golden']}')"
            ).fetchone()[0]
    finally:
        con.close()
    return total


def golden_rows(manifest: dict) -> tuple[list[str], list[tuple]]:
    """(sorted column names incl. ``state``, rows) of all goldens."""
    con = duckdb.connect()
    try:
        first = manifest["states"][0]["golden"]
        cols = sorted(
            [d[0] for d in con.execute(f"SELECT * FROM read_parquet('{first}') LIMIT 0").description]
            + ["state"]
        )
        rows = []
        for st in manifest["states"]:
            sel = ", ".join(
                f"'{st['state']}' AS state" if c == "state" else _q(c) for c in cols
            )
            rows += con.execute(f"SELECT {sel} FROM read_parquet('{st['golden']}')").fetchall()
    finally:
        con.close()
    return cols, rows


def written_rows(out_dir: str, cols: list[str]) -> list[tuple]:
    """Rows of the engine's state-partitioned output, in ``cols`` order."""
    con = duckdb.connect()
    try:
        sel = ", ".join(_q(c) for c in cols)
        return con.execute(
            f"SELECT {sel} FROM read_parquet('{out_dir}/state=*/*.parquet', "
            "hive_partitioning=true, hive_types={'state': 'VARCHAR'})"
        ).fetchall()
    finally:
        con.close()


def duplicate_texts(texts: list[str]) -> int:
    """Number of distinct texts that occur more than once."""
    con = duckdb.connect()
    try:
        con.register("t", pa.table({"text": pa.array(texts, pa.string())}))
        return con.execute(
            "SELECT count(*) FROM (SELECT text FROM t GROUP BY text HAVING count(*) > 1)"
        ).fetchone()[0]
    finally:
        con.close()
