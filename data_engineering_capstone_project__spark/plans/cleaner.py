"""Dictionary-driven cleaning planner (SURVEY.md §3 entry point 2).

The reference's "autonomous" core: join a file's column names against two
data-dictionary templates, decide which columns to drop (no clean name, or
clean name marked NOT USED) and which to rename (only clean names mapped by
exactly one raw name), then apply. The reference spends ~500 lines of WHILE
loops and dynamic SQL on this (``shareOurStrengthSQLCodev4.sql:99-270`` ×3
files); here the dictionaries are read to the driver once (a few hundred
rows — the data itself is never collected), the plan is pure Python, and it
is applied as ONE select.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping, Sequence
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from data_engineering_capstone_project__spark.sources.io import read_tsv, tsv_header

DICT_COLUMNS = ("raw_data_column_name", "equivalent_clean_data_name")


@dataclass
class CleanPlan:
    """Driver-side rename/drop plan (the reference's #deletecolumns +
    #column_renames plan tables, ``:126-130,:172-191``)."""

    drops: list[str] = field(default_factory=list)
    renames: dict[str, str] = field(default_factory=dict)  # raw -> clean


def read_dictionaries(spark: SparkSession, paths: Iterable[str]) -> dict[str, list[Row]]:
    """Every distinct dictionary TSV, as driver-side rows, in one collect
    (its only Spark job: headers are read on the driver). Each file goes
    through ``read_tsv``, so Spark's CSV semantics hold (an empty cell
    reads as NULL)."""
    paths = list(dict.fromkeys(paths))
    out: dict[str, list[Row]] = {p: [] for p in paths}
    if not paths:
        return out
    frames = [
        read_tsv(spark, p, columns=tsv_header(p)).select(
            F.lit(i).alias("_d"), *DICT_COLUMNS
        )
        for i, p in enumerate(paths)
    ]
    for r in reduce(DataFrame.unionAll, frames).collect():
        out[paths[r["_d"]]].append(r)
    return out


def build_clean_plan(
    columns: Sequence[str],
    dict1: Iterable[Mapping | Row],
    dict2: Iterable[Mapping | Row],
    prefer: int = 1,
    not_used_pattern: str = "%NOT USED%",
) -> CleanPlan:
    """Compute the drop/rename plan for a file's columns. Pure Python, no
    Spark job.

    ``dict1``/``dict2`` are dictionary rows carrying
    ``raw_data_column_name`` and ``equivalent_clean_data_name`` (``Row``s
    from ``read_dictionaries`` or a collect). Each column name is LEFT
    JOINed against both: a raw name listed twice in a dictionary yields
    one candidate per d1×d2 match. ``prefer`` selects which dictionary
    wins when both map a raw name — the reference is asymmetric (file 1
    prefers template 2 ``:100-101``, files 2–3 prefer template 1
    ``:348-349``); we implement coalesce-with-priority (the *intent* — the
    ``:102-103`` dead-branch bug is not replicated).

    Rules (``:126-130`` drop, ``:172-191`` 1:1 rename):
    - clean name NULL or LIKE ``not_used_pattern`` → drop
    - clean names mapped by ≠1 kept raw column → excluded from rename
      (those raw columns are *kept under their raw names* — the reference
      simply doesn't rename them).
    """

    def index(rows) -> dict[str, list[str | None]]:
        m: dict[str, list[str | None]] = {}
        for r in rows:
            m.setdefault(r[DICT_COLUMNS[0]], []).append(r[DICT_COLUMNS[1]])
        return m

    m1, m2 = index(dict1), index(dict2)
    drops, candidates = [], []
    for name in columns:
        for c1 in m1.get(name, [None]):
            for c2 in m2.get(name, [None]):
                first, second = (c1, c2) if prefer == 1 else (c2, c1)
                clean = first if first is not None else second
                if clean is None or _like(clean, not_used_pattern):
                    drops.append(name)
                else:
                    candidates.append((name, clean))
    # 1:1 rule: a clean name used by more than one raw column is not renamed
    counts: dict[str, int] = {}
    for _, clean in candidates:
        counts[clean] = counts.get(clean, 0) + 1
    renames = {raw: clean for raw, clean in candidates if counts[clean] == 1}
    return CleanPlan(drops=drops, renames=renames)


def _like(value: str, pattern: str) -> bool:
    """SQL LIKE with only %-wildcards (what the reference uses).

    Greedy chunk matching: anchor the first chunk as prefix and the last as
    suffix, then find the middle chunks left-to-right strictly between them.
    """
    parts = pattern.split("%")
    if not value.startswith(parts[0]):
        return False
    if len(parts) == 1:
        return value == parts[0]
    if not value.endswith(parts[-1]):
        return False
    pos = len(parts[0])
    end_limit = len(value) - len(parts[-1])
    for mid in parts[1:-1]:
        if not mid:
            continue
        idx = value.find(mid, pos)
        if idx < 0 or idx + len(mid) > end_limit:
            return False
        pos = idx + len(mid)
    return pos <= end_limit


def apply_clean_plan(
    df: DataFrame,
    plan: CleanPlan,
    row_id_col: str | None = None,
    strict: bool = False,
) -> DataFrame:
    """Apply drop+rename as a single Project (the reference's drop loop
    ``:143-154`` + rename fold ``:208-270`` + final copy ``:263-270``).

    Default mode: renamed columns get their clean name; un-dropped
    un-renamed columns are carried under their raw name; ``row_id_col``
    (if present) is carried.

    ``strict=True`` reproduces the reference fold exactly (SURVEY §2.2 P5):
    the output carries ONLY the renamed columns (+ row id) — columns that
    survived the drop but weren't 1:1-renamed are NOT carried forward.
    """
    # SQL text, not Column objects: each F.col costs a py4j round trip of
    # ~1.5 ms, which summed to seconds over a 65-state delivery's scans
    exprs = []
    for c in df.columns:
        if c == row_id_col:
            exprs.append(_quote(c))
        elif c not in plan.drops and (c in plan.renames or not strict):
            exprs.append(f"{_quote(c)} AS {_quote(plan.renames.get(c, c))}")
    return df.selectExpr(*exprs)


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"
