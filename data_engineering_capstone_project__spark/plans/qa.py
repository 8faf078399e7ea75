"""QA / golden-output equivalence (SURVEY.md §5, E1).

The reference's entire test methodology is set-intersection cardinality:
produced ≡ golden iff ``|A| = |B| = |A ∩ B|``
(``shareOurStrengthSQLCodev4.sql:1116-1126``). Implemented as an engine
feature, plus an ``exceptAll`` diff the reference lacks (SURVEY §2.6 E2).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_capstone_project__spark.sources.io import footer_schema


def qa_compare(a: DataFrame, b: DataFrame, by: Sequence[str] = ()) -> DataFrame:
    """One-row report: count_a, count_b, count_common (INTERSECT = set
    semantics, dedups; null fields compare equal, as SQL INTERSECT does).

    Fully lazy single plan: tag each side, union, group once on the whole
    row, aggregate — ONE shuffle + one global agg when collected, instead
    of three separate driver actions (count(a), count(b),
    count(intersect)) each rescanning its input.

    ``by`` makes it one report row per value of those key columns (a
    key present on one side only reports 0 for the other); the rows
    compared are the remaining columns.
    """

    def tagged(df: DataFrame, ia: int) -> DataFrame:
        return df.select(
            *by,
            F.struct(*[F.col(c) for c in df.columns if c not in by]).alias("_r"),
            F.lit(ia).alias("_ia"),
            F.lit(1 - ia).alias("_ib"),
        )

    per_row = tagged(a, 1).unionAll(tagged(b, 0)).groupBy(*by, "_r").agg(
        F.sum("_ia").alias("_na"), F.sum("_ib").alias("_nb")
    )
    return per_row.groupBy(*by).agg(
        F.coalesce(F.sum("_na"), F.lit(0)).alias("count_a"),
        F.coalesce(F.sum("_nb"), F.lit(0)).alias("count_b"),
        F.coalesce(
            F.sum(F.when((F.col("_na") > 0) & (F.col("_nb") > 0), 1).otherwise(0)),
            F.lit(0),
        ).alias("count_common"),
    ).withColumn(
        "equivalent",
        (F.col("count_a") == F.col("count_b"))
        & (F.col("count_b") == F.col("count_common")),
    )


def qa_vs_golden(
    produced: DataFrame, golden: DataFrame, by: Sequence[str] = ()
) -> DataFrame:
    """``qa_compare`` hardened for user-supplied golden files: a golden
    whose columns don't exist in the output (or carry different types)
    yields a clean non-equivalent report with the mismatch in ``note``
    instead of an AnalysisException mid-job.

    Comparison is on the golden's column set (the produced table may carry
    extra derived columns, mirroring the reference QA which compares the
    sponsor's narrower hand-cleaned file). ``by`` groups the report as in
    ``qa_compare``; both sides must carry those columns.

    Fully LAZY in every path — the schema checks read only driver-side
    metadata and the mismatch report is built from count aggregates
    joined in one plan, never eager ``.count()`` actions — so a caller
    collects the report (one row per ``by`` key) in one action
    (``run_multistate``'s per-state rollup).
    """
    cols = [c for c in golden.columns if c not in by]
    missing = [c for c in cols if c not in produced.columns]
    p_types = dict(produced.dtypes)
    mistyped = [
        f"{c} ({p_types[c]} vs {t})"
        for c, t in golden.dtypes
        if c in cols and c in p_types and p_types[c] != t
    ]
    if missing or mistyped:
        notes = []
        if missing:
            notes.append(f"golden columns missing from output: {missing}")
        if mistyped:
            notes.append(f"column type mismatches: {mistyped}")
        ca = produced.groupBy(*by).agg(F.count(F.lit(1)).alias("count_a"))
        cb = golden.groupBy(*by).agg(F.count(F.lit(1)).alias("count_b"))
        joined = ca.join(cb, list(by), "full") if by else ca.crossJoin(cb)
        return joined.select(
            *by,
            F.coalesce("count_a", F.lit(0)).alias("count_a"),
            F.coalesce("count_b", F.lit(0)).alias("count_b"),
            F.lit(0).cast("long").alias("count_common"),
            F.lit(False).alias("equivalent"),
            F.lit("; ".join(notes)).alias("note"),
        )
    report = qa_compare(produced.select(*by, *cols), golden.select(*by, *cols), by)
    return report.withColumn("note", F.lit(""))


def read_golden(spark: SparkSession, path: str) -> DataFrame:
    """A golden parquet file or directory, with its schema read from one
    footer when ``footer_schema`` can (no Spark schema-inference job);
    otherwise Spark infers it."""
    schema = footer_schema(path)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def qa_diff(a: DataFrame, b: DataFrame) -> DataFrame:
    """Multiset diff with a side marker: rows only in A ('A') / only in B
    ('B'). Empty result ⇒ multiset-equal (stronger than the reference's
    INTERSECT-count check)."""
    only_a = a.exceptAll(b).withColumn("side", F.lit("A"))
    only_b = b.exceptAll(a).withColumn("side", F.lit("B"))
    return only_a.unionByName(only_b)


def print_diff(produced: DataFrame, golden: DataFrame, sample: int) -> None:
    """Print up to ``sample`` differing rows per side (first 8 golden
    columns) — the *where*, which the reference's INTERSECT counts
    (``:1116-1126``) never show."""
    for row in qa_diff(produced.select(*golden.columns), golden).limit(2 * sample).collect():
        side = "produced-only" if row["side"] == "A" else "golden-only"
        vals = {k: row[k] for k in golden.columns[:8]}
        print(f"  [{side}] {vals}")
