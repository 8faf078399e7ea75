"""Derived-column catalog D1–D14 + pipeline assembly (SURVEY.md §2.8, §3 EP3).

The reference materializes each derived column into its own temp table keyed
by row_num and re-joins six times at the end (``shareOurStrengthSQLCodev4.sql
:1048-1076``) — a hand-rolled columnar assembly. Here every derivation is a
``Column`` expression applied in ONE ``select`` per side (lunch, breakfast),
then a single record-linkage join + ``distinct`` (``:1079-1089``). Catalyst
plans Project → SortMergeJoin → HashAggregate(distinct).

Reference-bug policy (SURVEY §1.3): implement the documented *intent*, not
the bug — ``School_Year = 17-18 WHERE = NULL`` (``:951``) becomes
``when(isNull, '17-18')``; the dead ``= NULL`` CASE branch at ``:1004``
becomes ``.isNull()``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_engineering_capstone_project__spark.functions.fx import (
    null_if_zero,
    pad_key,
    try_double,
    tsql_concat,
)
from data_engineering_capstone_project__spark.operators.relational import linkage_join


def d1_school_type_original(public: Column, school_type: Column) -> Column:
    """D1 (``:800-811``): 4-way recode of (PUBLIC × SCHOOL TYPE=RCCI)."""
    is_rcci = school_type == "RCCI"
    return (
        F.when((public == "YES") & ~is_rcci, "Public")
        .when((public == "NO") & ~is_rcci, "Nonpublic")
        .when((public == "YES") & is_rcci, "Public RCCI")
        .when((public == "NO") & is_rcci, "Nonpublic RCCI")
    )


def d2_breakfast_delivery_model(df_cols: dict[str, Column]) -> Column:
    """D2 (``:817-825``): labeled concat of six model flags, NULL→''."""
    return tsql_concat(
        "O=", df_cols["TRADITIONAL_MODEL"], ", P=", df_cols["MID_MORNING_MODEL"],
        ", Q=", df_cols["CLASSROOM_MODEL"], ", R=", df_cols["REDUCED_PRICE_MODEL"],
        ", S=", df_cols["GRAB_N_GO_MODEL"], ", T=", df_cols["FREE_MODEL"],
    )


def d3_fr_meals(free: Column, reduced: Column) -> Column:
    """D3/D5 (``:873,:894``): free+reduced as floats (NULL-propagating)."""
    return try_double(free) + try_double(reduced)


def d4_adp(meals: Column, operating_days: Column) -> Column:
    """D4/D6 (``:885,:904``): average daily participation ratio.

    T-SQL would error on 0 days; engine yields NULL (explicit NULLIF intent).
    """
    return meals / null_if_zero(try_double(operating_days))


def d7_unique_id(school_id: Column, district_id: Column, state: str = "WI") -> Column:
    """D7 (``:914-919``): CONCAT(state,'-','0',SchoolID,'-',DistrictID).

    ``derive_lunch`` keeps the reference's literal 'WI' prefix for every
    state (parity with the single-state script and its oracles), so in a
    multi-state delivery the key unique across states is
    ``(state, Unique ID)``, not ``Unique ID`` alone."""
    return tsql_concat(state, "-", "0", school_id, "-", district_id)


def d8_nces_id(district_id: Column) -> Column:
    """D8 (``:930-936``): district id zero-padded to 6."""
    return pad_key(district_id, 6)


def d9_school_year(school_year: Column, default: str = "17-18") -> Column:
    """D9 (``:945-952``, intent): constant where NULL."""
    return F.when(school_year.isNull(), F.lit(default)).otherwise(school_year)


def d10_target_area() -> Column:
    """D10 (``:959-960``): constant NULL string column."""
    return F.lit(None).cast("string")


def d11_fr_enrollment(enr_free: Column, enr_reduced: Column) -> Column:
    """D11 (``:967-969``)."""
    return try_double(enr_free) + try_double(enr_reduced)


def d12_fr_enrollment_pct(
    cep: Column, fr_enrollment: Column, enr_total: Column,
    lunch_free: Column, lunch_paid: Column,
    lunch_free_and_reduced: Column | None = None,
) -> Column:
    """D12 (``:981-988``): CEP='N' → FR/total; CEP='Y' → free/(free+paid).

    ``lunch_free_and_reduced`` enables the spec-comment-only fallback the
    reference documents but never implemented (``:977-980``, also
    ``:867``): *"if [Lunch Meals-Free] is missing then use [Lunch
    Meals-Free and Reduced] / ([Lunch Meals-Free and Reduced] + [Lunch
    Meals-Paid]), if both null then NULL"*. Left as None (the default)
    the column reproduces the implemented reference behavior exactly —
    a NULL Lunch Meals-Free propagates to a NULL percentage under
    CEP='Y'.
    """
    lf, lp = try_double(lunch_free), try_double(lunch_paid)
    cep_y = lf / null_if_zero(lf + lp)
    if lunch_free_and_reduced is not None:
        lfr = try_double(lunch_free_and_reduced)
        cep_y = F.when(lf.isNotNull(), cep_y).otherwise(
            lfr / null_if_zero(lfr + lp)
        )
    return (
        F.when(cep == "N", fr_enrollment / null_if_zero(try_double(enr_total)))
        .when(cep == "Y", cep_y)
        .otherwise(F.lit(None))
    )


SCHOOL_LEVEL_RECODE = {
    "High School": "High",
    "Elementary/Sec Combined": "Other",
    "RCCI": "Other",
    "Unknown": "Unknown",
    "Elementary School": "Primary",
    "Junior H.S": "Middle/High",
    "Middle School": "Middle",
}

SCHOOL_TYPE_RECODE = {
    "Public": "Public",
    "Nonpublic": "Nonpublic",
    "Public RCCI": "Other",
}


# flag letter ↔ model column, in the reference's O..T order (:817-825)
BREAKFAST_MODEL_FLAGS = [
    ("O", "TRADITIONAL_MODEL"),
    ("P", "MID_MORNING_MODEL"),
    ("Q", "CLASSROOM_MODEL"),
    ("R", "REDUCED_PRICE_MODEL"),
    ("S", "GRAB_N_GO_MODEL"),
    ("T", "FREE_MODEL"),
]


def d15_tracking_std(df_cols: dict[str, Column]) -> Column:
    """D15 "Breakfast Delivery Model from State Agency
    Tracking-Standardized" — spec-comment-only in the reference
    (``shareOurStrengthSQLCodev4.sql:1035-1039`` pseudocode; no T-SQL
    implementation exists): the comma-separated list of model NAMES whose
    Y/N flag is 'Y', in O..T flag order. The spec's two worked examples
    (P alone → "MID_MORNING_MODEL"; P and Q → "MID_MORNING_MODEL,
    CLASSROOM_MODEL") generalize to every flag combination; no flag set →
    NULL (consistent with the other Standardized columns' NULL default).
    ``concat_ws`` skips the non-'Y' (NULL) branches JVM-side."""
    parts = [
        F.when(df_cols[name] == "Y", F.lit(name))
        for _, name in BREAKFAST_MODEL_FLAGS
    ]
    return F.nullif(F.concat_ws(", ", *parts), F.lit(""))


def d13_school_level_std(level: Column) -> Column:
    """D13 (``:996-1015``): 8-branch recode; NULL branch by .isNull() intent."""
    expr = F.when(level.isNull(), "Unknown")
    for k, v in SCHOOL_LEVEL_RECODE.items():
        expr = expr.when(level == k, v)
    return expr.otherwise(F.lit(None))


def d14_school_type_std(school_type: Column) -> Column:
    """D14 (``:1022-1031``): 3-branch recode."""
    expr = None
    for k, v in SCHOOL_TYPE_RECODE.items():
        w = F.when(school_type == k, v)
        expr = w if expr is None else expr.when(school_type == k, v)
    return expr.otherwise(F.lit(None))


_LINK_KEYS = ("school name", "claim date", "district id")

# the cleaned columns each side's derive_* and assemble_final read (without
# intent=True); a cleaned file lacking one cannot go through the flow
DERIVE_INPUTS = {
    "lunch": (
        *_LINK_KEYS, "PUBLIC", "SCHOOL TYPE", "Lunch Meals-Free", "Lunch Meals-Reduced",
        "Lunch Meals-Paid", "Operating Days-Lunch Only", "Enrollment-Free",
        "Enrollment-Reduced", "Enrollment-Total", "CEP (Y/N)", "School ID",
        "School Level-Original",
    ),
    "breakfast": (
        *_LINK_KEYS, "TRADITIONAL_MODEL", "MID_MORNING_MODEL", "CLASSROOM_MODEL",
        "REDUCED_PRICE_MODEL", "GRAB_N_GO_MODEL", "FREE_MODEL", "Breakfast Meals-Free",
        "Breakfast Meals-Reduced", "Operating Days-Breakfast Only", "School Year",
    ),
}


def missing_inputs(side: str, columns: Sequence[str]) -> list[str]:
    """The ``DERIVE_INPUTS[side]`` names absent from ``columns``, matched
    case-insensitively as Spark resolves them by default."""
    have = {c.lower() for c in columns}
    return [c for c in DERIVE_INPUTS[side] if c.lower() not in have]


def derive_lunch(df: DataFrame, intent: bool = False) -> DataFrame:
    """EP3 lunch side (#join1): D1, D3, D4, D7, D8, D11–D14 in one pass.

    Expects the post-clean schema of FIXTURES.md A3 (NSLP lunch file).
    ``Unique ID`` is 'WI'-prefixed whatever the state (see
    ``d7_unique_id``).

    ``intent=True`` additionally honors the reference's spec-comment-only
    D12 fallback (``:977-980``): when a ``Lunch Meals-Free and Reduced``
    column is present, a NULL Lunch Meals-Free under CEP='Y' falls back
    to the combined column instead of propagating NULL. Default False =
    parity with the implemented reference.
    """
    free, red = F.col("Lunch Meals-Free"), F.col("Lunch Meals-Reduced")
    meals = d3_fr_meals(free, red)
    fr_enr = d11_fr_enrollment(F.col("Enrollment-Free"), F.col("Enrollment-Reduced"))
    type_orig = d1_school_type_original(F.col("PUBLIC"), F.col("SCHOOL TYPE"))
    combined = (
        F.col("Lunch Meals-Free and Reduced")
        if intent and "Lunch Meals-Free and Reduced" in df.columns
        else None
    )
    return df.select(
        "*",
        type_orig.alias("School Type-Original"),
        meals.alias("FR Lunch Meals"),
        d4_adp(meals, F.col("Operating Days-Lunch Only")).alias("FR Lunch ADP"),
        d7_unique_id(F.col("School ID"), F.col("district id")).alias("Unique ID"),
        d8_nces_id(F.col("district id")).alias("NCES ID"),
        fr_enr.alias("FR Enrollment"),
        d12_fr_enrollment_pct(
            F.col("CEP (Y/N)"), fr_enr, F.col("Enrollment-Total"),
            F.col("Lunch Meals-Free"), F.col("Lunch Meals-Paid"),
            lunch_free_and_reduced=combined,
        ).alias("FR Enrollment Percentage"),
        d13_school_level_std(F.col("School Level-Original")).alias("School Level-Standardized"),
        d14_school_type_std(type_orig).alias("School Type-Standardized"),
    )


def derive_breakfast(df: DataFrame, intent: bool = False) -> DataFrame:
    """EP3 breakfast side (#join2): D2, D5, D6, D9, D10 in one pass.

    Expects the post-clean schema of FIXTURES.md A2 (SBP breakfast file).

    ``intent=True`` additionally emits the spec-comment-only D15
    "Breakfast Delivery Model from State Agency Tracking-Standardized"
    (``:1035-1039``; never implemented in T-SQL). Default False = parity
    with the implemented reference.
    """
    meals = d3_fr_meals(F.col("Breakfast Meals-Free"), F.col("Breakfast Meals-Reduced"))
    model_cols = {
        name: F.col(name)
        for name in (
            "TRADITIONAL_MODEL", "MID_MORNING_MODEL", "CLASSROOM_MODEL",
            "REDUCED_PRICE_MODEL", "GRAB_N_GO_MODEL", "FREE_MODEL",
        )
    }
    extra = (
        [d15_tracking_std(model_cols).alias(
            "Breakfast Delivery Model from State Agency Tracking-Standardized"
        )]
        if intent
        else []
    )
    return df.select(
        "*",
        d2_breakfast_delivery_model(model_cols).alias(
            "Breakfast Delivery Model from State Agency-Original"
        ),
        meals.alias("FR Breakfast Meals"),
        d4_adp(meals, F.col("Operating Days-Breakfast Only")).alias("FR Breakfast ADP"),
        d9_school_year(F.col("School Year")).alias("School_Year"),
        d10_target_area().alias("Target Area"),
        *extra,
    )


def assemble_final(
    lunch: DataFrame, breakfast: DataFrame, by: Sequence[str] = ()
) -> DataFrame:
    """EP3 final assembly (``:1079-1089``): record-linkage join on
    (school name, claim date, padded district id) + DISTINCT — the
    reference's "64 column" wide table in one join instead of six.

    ``by`` adds exact keys present on both sides (``state`` for a
    multi-state delivery); the breakfast side's copy of each is dropped."""
    b = breakfast
    for c in (*_LINK_KEYS, *by):
        b = b.withColumnRenamed(c, f"b_{c}")
    out = linkage_join(
        lunch,
        b,
        exact_keys=[
            ("school name", "b_school name"),
            ("claim date", "b_claim date"),
            *[(k, f"b_{k}") for k in by],
        ],
        padded_keys=[("district id", "b_district id")],
        distinct=True,
    )
    return out.drop(*[f"b_{k}" for k in by]) if by else out
