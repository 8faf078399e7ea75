"""Cleaning-planner tests mirroring FIXTURES.md A1 coverage: name only in
template 1, only in 2, in both (priority), NULL clean name, NOT USED, and a
clean name mapped from two raw names (excluded from rename)."""

import pytest

from data_engineering_capstone_project__spark.plans.cleaner import (
    apply_clean_plan,
    build_clean_plan,
)

DICT_SCHEMA = (
    "raw_data_column string, raw_data_column_name string, "
    "equivalent_clean_data_name string, notes string"
)


def _dicts(spark):
    d1 = spark.createDataFrame(
        [
            ("c1", "only_in_1", "Clean One", None),
            ("c2", "in_both", "From T1", None),
            ("c3", "null_clean", None, "no mapping"),
            ("c4", "not_used_col", "THIS IS NOT USED HERE", None),
            ("c5", "dup_a", "Duplicated Clean", None),
            ("c6", "dup_b", "Duplicated Clean", None),
        ],
        DICT_SCHEMA,
    )
    d2 = spark.createDataFrame(
        [
            ("c7", "only_in_2", "Clean Two", None),
            ("c8", "in_both", "From T2", None),
        ],
        DICT_SCHEMA,
    )
    return d1.collect(), d2.collect()


def test_plan_rules(spark):
    d1, d2 = _dicts(spark)
    cols = [
        "only_in_1", "only_in_2", "in_both", "null_clean",
        "not_used_col", "dup_a", "dup_b", "undictionaried",
    ]
    plan = build_clean_plan(cols, d1, d2, prefer=1)
    assert set(plan.drops) == {"null_clean", "not_used_col", "undictionaried"}
    assert plan.renames == {
        "only_in_1": "Clean One",
        "only_in_2": "Clean Two",
        "in_both": "From T1",  # prefer=1 wins
    }
    # dup_a/dup_b map to the same clean name -> kept but NOT renamed
    assert "dup_a" not in plan.renames and "dup_a" not in plan.drops


def test_prefer_template_2(spark):
    d1, d2 = _dicts(spark)
    plan = build_clean_plan(["in_both"], d1, d2, prefer=2)
    assert plan.renames == {"in_both": "From T2"}


def test_apply_plan_strict_reference_mode(spark):
    """strict=True carries ONLY renamed columns + row id (the reference's
    fold-join semantics, SURVEY §2.2 P5)."""
    d1, d2 = _dicts(spark)
    cols = ["only_in_1", "dup_a", "dup_b"]
    df = spark.createDataFrame(
        [("v1", "d", "e", 1)],
        "only_in_1 string, dup_a string, dup_b string, row_num long",
    )
    plan = build_clean_plan(cols, d1, d2)
    out = apply_clean_plan(df, plan, row_id_col="row_num", strict=True)
    assert out.columns == ["Clean One", "row_num"]


def test_probe_header(spark, tmp_path):
    from data_engineering_capstone_project__spark.sources.io import probe_header

    p = tmp_path / "probe.tsv"
    p.write_text('"col a"\tcol_b\tcol c\nv1\tv2\tv3\n')
    assert probe_header(spark, str(p)) == ["col a", "col_b", "col c"]


def test_apply_plan_single_projection(spark):
    d1, d2 = _dicts(spark)
    cols = ["only_in_1", "null_clean", "dup_a", "dup_b", "row_num"]
    df = spark.createDataFrame(
        [("v1", "junk", "d", "e", 1)],
        "only_in_1 string, null_clean string, dup_a string, dup_b string, row_num long",
    )
    plan = build_clean_plan(cols[:-1], d1, d2)
    out = apply_clean_plan(df, plan, row_id_col="row_num")
    assert out.columns == ["Clean One", "dup_a", "dup_b", "row_num"]
    assert out.collect()[0]["Clean One"] == "v1"


def test_clean_corpus_pipeline(spark):
    """End-to-end corpus cleaning: filters + mask + dedup + stable split."""
    from data_engineering_capstone_project__spark.plans.corpus import (
        CorpusConfig,
        clean_corpus,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog sat in the old house for a while that "
                "rainy day to watch the birds of the garden in full song"),
            (2, "the cat and the dog sat in the old house for a while that "
                "rainy day to watch the birds of the garden in full song"),  # exact dup of 1
            (3, "der hund und die katze ist nicht ein zu der und das haus "
                "und die alte stadt ist nicht zu der ein und das"),  # German
            (4, "spam spam spam spam spam spam spam spam spam spam spam"),  # repetitive
            (5, "reach me at jane@corp.example.com about the offer that is "
                "good for you and the team of the office in early may"),
        ],
        "doc_id long, text string",
    )
    train, test, report = clean_corpus(
        docs, CorpusConfig(test_fraction=0.5, min_quality=0.0)
    )
    out = train.unionByName(test)
    ids = {r["doc_id"] for r in out.collect()}
    assert 2 not in ids       # exact dup purged (1 survives)
    assert 1 in ids
    assert 3 not in ids       # language filter
    assert 4 not in ids       # repetition filter
    masked = {r["doc_id"]: r["text"] for r in out.collect()}
    assert "<EMAIL>" in masked[5] and "@" not in masked[5]
    # split partitions the survivors
    assert ids == {r["doc_id"] for r in train.collect()} | {
        r["doc_id"] for r in test.collect()
    }
    assert train.count() + test.count() == len(ids)
    rep = report.collect()[0]
    assert rep["n_input"] == 5 and rep["n_cleaned"] == len(ids)


@pytest.mark.slow
def test_clean_corpus_near_dedup_path(spark):
    from data_engineering_capstone_project__spark.plans.corpus import (
        CorpusConfig,
        clean_corpus,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "to the old green hill where it rests for the day in peace"
    )
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("green", "blue")),  # near-dup of 1
            (3, "completely different content about the weather in the city "
                "for all of the people that like to know more of it today"),
        ],
        "doc_id long, text string",
    )
    train, test, _ = clean_corpus(
        docs,
        CorpusConfig(
            near_dedup=True,
            minhash_threshold=0.6,
            min_quality=0.0,
            test_fraction=0.0,
        ),
    )
    ids = {r["doc_id"] for r in train.unionByName(test).collect()}
    assert ids == {1, 3}  # 2 clustered with 1, representative kept
