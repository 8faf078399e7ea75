"""Property-based tests (hypothesis) for the parity-critical helpers.

Pure-Python properties run with full example counts; Spark-evaluated
properties batch all examples into one job to keep the suite fast.
"""

import math
import re

from hypothesis import given, settings, strategies as st

from _profile import prof

from data_engineering_capstone_project__spark.plans.cleaner import _like


def _like_re(pattern: str) -> re.Pattern:
    return re.compile(
        "^" + "".join(".*" if c == "%" else re.escape(c) for c in pattern) + "$",
        re.DOTALL,
    )


@given(
    st.text(alphabet=st.characters(blacklist_characters="%"), max_size=30),
    st.lists(st.text(alphabet="abcN ", max_size=5), min_size=0, max_size=4),
)
@settings(max_examples=300, deadline=None)
def test_like_matches_regex_semantics(value, parts):
    pattern = "%".join(parts) if parts else ""
    if not pattern:
        pattern = "%"
    assert _like(value, pattern) == bool(_like_re(pattern).match(value))


def _pround_py(x: float, k: int) -> float:
    scale = float(10**k)
    return math.floor(x * scale + 0.5) / scale


def test_pround_and_pad_batch(spark):
    """Spark pround/pad_key agree with their Python reference on a batch of
    adversarial values (decimal-boundary doubles, odd-length ids)."""
    from pyspark.sql import functions as F

    from data_engineering_capstone_project__spark.functions.fx import pad_key, pround

    doubles = [
        16038.691649999999, 0.125, 2.675, -1.005, 0.0, 123456.789,
        1e-9, 99999999.995, 0.49999999999999994, 3.14159,
    ]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(doubles)], "i int, v double")
    got = {
        r["i"]: (r["r2"], r["r4"])
        for r in df.select(
            "i", pround("v", 2).alias("r2"), pround("v", 4).alias("r4")
        ).collect()
    }
    for i, v in enumerate(doubles):
        assert got[i] == (_pround_py(v, 2), _pround_py(v, 4)), (i, v)

    ids = ["", "1", "42", "123456", "1234567", "999999999", "abc"]
    df2 = spark.createDataFrame([(i, v) for i, v in enumerate(ids)], "i int, s string")
    gp = {r["i"]: r["p"] for r in df2.select("i", pad_key("s").alias("p")).collect()}
    for i, v in enumerate(ids):
        assert gp[i] == ("000000" + v)[-6:], (i, v)


def test_clean_plan_partition_invariants(spark):
    """build_clean_plan invariants on an adversarial dictionary: every input
    column is dropped XOR renamed XOR kept-raw; rename targets are unique;
    NOT-USED and NULL-mapped columns always drop."""
    from data_engineering_capstone_project__spark.plans.cleaner import build_clean_plan

    schema = (
        "raw_data_column string, raw_data_column_name string, "
        "equivalent_clean_data_name string, notes string"
    )
    d1 = spark.createDataFrame(
        [
            ("x", "col_a", "Clean A", None),
            ("x", "col_b", None, None),
            ("x", "col_c", "marked NOT USED here", None),
            ("x", "col_d", "Shared Clean", None),
            ("x", "col_e", "Shared Clean", None),
            ("x", "col_f", "From D1", None),
        ],
        schema,
    )
    d2 = spark.createDataFrame(
        [("y", "col_f", "From D2", None), ("y", "col_g", "Clean G", None)], schema
    )
    d1, d2 = d1.collect(), d2.collect()
    for prefer in (1, 2):
        cols = ["col_a", "col_b", "col_c", "col_d", "col_e", "col_f", "col_g", "col_z"]
        plan = build_clean_plan(cols, d1, d2, prefer=prefer)
        for c in cols:
            dropped, renamed = c in plan.drops, c in plan.renames
            assert not (dropped and renamed), c
        assert {"col_b", "col_c", "col_z"} <= set(plan.drops)
        # duplicate clean target -> kept raw, not renamed
        assert "col_d" not in plan.renames and "col_e" not in plan.renames
        # rename targets unique
        vals = list(plan.renames.values())
        assert len(vals) == len(set(vals))
        assert plan.renames["col_f"] == ("From D1" if prefer == 1 else "From D2")


def test_pround_matches_duckdb_on_random_doubles(spark):
    """Engine-parity rounding holds between Spark and DuckDB on 2000
    seeded-random doubles spanning magnitudes (incl. negative + boundary
    shapes) — the invariant the whole oracle gate rests on."""
    import random

    import duckdb
    from pyspark.sql import functions as F

    from data_engineering_capstone_project__spark.functions.fx import pround

    rng = random.Random(42)
    vals = [
        rng.uniform(-1e6, 1e6) * (10 ** rng.randint(-4, 4)) for _ in range(1900)
    ] + [x + 0.005 for x in range(-50, 50)]  # exact half-cent boundaries
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, v double"
    )
    got = {
        r["i"]: r["p"] for r in df.select("i", pround("v", 2).alias("p")).collect()
    }
    con = duckdb.connect()
    for i, v in enumerate(vals):
        (exp,) = con.execute(
            "SELECT FLOOR((?) * 100.0 + 0.5) / 100.0", [v]
        ).fetchone()
        assert got[i] == exp, (i, v)


def test_asof_join_matches_pandas_merge_asof(spark):
    """asof_join (backward) equals pandas.merge_asof on seeded-random data
    with unique (key, ts) on the right."""
    import random

    import pandas as pd

    from data_engineering_capstone_project__spark.operators.asof import asof_join

    rng = random.Random(7)
    keys = ["a", "b", "c"]
    right_rows = [
        (k, float(t), f"{k}{t}")
        for k in keys
        for t in sorted(rng.sample(range(1000), 40))
    ]
    left_rows = [
        (i, rng.choice(keys + ["zzz"]), float(rng.randint(-50, 1100)))
        for i in range(300)
    ]
    left = spark.createDataFrame(left_rows, "id long, k string, t double")
    right = spark.createDataFrame(right_rows, "k string, t double, val string")
    got = {
        r["id"]: r["val_r"]
        for r in asof_join(left, right, ts_col="t", by=["k"]).collect()
    }
    lpd = pd.DataFrame(left_rows, columns=["id", "k", "t"]).sort_values("t")
    rpd = pd.DataFrame(right_rows, columns=["k", "t", "val"]).sort_values("t")
    merged = pd.merge_asof(lpd, rpd, on="t", by="k", direction="backward")
    exp = {
        int(r.id): (None if pd.isna(r.val) else r.val) for r in merged.itertuples()
    }
    assert got == exp


def test_prefix_filter_lossless_on_adversarial_corpus(spark):
    """AllPairs prefix filtering must find every pair with J >= t on a
    corpus built to stress it: exact dups, one-shingle-off near-dups,
    shared-hot-prefix docs, disjoint docs, and tiny docs."""
    from pyspark.sql import functions as F

    from data_engineering_capstone_project__spark.operators import dedup

    base = "abcdefghijklmnopqrstuvwxyz0123456789"
    docs = [
        (1, base),                       # baseline
        (2, base),                       # exact dup of 1
        (3, base[:-1] + "!"),            # near-dup of 1
        (4, base[5:] + base[:5]),        # rotation (high overlap)
        (5, "zzzzzzzzzzzzzzzzzzzz"),     # degenerate repeated char
        (6, "zzzzzzzzzzzzzzzzzzzy"),     # near-dup of 5
        (7, "completely different content here"),
        (8, "tiny"),                     # shorter than shingle width
        (9, "tiny"),                     # dup of 8
        (10, base + " " + base),         # superset-ish of 1
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for t in prof((0.8,), (0.5, 0.8, 0.95)):
        got = {
            (r["id_a"], r["id_b"])
            for r in dedup.ngram_jaccard_pairs(df, threshold=t).collect()
        }
        ids = [d[0] for d in docs]
        all_pairs = spark.createDataFrame(
            [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long"
        )
        want = {
            (r["id_a"], r["id_b"])
            for r in dedup.verify_jaccard(df, all_pairs).collect()
            if r["jaccard"] >= t
        }
        assert got == want, f"threshold {t}: {got ^ want}"


@given(
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=120),
    st.integers(min_value=1, max_value=130),
)
@settings(max_examples=300, deadline=None)
def test_sliding_min_property(vals, w):
    """_sliding_min equals the naive per-window min on arbitrary signed
    inputs and window sizes (incl. w == n and w == 1)."""
    import numpy as np

    from data_engineering_capstone_project__spark.operators.dedup import _sliding_min

    h = np.array(vals, dtype=np.int64)
    if w > len(h):
        return
    got = _sliding_min(h, w)
    want = np.array([h[i : i + w].min() for i in range(len(h) - w + 1)])
    assert (got == want).all()


@given(st.binary(min_size=1, max_size=200), st.integers(min_value=1, max_value=20))
@settings(max_examples=300, deadline=None)
def test_gram_hashes_content_defined(data, k):
    """The winnowing rolling hash is position-independent: H[p] equals the
    directly-computed polynomial hash of raw[p:p+k] at EVERY position, so
    equal gram bytes always collide (the detection-guarantee property) and
    unequal hashes imply unequal grams (soundness of the shared-fp test)."""
    import numpy as np

    from data_engineering_capstone_project__spark.operators.dedup import (
        _WINNOW_B,
        _gram_hashes,
    )

    raw = np.frombuffer(data, dtype=np.uint8)
    if k > len(raw):
        return
    H = _gram_hashes(raw, k)
    mask = (1 << 64) - 1
    for p in range(len(raw) - k + 1):
        want = 0
        for j in range(k - 1, -1, -1):
            want = (want * _WINNOW_B + int(raw[p + j])) & mask
        # direct Horner of raw[p]·B^0 + … + raw[p+k-1]·B^(k-1); compare in
        # the same int64 bit view the kernel returns
        assert int(H[p]) == int(np.array([want], dtype=np.uint64).view(np.int64)[0]), p


def test_mix_sources_share_property(spark):
    """Realized token shares track targets within hash-granularity +
    sampling tolerance for several target mixes."""
    from pyspark.sql import functions as F

    from data_engineering_capstone_project__spark.operators import text
    from data_engineering_capstone_project__spark.plans.corpus import (
        mix_sources_by_tokens,
    )

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    for targets in (
        {"src0": 0.6, "src1": 0.4},
        {"src0": 1 / 3, "src1": 1 / 3, "src2": 1 / 3},
        {"src3": 0.9, "src4": 0.1},
    ):
        mixed = mix_sources_by_tokens(d, targets)
        toks = {
            r["source"]: r["t"]
            for r in mixed.groupBy("source")
            .agg(F.sum(text.token_count(F.col("text"))).alias("t"))
            .collect()
        }
        total = sum(toks.values())
        assert total > 0
        for s, share in targets.items():
            realized = toks.get(s, 0) / total
            # 25 docs/source at sf0.01 -> generous sampling tolerance
            assert abs(realized - share) < 0.25, (s, realized, share)
