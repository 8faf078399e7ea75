"""Durable fit artifacts: atomic versioned save/load, fresh-session reload
parity, and the IVF cell-partitioned scan-pruning path (VERDICT r6
next-round #1/#2/#5)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

import _fold_cases
from data_engineering_capstone_project__spark.operators import dedup, similarity, text
from data_engineering_capstone_project__spark.plans.inspect import (
    executed_scan_metrics,
    partition_filters,
)
from data_engineering_capstone_project__spark.sources import artifacts as art
from data_engineering_capstone_project__spark.sources import commitlog


# ---------------------------------------------------------------- generic


def test_save_load_roundtrip_and_meta(spark, tmp_path):
    p = str(tmp_path / "a1")
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("y"))
    v = art.save_artifact(p, {"main": df}, {"kind": "demo", "alpha": 0.5})
    assert v == 1
    parts, meta = art.load_artifact(spark, p)
    assert meta["kind"] == "demo" and meta["alpha"] == 0.5
    assert sorted(r["y"] for r in parts["main"].collect()) == [
        2 * i for i in range(10)
    ]
    import inspect

    public = {
        n for n, v in vars(art).items()
        if not n.startswith("_")
        and (inspect.isfunction(v) or inspect.isclass(v))
        and v.__module__ == art.__name__
    }
    assert sorted(art.__all__) == sorted(public)


def test_versions_bump_and_pin(spark, tmp_path):
    p = str(tmp_path / "a2")
    art.save_artifact(p, {"m": spark.range(1)}, {"tag": "first"})
    art.save_artifact(p, {"m": spark.range(5)}, {"tag": "second"})
    assert commitlog.all_versions(p) == [1, 2]
    assert art.load_artifact_meta(p)["tag"] == "second"
    parts, meta = art.load_artifact(spark, p, version=1)  # time travel
    assert meta["tag"] == "first" and parts["m"].count() == 1


def test_orphan_claim_invisible(spark, tmp_path):
    """A crashed writer's claimed-but-uncommitted version is never read."""
    p = str(tmp_path / "a3")
    art.save_artifact(p, {"m": spark.range(3)}, {"tag": "good"})
    os.mkdir(os.path.join(p, "v=2"))  # simulated dead writer's claim
    assert art.load_artifact_meta(p)["tag"] == "good"
    # next writer skips the orphaned claim rather than reusing it
    v = art.save_artifact(p, {"m": spark.range(4)}, {"tag": "next"})
    assert v == 3 and art.load_artifact_meta(p)["tag"] == "next"


def test_latest_monotone_under_interleaved_writers(spark, tmp_path):
    """VERDICT r7 #2: slow v=N finishing AFTER fast v=N+1 must never
    regress the resolved snapshot (the old pointer swap was
    last-writer-wins; resolution is now max(committed markers))."""
    import json

    from data_engineering_capstone_project__spark.sources import commitlog

    p = str(tmp_path / "mono")
    # slow writer claims v=1 first...
    n1, t1 = commitlog.claim_version(p)
    assert n1 == 1
    # ...then a fast writer runs a COMPLETE save (claims v=2, commits)
    v2 = art.save_artifact(p, {"m": spark.range(5)}, {"tag": "fast"})
    assert v2 == 2
    assert art.load_artifact_meta(p)["tag"] == "fast"
    # slow writer now finishes: payload, meta, commit — LAST
    spark.range(2).write.mode("overwrite").parquet(os.path.join(t1, "m"))
    with open(os.path.join(t1, "_META.json"), "w") as f:
        json.dump({"parts": ["m"], "tag": "slow"}, f)
    commitlog.commit_version(p, n1)
    # a reader never observes the version going backwards
    assert commitlog.latest_version(p) == 2
    assert art.load_artifact_meta(p)["tag"] == "fast"
    # the advisory pointer cache did not regress either
    with open(os.path.join(p, "LATEST")) as f:
        assert f.read().strip() == "2"
    # the slow commit is still readable pinned (it IS committed)
    assert art.load_artifact_meta(p, version=1)["tag"] == "slow"
    assert commitlog.committed_versions(p) == [1, 2]


def test_protocol_needs_no_rename_or_atomic_mkdir(spark, tmp_path, monkeypatch):
    """VERDICT r7 #3: the commit protocol must hold on S3-semantics
    filesystems — no atomic rename anywhere (os.replace/os.rename are
    FORBIDDEN for the whole round trip), and version claims arbitrate
    via put-if-absent, not mkdir atomicity."""
    from data_engineering_capstone_project__spark.sources import commitlog

    def _forbid(*a, **k):
        raise AssertionError("rename primitive used in commit protocol")

    monkeypatch.setattr(os, "replace", _forbid)
    monkeypatch.setattr(os, "rename", _forbid)
    monkeypatch.setattr(os, "renames", _forbid)

    p = str(tmp_path / "norename")
    for i in range(3):
        assert art.save_artifact(p, {"m": spark.range(i + 1)}, {"i": i}) == i + 1
    assert art.load_artifact_meta(p)["i"] == 2
    # a dead writer's bare directory (the mkdir half of a claim race)
    # is invisible and never reused
    os.makedirs(os.path.join(p, "v=9"))
    assert art.load_artifact_meta(p)["i"] == 2
    assert art.save_artifact(p, {"m": spark.range(7)}, {"i": 9}) == 10
    # retention under the shim: committed-marker set, not pointer reads
    removed = commitlog.expire_versions(p, keep=1)
    assert removed == [1, 2, 3]
    parts, meta = art.load_artifact(spark, p)
    assert meta["i"] == 9 and parts["m"].count() == 7
    # claim arbitration is the put-if-absent of _CLAIM: when the listing
    # says v=1 is free but another writer's _CLAIM already landed, the
    # claimer retries to the next number instead of colliding
    p2 = str(tmp_path / "claimrace")
    os.makedirs(os.path.join(p2, "v=1"))
    commitlog._put_if_absent(os.path.join(p2, "v=1", "_CLAIM"))
    monkeypatch.setattr(commitlog, "all_versions", lambda _p: [])
    n, _ = commitlog.claim_version(p2)
    assert n == 2


def test_legacy_pointer_layout_still_readable(spark, tmp_path):
    """Pre-round-8 artifacts (LATEST pointer, no _COMMITTED markers)
    resolve exactly as the old protocol defined."""
    import json

    from data_engineering_capstone_project__spark.sources import commitlog

    p = str(tmp_path / "legacy")
    os.makedirs(os.path.join(p, "v=1"))
    spark.range(4).write.mode("overwrite").parquet(
        os.path.join(p, "v=1", "m")
    )
    with open(os.path.join(p, "v=1", "_META.json"), "w") as f:
        json.dump({"parts": ["m"], "tag": "old"}, f)
    os.makedirs(os.path.join(p, "v=2"))  # orphan claim beyond pointer
    with open(os.path.join(p, "LATEST"), "w") as f:
        f.write("1")
    assert commitlog.committed_versions(p) == [1]
    parts, meta = art.load_artifact(spark, p)
    assert meta["tag"] == "old" and parts["m"].count() == 4


def test_expire_keeps_latest(spark, tmp_path):
    p = str(tmp_path / "a4")
    for i in range(4):
        art.save_artifact(p, {"m": spark.range(i + 1)}, {"i": i})
    removed = commitlog.expire_versions(p, keep=2)
    assert removed == [1, 2]
    assert art.load_artifact_meta(p)["i"] == 3
    parts, _ = art.load_artifact(spark, p, version=3)
    assert parts["m"].count() == 3


def test_bad_part_name_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="bad part name"):
        art.save_artifact(str(tmp_path / "a5"), {"..": spark.range(1)})


def test_corpus_digest_order_independent(spark, tmp_path):
    df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("g"))
    d1 = art.corpus_digest(df)
    d2 = art.corpus_digest(df.orderBy(F.col("id").desc()).repartition(7))
    assert d1 == d2
    assert art.corpus_digest(df.filter("id < 99")) != d1
    p = str(tmp_path / "a6")
    assert not art.is_current(p, d1)  # nothing saved yet
    art.save_artifact(p, {"m": df}, {"corpus_digest": d1})
    assert art.is_current(p, d1)
    assert not art.is_current(p, "0:0")


# -------------------------------------------------- typed model artifacts


_POSTINGS = "doc_id long, term string, tf int, dl int"
_VECTORS = "doc_id long, embedding array<double>, ivf_cell int"
_BANDING = {"num_hashes": 8, "bands": 4, "shingle_k": 5}


def _df(s, rows, schema):
    return s.createDataFrame(rows, schema)


def _plain(x):
    """A loaded value as plain Python: frames as sorted row tuples."""
    if isinstance(x, (tuple, list)):
        return type(x)(_plain(v) for v in x)
    if isinstance(x, np.ndarray):
        return x.tolist()
    if hasattr(x, "collect"):
        return sorted(map(tuple, x.collect()))
    return x


# kind -> (save(spark, path), load(spark, path), the loaded value, the
# saved version's parsed _META.json, another kind's loader, its noun)
_KIND_CASES = {
    "bm25": (
        lambda s, p: art.save_bm25_index(
            _df(s, [(1, "a", 0.5), (2, "c", 0.25)],
                "doc_id long, term string, w double"),
            p, corpus_digest="d:1", n_term_buckets=4,
        ),
        lambda s, p: art.load_bm25_index(s, p).select("doc_id", "term", "w"),
        [(1, "a", 0.5), (2, "c", 0.25)],
        {
            "parts": ["weights"], "kind": "bm25", "id_col": "doc_id",
            "k1": 1.2, "b": 0.75, "corpus_digest": "d:1", "n_term_buckets": 4,
        },
        art.load_pca_model, "pca",
    ),
    "pca": (
        lambda s, p: art.save_pca_model(
            s, p, np.eye(2), np.array([2.0, 1.0]), np.array([0.5, 0.25]),
            3.0, corpus_digest="d:1",
        ),
        art.load_pca_model,
        ([[1.0, 0.0], [0.0, 1.0]], [2.0, 1.0], [0.5, 0.25], 3.0),
        {
            "parts": ["components", "scalars"], "kind": "pca", "k": 2,
            "dim": 2, "corpus_digest": "d:1",
        },
        art.load_centroids, "centroid",
    ),
    "centroids": (
        lambda s, p: art.save_centroids(
            s, p, np.array([[1.0, 2.0], [3.0, 4.0]]), corpus_digest="d:1"
        ),
        art.load_centroids,
        [[1.0, 2.0], [3.0, 4.0]],
        {
            "parts": ["centroids"], "kind": "centroids", "k": 2, "dim": 2,
            "corpus_digest": "d:1",
        },
        art.load_pq_codebooks, "PQ codebook",
    ),
    "ivf": (
        lambda s, p: art.save_centroids(
            s, p, np.array([[1.0, 2.0]]), corpus_digest="d:1", kind="ivf",
            fit_stats={"a": 1}, extra_meta={"codebook_digest": "cb"},
        ),
        art.load_centroids,
        [[1.0, 2.0]],
        {
            "parts": ["centroids"], "kind": "ivf", "k": 1, "dim": 2,
            "corpus_digest": "d:1", "fit_stats": {"a": 1},
            "codebook_digest": "cb",
        },
        art.load_fingerprint_index, "fingerprint",
    ),
    "pq_codebooks": (
        lambda s, p: art.save_pq_codebooks(
            s, p, np.arange(12.0).reshape(2, 3, 2), corpus_digest="d:1"
        ),
        art.load_pq_codebooks,
        np.arange(12.0).reshape(2, 3, 2).tolist(),
        {
            "parts": ["books"], "kind": "pq_codebooks", "m": 2, "ksub": 3,
            "dsub": 2, "corpus_digest": "d:1",
        },
        art.load_bpe_model, "bpe",
    ),
    "fingerprints": (
        lambda s, p: art.save_fingerprint_index(
            _df(s, [("f1",), ("f2",)], "fp string"), p,
            corpus_digest="d:1", extra_meta={"batch_digest": "b"},
        ),
        art.load_fingerprint_index,
        [("f1",), ("f2",)],
        {
            "parts": ["fps"], "kind": "fingerprints", "fp_col": "fp",
            "corpus_digest": "d:1", "batch_digest": "b",
        },
        art.load_unigram_model, "unigram",
    ),
    "bpe": (
        lambda s, p: art.save_bpe_model(
            s, p, [("a", "b"), ("ab", "c")], corpus_digest="d:1"
        ),
        art.load_bpe_model,
        [("a", "b"), ("ab", "c")],
        {
            "parts": ["merges"], "kind": "bpe", "n_merges": 2,
            "corpus_digest": "d:1",
        },
        art.load_minhash_index, "minhash",
    ),
    "unigram": (
        lambda s, p: art.save_unigram_model(
            s, p, [("a", -1.0), ("b", -2.0)], corpus_digest="d:1"
        ),
        art.load_unigram_model,
        [("a", -1.0), ("b", -2.0)],
        {
            "parts": ["pieces"], "kind": "unigram", "vocab_size": 2,
            "corpus_digest": "d:1",
        },
        art.load_minhash_doc_index, "minhash doc-index",
    ),
    "minhash_bands": (
        lambda s, p: art.save_minhash_index(
            _df(s, [(0, 11), (1, 12)], "band int, bucket long"), p,
            **_BANDING, corpus_digest="d:1",
        ),
        art.load_minhash_index,
        ([(0, 11), (1, 12)], _BANDING),
        {
            "parts": ["bands"], "kind": "minhash_bands", "num_hashes": 8,
            "bands": 4, "shingle_k": 5, "corpus_digest": "d:1",
        },
        art.load_dsir_model, "dsir",
    ),
    "minhash_docs": (
        lambda s, p: art.save_minhash_doc_index(
            _df(s, [(0, 11, 7)], "band int, bucket long, corpus_id long"),
            p, **_BANDING, jaccard_threshold=0.7, corpus_digest="d:1",
        ),
        art.load_minhash_doc_index,
        ([(0, 11, 7)], {**_BANDING, "jaccard_threshold": 0.7}),
        {
            "parts": ["bands"], "kind": "minhash_docs", "num_hashes": 8,
            "bands": 4, "shingle_k": 5, "jaccard_threshold": 0.7,
            "corpus_digest": "d:1",
        },
        art.load_bm25_index, "bm25",
    ),
    "dsir_ratio": (
        lambda s, p: art.save_dsir_model(
            _df(s, [(1, 0.5)], "bucket long, _lr double"), p, 16, 0.1, "s",
            corpus_digest="d:1",
        ),
        art.load_dsir_model,
        ([(1, 0.5)], {"n_buckets": 16, "alpha": 0.1, "salt": "s"}),
        {
            "parts": ["ratio"], "kind": "dsir_ratio", "n_buckets": 16,
            "alpha": 0.1, "salt": "s", "corpus_digest": "d:1",
        },
        art.load_pca_model, "pca",
    ),
    "bm25_postings": (
        lambda s, p: art.save_bm25_postings(
            _df(s, [(1, "a", 2, 3), (1, "b", 1, 3), (2, "c", 1, 1)],
                _POSTINGS),
            p, n_term_buckets=4,
            stats={"n_docs": 3, "n_tok_docs": 2, "sum_dl": 4},
            corpus_digest="d:1", extra_meta={"batch_digest": "b"},
        ),
        lambda s, p: art.load_bm25_postings_log(s, p)[0].select(
            "doc_id", "term", "tf", "dl"
        ),
        [(1, "a", 2, 3), (1, "b", 1, 3), (2, "c", 1, 1)],
        {
            "parts": ["postings"], "kind": "bm25_postings", "id_col": "doc_id",
            "n_term_buckets": 4,
            "stats": {"n_docs": 3, "n_tok_docs": 2, "sum_dl": 4},
            "corpus_digest": "d:1", "batch_digest": "b",
        },
        art.load_bm25_index, "bm25",
    ),
    "ivf_vectors": (
        lambda s, p: art.save_ivf_delta(
            _df(s, [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1)], _VECTORS), p,
            codebook_digest="cb", cell_stats=[[0, 1, 0.25], [1, 1, 0.5]],
            corpus_digest="d:1", extra_meta={"n_null_vec": 2},
        ),
        lambda s, p: art.load_ivf_log(s, p)[0].select(
            "doc_id", "embedding", "ivf_cell"
        ),
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1)],
        {
            "parts": ["vectors"], "kind": "ivf_vectors", "id_col": "doc_id",
            "vec_col": "embedding", "cell_col": "ivf_cell",
            "codebook_digest": "cb", "n_vectors": 2,
            "cell_stats": [[0, 1, 0.25], [1, 1, 0.5]], "corpus_digest": "d:1",
            "n_null_vec": 2,
        },
        art.load_centroids, "centroid",
    ),
}
# log kinds: a zero-row delta, its part and partition directory prefix
_EMPTY_DELTAS = {
    "bm25_postings": (
        lambda s, p: art.save_bm25_postings(
            _df(s, [], _POSTINGS), p, n_term_buckets=4,
            stats={"n_docs": 1, "n_tok_docs": 0, "sum_dl": 0},
        ),
        "postings", "_tb=",
    ),
    "ivf_vectors": (
        lambda s, p: art.save_ivf_delta(
            _df(s, [], _VECTORS), p, codebook_digest="cb", cell_stats=[]
        ),
        "vectors", "ivf_cell=",
    ),
}


@pytest.mark.parametrize("kind", sorted(_KIND_CASES))
def test_every_kind_roundtrip_meta_and_refusal(spark, tmp_path, kind):
    """Every artifact kind saves and loads back what was saved, with the
    meta pinned key for key, and another kind's loader refuses it. A
    log's zero-row delta lands flat, a non-empty one partitioned."""
    import json

    save, load, want, meta, refuse, noun = _KIND_CASES[kind]
    p = str(tmp_path / kind)
    assert save(spark, p) == 1
    assert _plain(load(spark, p)) == want
    with open(os.path.join(p, "v=1", "_META.json")) as f:
        assert json.load(f) == meta
    with pytest.raises(ValueError, match=f"not a {noun} artifact"):
        refuse(spark, p)
    if kind in _EMPTY_DELTAS:
        save_empty, part, prefix = _EMPTY_DELTAS[kind]
        assert save_empty(spark, p) == 2
        for v, partitioned in ((1, True), (2, False)):
            names = os.listdir(os.path.join(p, f"v={v}", part))
            assert any(n.startswith(prefix) for n in names) == partitioned
            assert any(n.endswith(".parquet") for n in names) != partitioned
        assert _plain(load(spark, p)) == want


def test_pca_model_bit_identical_roundtrip(spark, sf_dir, tmp_path):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    comps, eig, mean, tv = similarity.pca_fit_stats(e, k=4)
    p = str(tmp_path / "pca")
    art.save_pca_model(spark, p, comps, eig, mean, tv, corpus_digest="d")
    c2, e2, m2, tv2 = art.load_pca_model(spark, p)
    # parquet doubles are an exact IEEE round trip: bit identity, not allclose
    assert np.array_equal(comps, c2)
    assert np.array_equal(eig, e2)
    assert np.array_equal(mean, m2)
    assert tv == tv2
    with pytest.raises(ValueError, match="not a centroid artifact"):
        art.load_centroids(spark, p)


def test_centroids_roundtrip(spark, tmp_path):
    cents = np.arange(24, dtype=np.float64).reshape(4, 6) / 7.0
    p = str(tmp_path / "cents")
    art.save_centroids(spark, p, cents)
    assert np.array_equal(art.load_centroids(spark, p), cents)
    assert art.load_artifact_meta(p)["k"] == 4


def test_bm25_index_fresh_session_parity(spark, sf_dir, tmp_path):
    """The production retrieval shape: fit + save in one session; a FRESH
    session (new session state, nothing fitted) reloads the index and
    must answer query batches identically."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = text.bm25(docs)
    p = str(tmp_path / "bm25")
    art.save_bm25_index(w, p, corpus_digest=art.corpus_digest(docs, ["doc_id", "text"]))
    queries = {"q0": "the data pipeline", "q1": "model training quality"}
    fit_rows = sorted(
        (r["query_id"], r["doc_id"], str(r["score"]), r["rn"])
        for r in text.bm25_topk(None, queries, k=5, weights=w).collect()
    )
    fresh = spark.newSession()
    w2 = art.load_bm25_index(fresh, p)
    got = sorted(
        (r["query_id"], r["doc_id"], str(r["score"]), r["rn"])
        for r in text.bm25_topk(None, queries, k=5, weights=w2).collect()
    )
    # (q1's terms may be absent from the tiny sf0.001 vocabulary — parity
    # is the claim; q0's stopword-ish terms guarantee a non-empty result)
    assert got == fit_rows and len(got) >= 5


def test_bm25_topk_auto_weights(spark, sf_dir, tmp_path, monkeypatch):
    """The 'auto' default (VERDICT r7 #7): first call fits + persists a
    digest-keyed index; later calls RELOAD it (no new version, no refit)
    and answer identically to the fit-per-call convenience path; a
    changed corpus lands on a different digest path and refits."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_ROOT", str(tmp_path / "auto"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = {"q0": "the data pipeline"}

    def rows(df):
        return sorted(
            (r["query_id"], r["doc_id"], str(r["score"]), r["rn"])
            for r in df.collect()
        )

    convenience = rows(text.bm25_topk(docs, queries, k=5, weights=None))
    auto1 = rows(text.bm25_topk(docs, queries, k=5))  # default = 'auto'
    assert auto1 == convenience and len(auto1) == 5
    roots = os.listdir(str(tmp_path / "auto"))
    assert len(roots) == 1 and roots[0].startswith("bm25_")
    idx_path = os.path.join(str(tmp_path / "auto"), roots[0])
    assert commitlog.all_versions(idx_path) == [1]
    # steady state: same corpus content → reload, never a new version
    auto2 = rows(text.bm25_topk(docs, queries, k=5))
    assert auto2 == auto1
    assert commitlog.all_versions(idx_path) == [1]
    # a different corpus gets its own digest-keyed index
    text.bm25_topk(docs.filter(F.col("doc_id") < 50), queries, k=5)
    assert len(os.listdir(str(tmp_path / "auto"))) == 2
    # explicit index_path: k1/b mismatch in meta forces a refit version
    p = str(tmp_path / "pinned")
    text.bm25_topk(docs, queries, k=5, index_path=p)
    assert commitlog.all_versions(p) == [1]
    text.bm25_topk(docs, queries, k=5, k1=2.0, index_path=p)
    assert commitlog.all_versions(p) == [1, 2]
    # ADVICE r8: ALTERNATING parameterizations at one explicit path must
    # reuse the matching OLDER version, not refit a new one per call
    alt_a = rows(text.bm25_topk(docs, queries, k=5, index_path=p))
    alt_b = rows(text.bm25_topk(docs, queries, k=5, k1=2.0, index_path=p))
    assert commitlog.all_versions(p) == [1, 2]
    assert alt_a == auto1
    assert rows(
        text.bm25_topk(docs, queries, k=5, k1=2.0, weights=None)
    ) == alt_b
    with pytest.raises(ValueError, match="weights must be"):
        text.bm25_topk(docs, queries, k=5, weights="bogus")
    with pytest.raises(ValueError, match="needs the corpus df"):
        text.bm25_topk(None, queries, k=5, weights="auto")


def test_fingerprint_index_dedup_parity(spark, sf_dir, tmp_path):
    """dedup_against_corpus probing a SAVED index equals the text path."""
    from data_engineering_capstone_project__spark.streaming.stream import (
        corpus_fingerprint_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1).unionByName(
        corpus.filter(F.col("doc_id") < 10).withColumn(
            "doc_id", F.col("doc_id") + 500000
        )
    )
    expected = sorted(
        r["doc_id"] for r in dedup.dedup_against_corpus(batch, corpus).collect()
    )
    p = str(tmp_path / "fps")
    art.save_fingerprint_index(corpus_fingerprint_index(corpus), p)
    fresh = spark.newSession()
    idx = art.load_fingerprint_index(fresh, p)
    batch2 = fresh.read.parquet(f"{sf_dir}/documents.parquet")
    batch2 = batch2.filter(F.col("doc_id") % 2 == 1).unionByName(
        batch2.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 10))
        .withColumn("doc_id", F.col("doc_id") + 500000)
    )
    got = sorted(
        r["doc_id"]
        for r in dedup.dedup_against_corpus(batch2, corpus_fps=idx).collect()
    )
    assert got == expected and len(got) > 0
    with pytest.raises(ValueError, match="need corpus_df or corpus_fps"):
        dedup.dedup_against_corpus(batch)


def test_minhash_index_roundtrip_and_probe(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    nh, b = 32, 8
    idx = dedup.corpus_minhash_band_index(corpus, num_hashes=nh, bands=b)
    p = str(tmp_path / "mh")
    art.save_minhash_index(idx, p, num_hashes=nh, bands=b, shingle_k=5)
    fresh = spark.newSession()
    loaded, cfg = art.load_minhash_index(fresh, p)
    assert cfg == {"num_hashes": nh, "bands": b, "shingle_k": 5}
    batch = fresh.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") >= 100
    )
    clean = dedup.minhash_band_probe(
        batch, loaded, num_hashes=nh, bands=b, keep="clean"
    )
    contam = dedup.minhash_band_probe(
        batch, loaded, num_hashes=nh, bands=b, keep="contaminated"
    )
    n_batch, n_clean, n_contam = batch.count(), clean.count(), contam.count()
    assert n_clean + n_contam == n_batch
    # an exact copy of a corpus doc collides in EVERY band -> always dropped
    copy = corpus.limit(1).withColumn("doc_id", F.lit(999999).cast("long"))
    assert (
        dedup.minhash_band_probe(
            copy, loaded, num_hashes=nh, bands=b, keep="clean"
        ).count()
        == 0
    )


# ------------------------------------------------- IVF partition pruning


def test_ivf_corpus_scan_pruning(spark, sf_dir, tmp_path):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    cents = similarity.kmeans_centroids(e, n_centroids=8, n_iter=5, sample_rows=300)
    q = [float(x) for x in e.filter(F.col("vec_id") == 1).first()["embedding"]]
    path = str(tmp_path / "ivf_corpus")
    similarity.write_ivf_corpus(e, path, cents)
    corpus = spark.read.parquet(path)
    n_cells = corpus.select("ivf_cell").distinct().count()
    assert n_cells > 4  # the probe below must have something to prune
    pruned = similarity.ivf_topk_pruned(corpus, q, cents, k=10, nprobe=4)
    # 1. static plan: the cell filter reached PartitionFilters
    pf = partition_filters(pruned)
    assert any("ivf_cell" in f for f in pf), pf
    # 2. runtime scan metrics: only the nprobe probed directories listed
    m = executed_scan_metrics(pruned)
    assert m["numPartitions"] == 4, m
    # 3. results identical to the expression-filter ivf_topk on the raw frame
    base = similarity.ivf_topk(e, q, cents, k=10, nprobe=4)
    assert [tuple(r) for r in pruned.collect()] == [
        tuple(r) for r in base.collect()
    ]
    # 4. corrupt-file canary: garbage in a NON-probed cell is never opened
    qa = np.asarray(q)
    probe = set(
        int(i)
        for i in ((cents - qa[None, :]) ** 2).sum(1).argsort()[:4]
    )
    victim = next(
        r["ivf_cell"]
        for r in corpus.select("ivf_cell").distinct().collect()
        if r["ivf_cell"] not in probe
    )
    with open(os.path.join(path, f"ivf_cell={victim}", "junk.parquet"), "w") as fh:
        fh.write("not a parquet file")
    reread = spark.read.parquet(path)
    pruned2 = similarity.ivf_topk_pruned(reread, q, cents, k=10, nprobe=4)
    assert [tuple(r) for r in pruned2.collect()] == [
        tuple(r) for r in base.collect()
    ]
    with pytest.raises(Exception, match="FAILED_READ_FILE|Could not read"):
        reread.filter(F.col("ivf_cell") == victim).collect()


# ------------------------------------------- fuzzy stream decontamination


def test_decontaminate_stream_fuzzy_matches_batch(spark, sf_dir, tmp_path):
    from data_engineering_capstone_project__spark.streaming.stream import (
        decontaminate_stream_fuzzy,
        stream_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 200)
    nh, b = 32, 8
    idx = dedup.corpus_minhash_band_index(corpus, num_hashes=nh, bands=b).persist()
    idx.count()
    streamed = decontaminate_stream_fuzzy(
        stream_documents(spark, sf_dir), idx, num_hashes=nh, bands=b
    )
    got = sorted(r["doc_id"] for r in streamed.select("doc_id").collect())
    batch_ref = dedup.minhash_band_probe(docs, idx, num_hashes=nh, bands=b)
    expected = sorted(r["doc_id"] for r in batch_ref.select("doc_id").collect())
    assert got == expected
    # exact corpus members collide in every band -> never pass the guard
    assert all(d >= 200 for d in got)
    # near-dup semantics: some non-corpus docs must also have been dropped
    # on this tiny-vocab corpus (band collisions beyond exact membership)
    n_total = docs.count()
    assert len(got) < n_total - 200
    idx.unpersist()


def test_decontaminate_stream_fuzzy_sink_path(spark, sf_dir, tmp_path):
    from data_engineering_capstone_project__spark.streaming.stream import (
        decontaminate_stream_fuzzy,
        stream_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 200)
    idx = dedup.corpus_minhash_band_index(corpus, num_hashes=16, bands=4)
    sink = str(tmp_path / "clean_out")
    out = decontaminate_stream_fuzzy(
        stream_documents(spark, sf_dir),
        idx,
        num_hashes=16,
        bands=4,
        keep="contaminated",
        sink_path=sink,
    )
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert set(range(200)) <= got  # every exact corpus member surfaced


def test_extend_fingerprint_index_loop(spark, sf_dir):
    """Admitting batch-1 survivors makes batch-2 copies of them drop."""
    from data_engineering_capstone_project__spark.streaming.stream import (
        corpus_fingerprint_index,
        extend_fingerprint_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 50)
    b1 = docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100))
    idx0 = corpus_fingerprint_index(corpus)
    kept1 = dedup.dedup_against_corpus(b1, corpus_fps=idx0)
    idx1 = extend_fingerprint_index(idx0, kept1)
    # batch 2 = exact copies of batch-1 rows under new ids
    b2 = b1.withColumn("doc_id", F.col("doc_id") + 700000)
    kept2 = dedup.dedup_against_corpus(b2, corpus_fps=idx1)
    assert kept2.count() == 0
    # without admission the copies would have passed
    assert dedup.dedup_against_corpus(b2, corpus_fps=idx0).count() > 0
    # the extended index still holds the original corpus fingerprints
    assert (
        dedup.dedup_against_corpus(
            corpus.withColumn("doc_id", F.col("doc_id") + 800000),
            corpus_fps=idx1,
        ).count()
        == 0
    )


def test_extend_minhash_band_index_loop(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 50)
    b1 = docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 80))
    idx0 = dedup.corpus_minhash_band_index(corpus, num_hashes=16, bands=4)
    idx1 = dedup.extend_minhash_band_index(
        idx0, b1, num_hashes=16, bands=4
    ).persist()
    # exact copies of b1 docs now collide in every band
    copies = b1.withColumn("doc_id", F.col("doc_id") + 700000)
    assert (
        dedup.minhash_band_probe(
            copies, idx1, num_hashes=16, bands=4, keep="clean"
        ).count()
        == 0
    )
    # extension is monotone: the old index rows are all still present
    assert idx0.exceptAll(idx1).count() == 0
    idx1.unpersist()


def test_init_ingest_indexes_auto_banding(spark, sf_dir, tmp_path):
    """Bootstrap DEFAULTS auto-size the MinHash banding from the corpus
    count (VERDICT r7 #1 — the fixed 32/8 default was the measured
    quadratic hazard); the derived config persists with the index and a
    tick self-configures from it. Explicit values still override; a
    one-sided override is refused."""
    from data_engineering_capstone_project__spark.plans import ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    n = corpus.count()

    root = str(tmp_path / "auto")
    ingest.init_ingest_indexes(spark, corpus, root)
    meta = art.load_artifact_meta(os.path.join(root, "minhash"))
    exp_nh, exp_b = dedup.auto_minhash_config(n, 0.8, baseline_j=0.2)
    assert (meta["num_hashes"], meta["bands"]) == (exp_nh, exp_b)

    # verified mode sizes at the loop's operating threshold
    root_v = str(tmp_path / "auto_v")
    ingest.init_ingest_indexes(
        spark, corpus, root_v, verify_jaccard_threshold=0.9
    )
    meta_v = art.load_artifact_meta(os.path.join(root_v, "minhash"))
    exp_nh9, exp_b9 = dedup.auto_minhash_config(n, 0.9, baseline_j=0.2)
    assert (meta_v["num_hashes"], meta_v["bands"]) == (exp_nh9, exp_b9)
    assert meta_v["jaccard_threshold"] == 0.9

    # a tick self-configures from the persisted auto config
    batch = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    surv, s = ingest.ingest_batch(spark, batch, root)
    surv.unpersist()
    assert s.n_published > 0
    assert s.n_exact_dropped + s.n_fuzzy_dropped + s.n_published == s.n_batch

    # explicit override persists verbatim
    root_e = str(tmp_path / "explicit")
    ingest.init_ingest_indexes(spark, corpus, root_e, num_hashes=16, bands=4)
    meta_e = art.load_artifact_meta(os.path.join(root_e, "minhash"))
    assert (meta_e["num_hashes"], meta_e["bands"]) == (16, 4)

    with pytest.raises(ValueError, match="BOTH"):
        ingest.init_ingest_indexes(
            spark, corpus, str(tmp_path / "bad"), num_hashes=32
        )
    with pytest.raises(ValueError, match="BOTH"):
        dedup.corpus_minhash_band_index(corpus, num_hashes=32)
    with pytest.raises(ValueError, match="BOTH"):
        dedup.corpus_minhash_doc_index(corpus, bands=8)

    # the standalone builders' defaults auto-size identically
    auto_idx = dedup.corpus_minhash_band_index(corpus)
    exp_idx = dedup.corpus_minhash_band_index(
        corpus, num_hashes=exp_nh, bands=exp_b
    )
    assert auto_idx.exceptAll(exp_idx).count() == 0
    assert exp_idx.exceptAll(auto_idx).count() == 0


def test_ingest_pipeline_ticks(spark, sf_dir, tmp_path):
    """Bootstrap → two ticks → replay, on the real corpus: conservation,
    admission, publication-log union, crash-replay conservatism."""
    from data_engineering_capstone_project__spark.plans import ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    root = str(tmp_path / "ingest")
    ingest.init_ingest_indexes(spark, corpus, root)
    b1 = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    s1_df, s1 = ingest.ingest_batch(spark, b1, root)
    ids1 = {r["doc_id"] for r in s1_df.select("doc_id").collect()}
    s1_df.unpersist()
    assert s1.n_exact_dropped + s1.n_fuzzy_dropped + s1.n_published == s1.n_batch
    assert (s1.fp_index_version, s1.corpus_version) == (2, 2)
    # tick 2: exact copy of a tick-1 survivor must drop via ADMISSION
    anchor = min(ids1)
    b2 = docs.filter(F.col("doc_id") == anchor).withColumn(
        "doc_id", F.col("doc_id") + 900000
    )
    s2_df, s2 = ingest.ingest_batch(spark, b2, root)
    assert s2.n_published == 0 and s2.n_exact_dropped == 1
    s2_df.unpersist()
    # publication log: full corpus = bootstrap + tick-1 survivors
    full = ingest.read_ingest_corpus(spark, root)
    assert full.count() == 100 + s1.n_published
    # pinned version = one publication
    assert ingest.read_ingest_corpus(spark, root, version=2).count() == s1.n_published
    # replay of b1 publishes nothing
    s3_df, s3 = ingest.ingest_batch(spark, b1, root)
    assert s3.n_published == 0
    s3_df.unpersist()


def test_ingest_batch_dsir_selection_stage(spark, sf_dir, tmp_path):
    """select_cfg publishes only the DSIR top-fraction of dedup survivors
    (VERDICT r7 #5): selection matches a standalone dsir_resample over
    the survivors, conservation includes n_select_dropped, rejected docs
    are still exact-admitted (byte-identical re-arrivals drop), and
    replay publishes zero."""
    from data_engineering_capstone_project__spark.plans import ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    raw = docs.filter(F.col("doc_id") >= 300)
    tgt = docs.filter(F.col("doc_id") < 300)
    nb = 512
    ratio = text.dsir_fit(raw, tgt, n_buckets=nb)
    mpath = str(tmp_path / "dsir_model")
    art.save_dsir_model(ratio, mpath, n_buckets=nb, alpha=1.0, salt="dsir")

    root = str(tmp_path / "root")
    ingest.init_ingest_indexes(spark, corpus, root)
    cfg = {"dsir_path": mpath, "fraction": 0.4}
    pub, s = ingest.ingest_batch(spark, raw, root, select_cfg=cfg)
    pub_ids = {r["doc_id"] for r in pub.select("doc_id").collect()}
    pub.unpersist()
    assert (
        s.n_exact_dropped + s.n_fuzzy_dropped + s.n_select_dropped
        + s.n_published == s.n_batch
    )
    assert s.n_select_dropped > 0 and s.n_published == len(pub_ids)
    n_dedup = s.n_published + s.n_select_dropped
    import math

    assert s.n_published == math.ceil(0.4 * n_dedup)
    # selection equals a standalone resample over the dedup survivors
    root_nosel = str(tmp_path / "root_nosel")
    ingest.init_ingest_indexes(spark, corpus, root_nosel)
    surv_only, _ = ingest.ingest_batch(spark, raw, root_nosel)
    surv_ids = {r["doc_id"] for r in surv_only.select("doc_id").collect()}
    expected = {
        r["doc_id"]
        for r in text.dsir_resample(
            surv_only, None, k=s.n_published, n_buckets=nb, ratio=ratio
        ).collect()
    }
    surv_only.unpersist()
    assert pub_ids == expected
    # publication log holds only selected docs
    assert ingest.read_ingest_corpus(spark, root).count() == 100 + len(pub_ids)
    # rejected docs were exact-admitted: replaying the same batch (and a
    # renamed copy of a REJECTED doc) publishes nothing
    rejected = sorted(surv_ids - pub_ids)
    replay = raw.unionByName(
        docs.filter(F.col("doc_id") == rejected[0]).withColumn(
            "doc_id", F.col("doc_id") + 8000000
        )
    )
    pub2, s2 = ingest.ingest_batch(spark, replay, root, select_cfg=cfg)
    pub2.unpersist()
    assert s2.n_published == 0 and s2.n_select_dropped == 0


def test_run_stream_ingest_cross_batch_admission(spark, sf_dir, tmp_path):
    """Micro-batch B's copies of batch-A survivors drop because A's tick
    admitted them — the property a static stream-start index can't give."""
    import os
    import shutil

    from data_engineering_capstone_project__spark.plans import ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    a = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    b = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 110)).withColumn(
        "doc_id", F.col("doc_id") + 700000
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    for name, df, mtime in (("a", a, 1_000_000), ("b", b, 2_000_000)):
        stage = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(src, f"{name}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        os.utime(dst, (mtime, mtime))
    root = str(tmp_path / "root")
    ingest.init_ingest_indexes(spark, corpus, root)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stats = ingest.run_stream_ingest(stream, root)
    assert len(stats) == 2
    published = {
        r["doc_id"]
        for r in ingest.read_ingest_corpus(spark, root).select("doc_id").collect()
    }
    assert all(i + 700000 not in published for i in range(100, 110))
    assert published >= {r["doc_id"] for r in corpus.select("doc_id").collect()}


def test_bpe_model_roundtrip_and_fresh_session_tokenize(spark, sf_dir, tmp_path):
    """The tokenizer artifact: a fresh session reloads the merge list and
    tokenizes BIT-identically to the fit session."""
    from data_engineering_capstone_project__spark.operators import bpe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    merges = bpe.bpe_train(docs, n_merges=25, min_freq=2)
    p = str(tmp_path / "bpe")
    art.save_bpe_model(spark, p, merges)
    fresh = spark.newSession()
    loaded = art.load_bpe_model(fresh, p)
    assert loaded == merges  # exact order, exact pairs
    d2 = fresh.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    fit_tok = [
        (r["doc_id"], tuple(r["tokens"]))
        for r in bpe.bpe_tokenize(docs, merges).select("doc_id", "tokens").collect()
    ]
    got = [
        (r["doc_id"], tuple(r["tokens"]))
        for r in bpe.bpe_tokenize(d2, loaded).select("doc_id", "tokens").collect()
    ]
    assert sorted(got) == sorted(fit_tok)
    # wrong-kind load raises
    art.save_centroids(spark, str(tmp_path / "cents2"), np.eye(3))
    with pytest.raises(ValueError, match="not a bpe artifact"):
        art.load_bpe_model(spark, str(tmp_path / "cents2"))


def test_ingest_empty_batch_tick(spark, sf_dir, tmp_path):
    """An empty batch is a no-op tick: nothing published, versions still
    advance atomically (an empty publication is a valid commit)."""
    from data_engineering_capstone_project__spark.plans import ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 50)
    root = str(tmp_path / "root_empty")
    ingest.init_ingest_indexes(spark, corpus, root)
    empty = docs.filter(F.col("doc_id") < 0)
    surv, s = ingest.ingest_batch(spark, empty, root)
    assert s.n_batch == 0 and s.n_published == 0
    surv.unpersist()
    assert ingest.read_ingest_corpus(spark, root).count() == 50


# --------------------------------------- verified fuzzy decontamination


@pytest.mark.slow
def test_minhash_band_probe_verified_semantics(spark, sf_dir):
    """The verified tier's decision semantics ARE the batch cross-corpus
    ``minhash_lsh_join``'s at the same config/threshold: kept = probe
    docs with no verified join partner. Verification only ever ADDS
    documents back relative to the candidate-level guard, and exact
    corpus members (J = 1) always drop."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 50)
    nh, b, thr = 32, 8, 0.9
    doc_idx = dedup.corpus_minhash_doc_index(
        corpus, num_hashes=nh, bands=b
    ).persist()
    band_idx = dedup.corpus_minhash_band_index(
        corpus, num_hashes=nh, bands=b
    ).persist()
    kept_v = {
        r["doc_id"]
        for r in dedup.minhash_band_probe_verified(
            docs, doc_idx, corpus, num_hashes=nh, bands=b,
            jaccard_threshold=thr,
        ).select("doc_id").collect()
    }
    kept_f = {
        r["doc_id"]
        for r in dedup.minhash_band_probe(
            docs, band_idx, num_hashes=nh, bands=b
        ).select("doc_id").collect()
    }
    assert kept_f <= kept_v  # verification is purely precision-restoring
    assert len(kept_v) > len(kept_f)  # false-positive collisions rescued
    assert all(i >= 50 for i in kept_v)  # exact members verify at J=1
    join_hits = {
        r["id_a"]
        for r in dedup.minhash_lsh_join(
            docs, corpus, num_hashes=nh, bands=b, jaccard_threshold=thr,
            est_filter=False,
        ).select("id_a").collect()
    }
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert kept_v == all_ids - join_hits
    # clean/contaminated partition the batch
    n_contam = dedup.minhash_band_probe_verified(
        docs, doc_idx, corpus, num_hashes=nh, bands=b,
        jaccard_threshold=thr, keep="contaminated",
    ).count()
    assert len(kept_v) + n_contam == docs.count()
    with pytest.raises(ValueError, match="unknown keep"):
        dedup.minhash_band_probe_verified(
            docs, doc_idx, corpus, num_hashes=nh, bands=b, keep="bogus"
        )
    # banding is REQUIRED: the builders auto-size by default, so a probe
    # default would silently hash into buckets the index never contains
    # (~zero recall, no error) — the probe must refuse instead
    # (VERDICT r8 #3)
    with pytest.raises(ValueError, match="banding config"):
        dedup.minhash_band_probe_verified(
            docs, doc_idx, corpus, jaccard_threshold=thr
        )
    with pytest.raises(ValueError, match="banding config"):
        dedup.minhash_band_probe(docs, band_idx)
    # a None threshold would make the verify filter a NULL predicate
    # that drops nothing — must refuse loudly (ADVICE r7)
    with pytest.raises(ValueError, match="jaccard_threshold is None"):
        dedup.minhash_band_probe_verified(
            docs, doc_idx, corpus, num_hashes=nh, bands=b,
            jaccard_threshold=None,
        )
    doc_idx.unpersist()
    band_idx.unpersist()


def test_decontaminate_stream_verified_matches_batch(spark, sf_dir):
    from data_engineering_capstone_project__spark.streaming.stream import (
        decontaminate_stream_verified,
        stream_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 50)
    nh, b, thr = 32, 8, 0.9
    doc_idx = dedup.corpus_minhash_doc_index(
        corpus, num_hashes=nh, bands=b
    ).persist()
    doc_idx.count()
    streamed = decontaminate_stream_verified(
        stream_documents(spark, sf_dir), doc_idx, corpus,
        num_hashes=nh, bands=b, jaccard_threshold=thr,
    )
    got = sorted(r["doc_id"] for r in streamed.select("doc_id").collect())
    expected = sorted(
        r["doc_id"]
        for r in dedup.minhash_band_probe_verified(
            docs, doc_idx, corpus, num_hashes=nh, bands=b,
            jaccard_threshold=thr,
        ).select("doc_id").collect()
    )
    assert got == expected and len(got) > 0
    doc_idx.unpersist()


def test_minhash_doc_index_roundtrip_and_extend(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 50)
    nh, b, thr = 16, 4, 0.9
    idx = dedup.corpus_minhash_doc_index(corpus, num_hashes=nh, bands=b)
    p = str(tmp_path / "mhdoc")
    art.save_minhash_doc_index(
        idx, p, num_hashes=nh, bands=b, shingle_k=5, jaccard_threshold=thr
    )
    fresh = spark.newSession()
    loaded, cfg = art.load_minhash_doc_index(fresh, p)
    assert cfg == {
        "num_hashes": nh, "bands": b, "shingle_k": 5,
        "jaccard_threshold": thr,
    }
    batch = fresh.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") >= 50
    )
    corpus2 = fresh.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 50
    )
    kept_loaded = sorted(
        r["doc_id"]
        for r in dedup.minhash_band_probe_verified(
            batch, loaded, corpus2, num_hashes=nh, bands=b,
            jaccard_threshold=thr,
        ).select("doc_id").collect()
    )
    kept_insession = sorted(
        r["doc_id"]
        for r in dedup.minhash_band_probe_verified(
            docs.filter(F.col("doc_id") >= 50), idx, corpus,
            num_hashes=nh, bands=b, jaccard_threshold=thr,
        ).select("doc_id").collect()
    )
    assert kept_loaded == kept_insession
    # wrong-kind load raises
    band_p = str(tmp_path / "mhband")
    art.save_minhash_index(
        dedup.corpus_minhash_band_index(corpus, num_hashes=nh, bands=b),
        band_p, num_hashes=nh, bands=b, shingle_k=5,
    )
    with pytest.raises(ValueError, match="not a minhash doc-index"):
        art.load_minhash_doc_index(fresh, band_p)
    # extend: admitted docs' exact copies now verify-drop against the
    # extended index (corpus text side must include the admitted docs)
    b1 = docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 60))
    idx1 = dedup.extend_minhash_doc_index(idx, b1, num_hashes=nh, bands=b)
    copies = b1.withColumn("doc_id", F.col("doc_id") + 700000)
    corpus_plus = corpus.unionByName(b1)
    assert (
        dedup.minhash_band_probe_verified(
            copies, idx1, corpus_plus, num_hashes=nh, bands=b,
            jaccard_threshold=thr,
        ).count()
        == 0
    )
    # against the UNextended index the copies pass (no corpus partner)
    assert (
        dedup.minhash_band_probe_verified(
            copies, idx, corpus, num_hashes=nh, bands=b,
            jaccard_threshold=thr,
        ).count()
        > 0
    )


def test_ingest_pipeline_verified_mode(spark, sf_dir, tmp_path):
    """verify_jaccard_threshold at bootstrap upgrades EVERY tick to the
    verified fuzzy tier (mode travels with the index artifact): an exact
    copy of a corpus doc still drops (J=1), band-colliding docs BELOW
    the threshold now publish, and admission still suppresses tick-2
    copies of tick-1 survivors under the verified probe."""
    from data_engineering_capstone_project__spark.plans import ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    b1 = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    # reference: the unverified loop on the same data
    root_u = str(tmp_path / "ingest_u")
    ingest.init_ingest_indexes(spark, corpus, root_u)
    su_df, su = ingest.ingest_batch(spark, b1, root_u)
    su_df.unpersist()
    # verified loop at a threshold high enough that some band collisions
    # fail the exact check (tiny-vocab corpus: collisions abound)
    root_v = str(tmp_path / "ingest_v")
    ingest.init_ingest_indexes(
        spark, corpus, root_v, verify_jaccard_threshold=0.9
    )
    s1_df, s1 = ingest.ingest_batch(spark, b1, root_v)
    ids1 = {r["doc_id"] for r in s1_df.select("doc_id").collect()}
    s1_df.unpersist()
    assert s1.n_exact_dropped + s1.n_fuzzy_dropped + s1.n_published == s1.n_batch
    # verification only ever ADDS documents back vs the candidate guard
    assert s1.n_published > su.n_published
    assert s1.n_exact_dropped == su.n_exact_dropped
    # tick 2: exact copy of a corpus doc drops (verifies at J = 1, via
    # the exact tier); copy of a tick-1 SURVIVOR drops via admission
    anchor = min(ids1)
    b2 = docs.filter(F.col("doc_id") == anchor).withColumn(
        "doc_id", F.col("doc_id") + 900000
    )
    s2_df, s2 = ingest.ingest_batch(spark, b2, root_v)
    assert s2.n_published == 0
    s2_df.unpersist()
    # NEAR-dup of a tick-1 SURVIVOR (mutated text, J > threshold): must
    # drop via the VERIFIED fuzzy tier — the admitted bands collide and
    # the publication log supplies the survivor's text for the exact
    # check (the cross-tick case the id-carrying admission exists for)
    b3 = (
        docs.filter(F.col("doc_id") == anchor)
        .withColumn("doc_id", F.col("doc_id") + 910000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" zqx")))
    )
    s3_df, s3 = ingest.ingest_batch(spark, b3, root_v)
    assert s3.n_published == 0 and s3.n_fuzzy_dropped == 1
    s3_df.unpersist()
    # replay conservatism holds in verified mode too
    s4_df, s4 = ingest.ingest_batch(spark, b1, root_v)
    assert s4.n_published == 0
    s4_df.unpersist()


def test_dsir_model_roundtrip_and_fresh_session_scoring(spark, sf_dir, tmp_path):
    """The fitted log-ratio table reloads in a FRESH session and scores
    identically (parquet doubles round-trip exactly); the streaming
    scorer through the same model equals the batch pass."""
    from data_engineering_capstone_project__spark.streaming.stream import (
        dsir_score_stream,
        stream_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    raw = docs.filter(F.col("doc_id") >= 100)
    tgt = docs.filter(F.col("doc_id") < 100)
    nb = 512
    ratio = text.dsir_fit(raw, tgt, n_buckets=nb)
    p = str(tmp_path / "dsir")
    art.save_dsir_model(ratio, p, n_buckets=nb, alpha=1.0, salt="dsir")
    fit_rows = sorted(
        (r["doc_id"], r["n_grams"], str(r["logw"]))
        for r in text.dsir_score(raw, ratio, n_buckets=nb).collect()
    )
    fresh = spark.newSession()
    ratio2, cfg = art.load_dsir_model(fresh, p)
    assert cfg == {"n_buckets": nb, "alpha": 1.0, "salt": "dsir"}
    raw2 = fresh.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") >= 100
    )
    got = sorted(
        (r["doc_id"], r["n_grams"], str(r["logw"]))
        for r in text.dsir_score(
            raw2, ratio2, n_buckets=cfg["n_buckets"], salt=cfg["salt"]
        ).collect()
    )
    assert got == fit_rows and len(got) > 0
    # resample through the loaded model: ids equal the fit-path selection
    sel_fit = {
        r["doc_id"]
        for r in text.dsir_resample(raw, tgt, k=50, n_buckets=nb).collect()
    }
    sel_loaded = {
        r["doc_id"]
        for r in text.dsir_resample(
            raw2, None, k=50, n_buckets=nb, ratio=ratio2
        ).collect()
    }
    assert sel_loaded == sel_fit
    with pytest.raises(ValueError, match="need target or ratio"):
        text.dsir_resample(raw, None, k=5)
    with pytest.raises(ValueError, match="not a dsir artifact"):
        art.save_centroids(spark, str(tmp_path / "c3"), np.eye(2))
        art.load_dsir_model(spark, str(tmp_path / "c3"))
    # streaming scorer == batch scorer over the same model (whole-table
    # stream includes the target docs; compare on the raw slice)
    streamed = dsir_score_stream(
        stream_documents(spark, sf_dir), ratio, n_buckets=nb
    ).filter(F.col("doc_id") >= 100)
    s_rows = sorted(
        (r["doc_id"], r["n_grams"], str(r["logw"]))
        for r in streamed.collect()
    )
    assert s_rows == fit_rows


def test_dsir_score_stream_empty_stream_id_type(spark, tmp_path):
    """Zero-batch stream: the fallback frame derives the id TYPE from the
    stream schema (string ids must not come back as long — ADVICE r7)."""
    from data_engineering_capstone_project__spark.streaming.stream import (
        dsir_score_stream,
    )

    src = tmp_path / "empty_src"
    src.mkdir()
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .parquet(str(src))
    )
    ratio = spark.createDataFrame([(0, 0.0)], "bucket long, _lr double")
    out = dsir_score_stream(stream, ratio, n_buckets=16)
    assert out.count() == 0
    assert dict(out.dtypes)["doc_id"] == "string"


# --------------------------------------------- round-9 scale/lifecycle


def test_legacy_pointer_migrated_on_first_new_commit(spark, tmp_path):
    """ADVICE r8 (medium): on a legacy pointer-only store, the FIRST
    new-protocol write must not un-commit the pointer-era versions —
    claim_version stamps their markers first, so resolution stays the
    union of old and new."""
    import json

    from data_engineering_capstone_project__spark.sources import commitlog
    from data_engineering_capstone_project__spark.sources.io import (
        write_versioned,
    )

    p = str(tmp_path / "legacy_mig")
    for v, n in ((1, 3), (2, 5)):
        os.makedirs(os.path.join(p, f"v={v}"))
        spark.range(n).write.mode("overwrite").parquet(
            os.path.join(p, f"v={v}")
        )
    os.makedirs(os.path.join(p, "v=3"))  # orphan claim beyond pointer
    with open(os.path.join(p, "LATEST"), "w") as f:
        f.write("2")
    assert commitlog.committed_versions(p) == [1, 2]
    # the new-protocol write lands a marker — legacy versions must
    # migrate, not vanish (versions 1 and 2 keep resolving; the orphan
    # v=3 gets claimed/committed by the new writer)
    new_v = write_versioned(spark.range(7), p)
    got = commitlog.committed_versions(p)
    assert 1 in got and 2 in got and new_v in got
    total = sum(
        spark.read.parquet(os.path.join(p, f"v={v}")).count() for v in got
    )
    assert total == 3 + 5 + 7


def test_read_ingest_corpus_single_scan_flat_in_ticks(spark, tmp_path):
    """VERDICT r8 #1: the publication-log read is ONE multi-path scan —
    no per-version Union chain, so plan size is flat in tick count T."""
    from data_engineering_capstone_project__spark.plans import ingest
    from data_engineering_capstone_project__spark.sources.io import (
        write_versioned,
    )

    root = str(tmp_path / "publog")
    path = os.path.join(root, "corpus")
    T = 40
    for i in range(T):
        write_versioned(
            spark.range(i * 10, i * 10 + 10).select(
                F.col("id").alias("doc_id"),
                F.concat(F.lit("d"), F.col("id")).alias("text"),
            ),
            path,
        )
    full = ingest.read_ingest_corpus(spark, root)
    plan = full._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan
    # one relation node regardless of T — the fold built T of them
    assert plan.count("Relation") == 1
    assert full.count() == T * 10
    # pinning one publication still works
    assert ingest.read_ingest_corpus(spark, root, version=3).count() == 10


def test_select_semi_join_broadcast_gated_by_k(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r8 #2: the DSIR-selection publish semi-join broadcasts the
    k-id side only when k is small; a large-k selection carries no
    broadcast hint (AQE decides) and stays hash-identical."""
    from data_engineering_capstone_project__spark.plans import ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    raw = docs.filter(F.col("doc_id") >= 300)
    nb = 512
    ratio = text.dsir_fit(raw, docs.filter(F.col("doc_id") < 300), n_buckets=nb)
    mpath = str(tmp_path / "dsir_m")
    art.save_dsir_model(ratio, mpath, n_buckets=nb, alpha=1.0, salt="dsir")
    cfg = {"dsir_path": mpath, "fraction": 0.5}

    def n_bcast_hints(df):
        # dsir_resample's ratio-table join legitimately hints broadcast
        # (bounded n_buckets rows) — count hints, don't assert absence
        return df._jdf.queryExecution().analyzed().toString().count(
            "strategy=broadcast"
        )

    root_a = str(tmp_path / "root_hint")
    ingest.init_ingest_indexes(spark, corpus, root_a)
    pub_a, _ = ingest.ingest_batch(spark, raw, root_a, select_cfg=cfg)
    ids_a = sorted(r["doc_id"] for r in pub_a.select("doc_id").collect())
    hints_small_k = n_bcast_hints(pub_a)
    pub_a.unpersist()

    monkeypatch.setattr(ingest, "_SELECT_BROADCAST_MAX_IDS", 0)
    root_b = str(tmp_path / "root_nohint")
    ingest.init_ingest_indexes(spark, corpus, root_b)
    pub_b, _ = ingest.ingest_batch(spark, raw, root_b, select_cfg=cfg)
    ids_b = sorted(r["doc_id"] for r in pub_b.select("doc_id").collect())
    # exactly the k-id semi-join hint is gone; nothing else changed
    assert n_bcast_hints(pub_b) == hints_small_k - 1
    pub_b.unpersist()
    assert ids_a == ids_b  # the hint is a strategy, never a semantics


@pytest.mark.slow
def test_compact_publication_log_bounded_versions(spark, sf_dir, tmp_path):
    """VERDICT r8 missing #3: T ticks + compaction leave a BOUNDED version
    count (corpus and index artifacts) with identical corpus content, and
    later ticks keep deduping against everything compacted."""
    from data_engineering_capstone_project__spark.sources import commitlog
    from data_engineering_capstone_project__spark.plans import ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    root = str(tmp_path / "lc")
    ingest.init_ingest_indexes(spark, corpus, root)
    for lo, hi in ((100, 150), (150, 200), (200, 250)):
        d, _ = ingest.ingest_batch(
            spark, docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), root
        )
        d.unpersist()
    cpath = os.path.join(root, "corpus")
    before = sorted(
        (r["doc_id"], r["text"])
        for r in ingest.read_ingest_corpus(spark, root).select("doc_id", "text").collect()
    )
    assert len(commitlog.committed_versions(cpath)) == 4
    ingest.compact_publication_log(
        spark, root, n_files=4
    )
    assert len(commitlog.committed_versions(cpath)) == 1
    for sub in ("fingerprints", "minhash"):
        assert len(commitlog.committed_versions(os.path.join(root, sub))) == 1
    after = sorted(
        (r["doc_id"], r["text"])
        for r in ingest.read_ingest_corpus(spark, root).select("doc_id", "text").collect()
    )
    assert before == after
    # a post-compaction tick still dedups against compacted content:
    # byte-identical re-arrivals of already-published docs all drop
    replay = docs.filter(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 150)
    ).withColumn("doc_id", F.col("doc_id") + 5_000_000)
    d4, s4 = ingest.ingest_batch(spark, replay, root)
    d4.unpersist()
    assert s4.n_published == 0


def test_ingest_admission_writes_batch_sized_deltas(spark, sf_dir, tmp_path):
    """Round 9: index admission appends a batch-sized DELTA version —
    never the extended FULL index, whose per-tick rewrite is O(index)
    and quadratic cumulative at corpus scale. The log union must still
    equal the old extend semantics exactly."""
    from data_engineering_capstone_project__spark.plans import ingest
    from data_engineering_capstone_project__spark.streaming.stream import (
        corpus_fingerprint_index,
        extend_fingerprint_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    b1 = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    root = str(tmp_path / "delta")
    ingest.init_ingest_indexes(spark, corpus, root)
    surv, s1 = ingest.ingest_batch(spark, b1, root)
    n_surv = surv.count()

    fp_path = os.path.join(root, "fingerprints")
    v1, _ = art.load_artifact(spark, fp_path, version=1)
    v2, _ = art.load_artifact(spark, fp_path, version=2)
    n_v1, n_v2 = v1["fps"].count(), v2["fps"].count()
    # v2 is the batch's delta, NOT the extended index
    assert n_v2 == n_surv and n_v2 < n_v1 + n_surv
    # union-read == old extend semantics (set equality of fingerprints)
    log_fps = {
        r["fp"] for r in art.load_fingerprint_log(spark, fp_path).collect()
    }
    ext_fps = {
        r["fp"]
        for r in extend_fingerprint_index(
            v1["fps"], surv, text_col="text"
        ).collect()
    }
    assert log_fps == ext_fps
    surv.unpersist()

    mh_path = os.path.join(root, "minhash")
    m1, meta = art.load_artifact(spark, mh_path, version=1)
    m2, _ = art.load_artifact(spark, mh_path, version=2)
    # the band delta is bounded by bands x survivors, not index-sized
    assert 0 < m2["bands"].count() <= meta["bands"] * n_surv
    # probing the LOG equals probing the old extended index
    rows, _ = art.load_minhash_log(spark, mh_path)
    copies = b1.limit(10).withColumn("doc_id", F.col("doc_id") + 900000)
    kept_log = {
        r["doc_id"]
        for r in dedup.minhash_band_probe(
            copies, rows,
            num_hashes=meta["num_hashes"], bands=meta["bands"],
        ).collect()
    }
    ext_bands = dedup.extend_minhash_band_index(
        m1["bands"],
        spark.read.parquet(os.path.join(root, "corpus", "v=2")),
        num_hashes=meta["num_hashes"], bands=meta["bands"],
    )
    kept_ext = {
        r["doc_id"]
        for r in dedup.minhash_band_probe(
            copies, ext_bands,
            num_hashes=meta["num_hashes"], bands=meta["bands"],
        ).collect()
    }
    assert kept_log == kept_ext


def test_minhash_log_refuses_mixed_banding(spark, sf_dir, tmp_path):
    """A delta appended with different banding would union rows whose
    band hashes never collide with a correctly-configured probe (silent
    recall loss, the r8 #3 class) — the log loader must refuse."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = docs.filter(F.col("doc_id") < 50)
    b = docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100))
    p = str(tmp_path / "mixed")
    art.save_minhash_index(
        dedup.corpus_minhash_band_index(a, num_hashes=16, bands=4),
        p, num_hashes=16, bands=4, shingle_k=5,
    )
    rows, meta = art.load_minhash_log(spark, p)  # consistent: fine
    assert meta["num_hashes"] == 16 and rows.count() > 0
    art.save_minhash_index(
        dedup.corpus_minhash_band_index(b, num_hashes=32, bands=8),
        p, num_hashes=32, bands=8, shingle_k=5,
    )
    with pytest.raises(ValueError, match="mixed-banding"):
        art.load_minhash_log(spark, p)


def test_fingerprint_log_refuses_mixed_fp_col(spark, sf_dir, tmp_path):
    """A delta saved with another ``fp_col`` would be read through the
    latest footer's column name, so the older versions' fingerprints
    would read as NULL — the log loader refuses the mix and names the
    version."""
    from data_engineering_capstone_project__spark.streaming.stream import (
        corpus_fingerprint_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = str(tmp_path / "fps")
    art.save_fingerprint_index(
        corpus_fingerprint_index(docs.filter(F.col("doc_id") < 50)), p
    )
    assert art.load_fingerprint_log(spark, p).count() > 0
    art.save_fingerprint_index(
        corpus_fingerprint_index(docs.filter(F.col("doc_id") >= 50))
        .withColumnRenamed("fp", "fp2"),
        p,
        fp_col="fp2",
    )
    with pytest.raises(ValueError, match="version 2 of .*mixed-fingerprint"):
        art.load_fingerprint_log(spark, p)


def test_bounded_batch_probe_no_index_exchange(spark, sf_dir, tmp_path):
    """Round 9: with bounded_batch=True the exact-dedup probe scans the
    fp index with ZERO index-side exchanges (index SEMI broadcast(batch
    fps), then batch ANTI the <=batch-sized matched set) — the naive
    anti join sort-merge-shuffles the whole index every tick past the
    broadcast threshold. Kept set identical either way."""
    from data_engineering_capstone_project__spark.streaming.stream import (
        corpus_fingerprint_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 200)
    batch = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 400))
    idx = corpus_fingerprint_index(corpus).persist()
    idx.count()
    plain = dedup.dedup_against_corpus(batch, corpus_fps=idx)
    bounded = dedup.dedup_against_corpus(
        batch, corpus_fps=idx, bounded_batch=True
    )
    ids_a = sorted(r["doc_id"] for r in plain.select("doc_id").collect())
    ids_b = sorted(r["doc_id"] for r in bounded.select("doc_id").collect())
    assert ids_a == ids_b and len(ids_b) > 0
    # structural: the bounded plan joins the index via BroadcastHashJoin
    # LeftSemi (build = batch fps), never a SortMergeJoin of the index
    plan = bounded._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    idx.unpersist()


def test_bounded_batch_fuzzy_probes_identical(spark, sf_dir):
    """Round 9: the bounded_batch flip in both fuzzy probes (batch band
    rows broadcast as the build side — zero index-side exchanges) must
    return byte-identical kept sets to the symmetric plan."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 200)
    batch = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 400))
    nh, nb = dedup.auto_minhash_config(200, 0.8, baseline_j=0.07)
    band_idx = dedup.corpus_minhash_band_index(
        corpus, num_hashes=nh, bands=nb
    ).persist()
    doc_idx = dedup.corpus_minhash_doc_index(
        corpus, num_hashes=nh, bands=nb
    ).persist()

    def ids(df):
        return sorted(r["doc_id"] for r in df.select("doc_id").collect())

    a = ids(dedup.minhash_band_probe(batch, band_idx, num_hashes=nh, bands=nb))
    b = ids(dedup.minhash_band_probe(
        batch, band_idx, num_hashes=nh, bands=nb, bounded_batch=True
    ))
    assert a == b and 0 < len(a) < batch.count()
    va = ids(dedup.minhash_band_probe_verified(
        batch, doc_idx, corpus, num_hashes=nh, bands=nb,
        jaccard_threshold=0.9,
    ))
    vb = ids(dedup.minhash_band_probe_verified(
        batch, doc_idx, corpus, num_hashes=nh, bands=nb,
        jaccard_threshold=0.9, bounded_batch=True,
    ))
    assert va == vb
    band_idx.unpersist(); doc_idx.unpersist()


def test_run_stream_ingest_compact_every_validated(spark, tmp_path):
    """compact_every=0 is ambiguous and used to ZeroDivisionError at the
    first non-empty tick; it must raise at entry (ADVICE r9)."""
    import pytest

    from data_engineering_capstone_project__spark.plans import ingest

    src = tmp_path / "src"
    src.mkdir()
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .parquet(str(src))
    )
    with pytest.raises(ValueError, match="compact_every"):
        ingest.run_stream_ingest(stream, str(tmp_path / "root"), compact_every=0)


def test_run_stream_ingest_checkpoint_kill_resume(spark, sf_dir, tmp_path):
    """Kill the checkpointed loop after tick 1's commits (before its
    offsets commit), resume from the same checkpoint: the in-flight
    micro-batch replays and publishes ZERO (its fingerprints are already
    admitted), the second file processes, and the published corpus is
    identical to sequential uninterrupted batch ticks (VERDICT r9 #1;
    the full 3-file content-identity gate is x_stream_ingest_resume)."""
    import os
    import shutil

    from data_engineering_capstone_project__spark.plans import ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    a = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    b = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 200))
    src = str(tmp_path / "src")
    os.makedirs(src)
    for name, df, mtime in (("a", a, 1_000_000), ("b", b, 2_000_000)):
        stage = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(src, f"{name}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        os.utime(dst, (mtime, mtime))
    root = str(tmp_path / "root")
    ckpt = str(tmp_path / "ckpt")
    ingest.init_ingest_indexes(spark, corpus, root)

    def mk_stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    def boom(stats):
        raise RuntimeError("injected crash after tick 1")

    try:
        ingest.run_stream_ingest(
            mk_stream(), root, checkpoint_dir=ckpt, on_tick=boom
        )
        raised = False
    except Exception:
        raised = True
    assert raised
    resumed = ingest.run_stream_ingest(mk_stream(), root, checkpoint_dir=ckpt)
    # replay of micro-batch 1 (re-drops everything) + the unseen file 2
    assert len(resumed) == 2
    assert resumed[0].n_published == 0
    assert resumed[1].n_published > 0
    published = {
        r["doc_id"]
        for r in ingest.read_ingest_corpus(spark, root).select("doc_id").collect()
    }
    # golden: uninterrupted sequential batch ticks on a second root
    root2 = str(tmp_path / "root2")
    ingest.init_ingest_indexes(spark, corpus, root2)
    for batch in (a, b):
        surv, _ = ingest.ingest_batch(spark, batch, root2)
        surv.unpersist()
    golden = {
        r["doc_id"]
        for r in ingest.read_ingest_corpus(spark, root2).select("doc_id").collect()
    }
    assert published == golden


def test_ingest_lease_serializes_interleaved_ticks(spark, sf_dir, tmp_path):
    """The single-writer contract (VERDICT r9 #2): with writer A mid-tick
    (lease held), writer B's overlapping tick raises ConcurrentIngestError
    instead of racing; once A's tick completes and releases, B's tick runs
    and every overlapping document drops against A's admissions — no doc
    is ever published twice."""
    import pytest

    from data_engineering_capstone_project__spark.plans import ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    # overlapping batches: 120-160 appears in BOTH (the double-publish
    # hazard two simultaneous ticks would race on)
    b_a = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 160))
    b_b = docs.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 200))
    root = str(tmp_path / "root")
    ingest.init_ingest_indexes(spark, corpus, root)

    # writer A mid-tick: lease held
    ingest.acquire_ingest_lease(root, owner="writer-A")
    with pytest.raises(ingest.ConcurrentIngestError, match="writer-A"):
        ingest.ingest_batch(spark, b_b, root)
    ingest.release_ingest_lease(root)

    # serialized order: A's tick, then B's
    sa, st_a = ingest.ingest_batch(spark, b_a, root)
    sa.unpersist()
    sb, st_b = ingest.ingest_batch(spark, b_b, root)
    sb.unpersist()
    # lease released after each tick (next writer can proceed)
    import os

    assert not os.path.exists(os.path.join(root, "_INGEST_LEASE"))
    published = [
        r["doc_id"]
        for r in ingest.read_ingest_corpus(spark, root).select("doc_id").collect()
    ]
    assert len(published) == len(set(published))  # nothing published twice
    # the whole overlap dropped in B's tick: docs A PUBLISHED drop in
    # B's exact tier (admitted fingerprints); docs A itself dropped as
    # corpus near-dups were never admitted, so B re-drops them in its
    # own fuzzy tier — either way nothing overlapping publishes twice
    assert st_b.n_exact_dropped + st_b.n_fuzzy_dropped >= 40


def test_ingest_lease_released_on_tick_failure(spark, sf_dir, tmp_path, monkeypatch):
    """An exception INSIDE a tick must release the lease (only a hard
    driver kill leaves it; break_ingest_lease is the operator remedy)."""
    import os

    import pytest

    from data_engineering_capstone_project__spark.operators import dedup
    from data_engineering_capstone_project__spark.plans import ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    root = str(tmp_path / "root")
    ingest.init_ingest_indexes(spark, corpus, root)

    def boom(*a, **k):
        raise RuntimeError("injected tick failure")

    monkeypatch.setattr(dedup, "dedup_against_corpus", boom)
    with pytest.raises(RuntimeError, match="injected tick failure"):
        ingest.ingest_batch(spark, batch, root)
    assert not os.path.exists(os.path.join(root, "_INGEST_LEASE"))
    monkeypatch.undo()
    # and a later tick proceeds normally
    s, st = ingest.ingest_batch(spark, batch, root)
    s.unpersist()
    assert st.n_published > 0
    # a hard-killed holder's lease is broken explicitly
    ingest.acquire_ingest_lease(root, owner="dead-writer")
    ingest.break_ingest_lease(root)
    s2, st2 = ingest.ingest_batch(spark, batch, root)
    s2.unpersist()
    assert st2.n_published == 0  # pure replay drops everything


def test_compaction_never_loses_concurrent_commit(spark, sf_dir, tmp_path, monkeypatch):
    """compact_publication_log pins the CAPTURED version set — a
    concurrent tick committing between the capture and the compactor's
    own write/expiry must survive, and the post-compaction union must
    hold every published row exactly once (VERDICT r9 #7: the code
    comment claimed it; this drives it)."""
    import os

    from data_engineering_capstone_project__spark.plans import ingest
    from data_engineering_capstone_project__spark.sources import commitlog
    from data_engineering_capstone_project__spark.sources.io import (
        write_versioned as real_wv,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    b1 = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    b2 = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 200))
    root = str(tmp_path / "root")
    ingest.init_ingest_indexes(spark, corpus, root)
    s, _ = ingest.ingest_batch(spark, b1, root)
    s.unpersist()
    path = os.path.join(root, "corpus")
    captured = commitlog.committed_versions(path)
    assert len(captured) == 2  # bootstrap + b1

    fired = {"done": False, "v": None}
    from data_engineering_capstone_project__spark.sources.io import (
        claim_versioned_write as real_cvw,
    )

    def cvw(df, p, *a, **k):
        # inject a concurrent tick's publish BETWEEN the compactor's
        # capture and its own fold claim — the interleaving the
        # docstring claims is safe (r11: compaction claims+commits its
        # fold two-phase, so the injection point is the claim)
        if p == path and not fired["done"]:
            fired["done"] = True
            fired["v"] = real_wv(b2, p)
        return real_cvw(df, p, *a, **k)

    monkeypatch.setattr(ingest, "claim_versioned_write", cvw)
    ingest.compact_publication_log(spark, root, compact_indexes=False)
    monkeypatch.undo()

    assert fired["done"]
    after = commitlog.committed_versions(path)
    # the concurrent version SURVIVED expiry (only captured inputs removed)
    assert fired["v"] in after
    assert all(v not in after for v in captured)
    rows = [
        r["doc_id"]
        for r in ingest.read_ingest_corpus(spark, root).select("doc_id").collect()
    ]
    assert len(rows) == len(set(rows))  # no double-count
    # every published doc present: corpus + b1 survivors + b2 rows
    got = set(rows)
    assert {r["doc_id"] for r in b2.select("doc_id").collect()} <= got
    assert {r["doc_id"] for r in corpus.select("doc_id").collect()} <= got


def test_bootstrap_takes_ingest_lease(spark, sf_dir, tmp_path):
    """Two racing bootstraps would each commit a full corpus version
    (double-counted by the union read, with no tier to drop it) — so
    init_ingest_indexes serializes on the same lease as ticks."""
    import os

    import pytest

    from data_engineering_capstone_project__spark.plans import ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 50)
    root = str(tmp_path / "root")
    ingest.acquire_ingest_lease(root, owner="racing-bootstrap")
    with pytest.raises(ingest.ConcurrentIngestError, match="racing-bootstrap"):
        ingest.init_ingest_indexes(spark, corpus, root)
    ingest.release_ingest_lease(root)
    ingest.init_ingest_indexes(spark, corpus, root)
    assert not os.path.exists(os.path.join(root, "_INGEST_LEASE"))
    assert ingest.read_ingest_corpus(spark, root).count() == 50


def _stage_ingest_root(spark, sf_dir, tmp_path, name="root"):
    from data_engineering_capstone_project__spark.plans import ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 160))
    root = str(tmp_path / name)
    ingest.init_ingest_indexes(spark, corpus, root)
    return docs, corpus, batch, root


def _published_ids(spark, root):
    from data_engineering_capstone_project__spark.plans import ingest

    return sorted(
        r["doc_id"]
        for r in ingest.read_ingest_corpus(spark, root).select("doc_id").collect()
    )


def test_ingest_exactly_once_crash_between_fp_and_mh(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash window: fp delta committed, mh admission never ran, publish
    claimed but uncommitted — the pre-r10 replay LOST the batch (every
    row re-dropped against its own fingerprints). The replay must now
    COMPLETE the tick: rebuild the mh delta from the claimed payload,
    commit the publish, and end content-identical to an uninterrupted
    run."""
    import pytest

    from data_engineering_capstone_project__spark.plans import ingest
    from data_engineering_capstone_project__spark.sources import artifacts as art_mod

    docs, corpus, batch, root = _stage_ingest_root(spark, sf_dir, tmp_path)
    real = art_mod.save_minhash_index

    def boom(*a, **k):
        raise RuntimeError("injected crash before mh admission")

    monkeypatch.setattr(art_mod, "save_minhash_index", boom)
    with pytest.raises(RuntimeError, match="before mh admission"):
        ingest.ingest_batch(spark, batch, root)
    monkeypatch.setattr(art_mod, "save_minhash_index", real)

    pub, st = ingest.ingest_batch(spark, batch, root)
    pub.unpersist()
    assert st.recovered and st.n_published > 0
    # golden: uninterrupted run on a second root
    _, _, _, root2 = _stage_ingest_root(spark, sf_dir, tmp_path, "root2")
    g, gs = ingest.ingest_batch(spark, batch, root2)
    g.unpersist()
    assert not gs.recovered
    assert _published_ids(spark, root) == _published_ids(spark, root2)
    assert st.n_published == gs.n_published
    # mh log was completed: a near-dup copy of a published doc drops
    mh, meta = art_mod.load_minhash_log(spark, f"{root}/minhash")
    assert mh.count() > 0


def test_ingest_exactly_once_crash_before_publish_commit(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash window: both admissions committed, publish claimed but not
    committed. The replay must simply commit the claimed payload —
    batch published exactly once, no duplicate version."""
    import pytest

    from data_engineering_capstone_project__spark.plans import ingest
    from data_engineering_capstone_project__spark.sources import commitlog

    docs, corpus, batch, root = _stage_ingest_root(spark, sf_dir, tmp_path)

    real = ingest.commit_versioned

    def boom(path, n):
        if path.endswith("corpus"):
            raise RuntimeError("injected crash before publish commit")
        return real(path, n)

    monkeypatch.setattr(ingest, "commit_versioned", boom)
    with pytest.raises(RuntimeError, match="before publish commit"):
        ingest.ingest_batch(spark, batch, root)
    monkeypatch.setattr(ingest, "commit_versioned", real)

    pre = commitlog.committed_versions(f"{root}/corpus")
    pub, st = ingest.ingest_batch(spark, batch, root)
    pub.unpersist()
    assert st.recovered and st.n_published > 0
    post = commitlog.committed_versions(f"{root}/corpus")
    assert len(post) == len(pre) + 1  # exactly one new committed version
    ids = _published_ids(spark, root)
    assert len(ids) == len(set(ids))  # nothing twice
    # and a SECOND replay of the same batch now re-drops everything
    pub2, st2 = ingest.ingest_batch(spark, batch, root)
    pub2.unpersist()
    assert not st2.recovered and st2.n_published == 0


def test_ingest_exactly_once_crash_before_any_admission(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash window: publish payload claimed, crash before the fp
    admission — only an invisible orphan claim exists, so the replay
    reprocesses in full and publishes anew; the orphan stays orphan."""
    import pytest

    from data_engineering_capstone_project__spark.plans import ingest
    from data_engineering_capstone_project__spark.sources import commitlog

    docs, corpus, batch, root = _stage_ingest_root(spark, sf_dir, tmp_path)

    # the tick claims via commitlog.claim_version (r14: the arrival
    # stamp rides in the payload, so the claim and the write are
    # separate steps); the equivalent crash seam — payload claimed and
    # written, nothing admitted yet — is the schema note that
    # immediately follows the payload write
    real = ingest._write_schema_note

    def boom(df, path, n):
        real(df, path, n)
        raise RuntimeError("injected crash after claim write")

    monkeypatch.setattr(ingest, "_write_schema_note", boom)
    with pytest.raises(RuntimeError, match="after claim write"):
        ingest.ingest_batch(spark, batch, root)
    monkeypatch.setattr(ingest, "_write_schema_note", real)

    pub, st = ingest.ingest_batch(spark, batch, root)
    pub.unpersist()
    assert not st.recovered and st.n_published > 0
    ids = _published_ids(spark, root)
    assert len(ids) == len(set(ids))
    # the orphan claim is present but uncommitted (invisible to readers)
    path = f"{root}/corpus"
    orphans = set(commitlog.all_versions(path)) - set(
        commitlog.committed_versions(path)
    )
    assert orphans  # the crashed claim


def test_ingest_exactly_once_recovery_verified_mode(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Same fp→mh crash window under the VERIFIED tier (id-carrying
    doc index, exact-Jaccard verify): recovery rebuilds the doc-index
    delta from the claimed payload and later ticks still verify against
    the recovered publication."""
    import pytest

    from data_engineering_capstone_project__spark.plans import ingest
    from data_engineering_capstone_project__spark.sources import artifacts as art_mod

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 160))
    root = str(tmp_path / "rootv")
    ingest.init_ingest_indexes(
        spark, corpus, root, verify_jaccard_threshold=0.9
    )
    real = art_mod.save_minhash_doc_index

    def boom(*a, **k):
        raise RuntimeError("injected crash before mh admission")

    monkeypatch.setattr(art_mod, "save_minhash_doc_index", boom)
    with pytest.raises(RuntimeError, match="before mh admission"):
        ingest.ingest_batch(spark, batch, root)
    monkeypatch.setattr(art_mod, "save_minhash_doc_index", real)

    pub, st = ingest.ingest_batch(spark, batch, root)
    pub.unpersist()
    assert st.recovered and st.n_published > 0
    # an exact copy of a recovered-published doc drops in the NEXT tick
    replay = batch.limit(10).withColumn("doc_id", F.col("doc_id") + 900000)
    p2, s2 = ingest.ingest_batch(spark, replay, root)
    p2.unpersist()
    assert s2.n_published == 0


def test_ingest_exactly_once_recovery_with_selection(
    spark, sf_dir, tmp_path, monkeypatch
):
    """fp→mh crash window WITH select_cfg (ADVICE r10): the tick's mh
    delta admits PUBLISHED docs only (post-selection) in candidate mode,
    so the recovery rebuild — which only has the claimed payload — ends
    content-identical to an uninterrupted golden run: same published
    ids, same mh band-row log (bidirectional exceptAll), and a later
    near-dup of a selection-REJECTED survivor gets the same verdict on
    both timelines."""
    import pytest

    from data_engineering_capstone_project__spark.plans import ingest
    from data_engineering_capstone_project__spark.sources import artifacts as art_mod

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    raw = docs.filter(F.col("doc_id") >= 300)
    tgt = docs.filter(F.col("doc_id") < 300)
    nb = 512
    ratio = text.dsir_fit(raw, tgt, n_buckets=nb)
    mpath = str(tmp_path / "dsir_model")
    art.save_dsir_model(ratio, mpath, n_buckets=nb, alpha=1.0, salt="dsir")
    cfg = {"dsir_path": mpath, "fraction": 0.4}

    root = str(tmp_path / "root_crash")
    ingest.init_ingest_indexes(spark, corpus, root)
    real = art_mod.save_minhash_index

    def boom(*a, **k):
        raise RuntimeError("injected crash before mh admission")

    monkeypatch.setattr(art_mod, "save_minhash_index", boom)
    with pytest.raises(RuntimeError, match="before mh admission"):
        ingest.ingest_batch(spark, raw, root, select_cfg=cfg)
    monkeypatch.setattr(art_mod, "save_minhash_index", real)
    pub, st = ingest.ingest_batch(spark, raw, root, select_cfg=cfg)
    pub.unpersist()
    assert st.recovered and st.n_published > 0

    # golden: the same tick uninterrupted on a second root
    root2 = str(tmp_path / "root_golden")
    ingest.init_ingest_indexes(spark, corpus, root2)
    g, gs = ingest.ingest_batch(spark, raw, root2, select_cfg=cfg)
    g.unpersist()
    assert not gs.recovered
    assert _published_ids(spark, root) == _published_ids(spark, root2)
    # the near-dup index logs are content-identical (the pre-fix shape
    # admitted pre-selection survivors uninterrupted but could only
    # rebuild published docs after a crash)
    mh_a, _ = art_mod.load_minhash_log(spark, f"{root}/minhash")
    mh_b, _ = art_mod.load_minhash_log(spark, f"{root2}/minhash")
    assert mh_a.exceptAll(mh_b).isEmpty()
    assert mh_b.exceptAll(mh_a).isEmpty()


def test_ingest_schema_evolution(spark, sf_dir, tmp_path, monkeypatch):
    """Publication-log schema evolution (VERDICT r10 #3): a tick that
    ADDS a column publishes cleanly; the union read flips to a
    mergeSchema scan (pre-evolution rows read NULL for the new column),
    a mid-evolution crash replays to the same state, compaction folds
    the evolved log into one homogeneous merged version, and the
    homogeneous fast path (no merge) is back after compaction."""
    import os

    import pytest

    from data_engineering_capstone_project__spark.plans import ingest
    from data_engineering_capstone_project__spark.sources import artifacts as art_mod

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    b1 = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 140))
    b2 = docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 240)).withColumn(
        "lang_tag", F.upper(F.substring("text", 1, 2))
    )
    root = str(tmp_path / "root")
    ingest.init_ingest_indexes(spark, corpus, root)
    p1, s1 = ingest.ingest_batch(spark, b1, root)
    p1.unpersist()

    # evolved tick 2 crashes between fp and mh; the replay completes it
    real = art_mod.save_minhash_index

    def boom(*a, **k):
        raise RuntimeError("injected crash before mh admission")

    monkeypatch.setattr(art_mod, "save_minhash_index", boom)
    with pytest.raises(RuntimeError, match="before mh admission"):
        ingest.ingest_batch(spark, b2, root)
    monkeypatch.setattr(art_mod, "save_minhash_index", real)
    p2, s2 = ingest.ingest_batch(spark, b2, root)
    p2.unpersist()
    assert s2.recovered and s2.n_published > 0

    full = ingest.read_ingest_corpus(spark, root)
    assert "lang_tag" in full.columns
    n_old = 100 + s1.n_published
    assert full.filter(F.col("lang_tag").isNull()).count() == n_old
    assert full.filter(F.col("lang_tag").isNotNull()).count() == s2.n_published
    pre_rows = sorted(
        (r["doc_id"], r["lang_tag"]) for r in full.select("doc_id", "lang_tag").collect()
    )

    # compaction folds the evolved log; union content identical
    ingest.compact_publication_log(spark, root)
    post = ingest.read_ingest_corpus(spark, root)
    post_rows = sorted(
        (r["doc_id"], r["lang_tag"]) for r in post.select("doc_id", "lang_tag").collect()
    )
    assert pre_rows == post_rows
    # log homogeneous again: one committed version, one schema note
    from data_engineering_capstone_project__spark.sources import commitlog

    cpath = os.path.join(root, "corpus")
    vs = commitlog.committed_versions(cpath)
    assert len(vs) == 1
    assert ingest._schema_note_hash(cpath, vs[0]) is not None
    # probe still green post-evolution: replaying b2 drops everything
    p3, s3 = ingest.ingest_batch(spark, b2, root)
    p3.unpersist()
    assert s3.n_published == 0


def test_compaction_crash_before_expiry_never_double_counts(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r11 crash-safe compaction: a compactor dying BETWEEN its fold
    commit and the physical deletes leaves the inputs on disk but
    fold-subsumed (_FOLDS note) — the union stays exactly-once, and the
    next compaction sweeps the leftovers."""
    import os
    import shutil as _shutil

    import pytest

    from data_engineering_capstone_project__spark.plans import ingest
    from data_engineering_capstone_project__spark.sources import commitlog

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    b1 = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    root = str(tmp_path / "root")
    ingest.init_ingest_indexes(spark, corpus, root)
    p1, s1 = ingest.ingest_batch(spark, b1, root)
    p1.unpersist()
    want = sorted(_published_ids(spark, root))

    real_rmtree = _shutil.rmtree

    def boom(*a, **k):
        raise RuntimeError("injected crash before expiry")

    monkeypatch.setattr(_shutil, "rmtree", boom)
    with pytest.raises(RuntimeError, match="before expiry"):
        ingest.compact_publication_log(spark, root, compact_indexes=False)
    monkeypatch.setattr(_shutil, "rmtree", real_rmtree)

    cpath = os.path.join(root, "corpus")
    committed = commitlog.committed_versions(cpath)
    visible = commitlog.visible_versions(cpath)
    assert len(committed) == 3 and len(visible) == 1  # fold + 2 leftovers
    # the union is exactly-once despite the leftovers being committed
    assert sorted(_published_ids(spark, root)) == want
    # the next compaction sweeps the invisible leftovers
    ingest.compact_publication_log(spark, root, compact_indexes=False)
    assert sorted(_published_ids(spark, root)) == want
    left = commitlog.committed_versions(cpath)
    assert commitlog.visible_versions(cpath) == left  # no subsumed
    assert len(left) == 1


def test_compaction_takes_lease_and_is_fenced(spark, sf_dir, tmp_path, monkeypatch):
    """Two racing compactors would each commit a fold of the same inputs
    (double-count) — compaction now serializes on the ingest lease; and
    a wrongful break mid-compaction fences the claimed fold so the
    zombie compactor cannot publish it."""
    import pytest

    from data_engineering_capstone_project__spark.plans import ingest
    from data_engineering_capstone_project__spark.sources import commitlog

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    root = str(tmp_path / "root")
    ingest.init_ingest_indexes(spark, corpus, root)
    ingest.acquire_ingest_lease(root, owner="racing-compactor")
    with pytest.raises(ingest.ConcurrentIngestError, match="racing-compactor"):
        ingest.compact_publication_log(spark, root)
    ingest.release_ingest_lease(root)

    # wrongful break between the compactor's fold claim and its commit:
    # the fold was fenced by the break → commit refused, inputs intact
    want = sorted(_published_ids(spark, root))
    real = ingest.claim_versioned_write

    def claim_then_break(df, p, *a, **k):
        v = real(df, p, *a, **k)
        ingest.break_ingest_lease(root)
        return v

    monkeypatch.setattr(ingest, "claim_versioned_write", claim_then_break)
    with pytest.raises(
        (ingest.StaleLeaseError, commitlog.FencedVersionError)
    ):
        ingest.compact_publication_log(spark, root, compact_indexes=False)
    monkeypatch.setattr(ingest, "claim_versioned_write", real)
    assert sorted(_published_ids(spark, root)) == want


def test_lease_generation_gc_and_guarded_release(tmp_path):
    """The generation log stays bounded (old g=N entries GC'd — a
    long-running loop acquires once per tick), and
    release_ingest_lease(generation=) refuses to remove a SUCCESSOR's
    lease from a zombie's finally."""
    import os

    from data_engineering_capstone_project__spark.plans import ingest

    root = str(tmp_path / "root")
    gens = []
    for _ in range(7):
        g = ingest.acquire_ingest_lease(root, owner="w")
        gens.append(g)
        ingest.release_ingest_lease(root, g)
    assert gens == sorted(gens) and len(set(gens)) == 7  # monotone
    entries = os.listdir(os.path.join(root, "_LEASE_GEN"))
    assert len(entries) <= 2  # GC keeps n and n-1 only
    assert ingest.lease_generation(root) == gens[-1]

    # zombie's finally must not unlock a third writer: old-generation
    # release is a no-op while a successor holds the lease
    g_old = ingest.acquire_ingest_lease(root, owner="zombie")
    ingest.break_ingest_lease(root)
    g_new = ingest.acquire_ingest_lease(root, owner="successor")
    ingest.release_ingest_lease(root, g_old)  # the zombie's finally
    assert os.path.exists(os.path.join(root, "_INGEST_LEASE"))
    ingest.release_ingest_lease(root, g_new)  # the rightful release
    assert not os.path.exists(os.path.join(root, "_INGEST_LEASE"))


def test_save_artifact_precommit_fence(spark, sf_dir, tmp_path, monkeypatch):
    """save_artifact's precommit hook (r11): raising at the last
    instant before the commit marker leaves the log exactly as it was
    (uncommitted orphan claim only) — and the ingest tick passes its
    generation check there, so a lease broken DURING an index-delta
    save stops even the delta from publishing."""
    import pytest

    from data_engineering_capstone_project__spark.plans import ingest
    from data_engineering_capstone_project__spark.sources import (
        artifacts as art_mod,
        commitlog,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fps = docs.limit(50).select(F.md5("text").alias("fp"))
    p = str(tmp_path / "fps")
    v1 = art_mod.save_fingerprint_index(fps, p, corpus_digest="a")
    before = commitlog.committed_versions(p)

    def boom():
        raise RuntimeError("stale at the commit instant")

    with pytest.raises(RuntimeError, match="commit instant"):
        art_mod.save_fingerprint_index(fps, p, corpus_digest="b", precommit=boom)
    assert commitlog.committed_versions(p) == before  # nothing published
    assert len(commitlog.all_versions(p)) == len(before) + 1  # orphan claim

    # integration: break the lease while the tick is INSIDE its fp-delta
    # save (after the tick-level generation check passed) — the
    # precommit hook rejects the delta itself
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 140))
    root = str(tmp_path / "root")
    ingest.init_ingest_indexes(spark, corpus, root)
    real = ingest.corpus_fingerprint_index
    fired = {"done": False}

    def break_during_save(*a, **k):
        if not fired["done"]:
            fired["done"] = True
            ingest.break_ingest_lease(root)
        return real(*a, **k)

    monkeypatch.setattr(ingest, "corpus_fingerprint_index", break_during_save)
    with pytest.raises(ingest.StaleLeaseError):
        ingest.ingest_batch(spark, batch, root)
    monkeypatch.setattr(ingest, "corpus_fingerprint_index", real)
    # the fp LOG gained no committed delta (v1 = the bootstrap only)
    assert len(commitlog.committed_versions(f"{root}/fingerprints")) == 1
    v1  # silence lint


def test_commitlog_fence_semantics(tmp_path):
    """Fence primitives (VERDICT r10 #1): a fenced claim cannot commit
    (FencedVersionError), a commit marker that RACED the fence in stays
    invisible anyway (fence wins at read time, regardless of marker
    ordering), and unfence_version restores visibility — the adoption
    path recovery uses."""
    import os

    import pytest

    from data_engineering_capstone_project__spark.sources import commitlog

    path = str(tmp_path / "log")
    n, target = commitlog.claim_version(path)
    assert commitlog.fence_uncommitted(path) == [n]
    with pytest.raises(commitlog.FencedVersionError):
        commitlog.commit_version(path, n)
    assert commitlog.committed_versions(path) == []
    # simulate the irreducible race: the marker lands even though the
    # claim is fenced (zombie's fence check passed just before the
    # fence was stamped) — resolution still excludes it
    commitlog._put_if_absent(os.path.join(target, "_COMMITTED"))
    assert commitlog.committed_versions(path) == []
    # adoption: the new lease holder unfences and the version resolves
    commitlog.unfence_version(path, n)
    assert commitlog.committed_versions(path) == [n]
    # committed-before-the-break versions are never fenced by the sweep
    n2, _ = commitlog.claim_version(path)
    commitlog.commit_version(path, n2)
    assert commitlog.fence_uncommitted(path) == []
    assert commitlog.committed_versions(path) == [n, n2]


def test_break_live_holder_commit_rejected(spark, sf_dir, tmp_path, monkeypatch):
    """THE fencing gate (VERDICT r10 #1): a LIVE holder paused mid-tick
    has its lease wrongly broken; a successor acquires and publishes its
    own batch; when the zombie resumes, its commit is REJECTED
    (StaleLeaseError) and its claimed payload stays fenced-invisible —
    no double publish, successor work intact. The pause is planted
    before the zombie's first admission, so nothing of the zombie's
    batch may surface at all."""
    import pytest

    from data_engineering_capstone_project__spark.plans import ingest
    from data_engineering_capstone_project__spark.operators import dedup as dedup_mod
    from data_engineering_capstone_project__spark.sources import commitlog

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    b_zombie = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 140))
    b_succ = docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 240))
    root = str(tmp_path / "root")
    ingest.init_ingest_indexes(spark, corpus, root)

    real = dedup_mod.dedup_against_corpus
    state = {"fired": False, "succ_stats": None}

    def pause_then_successor(*a, **k):
        # first call = the zombie's tick, mid-flight: the operator
        # (wrongly) breaks the lease and a successor runs a full tick
        if not state["fired"]:
            state["fired"] = True
            ingest.break_ingest_lease(root)
            pub, st = ingest.ingest_batch(spark, b_succ, root)
            pub.unpersist()
            state["succ_stats"] = st
        return real(*a, **k)

    monkeypatch.setattr(dedup_mod, "dedup_against_corpus", pause_then_successor)
    with pytest.raises(ingest.StaleLeaseError, match="generation moved"):
        ingest.ingest_batch(spark, b_zombie, root)
    monkeypatch.setattr(dedup_mod, "dedup_against_corpus", real)

    assert state["succ_stats"] is not None
    assert state["succ_stats"].n_published > 0
    # corpus = bootstrap + successor's batch ONLY; nothing of the
    # zombie's surfaced, nothing doubled
    ids = _published_ids(spark, root)
    assert len(ids) == len(set(ids))
    zombie_ids = {r["doc_id"] for r in b_zombie.select("doc_id").collect()}
    assert not (set(ids) & zombie_ids)
    assert state["succ_stats"].n_published == len(
        set(ids) - {r["doc_id"] for r in corpus.select("doc_id").collect()}
    )
    # the zombie was stopped BEFORE it could even claim a version (the
    # pre-claim generation check): only the bootstrap's and the
    # successor's versions exist on the corpus log, all committed
    corpus_path = f"{root}/corpus"
    assert commitlog.all_versions(corpus_path) == commitlog.committed_versions(
        corpus_path
    )
    assert len(commitlog.committed_versions(corpus_path)) == 2
    # the zombie's finally must NOT have removed the root's liveness
    # machinery for future writers: a fresh tick still works
    pub3, st3 = ingest.ingest_batch(spark, b_zombie, root)
    pub3.unpersist()
    assert st3.n_published > 0  # the batch gets its fair tick now


def test_break_after_admission_successor_adopts(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Break-a-live-holder AFTER the zombie's fp admission: the
    successor's recovery preamble ADOPTS the fenced claim (the batch's
    admission is durable, so completing it is the exactly-once action),
    then publishes its own batch; the zombie's resumed commit still
    raises StaleLeaseError. The zombie's batch ends published EXACTLY
    once — by the successor."""
    import pytest

    from data_engineering_capstone_project__spark.plans import ingest
    from data_engineering_capstone_project__spark.sources import artifacts as art_mod

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    b_zombie = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 140))
    b_succ = docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 240))
    root = str(tmp_path / "root")
    ingest.init_ingest_indexes(spark, corpus, root)

    real = art_mod.save_minhash_index
    state = {"fired": False, "succ_stats": None}

    def pause_then_successor(*a, **k):
        if not state["fired"]:
            state["fired"] = True
            ingest.break_ingest_lease(root)
            pub, st = ingest.ingest_batch(spark, b_succ, root)
            pub.unpersist()
            state["succ_stats"] = st
            # zombie resumes: its mh save proceeds (the documented
            # residual window — a stale index delta, drops-only), then
            # its corpus commit must fail the generation check
        return real(*a, **k)

    monkeypatch.setattr(art_mod, "save_minhash_index", pause_then_successor)
    with pytest.raises(ingest.StaleLeaseError, match="generation moved"):
        ingest.ingest_batch(spark, b_zombie, root)
    monkeypatch.setattr(art_mod, "save_minhash_index", real)

    ids = _published_ids(spark, root)
    assert len(ids) == len(set(ids))  # exactly-once: nothing doubled
    # zombie's batch WAS published — once, by the successor's adoption
    zombie_pub = set(ids) & {
        r["doc_id"] for r in b_zombie.select("doc_id").collect()
    }
    assert zombie_pub
    succ_pub = set(ids) & {
        r["doc_id"] for r in b_succ.select("doc_id").collect()
    }
    assert succ_pub
    # a replay of the zombie's batch now re-drops everything
    p2, s2 = ingest.ingest_batch(spark, b_zombie, root)
    p2.unpersist()
    assert s2.n_published == 0


def test_recover_ingest_tick_without_batch(spark, sf_dir, tmp_path, monkeypatch):
    """Operator-surface recovery (round 10): a tick crashed between fp
    admission and publish commit, and the batch will NEVER be
    resubmitted — recover_ingest_tick completes it from the claimed
    payload alone (mh delta rebuilt, publish committed), after which the
    published corpus matches an uninterrupted golden run and a fresh
    copy of the batch drops entirely."""
    import pytest

    from data_engineering_capstone_project__spark.plans import ingest
    from data_engineering_capstone_project__spark.sources import artifacts as art_mod

    docs, corpus, batch, root = _stage_ingest_root(spark, sf_dir, tmp_path)
    real = art_mod.save_minhash_index

    def boom(*a, **k):
        raise RuntimeError("injected crash before mh admission")

    monkeypatch.setattr(art_mod, "save_minhash_index", boom)
    with pytest.raises(RuntimeError):
        ingest.ingest_batch(spark, batch, root)
    monkeypatch.setattr(art_mod, "save_minhash_index", real)

    v = ingest.recover_ingest_tick(spark, root)
    assert v is not None
    # idempotent: a second call finds a clean log
    assert ingest.recover_ingest_tick(spark, root) is None
    _, _, _, root2 = _stage_ingest_root(spark, sf_dir, tmp_path, "root2")
    g, _ = ingest.ingest_batch(spark, batch, root2)
    g.unpersist()
    assert _published_ids(spark, root) == _published_ids(spark, root2)
    # re-arrivals of the recovered batch drop in both tiers
    p2, s2 = ingest.ingest_batch(spark, batch, root)
    p2.unpersist()
    assert s2.n_published == 0 and not s2.recovered


@pytest.mark.parametrize("case", sorted(_fold_cases.CASES))
def test_compaction_gc_crash_mid_delete_never_resurrects_leftovers(
    spark, fold_root, tmp_path, monkeypatch, case
):
    """ADVICE r11 (medium): the SECOND fold's note must subsume the
    leftovers too. Scenario: fold F1 is committed with leftovers L
    (committed-but-subsumed via F1's _FOLDS note); the next fold commits
    F2, then crashes having deleted F1 but NOT L — F1's note is gone, so
    unless F2's note names L, the leftovers become visible again
    alongside F2 (double-counting the union). Run for every user of the
    shared fold: the publication log, the fp / mh / BM25 / IVF log
    compactions, the IVF refit and the retirement refold."""
    import json as _json
    import shutil as _shutil

    from data_engineering_capstone_project__spark.sources import commitlog

    fc = _fold_cases.CASES[case]
    root = str(tmp_path / "root")
    _shutil.copytree(fold_root, root)
    want = fc.content(spark, root)
    cpath = os.path.join(root, fc.log)

    # first fold crashes before ANY delete of its log: fold F1
    # committed, both inputs are leftovers subsumed only via F1's note
    real_rmtree = _shutil.rmtree

    def crash_in_log(path, *a, **k):
        if str(path).startswith(cpath + os.sep):
            raise RuntimeError("c1")
        return real_rmtree(path, *a, **k)

    monkeypatch.setattr(_shutil, "rmtree", crash_in_log)
    with pytest.raises(RuntimeError, match="c1"):
        fc.fold(spark, root)
    (f1,) = commitlog.visible_versions(cpath)
    leftovers = [v for v in commitlog.committed_versions(cpath) if v != f1]
    assert len(leftovers) == 2

    # second fold: adversarial rmtree deletes ONLY F1's directory
    # (with its note), silently skips the leftovers, then crashes —
    # the exact worst-case interleaving of the GC loop
    def delete_f1_then_crash(path, *a, **k):
        if path.endswith(f"v={f1}"):
            real_rmtree(path, *a, **k)
            raise RuntimeError("c2")

    monkeypatch.setattr(_shutil, "rmtree", delete_f1_then_crash)
    with pytest.raises(RuntimeError, match="c2"):
        fc.fold(spark, root)
    monkeypatch.setattr(_shutil, "rmtree", real_rmtree)

    (f2,) = commitlog.visible_versions(cpath)
    # F2's note subsumes the leftovers even though F1's note is gone
    with open(os.path.join(cpath, f"v={f2}", commitlog._FOLDS)) as f:
        assert set(_json.load(f)) >= set(leftovers)
    assert fc.content(spark, root) == want  # exactly-once
    # and the next fold sweeps everything down to one version
    fc.fold(spark, root)
    assert fc.content(spark, root) == want
    assert len(commitlog.committed_versions(cpath)) == 1


def test_committed_versions_fallback_never_resurrects_fenced(tmp_path):
    """ADVICE r11 (low): the legacy-LATEST fallback must respect fences.
    (a) marker-protocol log where EVERY committed version is fenced and
    LATEST advanced in the commit/fence race -> resolves empty, the
    pointer must not resurrect fenced versions; (b) true legacy layout
    (zero markers) with a fenced version -> the fallback filters it."""
    import os as _os

    from data_engineering_capstone_project__spark.sources import commitlog

    # (a) modern log: commit v1 (advances LATEST), then fence it
    path = str(tmp_path / "modern")
    n, _ = commitlog.claim_version(path)
    commitlog.commit_version(path, n)
    assert commitlog.committed_versions(path) == [n]
    commitlog.fence_version(path, n)
    assert commitlog.committed_versions(path) == []
    with pytest.raises(FileNotFoundError):
        commitlog.latest_version(path)

    # (b) legacy layout built by hand: v=1 and v=2, pointer says 2,
    # v=2 fenced -> only v=1 resolves via the fallback
    leg = str(tmp_path / "legacy")
    for v in (1, 2):
        _os.makedirs(_os.path.join(leg, f"v={v}"))
    with open(_os.path.join(leg, commitlog.LATEST), "w") as f:
        f.write("2")
    commitlog.fence_version(leg, 2)
    assert commitlog.committed_versions(leg) == [1]


def test_sweep_stale_artifacts(spark, sf_dir, tmp_path, monkeypatch):
    """Digest-keyed artifact GC (VERDICT r11 #5): superseded digests of
    a family are swept (keep = current + N most recent), the CURRENT
    digest survives even a crash mid-sweep, other families and
    non-artifact dirs are untouched, and a post-sweep probe of the kept
    index is green."""
    import shutil as _shutil
    import time

    from data_engineering_capstone_project__spark.operators import text

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = str(tmp_path / "aroot")
    os.makedirs(root)

    # four corpora of one bm25 family (digest-keyed dirs), one current
    digests = []
    for i, hi in enumerate((50, 100, 150, 200)):
        part = d.filter(F.col("doc_id") < hi)
        dg = art.corpus_digest(part, ["doc_id", "text"])
        digests.append(dg)
        safe = dg.replace(":", "_").replace("-", "m")
        art.save_bm25_index(
            text.bm25(part), os.path.join(root, f"bm25_1.2_0.75_{safe}"),
            corpus_digest=dg, n_term_buckets=8,
        )
        time.sleep(0.05)  # distinct commit mtimes
    # a second family (different params) — must not count against bm25's
    dg_other = digests[0]
    safe_o = dg_other.replace(":", "_").replace("-", "m")
    art.save_bm25_index(
        text.bm25(d.filter(F.col("doc_id") < 50), k1=2.0),
        os.path.join(root, f"bm25_2.0_0.75_{safe_o}"),
        corpus_digest=dg_other, n_term_buckets=8,
    )
    # a non-artifact dir: never touched
    os.makedirs(os.path.join(root, "not_an_artifact"))

    current = digests[-1]
    # crash mid-sweep: first rmtree dies — current + kept survive
    real = _shutil.rmtree
    calls = {"n": 0}

    def crash_on_first(path, *a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            real(path, *a, **k)
            raise RuntimeError("mid-sweep crash")
        real(path, *a, **k)

    monkeypatch.setattr(_shutil, "rmtree", crash_on_first)
    with pytest.raises(RuntimeError, match="mid-sweep"):
        art.sweep_stale_artifacts(root, {current}, keep=1)
    monkeypatch.setattr(_shutil, "rmtree", real)
    # an exception releases the lock (finally) — but a HARD-killed
    # sweeper leaves it: a concurrent/next sweep refuses until the
    # operator removes the stale lock explicitly
    lock = os.path.join(root, "_SWEEP_LOCK")
    assert not os.path.exists(lock)
    open(lock, "w").close()
    with pytest.raises(art.ConcurrentSweepError):
        art.sweep_stale_artifacts(root, {current}, keep=1)
    os.remove(lock)
    art.sweep_stale_artifacts(root, {current}, keep=1)

    left = sorted(
        n for n in os.listdir(root) if os.path.isdir(os.path.join(root, n))
    )
    safe_cur = current.replace(":", "_").replace("-", "m")
    safe_keep = digests[2].replace(":", "_").replace("-", "m")
    assert f"bm25_1.2_0.75_{safe_cur}" in left      # current pinned
    assert f"bm25_1.2_0.75_{safe_keep}" in left     # newest non-current
    assert f"bm25_2.0_0.75_{safe_o}" in left        # other family intact
    assert "not_an_artifact" in left
    assert len([n for n in left if n.startswith("bm25_1.2")]) == 2
    # probes on the survivors stay green
    w = art.load_bm25_index(
        spark, os.path.join(root, f"bm25_1.2_0.75_{safe_cur}")
    )
    got = text.bm25_topk(None, {"q": "hash scan"}, k=5, weights=w)
    assert got.count() == 5


def test_foreign_recovery_probe_sees_rebuilt_mh_delta(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Review r12 #2: batch A's tick crashes between its fp and mh
    admissions; batch B (containing a NEAR-dup of an A doc) arrives
    next. B's preamble completes A's tick — rebuilding A's mh delta —
    and B's fuzzy probe must include that delta (the index frames load
    AFTER recovery now): the near-dup drops instead of publishing."""
    from data_engineering_capstone_project__spark.plans import ingest
    from data_engineering_capstone_project__spark.sources import (
        artifacts as art_mod,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = d.filter(F.col("doc_id") < 200).select("doc_id", "text")
    root = str(tmp_path / "root")
    ingest.init_ingest_indexes(spark, corpus, root)

    # sparse-vocab synthetic docs (the driver corpus near-dups with
    # everything); A0's near-dup differs by one word
    words = [f"rtok{i:03d}" for i in range(60)]
    a_docs = [
        (90001, " ".join(words)),
        (90002, " ".join(f"stok{i:03d}" for i in range(60))),
    ]
    near = " ".join(words[:30] + ["zzchangedzz"] + words[31:])
    fresh = " ".join(f"utok{i:03d}" for i in range(60))
    batch_a = spark.createDataFrame(a_docs, "doc_id long, text string")
    batch_b = spark.createDataFrame(
        [(91001, near), (91002, fresh)], "doc_id long, text string"
    )

    real = art_mod.save_minhash_index

    def boom(*a, **k):
        raise RuntimeError("injected crash before mh admission")

    monkeypatch.setattr(art_mod, "save_minhash_index", boom)
    with pytest.raises(RuntimeError, match="mh admission"):
        ingest.ingest_batch(spark, batch_a, root)
    monkeypatch.setattr(art_mod, "save_minhash_index", real)

    p, s = ingest.ingest_batch(spark, batch_b, root)
    p.unpersist()
    assert not s.recovered  # foreign completion, B processed normally
    assert s.n_published == 1  # fresh only; the near-dup dropped
    assert s.n_fuzzy_dropped == 1
    # A's docs were published by the completion
    ids = {
        r["doc_id"]
        for r in ingest.read_ingest_corpus(spark, root)
        .select("doc_id").collect()
    }
    assert {90001, 90002, 91002} <= ids and 91001 not in ids


def test_artifact_family_explicit_and_tight_fallback(spark, sf_dir):
    """ADVICE r13 #4: family grouping never merges distinct
    parameterizations. (a) an explicit meta['family'] wins; (b) the
    legacy name fallback only strips a REAL digest shape (count +
    >=6-digit hash magnitude), so a name ending in short numeric
    parameter segments (kind_8_128) stays its own family; (c) the
    compactors stamp family at fold time, so a compacted log still
    groups with its digest-keyed siblings."""
    from data_engineering_capstone_project__spark.operators import text

    fam = art._artifact_family
    assert fam("anything", {"family": "pinned"}) == "pinned"
    # real digest suffix stripped via the stamped digest
    assert (
        fam("bm25_1.2_0.75_60000_m1234567890", {"corpus_digest": "60000:-1234567890"})
        == "bm25_1.2_0.75"
    )
    # parameterization that LOOKS like two numeric segments is kept
    assert fam("kind_8_128", {}) == "kind_8_128"
    # legacy fallback still strips a digest-magnitude suffix
    assert fam("kind_8_128_60000_m1234567890", {}) == "kind_8_128"

    # compaction stamps the family before restamping the digest
    import os as _os

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    dg = art.corpus_digest(d, ["doc_id", "text"])
    safe = dg.replace(":", "_").replace("-", "m")
    root = art.default_artifact_root()
    p = _os.path.join(root, f"famtest_{safe}")
    import shutil as _sh

    _sh.rmtree(p, ignore_errors=True)
    try:
        postings, pstats = text.bm25_postings_with_stats(d)
        art.save_bm25_postings(
            postings, p, n_term_buckets=8, stats=pstats, corpus_digest=dg
        )
        art.compact_artifact_log(spark, p)
        meta = art.load_artifact_meta(p)
        assert meta["corpus_digest"].startswith("compacted:")
        assert meta["family"] == "famtest"
        assert fam(_os.path.basename(p), meta) == "famtest"
    finally:
        _sh.rmtree(p, ignore_errors=True)


def test_ivf_needs_refit_zero_baseline():
    """ADVICE r13 #2: a legitimate fit-time baseline of exactly 0.0
    (every vector on its centroid) must not disable the qerr trigger —
    any positive post-append qerr is infinite relative drift there."""
    from data_engineering_capstone_project__spark.operators import (
        similarity as sim,
    )

    base = {"mean_qerr": 0.0}
    healthy = {"n_vectors": 10, "cell_skew": 1.0, "mean_qerr": 0.0}
    drifted = {"n_vectors": 12, "cell_skew": 1.0, "mean_qerr": 1e-6}
    assert not sim.ivf_needs_refit(healthy, base)
    assert sim.ivf_needs_refit(drifted, base)
    # absent baseline still skips the qerr rule
    assert not sim.ivf_needs_refit(drifted, None)
    assert not sim.ivf_needs_refit(drifted, {})
