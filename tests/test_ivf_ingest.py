"""IVF (ANN) index maintenance composed with the fenced ingest tick
(VERDICT r12 #1 + #5): crash/fencing semantics the oracle gate
(``x_ivf_ingest``) can't drive — injected crashes, zero-vector deltas,
NULL vectors, mixed-codebook refusal, refit atomicity."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_engineering_capstone_project__spark.operators import (
    similarity as sim,
)
from data_engineering_capstone_project__spark.plans import ingest
from data_engineering_capstone_project__spark.sources import artifacts as art
from data_engineering_capstone_project__spark.sources import commitlog


def _vec_docs(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    return d.join(e, "doc_id").select("doc_id", "text", "embedding")


def _stage(spark, sf_dir, tmp_path, name="ivroot"):
    all_docs = _vec_docs(spark, sf_dir)
    corpus = all_docs.filter(F.col("doc_id") % 3 == 0)
    batch = all_docs.filter(F.col("doc_id") % 3 == 1)
    root = str(tmp_path / name)
    ingest.init_ingest_indexes(
        spark, corpus, root,
        ivf_index={
            "vec_col": "embedding", "n_centroids": 4,
            "sample_rows": 300, "n_iter": 4,
        },
    )
    return all_docs, corpus, batch, root


def test_ivf_delta_appended_per_tick_and_probe_parity(
    spark, sf_dir, tmp_path
):
    """A tick appends one fenced vector delta; the log probe equals
    ivf_topk over the unioned vectors; the surface is the corpus."""
    _, corpus, batch, root = _stage(spark, sf_dir, tmp_path)
    pub, st = ingest.ingest_batch(spark, batch, root)
    pub.unpersist()
    assert st.ivf_index_version == 2
    assert st.ivf_refit_due is False  # in-distribution batch
    vecs, meta = art.load_ivf_log(spark, f"{root}/ivf")
    assert meta["n_vectors"] == ingest.read_ingest_corpus(
        spark, root
    ).count()
    cents, _ = art.load_centroids_by_digest(
        spark, f"{root}/ivf_codebook", meta["codebook_digest"]
    )
    q = [float(x) for x in corpus.orderBy("doc_id").first()["embedding"]]
    got = sim.ivf_topk_log(
        spark, f"{root}/ivf", f"{root}/ivf_codebook", q, k=5, nprobe=2
    ).collect()
    ref = sim.ivf_topk(
        vecs.drop("ivf_cell"), q, cents, k=5, nprobe=2, id_col="doc_id"
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]


def test_ivf_crash_between_bm25_and_publish_replays_exactly_once(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash window: fp/mh (and ivf) deltas admitted, publish claimed
    but uncommitted. The replay completes the tick; the vector log
    holds the batch's vectors EXACTLY once (the pre-r13 bare
    append_ivf_corpus could not make this guarantee under v2
    committers)."""
    _, corpus, batch, root = _stage(spark, sf_dir, tmp_path)

    real = ingest.commit_versioned

    def boom(path, n):
        if path.endswith("corpus"):
            raise RuntimeError("injected crash before publish commit")
        return real(path, n)

    monkeypatch.setattr(ingest, "commit_versioned", boom)
    with pytest.raises(RuntimeError, match="before publish commit"):
        ingest.ingest_batch(spark, batch, root)
    monkeypatch.setattr(ingest, "commit_versioned", real)

    pub, st = ingest.ingest_batch(spark, batch, root)
    pub.unpersist()
    assert st.recovered
    vecs, meta = art.load_ivf_log(spark, f"{root}/ivf")
    ids = [r["doc_id"] for r in vecs.select("doc_id").collect()]
    assert len(ids) == len(set(ids))  # nothing indexed twice
    assert meta["n_vectors"] == len(ids)  # meta accounting == rows
    assert meta["n_vectors"] == ingest.read_ingest_corpus(
        spark, root
    ).count()


def test_ivf_crash_before_ivf_delta_rebuilt_in_recovery(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash window: fp+mh admitted, crash INSIDE the ivf append (the
    precommit fence raises before its commit marker). Recovery must
    rebuild the vector delta from the claimed payload — the log is
    golden-equal to an uninterrupted tick's."""
    _, corpus, batch, root = _stage(spark, sf_dir, tmp_path)

    real = art.save_ivf_delta
    calls = {"n": 0}

    def boom(*a, **k):
        calls["n"] += 1
        raise RuntimeError("injected crash in ivf append")

    monkeypatch.setattr(art, "save_ivf_delta", boom)
    with pytest.raises(RuntimeError, match="ivf append"):
        ingest.ingest_batch(spark, batch, root)
    monkeypatch.setattr(art, "save_ivf_delta", real)
    assert calls["n"] == 1

    pub, st = ingest.ingest_batch(spark, batch, root)
    pub.unpersist()
    assert st.recovered
    vecs, meta = art.load_ivf_log(spark, f"{root}/ivf")
    assert meta.get("batch_digest") is not None
    ids = [r["doc_id"] for r in vecs.select("doc_id").collect()]
    assert len(ids) == len(set(ids))
    assert meta["n_vectors"] == ingest.read_ingest_corpus(
        spark, root
    ).count()
    # a further replay is a no-op on the log
    pub2, st2 = ingest.ingest_batch(spark, batch, root)
    pub2.unpersist()
    assert st2.n_published == 0
    meta2, _ = art.load_ivf_log_stats(f"{root}/ivf")
    assert meta2["n_vectors"] == meta["n_vectors"]


def test_ivf_zero_vector_delta_and_null_vectors(spark, sf_dir, tmp_path):
    """A full-dup tick still appends its (zero-vector) delta version —
    the tick marker must land for recovery's completion rule — and
    NULL-vector rows publish but are not indexed (n_null_vec)."""
    all_docs, corpus, batch, root = _stage(spark, sf_dir, tmp_path)
    # full-dup batch: byte-identical re-arrivals under fresh ids
    dup = corpus.select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text", "embedding"
    )
    pub, st = ingest.ingest_batch(spark, dup, root)
    pub.unpersist()
    assert st.n_published == 0
    assert st.ivf_index_version is not None
    m = art.load_artifact_meta(f"{root}/ivf", st.ivf_index_version)
    assert m["n_vectors"] == 0 and m.get("batch_digest")

    # NULL vectors: published, not indexed, accounted (synthetic unique
    # texts so neither dedup tier can drop them)
    nulls = batch.limit(4).select(
        "doc_id",
        F.concat(
            F.lit("nulvec unique text payload "), F.col("doc_id")
        ).alias("text"),
        F.lit(None).cast("array<double>").alias("embedding"),
    )
    pub2, st2 = ingest.ingest_batch(spark, nulls, root)
    n_pub = pub2.count()
    pub2.unpersist()
    m2 = art.load_artifact_meta(f"{root}/ivf", st2.ivf_index_version)
    assert m2["n_vectors"] == 0
    assert m2["n_null_vec"] == n_pub > 0
    # a fold sums n_null_vec over its inputs (as it sums n_vectors), and
    # a refit fold carries the sum: only the NULL-vector tick had any
    ingest.compact_publication_log(spark, root)
    assert art.load_artifact_meta(f"{root}/ivf")["n_null_vec"] == n_pub
    ingest.refit_ivf_index(spark, root, sample_rows=300, n_iter=4)
    assert art.load_artifact_meta(f"{root}/ivf")["n_null_vec"] == n_pub


def test_ivf_log_refuses_mixed_codebook(spark, sf_dir, tmp_path):
    """A delta stamped with a foreign codebook digest poisons the log
    loudly — probes must never rank across two cell layouts."""
    _, corpus, batch, root = _stage(spark, sf_dir, tmp_path)
    vecs = batch.select("doc_id", "embedding").limit(3).withColumn(
        "ivf_cell", F.lit(0)
    )
    art.save_ivf_delta(
        vecs, f"{root}/ivf", codebook_digest="deadbeefdeadbeef",
        cell_stats=[[0, 3, 1.0]],
    )
    with pytest.raises(ValueError, match="mixed-codebook"):
        art.load_ivf_log(spark, f"{root}/ivf")


def test_ivf_folded_stats_match_full_pass(spark, sf_dir, tmp_path):
    """VERDICT r12 #5: the meta-folded drift stats equal the audited
    full-pass form — counts/skew EXACT, mean_qerr to float-fold
    tolerance (per-delta IEEE sums fold in an order the full pass
    does not pin; disclosed in fold_ivf_cell_stats)."""
    _, corpus, batch, root = _stage(spark, sf_dir, tmp_path)
    pub, _ = ingest.ingest_batch(spark, batch, root)
    pub.unpersist()
    vecs, meta = art.load_ivf_log(spark, f"{root}/ivf")
    cents, cbm = art.load_centroids_by_digest(
        spark, f"{root}/ivf_codebook", meta["codebook_digest"]
    )
    folded = sim.fold_ivf_cell_stats(meta["cell_totals"], int(cbm["k"]))
    full = sim.ivf_drift_stats(vecs, cents)
    for k in ("n_vectors", "n_cells_nonempty", "n_centroids", "max_cell"):
        assert folded[k] == full[k]
    assert folded["cell_skew"] == pytest.approx(full["cell_skew"], rel=0)
    assert folded["mean_qerr"] == pytest.approx(
        full["mean_qerr"], rel=1e-9
    )


def test_ivf_refit_fold_is_atomic_and_fenced(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A refit that dies before its commit marker leaves the OLD layout
    fully probe-able (the fold claim is invisible); a successful refit
    under a broken lease is fenced."""
    _, corpus, batch, root = _stage(spark, sf_dir, tmp_path)
    pub, _ = ingest.ingest_batch(spark, batch, root)
    pub.unpersist()
    q = [float(x) for x in corpus.orderBy("doc_id").first()["embedding"]]

    def probe():
        return [
            tuple(r)
            for r in sim.ivf_topk_log(
                spark, f"{root}/ivf", f"{root}/ivf_codebook", q,
                k=5, nprobe=2,
            ).collect()
        ]

    before = probe()
    meta0, vs0 = art.load_ivf_log_stats(f"{root}/ivf")

    real = commitlog.commit_version
    state = {"armed": False}

    def boom(path, n):
        if state["armed"] and path.endswith("ivf"):
            raise RuntimeError("injected crash before refit commit")
        return real(path, n)

    monkeypatch.setattr(commitlog, "commit_version", boom)
    state["armed"] = True
    with pytest.raises(RuntimeError, match="refit commit"):
        ingest.refit_ivf_index(spark, root, sample_rows=300, n_iter=4)
    state["armed"] = False
    monkeypatch.setattr(commitlog, "commit_version", real)

    # old layout untouched and probe-able
    meta1, vs1 = art.load_ivf_log_stats(f"{root}/ivf")
    assert vs1 == vs0 and meta1["codebook_digest"] == meta0["codebook_digest"]
    assert probe() == before

    # the real refit then succeeds and the probe matches exact topk
    ingest.refit_ivf_index(spark, root, sample_rows=300, n_iter=4)
    vecs2, meta2 = art.load_ivf_log(spark, f"{root}/ivf")
    assert meta2["codebook_digest"] != meta0["codebook_digest"]
    cents2, _ = art.load_centroids_by_digest(
        spark, f"{root}/ivf_codebook", meta2["codebook_digest"]
    )
    got = probe()
    ref = sim.ivf_topk(
        vecs2.drop("ivf_cell"), q, cents2, k=5, nprobe=2, id_col="doc_id"
    ).collect()
    assert got == [tuple(r) for r in ref]
    assert meta2["n_vectors"] == meta0["n_vectors"]


def test_ivf_batch_without_vec_col_refused(spark, sf_dir, tmp_path):
    """An IVF-maintaining root refuses a batch that lost its vector
    column — silently publishing unindexed docs would quietly shrink
    the retrieval surface below the corpus."""
    _, corpus, batch, root = _stage(spark, sf_dir, tmp_path)
    with pytest.raises(ValueError, match="no such column"):
        ingest.ingest_batch(spark, batch.drop("embedding"), root)


def test_ivf_config_validation(spark, sf_dir, tmp_path):
    all_docs = _vec_docs(spark, sf_dir)
    corpus = all_docs.limit(20)
    with pytest.raises(ValueError, match="vec_col"):
        ingest.init_ingest_indexes(
            spark, corpus, str(tmp_path / "r1"), ivf_index={}
        )
    with pytest.raises(ValueError, match="unknown ivf_index keys"):
        ingest.init_ingest_indexes(
            spark, corpus, str(tmp_path / "r2"),
            ivf_index={"vec_col": "embedding", "nprobe": 4},
        )
