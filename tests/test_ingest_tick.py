"""The ingest tick's batch-side tables: its admission deltas equal the
recovery rebuild, a claimed payload write keeps the protocol markers, and
a warm tick stays under a job bound. Inputs come from the benchmark's
ingest generator (read-only use of ``perfbench``)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_engineering_capstone_project__spark.operators import dedup, text
from data_engineering_capstone_project__spark.plans import ingest
from data_engineering_capstone_project__spark.sources import artifacts as art
from data_engineering_capstone_project__spark.sources import commitlog
from data_engineering_capstone_project__spark.sources import io as io_mod
from data_engineering_capstone_project__spark.streaming.stream import (
    corpus_fingerprint_index,
)
from perfbench.gen import gen_ingest

DOC_SCHEMA = "doc_id long, text string"


@pytest.fixture(scope="module")
def docs():
    return gen_ingest(3, 2)


def _frame(spark, rows):
    return spark.createDataFrame(rows, DOC_SCHEMA)


def _latest_part(spark, path: str, part: str):
    return spark.read.parquet(
        os.path.join(path, f"v={commitlog.latest_version(path)}", part)
    )


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("mode", ["plain", "verified", "select"])
def test_tick_deltas_equal_recovery_rebuild(spark, tmp_path, docs, mode):
    """The fp delta a tick admits is ``corpus_fingerprint_index`` of its
    survivors, and its mh delta is ``corpus_minhash_{band,doc}_index`` of
    the published docs (what ``_complete_dangling_tick`` rebuilds), with
    digests stamped from the same frames — in the plain, verified and
    ``select_cfg`` modes."""
    boot = _frame(spark, docs["bootstrap"])
    batch = _frame(spark, docs["batches"][0])
    kw = {"verify_jaccard_threshold": 0.8} if mode == "verified" else {}
    select_cfg = None
    if mode == "select":
        mpath = str(tmp_path / "dsir")
        art.save_dsir_model(
            text.dsir_fit(batch, boot, n_buckets=512), mpath,
            n_buckets=512, alpha=1.0, salt="dsir",
        )
        select_cfg = {"dsir_path": mpath, "fraction": 0.5}
    root = str(tmp_path / "root")
    ingest.init_ingest_indexes(spark, boot, root, **kw)
    published, st = ingest.ingest_batch(spark, batch, root, select_cfg=select_cfg)
    published.unpersist()
    published = ingest.read_ingest_corpus(spark, root).filter(
        F.col("doc_id") >= 1_000_000
    )
    survivors = published
    if mode == "select":
        # the same tick without selection publishes exactly the survivors
        root2 = str(tmp_path / "root2")
        ingest.init_ingest_indexes(spark, boot, root2)
        plain, _ = ingest.ingest_batch(spark, batch, root2)
        plain.unpersist()
        survivors = ingest.read_ingest_corpus(spark, root2).filter(
            F.col("doc_id") >= 1_000_000
        )
        assert st.n_select_dropped > 0
    assert published.count() == st.n_published > 0

    fp_path, mh_path = f"{root}/fingerprints", f"{root}/minhash"
    assert _rows(_latest_part(spark, fp_path, "fps")) == _rows(
        corpus_fingerprint_index(survivors)
    )
    meta = art.load_artifact_meta(mh_path)
    cfg = [meta["num_hashes"], meta["bands"], meta["shingle_k"]]
    build = (
        dedup.corpus_minhash_doc_index
        if mode == "verified"
        else dedup.corpus_minhash_band_index
    )
    assert _rows(_latest_part(spark, mh_path, "bands")) == _rows(
        build(published, "doc_id", "text", *cfg)
    )
    cols = ["doc_id", "text"]
    assert art.load_artifact_meta(fp_path)["corpus_digest"] == (
        f"delta:{art.corpus_digest(survivors, cols)}"
    )
    assert meta["corpus_digest"] == f"delta:{art.corpus_digest(published, cols)}"


def test_fenced_claim_survives_payload_write(spark, tmp_path, monkeypatch, docs):
    """A lease break that fences a claim before its payload lands must
    still stop the commit: the payload write keeps ``_CLAIM`` and
    ``_FENCED`` (an overwrite would delete the claimed directory)."""
    df = _frame(spark, docs["bootstrap"][:20])
    path = str(tmp_path / "log")
    real = commitlog.claim_version

    def claim_then_fence(p):
        n, target = real(p)
        if os.path.basename(p) in ("log", "corpus"):
            commitlog.fence_version(p, n)
        return n, target

    monkeypatch.setattr(commitlog, "claim_version", claim_then_fence)
    n = io_mod.claim_versioned_write(df, path)
    for marker in ("_CLAIM", "_FENCED"):
        assert os.path.exists(os.path.join(path, f"v={n}", marker))
    with pytest.raises(commitlog.FencedVersionError):
        io_mod.commit_versioned(path, n)

    # the tick's own payload write keeps them too
    monkeypatch.setattr(commitlog, "claim_version", real)
    root = str(tmp_path / "root")
    ingest.init_ingest_indexes(spark, _frame(spark, docs["bootstrap"]), root)
    monkeypatch.setattr(commitlog, "claim_version", claim_then_fence)
    with pytest.raises(commitlog.FencedVersionError):
        ingest.ingest_batch(spark, _frame(spark, docs["batches"][0]), root)
    corpus = f"{root}/corpus"
    v = max(commitlog.all_versions(corpus))
    assert art.load_artifact_meta(f"{root}/fingerprints")["publish_version"] == v
    for marker in ("_CLAIM", "_FENCED"):
        assert os.path.exists(os.path.join(corpus, f"v={v}", marker))
    assert commitlog.committed_versions(corpus) == [1]


def test_warm_tick_job_bound(spark, tmp_path, docs):
    """A warm tick on the benchmark's ingest shape launches at most 22
    Spark jobs (one job group, read once at the end), and its stats
    conserve the batch."""
    root = str(tmp_path / "root")
    ingest.init_ingest_indexes(spark, _frame(spark, docs["bootstrap"]), root)
    first, _ = ingest.ingest_batch(spark, _frame(spark, docs["batches"][0]), root)
    first.unpersist()
    rows = docs["batches"][1]
    batch = _frame(spark, rows)
    sc = spark.sparkContext
    sc.setJobGroup("warm_tick", "warm ingest tick")
    try:
        published, st = ingest.ingest_batch(spark, batch, root)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    published.unpersist()
    jobs = len(sc.statusTracker().getJobIdsForGroup("warm_tick"))
    assert jobs <= 22, jobs
    assert st.n_batch == len(rows)
    assert st.n_exact_dropped + st.n_fuzzy_dropped + st.n_published == st.n_batch
    assert st.n_published > 0 and st.n_exact_dropped > 0
