"""Incremental BM25 posting log (VERDICT r11 #1): append-only raw
sufficient statistics + probe-time exact global recomputation.

The contract under test: a posting log built by appends (standalone or
via ingest ticks) probes BIT-IDENTICALLY to a from-scratch
``text.bm25_topk`` over the same corpus, with a plan that never touches
the corpus (no re-tokenize) and partition-prunes every posting scan to
the query terms' hash buckets; compaction is content-identical and
crash-safe (folds-note protocol)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import _fold_cases
from _profile import prof

from data_engineering_capstone_project__spark.operators import text
from data_engineering_capstone_project__spark.sources import artifacts as art
from data_engineering_capstone_project__spark.sources import commitlog

Q = {"q_scan": "hash scan filter", "q_stream": "stream window watermark"}


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _build_log(spark, sf_dir, tmp_path, splits=(400,)):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "bm25p")
    bounds = [0, *splits, 10**9]
    for lo, hi in zip(bounds, bounds[1:]):
        part = d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        postings, stats = text.bm25_postings_with_stats(part)
        art.save_bm25_postings(postings, path, stats=stats)
    return d, path


def test_incremental_probe_bit_equal_to_from_scratch(spark, sf_dir, tmp_path):
    d, path = _build_log(spark, sf_dir, tmp_path, splits=(300, 450))
    inc = text.bm25_topk_incremental(spark, path, Q, k=10)
    ref = text.bm25_topk(d, Q, k=10, weights=None)
    assert _rows(inc) == _rows(ref)
    # DataFrame query-set form too (the scale path)
    qdf = d.filter(F.col("doc_id") < 3).select(
        F.concat(F.lit("q"), F.col("doc_id").cast("string")).alias("query_id"),
        "text",
    )
    inc_f = text.bm25_topk_incremental(spark, path, qdf, k=5)
    ref_f = text.bm25_topk(d, qdf, k=5, weights=None)
    assert _rows(inc_f) == _rows(ref_f)


def test_incremental_probe_plan_no_corpus_scan_and_pruned(
    spark, sf_dir, tmp_path
):
    """EXPLAIN pins (the VERDICT done-criteria): the probe plan contains
    ZERO corpus file scans (no re-tokenize — the O(corpus)-per-change
    scale-killer the log removes) and every posting scan carries a
    ``_tb`` PartitionFilter derived from the query terms."""
    _, path = _build_log(spark, sf_dir, tmp_path)
    inc = text.bm25_topk_incremental(spark, path, Q, k=10)
    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan
    n_scans = plan.count("Scan parquet")
    assert n_scans > 0
    assert plan.count("PartitionFilters: [_tb") == n_scans


def test_compaction_content_identical_and_scalars_summed(
    spark, sf_dir, tmp_path
):
    d, path = _build_log(spark, sf_dir, tmp_path, splits=(250, 500))
    before = _rows(text.bm25_topk_incremental(spark, path, Q, k=10))
    _, meta_before = art.load_bm25_postings_log(spark, path)
    art.compact_artifact_log(spark, path)
    after = _rows(text.bm25_topk_incremental(spark, path, Q, k=10))
    assert after == before
    _, meta_after = art.load_bm25_postings_log(spark, path)
    # the folded version's meta carries the SUMMED scalars — the
    # generic log compactor would have copied the last delta's
    assert meta_after["totals"] == meta_before["totals"]
    assert len(commitlog.visible_versions(path)) == 1


@pytest.mark.parametrize("case", sorted(_fold_cases.CASES))
def test_compaction_crash_before_deletes_never_double_counts(
    spark, fold_root, tmp_path, monkeypatch, case
):
    """Folds-note crash window: a fold dying between its commit and the
    physical deletes leaves every input on disk but fold-subsumed — the
    log's union (for BM25 the probe and its N/avgdl meta sums) must stay
    exactly-once, or tf/df double and every score shifts. Run for every
    user of the shared fold (``_fold_cases``)."""
    import shutil as _shutil

    fc = _fold_cases.CASES[case]
    root = str(tmp_path / "root")
    _shutil.copytree(fold_root, root)
    path = os.path.join(root, fc.log)
    want = fc.content(spark, root)

    real = _shutil.rmtree
    monkeypatch.setattr(
        _shutil, "rmtree",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash")),
    )
    with pytest.raises(RuntimeError, match="crash"):
        fc.fold(spark, root)
    monkeypatch.setattr(_shutil, "rmtree", real)

    # inputs still on disk + fold committed — resolution excludes them
    assert len(commitlog.committed_versions(path)) == 3
    assert len(commitlog.visible_versions(path)) == 1
    assert fc.content(spark, root) == want
    # next fold sweeps the leftovers and stays exact
    fc.fold(spark, root)
    assert len(commitlog.committed_versions(path)) == 1
    assert fc.content(spark, root) == want


@pytest.mark.parametrize(
    "case", sorted(c for c, fc in _fold_cases.CASES.items() if fc.saver)
)
def test_fold_writes_through_public_saver(
    spark, fold_root, tmp_path, monkeypatch, case
):
    """A fold whose log has a public saver writes through it, looked up
    on the module at call time: a fault injected there fails the fold
    and leaves the content as it was."""
    import shutil as _shutil

    fc = _fold_cases.CASES[case]
    root = str(tmp_path / "root")
    _shutil.copytree(fold_root, root)
    want = fc.content(spark, root)

    def boom(*a, **k):
        raise RuntimeError("saver")

    monkeypatch.setattr(art, fc.saver, boom)
    with pytest.raises(RuntimeError, match="saver"):
        fc.fold(spark, root)
    monkeypatch.undo()
    assert fc.content(spark, root) == want


def test_mixed_bucket_layout_refused(spark, sf_dir, tmp_path):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "bm25p")
    p1, s1 = text.bm25_postings_with_stats(d.filter(F.col("doc_id") < 100))
    art.save_bm25_postings(p1, path, stats=s1, n_term_buckets=64)
    p2, s2 = text.bm25_postings_with_stats(d.filter(F.col("doc_id") >= 100))
    art.save_bm25_postings(p2, path, stats=s2, n_term_buckets=32)
    with pytest.raises(ValueError, match="mixed"):
        art.load_bm25_postings_log(spark, path)


def test_save_requires_stats(spark, sf_dir, tmp_path):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    postings, _ = text.bm25_postings_with_stats(d)
    with pytest.raises(ValueError, match="stats"):
        art.save_bm25_postings(postings, str(tmp_path / "p"))


def test_ingest_tick_maintains_bm25_log(spark, sf_dir, tmp_path):
    """The composition the VERDICT asked for: bootstrap with
    ``bm25_index=True``, tick twice (near-dup drops included), and the
    incremental probe over ``root/bm25`` equals a from-scratch fit of
    the PUBLICATION LOG exactly — the search surface is the corpus.
    Publication-log compaction folds the posting log too."""
    from data_engineering_capstone_project__spark.plans import ingest

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = d.filter(F.col("doc_id") < 300)
    b1 = d.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 450))
    b2 = d.filter(F.col("doc_id") >= 450)
    root = str(tmp_path / "root")
    ingest.init_ingest_indexes(spark, corpus, root, bm25_index=True)
    p1, s1 = ingest.ingest_batch(spark, b1, root)
    p1.unpersist()
    p2, s2 = ingest.ingest_batch(spark, b2, root)
    p2.unpersist()
    assert s1.bm25_index_version == 2 and s2.bm25_index_version == 3

    bm_path = os.path.join(root, ingest._BM25)
    inc = _rows(text.bm25_topk_incremental(spark, bm_path, Q, k=10))
    full = ingest.read_ingest_corpus(spark, root)
    assert inc == _rows(text.bm25_topk(full, Q, k=10, weights=None))

    ingest.compact_publication_log(spark, root)
    assert len(commitlog.visible_versions(bm_path)) == 1
    assert _rows(text.bm25_topk_incremental(spark, bm_path, Q, k=10)) == inc


def test_ingest_without_bm25_flag_appends_nothing(spark, sf_dir, tmp_path):
    from data_engineering_capstone_project__spark.plans import ingest

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = str(tmp_path / "root")
    ingest.init_ingest_indexes(
        spark, d.filter(F.col("doc_id") < 100), root
    )
    p, s = ingest.ingest_batch(
        spark, d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150)), root
    )
    p.unpersist()
    assert s.bm25_index_version is None
    assert not os.path.isdir(os.path.join(root, ingest._BM25))


def test_recovery_rebuilds_missing_bm25_delta(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash window between the mh admission and the bm25 append: the
    batch replay must COMPLETE the posting delta from the claimed
    payload, landing golden-equal to an uninterrupted run."""
    from data_engineering_capstone_project__spark.plans import ingest

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = d.filter(F.col("doc_id") < 300)
    batch = d.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 450))
    root = str(tmp_path / "root")
    root2 = str(tmp_path / "root2")
    for r in (root, root2):
        ingest.init_ingest_indexes(spark, corpus, r, bm25_index=True)

    real = ingest._append_bm25_delta

    def boom(*a, **k):
        raise RuntimeError("injected crash before bm25 append")

    monkeypatch.setattr(ingest, "_append_bm25_delta", boom)
    with pytest.raises(RuntimeError, match="bm25 append"):
        ingest.ingest_batch(spark, batch, root)
    monkeypatch.setattr(ingest, "_append_bm25_delta", real)

    # replaying the batch completes the dangling tick, bm25 included
    p, s = ingest.ingest_batch(spark, batch, root)
    p.unpersist()
    assert s.recovered
    g, _ = ingest.ingest_batch(spark, batch, root2)
    g.unpersist()
    a = _rows(
        text.bm25_topk_incremental(
            spark, os.path.join(root, ingest._BM25), Q, k=10
        )
    )
    b = _rows(
        text.bm25_topk_incremental(
            spark, os.path.join(root2, ingest._BM25), Q, k=10
        )
    )
    assert a == b


@pytest.mark.slow
def test_compaction_before_recovery_never_doubles_bm25_delta(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Review r12 #1: a tick crashes AFTER its bm25 delta but BEFORE the
    publish commit; the operator compacts the logs BEFORE the batch
    replays. The fold must carry the tick markers (batch_digest /
    publish_version) — a fold that dropped them would make recovery
    append the bm25 delta AGAIN, doubling tf/df/N for the recovered
    docs forever. Pinned by probe-equality with an uninterrupted twin."""
    from data_engineering_capstone_project__spark.plans import ingest
    from data_engineering_capstone_project__spark.sources.io import (
        commit_versioned as real_commit,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = d.filter(F.col("doc_id") < 300)
    batch = d.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 450))
    root = str(tmp_path / "root")
    root2 = str(tmp_path / "root2")
    for r in (root, root2):
        ingest.init_ingest_indexes(spark, corpus, r, bm25_index=True)

    def boom(path, n):
        if "corpus" in path:
            raise RuntimeError("injected crash before publish commit")
        return real_commit(path, n)

    monkeypatch.setattr(ingest, "commit_versioned", boom)
    with pytest.raises(RuntimeError, match="publish commit"):
        ingest.ingest_batch(spark, batch, root)
    monkeypatch.setattr(ingest, "commit_versioned", real_commit)

    # operator compacts the (fp/mh/bm25) logs before the replay —
    # corpus compaction itself; the uncommitted claim is untouched
    ingest.compact_publication_log(spark, root)
    bm_meta = art.load_artifact_meta(os.path.join(root, ingest._BM25))
    assert bm_meta.get("batch_digest") is not None  # fold carried it

    # the replay COMPLETES the dangling tick without re-appending bm25
    p, s = ingest.ingest_batch(spark, batch, root)
    p.unpersist()
    assert s.recovered
    g, _ = ingest.ingest_batch(spark, batch, root2)
    g.unpersist()
    a = _rows(
        text.bm25_topk_incremental(
            spark, os.path.join(root, ingest._BM25), Q, k=10
        )
    )
    b = _rows(
        text.bm25_topk_incremental(
            spark, os.path.join(root2, ingest._BM25), Q, k=10
        )
    )
    assert a == b


def test_fuzz_incremental_equals_from_scratch(spark, tmp_path):
    """Seeded fuzz of the bit-parity claim on adversarial corpora:
    random vocab sizes (dup-heavy to sparse), empty and blank docs,
    NBSP/unicode tokens, random delta splits (including empty deltas),
    random (k1, b), optional compaction — the incremental probe must
    equal the from-scratch fit EXACTLY in every trial."""
    import random as _random

    rng = _random.Random(1207)
    # fast profile: 2 seeded trials; full restores the 6-trial sweep
    for trial in range(prof(2, 6)):
        vocab = [
            f"w{i}" for i in range(rng.choice([5, 30, 200]))
        ] + ["café", "a b", "xİy"]
        docs = []
        n_docs = rng.randint(8, 40)
        for i in range(n_docs):
            kind = rng.random()
            if kind < 0.08:
                doc_text = ""
            elif kind < 0.12:
                doc_text = "   "
            else:
                doc_text = " ".join(
                    rng.choice(vocab)
                    for _ in range(rng.randint(1, 60))
                )
            docs.append((i, doc_text))
        d = spark.createDataFrame(docs, "doc_id long, text string")
        k1 = rng.choice([1.2, 0.9, 2.0])
        b = rng.choice([0.75, 0.0, 1.0])
        n_deltas = rng.randint(1, 3)
        path = str(tmp_path / f"fuzz{trial}")
        for s in range(n_deltas):
            part = d.filter(F.col("doc_id") % n_deltas == s)
            postings, stats = text.bm25_postings_with_stats(part)
            art.save_bm25_postings(
                postings, path, stats=stats, n_term_buckets=8
            )
        if rng.random() < 0.5:
            art.compact_artifact_log(spark, path)
        queries = {
            f"q{j}": " ".join(
                rng.choice(vocab) for _ in range(rng.randint(1, 4))
            )
            for j in range(rng.randint(1, 3))
        }
        inc = text.bm25_topk_incremental(
            spark, path, queries, k=5, k1=k1, b=b
        )
        ref = text.bm25_topk(d, queries, k=5, k1=k1, b=b, weights=None)
        assert _rows(inc) == _rows(ref), (trial, k1, b, n_deltas)
