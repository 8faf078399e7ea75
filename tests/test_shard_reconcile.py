"""Cross-shard near-dup reconciliation (VERDICT r12 #2): verified-mode
parity, retire_docs index refolds, crash retry convergence, and the
same-round survival rule the oracle gate can't isolate."""

from __future__ import annotations

import pytest

from _profile import prof
from pyspark.sql import functions as F

from data_engineering_capstone_project__spark.operators import text as text_ops
from data_engineering_capstone_project__spark.plans import ingest, shards
from data_engineering_capstone_project__spark.sources import artifacts as art
from data_engineering_capstone_project__spark.sources import commitlog


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )


def _dig(df):
    r = df.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("doc_id", "text")).alias("x"),
    ).first()
    return (r["n"], r["x"])


def _plant(corpus):
    return corpus.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 700001).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qz")).alias("text"),
    )


@pytest.mark.slow
def test_reconcile_verified_mode_matches_single_root(
    spark, sf_dir, tmp_path
):
    """Verified-tier shards (exact-Jaccard drop) reconcile to the same
    union a verified single root publishes — the adjudication inherits
    the verification step, not just the band collision."""
    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1).unionByName(_plant(corpus))
    sroot, groot = str(tmp_path / "s"), str(tmp_path / "g")
    kw = dict(num_hashes=32, bands=8, verify_jaccard_threshold=0.7)
    shards.init_sharded_ingest(spark, corpus, sroot, n_shards=2, **kw)
    ingest.init_ingest_indexes(spark, corpus, groot, **kw)
    shards.ingest_batch_sharded(spark, batch, sroot)
    pub, _ = ingest.ingest_batch(spark, batch, groot)
    pub.unpersist()
    stats = shards.reconcile_sharded_near_dups(spark, sroot)
    assert stats["n_retired"] > 0
    a = _dig(shards.read_sharded_corpus(spark, sroot).select("doc_id", "text"))
    b = _dig(ingest.read_ingest_corpus(spark, groot).select("doc_id", "text"))
    assert a == b


def test_reconcile_same_round_pairs_both_survive(spark, sf_dir, tmp_path):
    """Two FRESH docs that near-duplicate each other, arriving in the
    same sharded tick on different shards, both survive reconciliation
    — the tick's probe is index-only (it never dedups within a batch),
    so neither does the adjudication (same corpus version = same
    arrival round)."""
    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") < 100)
    sroot = str(tmp_path / "s")
    shards.init_sharded_ingest(
        spark, corpus, sroot, n_shards=2, num_hashes=32, bands=8
    )
    base = (
        "a wholly synthetic reconciliation document with enough tokens "
        "to shingle stably and no counterpart in the corpus at all"
    )
    twins = spark.createDataFrame(
        [(900001, base + " alpha"), (900002, base + " beta")],
        "doc_id bigint, text string",
    )
    # the twins must land on DIFFERENT shards for the test to bite;
    # if routing co-locates them the shard-local probe doesn't drop
    # them either (index-only), so the invariant still holds — assert
    # the stronger cross-shard case only when routing produced it
    shards.ingest_batch_sharded(spark, twins, sroot)
    n_before = shards.read_sharded_corpus(spark, sroot).count()
    stats = shards.reconcile_sharded_near_dups(spark, sroot)
    survivors = {
        r["doc_id"]
        for r in shards.read_sharded_corpus(spark, sroot)
        .filter(F.col("doc_id") >= 900000)
        .collect()
    }
    assert survivors == {900001, 900002}
    assert shards.read_sharded_corpus(spark, sroot).count() == n_before - (
        stats["n_retired"]
    )


@pytest.mark.slow
def test_retire_docs_refolds_bm25_and_ivf(spark, sf_dir, tmp_path):
    """retire_docs keeps every search surface equal to the corpus:
    after retirement the BM25 posting log answers exactly like a
    from-scratch fit of the retired corpus, and the IVF log's vector
    count equals the corpus's; fp keeps the losers (suppression)."""
    d = _docs(spark, sf_dir)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    all_docs = d.join(e, "doc_id").select("doc_id", "text", "embedding")
    corpus = all_docs.filter(F.col("doc_id") < 200)
    root = str(tmp_path / "r")
    ingest.init_ingest_indexes(
        spark, corpus, root, bm25_index=True,
        ivf_index={
            "vec_col": "embedding", "n_centroids": 4,
            "sample_rows": 300, "n_iter": 4,
        },
    )
    ids = [r["doc_id"] for r in corpus.limit(60).collect()][:20]
    ingest.retire_docs(spark, root, ids)

    now = ingest.read_ingest_corpus(spark, root)
    left = {r["doc_id"] for r in now.select("doc_id").collect()}
    assert not (left & set(ids)) and len(left) == corpus.count() - len(ids)

    # BM25: incremental probe over the retired log == from-scratch fit
    Q = {"q": "hash scan filter"}
    got = sorted(
        map(
            tuple,
            text_ops.bm25_topk_incremental(
                spark, f"{root}/bm25", Q, k=10
            ).collect(),
        )
    )
    ref = sorted(
        map(
            tuple,
            text_ops.bm25_topk(now, Q, k=10, weights=None).collect(),
        )
    )
    assert got == ref
    _, bmeta = art.load_bm25_postings_log(spark, f"{root}/bm25")
    assert bmeta["totals"]["n_docs"] == now.count()

    # IVF: surface is the corpus; probes never return retired docs
    imeta, _ = art.load_ivf_log_stats(f"{root}/ivf")
    assert imeta["n_vectors"] == now.count()

    # fp suppression superset: a byte-identical re-arrival of a
    # RETIRED doc still drops
    rearrival = corpus.filter(F.col("doc_id").isin(ids[:5])).select(
        (F.col("doc_id") + 800000).alias("doc_id"), "text", "embedding"
    )
    pub, st = ingest.ingest_batch(spark, rearrival, root)
    pub.unpersist()
    assert st.n_published == 0


def test_retire_docs_crash_before_index_refold_retries_clean(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A crash between the corpus fold and the BM25 refold leaves the
    posting log a SUPERSET (probes transiently see retired docs, never
    a corrupt state); re-running retire_docs reconverges exactly —
    the refolds are derived from the corpus, so no retry can
    double-subtract."""
    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") < 200)
    root = str(tmp_path / "r")
    ingest.init_ingest_indexes(spark, corpus, root, bm25_index=True)
    ids = [r["doc_id"] for r in corpus.limit(10).collect()]

    real = art.save_bm25_postings

    def boom(*a, **k):
        raise RuntimeError("injected crash before bm25 refold")

    monkeypatch.setattr(art, "save_bm25_postings", boom)
    with pytest.raises(RuntimeError, match="bm25 refold"):
        ingest.retire_docs(spark, root, ids)
    monkeypatch.setattr(art, "save_bm25_postings", real)

    now = ingest.read_ingest_corpus(spark, root)
    n_now = now.count()
    assert not (
        {r["doc_id"] for r in now.select("doc_id").collect()} & set(ids)
    )
    _, bmeta = art.load_bm25_postings_log(spark, f"{root}/bm25")
    assert bmeta["totals"]["n_docs"] == n_now + len(ids)  # superset

    ingest.retire_docs(spark, root, ids)  # retry converges
    now2 = ingest.read_ingest_corpus(spark, root)
    assert now2.count() == n_now
    _, bmeta2 = art.load_bm25_postings_log(spark, f"{root}/bm25")
    assert bmeta2["totals"]["n_docs"] == now2.count()
    Q = {"q": "hash scan filter"}
    got = sorted(
        map(
            tuple,
            text_ops.bm25_topk_incremental(
                spark, f"{root}/bm25", Q, k=5
            ).collect(),
        )
    )
    ref = sorted(
        map(tuple, text_ops.bm25_topk(now2, Q, k=5, weights=None).collect())
    )
    assert got == ref


@pytest.mark.slow
def test_stream_loop_sweep_cadence_bounds_artifact_root(
    spark, sf_dir, tmp_path
):
    """VERDICT r12 #3: run_stream_ingest(sweep_every=1) actually calls
    the GC — a stale digest-keyed family member in the artifact root
    is swept during the loop while the CURRENT digest's member (pinned
    via live_index_digests) and unrelated families survive, and a
    probe of the kept index stays green afterward."""
    import os
    import shutil as _sh

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") < 100)
    a = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    src = str(tmp_path / "src")
    os.makedirs(src)
    stage = str(tmp_path / "stage")
    a.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    _sh.move(os.path.join(stage, part), os.path.join(src, "a.parquet"))

    root = str(tmp_path / "root")
    ingest.init_ingest_indexes(spark, corpus, root)

    # artifact root: three members of one bm25 family — one stamped
    # with the loop's LIVE fp digest (pinned), two stale
    aroot = str(tmp_path / "aroot")
    os.makedirs(aroot)
    live_dg = sorted(ingest.live_index_digests(root))[0]
    import time

    for i, dg in enumerate(("900:111111111", "901:222222222", live_dg)):
        safe = dg.replace(":", "_").replace("-", "m")
        art.save_bm25_index(
            text_ops.bm25(docs.filter(F.col("doc_id") < 30 + i)),
            os.path.join(aroot, f"bm25_1.2_0.75_{safe}"),
            corpus_digest=dg, n_term_buckets=8,
        )
        time.sleep(0.05)
    os.makedirs(os.path.join(aroot, "not_an_artifact"))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stats = ingest.run_stream_ingest(
        stream, root, sweep_every=1, sweep_keep=1,
        sweep_artifact_root=aroot,
    )
    assert len(stats) == 1
    left = sorted(
        n for n in os.listdir(aroot)
        if os.path.isdir(os.path.join(aroot, n))
    )
    safe_live = live_dg.replace(":", "_").replace("-", "m")
    assert f"bm25_1.2_0.75_{safe_live}" in left   # pinned via live digest
    assert "not_an_artifact" in left
    assert len([n for n in left if n.startswith("bm25_")]) == 2  # 1 stale kept
    # probe of the pinned index stays green
    w = art.load_bm25_index(
        spark, os.path.join(aroot, f"bm25_1.2_0.75_{safe_live}")
    )
    assert text_ops.bm25_topk(None, {"q": "hash scan"}, k=3, weights=w).count() == 3

    # validation parity with compact_every
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sweep_every"):
        ingest.run_stream_ingest(stream, root, sweep_every=0)


@pytest.mark.slow
def test_reshard_carries_modes_and_refuses_divergence(
    spark, sf_dir, tmp_path, monkeypatch
):
    """reshard inherits the old layout's probe semantics (verified
    tier + threshold, banding, IVF config) and NEVER declares a
    diverged layout live — on digest mismatch the new root's
    _SHARDS.json is removed and the call raises."""
    import os

    d = _docs(spark, sf_dir)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    all_docs = d.join(e, "doc_id").select("doc_id", "text", "embedding")
    corpus = all_docs.filter(F.col("doc_id") < 150)
    root = str(tmp_path / "old")
    shards.init_sharded_ingest(
        spark, corpus, root, n_shards=2, num_hashes=32, bands=8,
        verify_jaccard_threshold=0.7,
        ivf_index={
            "vec_col": "embedding", "n_centroids": 4,
            "sample_rows": 200, "n_iter": 3,
        },
    )
    nroot = str(tmp_path / "new")
    res = shards.reshard(spark, root, nroot, n_shards=3)
    assert res["n_shards"] == 3
    s0 = shards.shard_root(nroot, 0)
    mh = art.load_artifact_meta(os.path.join(s0, "minhash"))
    assert mh["kind"] == "minhash_docs"
    assert mh["jaccard_threshold"] == 0.7
    assert (mh["num_hashes"], mh["bands"]) == (32, 8)
    assert ingest._ivf_log_active(s0)
    imeta, _ = art.load_ivf_log_stats(os.path.join(s0, "ivf"))
    assert imeta["vec_col"] == "embedding"
    cfg = shards.load_shard_config(nroot)
    assert cfg["resharded_from"] == root

    # divergence: make the NEW root's union read come back one row
    # short, so the post-bootstrap verification digest differs
    broot = str(tmp_path / "bad")
    real_read = shards._read_union

    def short_read(sp, r, n, with_arrival=False):
        out = real_read(sp, r, n, with_arrival=with_arrival)
        if r == broot:
            out = out.filter(F.col("doc_id") != 0)
        return out

    monkeypatch.setattr(shards, "_read_union", short_read)
    with pytest.raises(RuntimeError, match="digest diverged"):
        shards.reshard(spark, root, broot, n_shards=2)
    monkeypatch.setattr(shards, "_read_union", real_read)
    assert not os.path.exists(os.path.join(broot, "_SHARDS.json"))
    with pytest.raises(FileNotFoundError):
        shards.load_shard_config(broot)
    # a crashed/diverged reshard releases (or leaves breakable) every
    # old-shard lease: a normal tick must succeed right afterwards
    st = shards.ingest_batch_sharded(
        spark,
        corpus.limit(5).select(
            (F.col("doc_id") + 990000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" fresh tail zz")).alias("text"),
            "embedding",
        ),
        root,
    )
    assert sum(s.n_batch for s in st.values()) == 5


@pytest.mark.slow
def test_ivf_topk_sharded_matches_single_root(spark, sf_dir, tmp_path):
    """Global ANN over shard-local IVF logs: the merged per-shard
    top-k equals brute-force exact cosine top-k over the union corpus
    restricted to each shard's probed cells — and, with nprobe = all
    cells, equals EXACT global top-k (per-shard probes lose nothing in
    the merge; shards are document-disjoint)."""
    from data_engineering_capstone_project__spark.operators import (
        similarity as sim,
    )

    d = _docs(spark, sf_dir)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    all_docs = d.join(e, "doc_id").select("doc_id", "text", "embedding")
    corpus = all_docs.filter(F.col("doc_id") < 200)
    batch = all_docs.filter(F.col("doc_id") >= 200)
    root = str(tmp_path / "r")
    shards.init_sharded_ingest(
        spark, corpus, root, n_shards=2,
        ivf_index={
            "vec_col": "embedding", "n_centroids": 4,
            "sample_rows": 300, "n_iter": 4,
        },
    )
    shards.ingest_batch_sharded(spark, batch, root)
    q = [float(x) for x in corpus.orderBy("doc_id").first()["embedding"]]
    # nprobe >= n_centroids → per-shard probes are exact, so the merge
    # must equal brute-force cosine top-k over the published union
    got = shards.ivf_topk_sharded(spark, root, q, k=8, nprobe=4).collect()
    union = shards.read_sharded_corpus(spark, root)
    ref = sim.cosine_topk(
        union, q, k=8, id_col="doc_id", vec_col="embedding"
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]

    # missing log raises a named error
    root2 = str(tmp_path / "noivf")
    shards.init_sharded_ingest(spark, corpus.select("doc_id", "text"),
                               root2, n_shards=2, num_hashes=32, bands=8)
    with pytest.raises(FileNotFoundError, match="no IVF vector log"):
        shards.ivf_topk_sharded(spark, root2, q, k=3)


@pytest.mark.slow
def test_reconcile_after_compaction_is_exact(spark, sf_dir, tmp_path):
    """VERDICT r13 #3: the arrival clock is a per-doc row stamp now,
    so compaction (which folds the version DIRECTORIES away) no longer
    erases it — a reconcile run AFTER compaction retires exactly what
    a pre-compaction reconcile would and lands hash-equal to the
    single-root golden run. (The r13 shape found only same-round ties
    here and retired nothing.)"""
    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1).unionByName(_plant(corpus))
    sroot, groot = str(tmp_path / "s"), str(tmp_path / "g")
    shards.init_sharded_ingest(
        spark, corpus, sroot, n_shards=2, num_hashes=32, bands=8
    )
    ingest.init_ingest_indexes(spark, corpus, groot, num_hashes=32, bands=8)
    shards.ingest_batch_sharded(spark, batch, sroot)
    pub, _ = ingest.ingest_batch(spark, batch, groot)
    pub.unpersist()
    shards.compact_sharded_ingest(spark, sroot)
    stats = shards.reconcile_sharded_near_dups(spark, sroot)
    assert stats["n_retired"] > 0
    a = _dig(shards.read_sharded_corpus(spark, sroot).select("doc_id", "text"))
    b = _dig(ingest.read_ingest_corpus(spark, groot).select("doc_id", "text"))
    assert a == b


@pytest.mark.slow
def test_stream_loop_reconcile_cadence(spark, sf_dir, tmp_path):
    """reconcile_every wired into the sharded streaming loop: a
    streamed batch with planted cross-shard near-dups ends HASH-EQUAL
    to the same batch through a single-root tick — with compact_every
    on the SAME tick and the loop deliberately compacting FIRST
    (VERDICT r13 #3: the per-doc arrival stamps survive the fold, so
    the old reconcile-before-compact constraint is gone and this test
    pins its absence)."""
    import os
    import shutil as _sh

    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1).unionByName(_plant(corpus))

    src = str(tmp_path / "src")
    os.makedirs(src)
    stage = str(tmp_path / "stage")
    batch.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    _sh.move(os.path.join(stage, part), os.path.join(src, "b.parquet"))

    sroot, groot = str(tmp_path / "s"), str(tmp_path / "g")
    shards.init_sharded_ingest(
        spark, corpus, sroot, n_shards=2, num_hashes=32, bands=8
    )
    ingest.init_ingest_indexes(spark, corpus, groot, num_hashes=32, bands=8)

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stats = shards.run_stream_ingest_sharded(
        stream, sroot, reconcile_every=1, compact_every=1
    )
    assert len(stats) == 1

    pub, _ = ingest.ingest_batch(spark, batch, groot)
    pub.unpersist()
    a = _dig(shards.read_sharded_corpus(spark, sroot).select("doc_id", "text"))
    b = _dig(ingest.read_ingest_corpus(spark, groot).select("doc_id", "text"))
    assert a == b
    # compaction DID run after the reconcile: one visible version/shard
    for s in range(2):
        cpath = os.path.join(shards.shard_root(sroot, s), "corpus")
        assert len(commitlog.visible_versions(cpath)) == 1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="reconcile_every"):
        shards.run_stream_ingest_sharded(stream, sroot, reconcile_every=0)


_FUZZ_PARITY_CASES = [
    (0, 2, 7, " zq extra", None),
    (1, 3, 5, " yx", True),
    (2, 2, 3, " mutated tail token", None),
]


@pytest.mark.parametrize(
    "trial,n_shards,mod,suffix,distributed",
    # fast profile: one case (2 shards, mutated-tail near-dups); the
    # 3-shard + DISTRIBUTED-adjudication case and the rest run in full
    prof(_FUZZ_PARITY_CASES[2:3], _FUZZ_PARITY_CASES),
)
def test_reconcile_fuzz_parity(
    spark, sf_dir, tmp_path, trial, n_shards, mod, suffix, distributed
):
    """Adversarial parity fuzz (the r12 BM25-fuzz pattern): varying
    shard counts, planted-near-dup densities, mutation shapes — and,
    r14, the adjudication path (trial 1 runs the DISTRIBUTED
    round-iterative path) — sharded ingest + reconciliation must end
    HASH-EQUAL to a single-root run of the same history, every
    trial."""
    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    planted = corpus.filter(F.col("doc_id") % mod == 0).select(
        (F.col("doc_id") + 700001 + trial).alias("doc_id"),
        F.concat(F.col("text"), F.lit(suffix)).alias("text"),
    )
    batch = d.filter(F.col("doc_id") % 2 == 1).unionByName(planted)
    sroot = str(tmp_path / f"s{trial}")
    groot = str(tmp_path / f"g{trial}")
    shards.init_sharded_ingest(
        spark, corpus, sroot, n_shards=n_shards, num_hashes=32, bands=8
    )
    ingest.init_ingest_indexes(spark, corpus, groot, num_hashes=32, bands=8)
    shards.ingest_batch_sharded(spark, batch, sroot)
    pub, _ = ingest.ingest_batch(spark, batch, groot)
    pub.unpersist()
    shards.reconcile_sharded_near_dups(spark, sroot, distributed=distributed)
    a = _dig(shards.read_sharded_corpus(spark, sroot).select("doc_id", "text"))
    b = _dig(ingest.read_ingest_corpus(spark, groot).select("doc_id", "text"))
    assert a == b
