"""Every user of the shared log fold (``commitlog.fold``), for the
crash-window tests in ``test_artifacts.py`` and
``test_bm25_incremental.py``.

Each case names the log directory the fold rewrites, runs one fold on
an ingest root, and reads the content the fold must preserve — so a
crash anywhere between the fold's commit and its deletes can be checked
for exactly-once content, whoever folds. A case whose fold writes
through a public saver of ``sources.artifacts`` names it, so a fault
injected there can be checked to reach the fold. The root is bootstrapped once
per test module (``fold_root`` in ``conftest.py``): a corpus with
vectors, the BM25 and IVF logs on, and one tick, so every log holds two
versions."""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import functions as F

from data_engineering_capstone_project__spark.operators import text
from data_engineering_capstone_project__spark.plans import ingest
from data_engineering_capstone_project__spark.sources import artifacts as art

Q = {"q_scan": "hash scan filter", "q_stream": "stream window watermark"}
# docs the retirement refold excludes (bootstrap corpus ids)
RETIRED = [0, 1, 2, 3, 4]


def bootstrap(spark, sf_dir, root: str) -> None:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    docs = d.join(e, "doc_id").select("doc_id", "text", "embedding")
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    ingest.init_ingest_indexes(
        spark, corpus, root, bm25_index=True,
        ivf_index={
            "vec_col": "embedding", "n_centroids": 4,
            "sample_rows": 300, "n_iter": 4,
        },
    )
    pub, _ = ingest.ingest_batch(spark, batch, root)
    pub.unpersist()


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()))


def _corpus_ids(spark, root):
    return sorted(
        r["doc_id"]
        for r in ingest.read_ingest_corpus(spark, root)
        .select("doc_id")
        .collect()
    )


def _fps(spark, root):
    path = os.path.join(root, "fingerprints")
    return _rows(art.load_fingerprint_log(spark, path))


def _bands(spark, root):
    # the fold keeps distinct band rows, so compare the set
    rows, _ = art.load_minhash_log(spark, os.path.join(root, "minhash"))
    return sorted(set(map(tuple, rows.collect())))


def _bm25(spark, root):
    path = os.path.join(root, "bm25")
    _, meta = art.load_bm25_postings_log(spark, path)
    probe = text.bm25_topk_incremental(spark, path, Q, k=10)
    return _rows(probe), meta["totals"]


def _vectors(spark, root):
    vecs, meta = art.load_ivf_log(spark, os.path.join(root, "ivf"))
    return _rows(vecs.select("doc_id", "embedding")), meta["n_vectors"]


def _kept_postings(spark, root):
    rows, _ = art.load_bm25_postings_log(spark, os.path.join(root, "bm25"))
    return _rows(
        rows.filter(~F.col("doc_id").isin(RETIRED)).select(
            "doc_id", "term", "tf", "dl"
        )
    )


def _retire_refold(spark, root):
    ids = spark.createDataFrame([(i,) for i in RETIRED], "doc_id long")
    ingest._refold_indexes_excluding(spark, root, ids, None, len(RETIRED))


@dataclass(frozen=True)
class FoldCase:
    log: str
    fold: Callable
    content: Callable
    saver: str | None = None


CASES = {
    "publication_log": FoldCase(
        "corpus",
        lambda spark, root: ingest.compact_publication_log(
            spark, root, compact_indexes=False
        ),
        _corpus_ids,
    ),
    "fp_log": FoldCase(
        "fingerprints",
        lambda spark, root: art.compact_artifact_log(
            spark, os.path.join(root, "fingerprints")
        ),
        _fps,
    ),
    "mh_log": FoldCase(
        "minhash",
        lambda spark, root: art.compact_artifact_log(
            spark, os.path.join(root, "minhash")
        ),
        _bands,
    ),
    "bm25_compaction": FoldCase(
        "bm25",
        lambda spark, root: art.compact_artifact_log(
            spark, os.path.join(root, "bm25")
        ),
        _bm25,
        "save_bm25_postings",
    ),
    "ivf_compaction": FoldCase(
        "ivf",
        lambda spark, root: art.compact_artifact_log(
            spark, os.path.join(root, "ivf")
        ),
        _vectors,
        "save_ivf_delta",
    ),
    "ivf_refit": FoldCase(
        "ivf",
        lambda spark, root: ingest.refit_ivf_index(
            spark, root, sample_rows=300, n_iter=4
        ),
        _vectors,
        "save_ivf_delta",
    ),
    "retirement_refold": FoldCase(
        "bm25", _retire_refold, _kept_postings, "save_bm25_postings"
    ),
}
