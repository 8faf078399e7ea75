"""Durable fit artifacts: save/load for fitted models and dedup indexes.

A 100 TB pipeline fits nothing per run: BM25 corpus weights, PCA models,
k-means/IVF codebooks, and dedup fingerprint/MinHash indexes are computed
ONCE on the corpus and then probed by every later batch, stream, or query
session. Within a session the engine already amortizes these via the
``weights=`` / ``fitted=`` / ``corpus_fps=`` parameters; this module makes
the artifacts durable so a FRESH session reloads them instead of refitting
(VERDICT r6 next-round #1).

Storage layout — the versioned-snapshot idiom of ``write_versioned``
(``sources/io.py``) generalized to multi-part artifacts::

    path/
      LATEST              <- ADVISORY cache (monotone, best-effort)
      v=1/
        _CLAIM            <- put-if-absent version claim
        _META.json        <- params + framework versions + corpus digest
        _COMMITTED        <- put-if-absent marker: THE commit point
        <part>/...parquet <- one parquet dir per named DataFrame part

Commit protocol: ``sources.commitlog`` (object-store-safe, VERDICT r7
#2/#3) — readers never observe a partial artifact (the ``_COMMITTED``
marker lands only after every part and the meta are fully written);
concurrent writers each claim their own ``v=N`` by put-if-absent and the
resolved version is ``max(committed)``, which is MONOTONE under any
writer interleaving (a slow v=N finishing after a fast v=N+1 can never
regress it); old versions remain readable for pinning/rollback until
expired. No step relies on atomic rename or atomic mkdir, so the same
protocol holds on S3-semantics filesystems (conditional PUT = the
put-if-absent). Numeric fidelity: every tensor travels as parquet
``double`` columns — an exact IEEE-754 round trip, so a reloaded model
answers BIT-IDENTICALLY to the fit-time object (gated by
``x_pca_persisted`` / ``x_bm25_topk_indexed``).

Staleness: ``corpus_digest`` produces a cheap order-independent content
fingerprint (count + XOR of row hashes — one scan, no shuffle beyond a
scalar agg); savers stamp it into the meta and ``is_current`` lets callers
refit when the corpus moved. This is advisory (a digest collision is
~2⁻⁶⁴), not a lock.

Two READINGS of the same layout (round 9): the SNAPSHOT form
(``load_artifact`` — each version fully replaces the last; fitted
models) and the APPEND-LOG form (every visible version is a delta and
readers union them; the ingest loop's indexes, whose per-tick
admission must cost O(batch), never O(index)).

Every artifact kind is one row of ``_KINDS``, keyed by the meta's
``kind``. A row names what differs per kind: its part names, the noun a
refusal uses, the meta keys its loader hands back, and for the append
logs the meta keys every version must agree on (a mixed log is
refused), how per-version metas combine (an associative combine with
identity ``{}``: the fingerprint and MinHash logs keep the latest meta,
the BM25 log sums its scalars, the IVF log its per-cell stats and
vector counts), the directory-partition column (``_tb`` for BM25, the
meta's ``cell_col`` for IVF) and whether a fold keeps distinct rows.
Every public saver is one call of :func:`_save`, which assembles the
meta and owns the partitioned write (a zero-row delta is written flat);
every public loader is one call of :func:`_load`, which checks the kind.
Every append log is read by ONE reader (:func:`_read_log`; a
partitioned log is read version by version and the reads are unioned,
since a multi-path read of partitioned roots fails partition inference;
otherwise the log is one multi-path scan whose schema comes from a
footer) and folded by ONE compactor (:func:`fold_artifact_log`), which
writes the union and the combined meta as one version through the fold
protocol of ``sources.commitlog`` (``commitlog.fold``); a caller may
rewrite the rows and the meta on the way (the IVF refit, the
retirement exclusion). ``commitlog.expire_versions`` is retention for
snapshots ONLY — applying it to a log would delete content.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable
from functools import reduce
from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_capstone_project__spark.sources import commitlog
from data_engineering_capstone_project__spark.sources import io

__all__ = [
    "default_artifact_root",
    "save_artifact",
    "load_artifact",
    "load_artifact_meta",
    "compact_artifact_log",
    "fold_artifact_log",
    "load_fingerprint_log",
    "load_minhash_log",
    "sweep_stale_artifacts",
    "ConcurrentSweepError",
    "corpus_digest",
    "observe_digest",
    "digest_count",
    "is_current",
    "save_bm25_index",
    "load_bm25_index",
    "save_bm25_postings",
    "load_bm25_postings_log",
    "save_pca_model",
    "load_pca_model",
    "save_centroids",
    "load_centroids",
    "save_pq_codebooks",
    "load_pq_codebooks",
    "save_fingerprint_index",
    "load_fingerprint_index",
    "save_bpe_model",
    "load_bpe_model",
    "save_unigram_model",
    "load_unigram_model",
    "save_minhash_index",
    "load_minhash_index",
    "save_minhash_doc_index",
    "load_minhash_doc_index",
    "save_dsir_model",
    "load_dsir_model",
    "save_ivf_delta",
    "load_ivf_log",
    "load_ivf_log_stats",
    "load_centroids_by_digest",
]

_META = "_META.json"


def default_artifact_root() -> str:
    """Root for AUTO-managed artifacts (``bm25_topk(weights='auto')``
    etc.): ``$SPARK_GRAFT_ARTIFACT_ROOT`` when set, else a stable
    PER-USER temp-dir location. Production deployments point this at
    the durable artifact store; the default survives across sessions on
    one host, which is what makes the auto paths fit-once.

    The default is scoped to the invoking user and locked to 0o700
    (ADVICE r8): a world-shared predictable path would let another
    local user pre-create the tree or plant a forged artifact at a
    digest-keyed location (``is_current`` trusts the stamped digest),
    silently serving wrong retrieval scores. A pre-existing base owned
    by a DIFFERENT uid is refused, not reused."""
    root = os.environ.get("SPARK_GRAFT_ARTIFACT_ROOT")
    if not root:
        import tempfile

        try:
            import getpass

            user = getpass.getuser()
        except Exception:
            user = f"uid{os.geteuid()}" if hasattr(os, "geteuid") else "anon"
        base = os.path.join(
            tempfile.gettempdir(), f"spark_graft_artifacts-{user}"
        )
        os.makedirs(base, mode=0o700, exist_ok=True)
        try:
            os.chmod(base, 0o700)  # tighten a pre-umask'd dir
        except OSError:
            pass
        if hasattr(os, "geteuid") and os.stat(base).st_uid != os.geteuid():
            raise PermissionError(
                f"default artifact root {base!r} exists but is owned by "
                "another user — refusing to trust its contents; set "
                "$SPARK_GRAFT_ARTIFACT_ROOT to a directory you own"
            )
        root = os.path.join(base, "auto")
    os.makedirs(root, exist_ok=True)
    return root


# ---------------------------------------------------------------- generic


def save_artifact(
    path: str,
    parts: dict[str, DataFrame],
    meta: dict | None = None,
    partition_by: dict[str, list[str]] | None = None,
    precommit=None,
    folds: list[int] | None = None,
) -> int:
    """Write a multi-part artifact as one atomic versioned snapshot.

    Every DataFrame in ``parts`` lands under ``path/v=N/<name>``; ``meta``
    (JSON-serializable) is written alongside as ``_META.json``; only then
    does the ``_COMMITTED`` marker land (put-if-absent — THE commit
    point; see ``sources.commitlog`` for the object-store-safe protocol).
    A writer that dies mid-way leaves an orphan ``v=N`` no reader ever
    sees. Returns the committed version number.

    Part names are path components — keep them ``[A-Za-z0-9_]``.
    ``partition_by`` optionally maps a part name to directory-partition
    columns (``partitionBy`` write) so probe-shaped readers get
    scan-time partition pruning on the artifact (the bucketed BM25
    posting layout, VERDICT r10 #7).

    ``precommit`` (r11 fencing): an optional callable invoked at the
    LATEST possible instant before the commit marker — a lease-fenced
    writer passes its generation check here, so a zombie whose lease
    was broken after this save started aborts with the claim left as
    an uncommitted (and, when the break saw it, FENCED) orphan instead
    of publishing a stale delta. Raising from ``precommit`` leaves the
    artifact log exactly as it was.

    ``folds`` (r12): version numbers this snapshot SUBSUMES — written
    as a ``_FOLDS.json`` note before the commit (``commitlog.fold``
    passes them), so the commit marker is the single atomic switch from
    inputs-visible to fold-visible. Log readers resolve through
    ``commitlog.visible_versions``.
    """
    for name in parts:
        if not name or any(c in name for c in "/\\. "):
            raise ValueError(f"save_artifact: bad part name {name!r}")
    n, target = commitlog.claim_version(path)
    for name, df in parts.items():
        w = df.write.mode("overwrite")
        if partition_by and name in partition_by:
            w = w.partitionBy(*partition_by[name])
        w.parquet(os.path.join(target, name))
    with open(os.path.join(target, _META), "w") as f:
        json.dump({"parts": sorted(parts), **(meta or {})}, f)
    if folds:
        commitlog.note_folds(path, n, folds)
    if precommit is not None:
        precommit()
    commitlog.commit_version(path, n)
    return n


def _resolve_version(path: str, version: int | None) -> int:
    if version is None:
        version = commitlog.latest_version(path)
    return version


def load_artifact_meta(path: str, version: int | None = None) -> dict:
    """The committed (or pinned) version's ``_META.json``."""
    v = _resolve_version(path, version)
    with open(os.path.join(path, f"v={v}", _META)) as f:
        return json.load(f)


def load_artifact(
    spark: SparkSession,
    path: str,
    version: int | None = None,
) -> tuple[dict[str, DataFrame], dict]:
    """Read back ``(parts, meta)`` for the committed (or pinned) version."""
    v = _resolve_version(path, version)
    base = os.path.join(path, f"v={v}")
    with open(os.path.join(base, _META)) as f:
        meta = json.load(f)
    parts = {
        name: io.read_parquet_cached(spark, os.path.join(base, name))
        for name in meta["parts"]
    }
    return parts, meta


# ------------------------------------------------------------ kind table


def _latest(a: dict, b: dict) -> dict:
    return {**a, **b}


def _sum_keys(a: dict, b: dict, keys: tuple[str, ...]) -> dict:
    return {
        k: int(a.get(k, 0)) + int(b.get(k, 0))
        for k in keys
        if k in a or k in b
    }


_BM25_STATS = ("n_docs", "n_tok_docs", "sum_dl")


def _sum_bm25(a: dict, b: dict) -> dict:
    stats = _sum_keys(a.get("stats") or {}, b.get("stats") or {}, _BM25_STATS)
    return {**a, **b, "stats": stats}


def _sum_ivf(a: dict, b: dict) -> dict:
    cells = {
        int(c): [int(n), float(q)] for c, n, q in a.get("cell_stats") or ()
    }
    for c, n, q in b.get("cell_stats") or ():
        t = cells.setdefault(int(c), [0, 0.0])
        t[0] += int(n)
        t[1] += float(q)
    return {
        **a, **b,
        "cell_stats": [[c, n, q] for c, (n, q) in sorted(cells.items())],
        **_sum_keys(a, b, ("n_vectors", "n_null_vec")),
    }


def _term_buckets(meta: dict) -> str | None:
    return "_tb" if "n_term_buckets" in meta else None


class _Kind(NamedTuple):
    # part names, in the order savers pass and loaders return the frames
    parts: tuple[str, ...]
    # names the kind in a loader's refusal: "not a <noun> artifact"
    noun: str
    # meta keys the loader hands back; a fold passes them to the saver
    config: tuple[str, ...] = ()
    # append logs: meta keys every version must agree on, and what a
    # log whose versions do not is called ("mixed-<mixed or noun>")
    agree: tuple[str, ...] = ()
    mixed: str = ""
    # folds per-version metas, oldest first: associative, identity {}
    combine: Callable[[dict, dict], dict] = _latest
    # the first part's directory-partition column for a meta, if any;
    # a partitioned log is read version by version, unioned by name
    partition: Callable[[dict], str | None] | None = None
    # deltas may overlap (band rows): a fold keeps distinct rows
    distinct: bool = False
    # the public saver a fold writes through (else it writes directly)
    saver: str | None = None


_CENTROIDS = _Kind(("centroids",), "centroid")
_BANDING = ("num_hashes", "bands", "shingle_k")
_KINDS = {
    "bm25": _Kind(
        ("weights",), "bm25", ("n_term_buckets",), partition=_term_buckets
    ),
    "bm25_postings": _Kind(
        ("postings",), "posting", ("id_col", "n_term_buckets", "stats"),
        ("kind", "id_col", "n_term_buckets"), combine=_sum_bm25,
        partition=_term_buckets, saver="save_bm25_postings",
    ),
    "ivf_vectors": _Kind(
        ("vectors",), "codebook",
        ("id_col", "vec_col", "cell_col", "codebook_digest", "cell_stats"),
        ("kind", "id_col", "vec_col", "cell_col", "codebook_digest"),
        combine=_sum_ivf, partition=lambda meta: meta["cell_col"],
        saver="save_ivf_delta",
    ),
    "pca": _Kind(("components", "scalars"), "pca"),
    "centroids": _CENTROIDS,
    "ivf": _CENTROIDS,
    "kmeans": _CENTROIDS,
    "pq_codebooks": _Kind(("books",), "PQ codebook", ("m", "ksub", "dsub")),
    "fingerprints": _Kind(
        ("fps",), "fingerprint", ("fp_col",), ("kind", "fp_col")
    ),
    "bpe": _Kind(("merges",), "bpe"),
    "unigram": _Kind(("pieces",), "unigram"),
    "minhash_bands": _Kind(
        ("bands",), "minhash", _BANDING, ("kind", *_BANDING), "banding",
        distinct=True,
    ),
    "minhash_docs": _Kind(
        ("bands",), "minhash doc-index", (*_BANDING, "jaccard_threshold"),
        ("kind", *_BANDING), "banding", distinct=True,
    ),
    "dsir_ratio": _Kind(("ratio",), "dsir", ("n_buckets", "alpha", "salt")),
}


def _save(
    kind: str,
    path: str,
    parts: tuple[DataFrame, ...],
    corpus_digest: str | None = None,
    extra_meta: dict | None = None,
    precommit=None,
    folds: list[int] | None = None,
    n_rows: int | None = None,
    **config,
) -> int:
    """THE saver: one version of ``kind`` through :func:`save_artifact`,
    ``parts`` in the table's part order, meta ``kind``, ``config`` and
    ``corpus_digest`` over ``extra_meta`` (a fold passes the whole
    combined meta there, so the keys the saver computes win).

    A partitioned kind's first part is written ~one file per partition
    directory, not one per upstream partition (the probe's cost is
    files opened). A part the caller knows to hold zero rows
    (``n_rows=0``: a full-dup tick, a token-less or all-NULL-vector
    batch) still needs its version for the tick marker, but a
    partitionBy write of zero rows emits NO schema-bearing file, so it
    is written flat — the log reader's unionByName aligns it, and an
    empty scan prunes trivially."""
    k = _KINDS[kind]
    meta = {
        **(extra_meta or {}), "kind": kind, **config,
        "corpus_digest": corpus_digest,
    }
    named = dict(zip(k.parts, parts))
    first = k.parts[0]
    col = k.partition(meta) if k.partition else None
    partition_by = None
    if col is not None and n_rows == 0:
        named[first] = named[first].coalesce(1)
    elif col is not None:
        named[first] = named[first].repartition(F.col(col))
        partition_by = {first: [col]}
    return save_artifact(path, named, meta, partition_by, precommit, folds)


def _load(
    spark: SparkSession, path: str, version: int | None, *kinds: str
) -> tuple[list[DataFrame], dict]:
    """THE loader: the committed (or pinned) version's parts, in the
    table's part order, and its ``config`` meta keys. A version of any
    kind but ``kinds`` is refused, named by the first kind's noun."""
    parts, meta = load_artifact(spark, path, version)
    if meta.get("kind") not in kinds:
        raise ValueError(
            f"not a {_KINDS[kinds[0]].noun} artifact: {path} "
            f"({meta.get('kind')})"
        )
    k = _KINDS[meta["kind"]]
    return [parts[p] for p in k.parts], {c: meta.get(c) for c in k.config}


def _buckets(n_term_buckets: int) -> Column:
    """The stable term-hash bucket of a BM25 posting: ``bm25_topk``
    prunes with the same expression."""
    return F.pmod(F.xxhash64("term"), F.lit(int(n_term_buckets))).cast("int")


# ------------------------------------------------------ append-log form


def _read_log(
    spark: SparkSession | None,
    paths: list[str],
    kinds: tuple[str, ...],
    versions: list[int] | None = None,
) -> tuple[DataFrame | None, dict, list[int]]:
    """THE append-log reader: ``(rows, meta, versions)`` over the
    visible versions of every path in ``paths`` (or the pinned
    ``versions`` of a single path). Every version's meta must agree
    with the first version's on the kind's ``agree`` keys — a delta
    appended with a different config (banding, bucket count, codebook,
    fingerprint column) would union rows no probe can read correctly,
    so the log is refused with the version named. ``meta`` folds every
    version's meta with the kind's ``combine`` (V tiny JSON reads, no
    scan). ``spark=None`` skips the scan (``rows`` is None).

    Reads are fold-aware (``commitlog.visible_versions``): versions a
    committed fold subsumes are excluded even when a crash left them on
    disk, so the union is exactly-once under any crash interleaving.
    An unpartitioned log is ONE multi-path scan (plan size flat in
    version count) whose schema comes from the latest footer, read on
    the driver — the version set grows every tick, so a cache keyed on
    it never hits and inferring would cost a job per read."""
    metas, files, want = [], [], None
    for p in paths:
        vs = versions or commitlog.visible_versions(p)
        if not vs:
            raise FileNotFoundError(f"no committed version under {p!r}")
        ms = [load_artifact_meta(p, v) for v in vs]
        if ms[-1].get("kind") not in kinds:
            raise ValueError(
                f"not a {'/'.join(kinds)} log: {p} ({ms[-1].get('kind')})"
            )
        kind = _KINDS[ms[-1]["kind"]]
        for v, m in zip(vs, ms):
            got = {k: m.get(k) for k in kind.agree}
            want = want or got
            if got != want:
                raise ValueError(
                    f"version {v} of {p} was written with {got}, expected "
                    f"{want} — a mixed-{kind.mixed or kind.noun} log "
                    "cannot be read"
                )
        metas += ms
        files += [os.path.join(p, f"v={v}", kind.parts[0]) for v in vs]
    meta = reduce(kind.combine, metas, {})
    if spark is None:
        return None, meta, vs
    if kind.partition is not None:
        # a multi-path read of directory-PARTITIONED roots fails partition
        # inference (CONFLICTING_DIRECTORY_STRUCTURES); the partition
        # filter pushes into every branch and compaction bounds them
        rows = [io.read_parquet_cached(spark, f) for f in files]
        return reduce(DataFrame.unionByName, rows), meta, vs
    schema = io.footer_schema(files[-1])
    if schema is None:
        return io.read_parquet_cached(spark, *files), meta, vs
    return spark.read.schema(schema).parquet(*files), meta, vs


def fold_artifact_log(
    spark: SparkSession,
    path: str,
    rewrite: Callable[[DataFrame, dict], tuple[DataFrame, dict]] | None = None,
    label: str = "compacted",
    precommit=None,
) -> int:
    """THE append-log compactor: fold every visible version into ONE
    version holding their union (distinct for kinds whose deltas may
    overlap) with the combined meta, through ``commitlog.fold``.
    Returns the fold's version.

    The folded meta carries every key of the combined meta: the tick
    markers (``batch_digest``/``publish_version`` — dangling-tick
    recovery compares the log's latest ``batch_digest``, and a fold
    that dropped it would append a recovered delta again) and the
    kind's combined sums (the BM25 scalars, the IVF cell stats,
    ``n_vectors`` and ``n_null_vec``). Two keys are restamped: the
    retention ``family`` is pinned from the pre-fold name and meta
    (ADVICE r12 #4: the digest restamp erases the only way to infer
    it), and ``corpus_digest`` becomes ``<label>:<inputs>`` — the
    latest delta's digest describes that delta, not the union, so no
    ``is_current`` check may trust the fold as current for it.

    ``rewrite(rows, meta)`` may replace both before the write (the IVF
    refit re-assigns cells, the retirement exclusion anti-joins ids);
    the version is written through the kind's saver, so the part
    layout (partitions, the flat zero-row version) is the saver's.
    ``precommit`` runs just before the commit marker (lease fencing)."""
    name = os.path.basename(os.path.normpath(path))

    def write(inputs: list[int], folds: list[int]) -> int:
        logs = tuple(k for k, row in _KINDS.items() if row.agree)
        rows, meta, _ = _read_log(spark, [path], logs, inputs)
        if _KINDS[meta["kind"]].distinct:
            rows = rows.distinct()
        meta.pop("parts", None)
        meta.setdefault("family", _artifact_family(name, meta))
        if "corpus_digest" in meta:
            meta["corpus_digest"] = f"{label}:{len(inputs)}"
        if rewrite is not None:
            rows, meta = rewrite(rows, meta)
        return _save_log_version(path, rows, meta, folds, precommit)

    return commitlog.fold(path, write)


def compact_artifact_log(spark: SparkSession, path: str) -> int:
    """Fold an append log to one version: :func:`fold_artifact_log`
    with no rewrite."""
    return fold_artifact_log(spark, path)


def _save_log_version(
    path: str, rows: DataFrame, meta: dict, folds: list[int], precommit
) -> int:
    """Write a folded log version through its kind's public saver, if
    it names one, else through :func:`_save` (the fingerprint and
    MinHash folds skip their savers' repartition). The saver is looked
    up by name at call time, so a replaced module attribute (a fault
    injected into ``save_bm25_postings``, say) is the one called."""
    kind = _KINDS[meta["kind"]]
    config = {k: meta.get(k) for k in kind.config}
    common = {
        "corpus_digest": meta.get("corpus_digest"), "extra_meta": meta,
        "precommit": precommit, "folds": folds,
    }
    if kind.saver:
        return globals()[kind.saver](rows, path, **config, **common)
    return _save(meta["kind"], path, (rows,), **common, **config)


def load_fingerprint_log(spark: SparkSession, path: str) -> DataFrame:
    """Union-read a fingerprint-index LOG (bootstrap + per-tick deltas);
    every version must agree on (kind, fp_col)."""
    return _read_log(spark, [path], ("fingerprints",))[0]


def load_minhash_log(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict]:
    """Union-read a MinHash-index LOG of either kind; returns
    ``(rows, meta)`` — meta carries ``kind`` plus the banding config
    every delta was written with.

    Every version's (kind, num_hashes, bands, shingle_k) must AGREE —
    a delta appended with different banding would union rows whose
    band hashes can never collide with a correctly-configured probe
    (silent recall loss, the r8 #3 failure class), so a mixed log is
    refused."""
    rows, meta, _ = _read_log(
        spark, [path], ("minhash_bands", "minhash_docs")
    )
    return rows, meta


def _artifact_family(dirname: str, meta: dict) -> str:
    """Family key for retention grouping: the directory name with its
    digest suffix stripped (the repo's digest-keyed savers append the
    sanitized ``corpus_digest`` — ``:``→``_``, ``-``→``m`` — as the
    final name component). Two fits of the same kind+params on
    DIFFERENT corpus contents share a family; distinct
    parameterizations (baked into the name before the digest) never
    collide.

    Resolution order (ADVICE r12 #4): an EXPLICIT ``meta['family']``
    wins outright — the compactors stamp it from the pre-compaction
    name+digest at fold time, so a compacted log's family survives the
    digest restamp without any inference. Then the stamped-digest
    suffix strip; last, for legacy compacted logs written before the
    family stamp, a fallback regex over the name — tightened to the
    ACTUAL digest shape (count + xxhash magnitude: the XOR of
    uniformly distributed int64 hashes has <6 digits with probability
    ~1e-13), so a parameterization that happens to end in two short
    numeric segments (e.g. ``kind_8_128``) is never mistaken for a
    digest and merged into the wrong family."""
    fam = meta.get("family")
    if isinstance(fam, str) and fam:
        return fam
    dg = meta.get("corpus_digest")
    if isinstance(dg, str) and dg:
        safe = dg.replace(":", "_").replace("-", "m")
        if dirname.endswith(safe):
            return dirname[: -len(safe)].rstrip("_")
    import re

    return re.sub(r"_\d+_m?\d{6,}$", "", dirname)


def sweep_stale_artifacts(
    root: str,
    current_digests: set[str] | frozenset[str] | None = None,
    keep: int = 2,
) -> list[str]:
    """Retention for DIGEST-KEYED artifact directories (VERDICT r11 #5):
    every corpus change mints a NEW digest → a NEW artifact directory
    (``bm25_…_<digest>``, ``ivf_centroids_<digest>``, ``dsir_<digest>``,
    …), and the superseded ones accumulate forever. This sweeps ``root``
    (typically :func:`default_artifact_root`), grouping sibling
    artifact dirs into FAMILIES (name minus digest suffix) and
    deleting, per family, everything except

    - any dir whose stamped ``corpus_digest`` is in ``current_digests``
      (the caller's known-live corpora — never swept regardless of age),
    - the ``keep`` most recently COMMITTED others (commit-marker mtime
      of the latest version — rollback headroom).

    Serialization + crash-safety: the sweep claims a put-if-absent
    ``_SWEEP_LOCK`` under ``root`` (two concurrent sweepers could
    otherwise each decide the other's survivor set) and releases it in
    a ``finally``; deletion is pure GC of directories no current reader
    resolves (digest-keyed consumers only ever open their OWN digest's
    path), so a crash mid-sweep strands only stale directories — the
    next sweep removes them, and every kept artifact is untouched by
    construction (survivors are never passed to rmtree). Non-artifact
    entries (no committed version / unreadable meta) are left alone.
    Returns the deleted directory names.

    Compacted LOGS (digest restamped ``compacted:N``) cannot be pinned
    via ``current_digests`` — they survive only as one of the ``keep``
    newest of their family. Safe by construction: every digest-keyed
    artifact here is a REBUILDABLE cache (consumers rebuild on a
    missing path), so an over-eager sweep costs one rebuild, never
    data."""
    current = {d for d in (current_digests or ())}
    lock = os.path.join(root, "_SWEEP_LOCK")
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)
    except FileExistsError:
        raise ConcurrentSweepError(
            f"artifact root {root!r} is being swept by another process "
            "(stale _SWEEP_LOCK after a crash? remove it explicitly)"
        ) from None
    try:
        families: dict[str, list[tuple[float, str, str]]] = {}
        for name in sorted(os.listdir(root)):
            p = os.path.join(root, name)
            if not os.path.isdir(p):
                continue
            vs = commitlog.committed_versions(p)
            if not vs:
                continue  # in-flight or foreign — never touched
            try:
                meta = load_artifact_meta(p, vs[-1])
            except (OSError, ValueError):
                continue
            try:
                mtime = os.path.getmtime(
                    os.path.join(p, f"v={vs[-1]}", "_COMMITTED")
                )
            except OSError:
                mtime = 0.0
            families.setdefault(_artifact_family(name, meta), []).append(
                (mtime, name, meta.get("corpus_digest") or "")
            )
        removed: list[str] = []
        for entries in families.values():
            # current-digest dirs are pinned (excluded from the ranked
            # list entirely); of the rest, the `keep` newest survive
            rest = sorted(
                (e for e in entries if e[2] not in current), reverse=True
            )
            for _, name, _ in rest[keep:]:
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
                removed.append(name)
        return removed
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


class ConcurrentSweepError(RuntimeError):
    """Another sweeper holds the artifact root's _SWEEP_LOCK."""


def corpus_digest(df: DataFrame, cols: list[str] | None = None) -> str:
    """Order-independent content fingerprint of a corpus: row count +
    XOR of per-row ``xxhash64`` over ``cols`` (default: all columns).
    One scan, scalar aggregate — cheap enough to run per load to decide
    fit-vs-reload. XOR is commutative/associative, so the digest is
    independent of partitioning and row order."""
    from data_engineering_capstone_project__spark.session import no_aqe

    # single-row output: AQE's stage-materialization job is pure
    # overhead here (optimization r15 — digest runs on every
    # steady-state index load, so its per-call cost is a hot path)
    with no_aqe(df.sparkSession):
        row = df.agg(*_digest_aggs(cols or df.columns)).first()
    return f"{row['n']}:{row['x']}"


def _digest_aggs(cols: list[str]) -> list[Column]:
    return [
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in cols])).alias("x"),
    ]


def observe_digest(
    df: DataFrame, cols: list[str]
) -> tuple[DataFrame, Callable[[], str]]:
    """``df`` with an ``Observation`` of its :func:`corpus_digest` over
    ``cols``, and a getter for the digest. The digest is computed by the
    first action that runs the returned frame (a write, say) instead of
    by a job of its own; call the getter only after that action."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *_digest_aggs(cols))

    def digest() -> str:
        row = obs.get
        return f"{row['n']}:{row['x']}"

    return observed, digest


def digest_count(digest: str) -> int:
    """Row count embedded in a :func:`corpus_digest` string
    (``[prefix:]n:x`` — the first field of the digest proper). The
    digest's scalar aggregate already paid for ``count(*)``, so a caller
    holding a digest never needs a separate ``df.count()`` job
    (optimization r16: the ingest tick's contract stats parse their
    counts from the digests the fencing protocol computes anyway)."""
    return int(digest.rsplit(":", 2)[-2])


def is_current(path: str, digest: str, version: int | None = None) -> bool:
    """True when a committed artifact exists at ``path`` and its stamped
    ``corpus_digest`` equals ``digest`` (refit trigger otherwise)."""
    try:
        meta = load_artifact_meta(path, version)
    except (FileNotFoundError, NotADirectoryError, ValueError):
        return False
    return meta.get("corpus_digest") == digest


# ------------------------------------------------------- numpy <-> frame


def _matrix_frame(spark: SparkSession, mat: np.ndarray) -> DataFrame:
    """A matrix as (row_idx, row array<double>) — exact double round trip,
    row order recoverable by sort regardless of file/partition layout."""
    m = np.asarray(mat, dtype=np.float64)
    rows = [(i, [float(x) for x in m[i]]) for i in range(m.shape[0])]
    return spark.createDataFrame(rows, "row_idx int, vals array<double>")


def _frame_matrix(df: DataFrame) -> np.ndarray:
    rows = df.orderBy("row_idx").collect()
    return np.array([r["vals"] for r in rows], dtype=np.float64)


# ----------------------------------------------------------------- BM25


def save_bm25_index(
    weights: DataFrame,
    path: str,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    corpus_digest: str | None = None,
    n_term_buckets: int | None = None,
) -> int:
    """Persist a :func:`~...operators.text.bm25` weights frame — the
    fit-once/query-many retrieval index. The weights relation is
    corpus-scale (one row per (doc, term)), so this is a plain
    distributed parquet write; ``bm25_topk(weights=load_bm25_index(...))``
    then answers query batches with zero corpus passes.

    ``n_term_buckets`` (VERDICT r10 #7) additionally directory-partitions
    the postings by a stable term-hash bucket (``pmod(xxhash64(term),
    n)``): a query batch touches only its terms' buckets, so the probe
    becomes a PARTITION-PRUNED scan of a few directories instead of a
    full posting scan — at 100 TB the difference between reading the
    whole index per query batch and reading ~|query terms|/n of it.
    The bucket count travels in meta; ``bm25_topk`` prunes with the
    SAME hash expression, so a probe against a mismatched layout is
    impossible by construction (the column is simply absent)."""
    bucketed = {}
    if n_term_buckets is not None:
        weights = weights.withColumn("_tb", _buckets(n_term_buckets))
        bucketed["n_term_buckets"] = int(n_term_buckets)
    return _save(
        "bm25", path, (weights,), corpus_digest,
        id_col=id_col, k1=k1, b=b, **bucketed,
    )


def load_bm25_index(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Reload a BM25 posting index. For a bucketed layout the bucket
    count rides back as a ``_bm25_n_term_buckets`` attribute on the
    returned DataFrame — ``bm25_topk`` reads it to recompute query-term
    buckets with the writer's hash and push a partition filter; a frame
    without the attribute (or the ``_tb`` column) simply probes
    unpruned, so the fast path degrades safely, never wrongly."""
    (w,), config = _load(spark, path, version, "bm25")
    w._bm25_n_term_buckets = config["n_term_buckets"]
    return w


# ------------------------------------------------- BM25 posting LOG


def save_bm25_postings(
    postings: DataFrame,
    path: str,
    id_col: str = "doc_id",
    n_term_buckets: int = 64,
    stats: dict | None = None,
    corpus_digest: str | None = None,
    extra_meta: dict | None = None,
    precommit=None,
    folds: list[int] | None = None,
) -> int:
    """Append ONE delta version of raw BM25 sufficient statistics —
    ``(id_col, term, tf, dl)`` rows for a batch of documents — to an
    incremental posting LOG (VERDICT r11 #1).

    The log stores SUFFICIENT STATISTICS, not final weights, because
    every BM25 weight depends on global corpus stats (N, avgdl, df_t)
    that change with every appended document — persisting weights would
    force an O(corpus) refit per tick, while (tf, dl) rows are purely
    per-document and append in O(batch). The probe
    (``text.bm25_topk_incremental``) recomputes the globals exactly:
    df_t from the (bucket-pruned) posting union, N/avgdl from the
    per-version scalar ``stats`` summed across metas — so its weights
    are BIT-IDENTICAL to a from-scratch :func:`~...operators.text.bm25`
    fit of the full corpus.

    ``stats`` MUST carry the batch's exact scalars:
    ``n_docs`` (documents in the batch, INCLUDING token-less ones —
    they count toward N), ``n_tok_docs`` (documents with ≥1 token) and
    ``sum_dl`` (Σ dl over those). ``text.bm25_postings_with_stats``
    computes all four pieces in one pass. Appenders must be disjoint in
    ``id_col`` across versions (the ingest loop's exactly-once publish
    guarantees this) — a doc present in two versions would double its
    tf rows AND its scalar contribution.

    Postings are directory-partitioned by the same stable term-hash
    bucket as :func:`save_bm25_index` (``pmod(xxhash64(term), n)``), so
    the probe partition-prunes the union scan to the query terms'
    buckets. The bucket count is pinned by the FIRST version; appending
    with a different count is refused at load time."""
    if stats is None or not set(_BM25_STATS) <= set(stats):
        raise ValueError(
            "save_bm25_postings: stats must carry n_docs, n_tok_docs, "
            "sum_dl (use text.bm25_postings_with_stats)"
        )
    if "_tb" not in postings.columns:
        postings = postings.withColumn("_tb", _buckets(n_term_buckets))
    stats = {k: int(stats[k]) for k in _BM25_STATS}
    return _save(
        "bm25_postings", path, (postings,), corpus_digest, extra_meta,
        precommit, folds, n_rows=stats["n_tok_docs"], id_col=id_col,
        n_term_buckets=int(n_term_buckets), stats=stats,
    )


def load_bm25_postings_log(
    spark: SparkSession, path: str | list[str]
) -> tuple[DataFrame, dict]:
    """Union-read a BM25 posting LOG: ``(postings, meta)`` where
    ``meta['totals']`` carries the SUMMED scalars over every visible
    version (``n_docs``, ``n_tok_docs``, ``sum_dl`` — exact integers,
    V tiny JSON reads, no scan) and ``meta['n_term_buckets']`` the
    layout's bucket count. Every version must agree on
    (kind, id_col, n_term_buckets) — a mixed log would prune with the
    wrong hash or mis-attribute documents, so it is refused.

    ``path`` may be a LIST of log paths (r12): the union-of-logs read
    for a SHARDED corpus — per-shard posting logs sum their scalars
    into one global (N, avgdl) and the probe scores against global
    df_t, so sharded search is exactly single-index search (shard
    roots are disjoint in documents by the routing contract)."""
    paths = [path] if isinstance(path, str) else list(path)
    if not paths:
        raise ValueError("load_bm25_postings_log: no paths")
    rows, meta, _ = _read_log(spark, paths, ("bm25_postings",))
    return rows, {**meta, "totals": dict(meta["stats"])}


# --------------------------------------------------- IVF vector delta log


def save_ivf_delta(
    vectors: DataFrame,
    path: str,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    codebook_digest: str | None = None,
    cell_stats: list[list] | None = None,
    corpus_digest: str | None = None,
    extra_meta: dict | None = None,
    precommit=None,
    folds: list[int] | None = None,
) -> int:
    """Append ONE delta version of cell-assigned vectors to an
    incremental IVF index LOG (VERDICT r12 #1 — the fenced replacement
    for ``append_ivf_corpus``'s committer-dependent bare append).

    Each version holds the batch's ``(id_col, vec_col, cell_col)``
    rows directory-partitioned by cell, so a probe's
    ``cell IN (probed…)`` filter prunes every delta's scan at
    file-listing time — the same per-version ``PartitionFilters``
    economics as the BM25 posting log's ``_tb`` buckets. The commit
    marker is atomic (``sources.commitlog``), so a crashed append
    leaves an invisible orphan under EVERY committer configuration —
    no v1/v2 ``FileOutputCommitter`` caveat.

    ``codebook_digest`` pins the codebook that assigned the cells:
    cells are meaningless across codebooks, so the log loader REFUSES
    a mixed-digest log (a refit writes a FOLD restamped with the new
    digest — see ``plans.ingest.refit_ivf_index``).

    ``cell_stats`` — ``[[cell, count, qerr_sum], …]`` for THIS delta
    (``operators.similarity.ivf_assign_cells_with_stats``) — rides in
    the meta so drift measurement folds V tiny JSON notes instead of
    rescanning the corpus per check (VERDICT r12 #5); the meta also
    carries ``n_vectors`` for scan-free accounting. Appenders must be
    disjoint in ``id_col`` across versions (the ingest loop's
    exactly-once publish guarantees this).

    Absent/empty ``cell_stats`` with a NON-empty frame is REFUSED
    (ADVICE r13): the meta's ``n_vectors`` and the write layout are
    derived solely from the stats, so a stats-less non-empty delta
    would silently land unpartitioned and stamped ``n_vectors=0`` —
    corrupting the scan-free accounting, the drift fold, and probe
    pruning for that version. The check costs one count only on the
    degenerate (stats-less) path."""
    if not cell_stats:
        n_check = vectors.count()
        if n_check:
            raise ValueError(
                f"save_ivf_delta: cell_stats is absent/empty but the "
                f"frame carries {n_check} vectors — meta accounting "
                "would silently diverge from the data; assign with "
                "similarity.ivf_assign_cells_with_stats and pass its "
                "stats"
            )
    cell_stats = [[int(c), int(n), float(q)] for c, n, q in cell_stats or ()]
    n_rows = sum(n for _, n, _ in cell_stats)
    return _save(
        "ivf_vectors", path, (vectors,), corpus_digest, extra_meta,
        precommit, folds, n_rows=n_rows, id_col=id_col, vec_col=vec_col,
        cell_col=cell_col, codebook_digest=codebook_digest,
        n_vectors=n_rows, cell_stats=cell_stats,
    )


def load_ivf_log(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict]:
    """Union-read an IVF vector LOG: ``(vectors, meta)`` with the meta
    of :func:`load_ivf_log_stats`. Every version must agree on (kind,
    id_col, vec_col, cell_col, codebook_digest) — mixed-codebook cells
    would probe the wrong directories silently, so the log is refused
    (a refit writes a fold, never a mixed append)."""
    rows, meta, _ = _read_log(spark, [path], ("ivf_vectors",))
    return rows, _with_cell_totals(meta)


def load_ivf_log_stats(path: str) -> tuple[dict, list[int]]:
    """The SCAN-FREE half of :func:`load_ivf_log`: fold every visible
    version's meta note — per-cell ``(count, qerr_sum)`` totals as
    ``meta['cell_totals']``, ``n_vectors``, consistency validation —
    without touching a parquet file. This is what lets the ingest tick
    evaluate the drift/refit trigger EVERY tick at O(versions)
    tiny-JSON cost (VERDICT r12 #5); ``operators.similarity.
    fold_ivf_cell_stats`` turns the totals into the ``ivf_drift_stats``
    dict. Returns ``(meta, versions)``."""
    _, meta, vs = _read_log(None, [path], ("ivf_vectors",))
    return _with_cell_totals(meta), vs


def _with_cell_totals(meta: dict) -> dict:
    cells = {int(c): (int(n), float(q)) for c, n, q in meta["cell_stats"]}
    return {**meta, "cell_totals": cells}


def load_centroids_by_digest(
    spark: SparkSession, path: str, digest: str
) -> tuple[np.ndarray, dict]:
    """Resolve the codebook VERSION whose stamped ``codebook_digest``
    matches — how an IVF log probe finds the codebook that defined its
    cells even after a refit appended newer codebooks (newest-first
    scan; versions are few — one per refit). Returns
    ``(centroids, meta)``."""
    vs = commitlog.visible_versions(path)
    for v in reversed(vs):
        m = load_artifact_meta(path, v)
        if m.get("codebook_digest") == digest:
            parts, meta = load_artifact(spark, path, v)
            return _frame_matrix(parts["centroids"]), meta
    raise ValueError(
        f"no codebook version under {path!r} carries digest {digest!r} "
        "— the log and its codebook artifact have diverged"
    )


# ------------------------------------------------------------------ PCA


def save_pca_model(
    spark: SparkSession,
    path: str,
    components: np.ndarray,
    explained_variance: np.ndarray,
    mean: np.ndarray,
    total_variance: float,
    corpus_digest: str | None = None,
) -> int:
    """Persist a :func:`pca_fit_stats` 4-tuple. All numerics travel as
    parquet doubles (exact round trip — the reload is bit-identical, so
    ``pca_transform``/``pca_topk(fitted=...)`` against the loaded model
    reproduce the fit-session plans and outputs exactly)."""
    comps = np.asarray(components, dtype=np.float64)
    scalars = spark.createDataFrame(
        [(
            [float(x) for x in np.asarray(explained_variance, np.float64)],
            [float(x) for x in np.asarray(mean, np.float64)],
            float(total_variance),
        )],
        "eig array<double>, mean array<double>, total_var double",
    )
    return _save(
        "pca", path, (_matrix_frame(spark, comps), scalars), corpus_digest,
        k=int(comps.shape[0]), dim=int(comps.shape[1]),
    )


def load_pca_model(
    spark: SparkSession, path: str, version: int | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray, float]:
    """Reload ``(components, explained_variance, mean, total_variance)``
    — plugs straight into ``pca_transform`` / ``pca_topk(fitted=...)``."""
    (comps, scalars), _ = _load(spark, path, version, "pca")
    row = scalars.first()
    return (
        _frame_matrix(comps),
        np.array(row["eig"], dtype=np.float64),
        np.array(row["mean"], dtype=np.float64),
        float(row["total_var"]),
    )


# ----------------------------------------------------- k-means / IVF


def save_centroids(
    spark: SparkSession,
    path: str,
    centroids: np.ndarray,
    corpus_digest: str | None = None,
    kind: str = "centroids",
    fit_stats: dict | None = None,
    extra_meta: dict | None = None,
) -> int:
    """Persist a k-means/IVF codebook (k x dim doubles) — the fit-once
    artifact behind ``kmeans_assign``, ``ivf_topk``, and the cell-
    partitioned corpus layout (``x_ivf_pruned``). ``fit_stats``
    optionally stamps the FIT-TIME drift baseline
    (``operators.similarity.ivf_drift_stats`` on the fit corpus) into
    the meta, so any later session can run the documented refit trigger
    (``ivf_needs_refit``) against the healthy reference without
    refitting or rescanning the original corpus."""
    if fit_stats is not None:
        extra_meta = {"fit_stats": dict(fit_stats), **(extra_meta or {})}
    k, dim = np.asarray(centroids).shape
    return _save(
        kind, path, (_matrix_frame(spark, centroids),), corpus_digest,
        extra_meta, k=int(k), dim=int(dim),
    )


def load_centroids(
    spark: SparkSession, path: str, version: int | None = None
) -> np.ndarray:
    (cents,), _ = _load(spark, path, version, "centroids", "ivf", "kmeans")
    return _frame_matrix(cents)


def save_pq_codebooks(
    spark: SparkSession,
    path: str,
    books: np.ndarray,
    corpus_digest: str | None = None,
) -> int:
    """Persist product-quantization codebooks (``similarity.pq_fit`` —
    shape ``(m, ksub, d/m)``): the fit-once artifact the IVF-PQ probe
    reloads alongside the coarse centroids. Stored flattened as a
    ``(m·ksub) × (d/m)`` matrix with the shape in meta; PQ codes in a
    corpus layout are meaningless under any other codebook (same
    contract as the cell layout vs its centroids)."""
    b = np.asarray(books, dtype=np.float64)
    m, ksub, ds = b.shape
    return _save(
        "pq_codebooks", path, (_matrix_frame(spark, b.reshape(m * ksub, ds)),),
        corpus_digest, m=int(m), ksub=int(ksub), dsub=int(ds),
    )


def load_pq_codebooks(
    spark: SparkSession, path: str, version: int | None = None
) -> np.ndarray:
    (books,), c = _load(spark, path, version, "pq_codebooks")
    return _frame_matrix(books).reshape(c["m"], c["ksub"], c["dsub"])


# ------------------------------------------- dedup / decontamination


def save_fingerprint_index(
    fps: DataFrame,
    path: str,
    fp_col: str = "fp",
    corpus_digest: str | None = None,
    extra_meta: dict | None = None,
    precommit=None,
) -> int:
    """Persist an exact-dedup fingerprint index (one 32-char md5 per
    distinct normalized corpus text — ``corpus_fingerprint_index``).
    At 100 TB this is the index ``dedup_against_corpus`` and
    ``decontaminate_stream`` probe every ingest: orders of magnitude
    smaller than the corpus, written once, re-read per batch/stream.
    Rows are repartitioned by the fingerprint before writing so any
    later bucketed/clustered probe layout can build on stable files."""
    return _save(
        "fingerprints", path, (fps.repartition(F.col(fp_col)),),
        corpus_digest, extra_meta, precommit, fp_col=fp_col,
    )


def load_fingerprint_index(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    (fps,), _ = _load(spark, path, version, "fingerprints")
    return fps


def save_bpe_model(
    spark: SparkSession,
    path: str,
    merges: list[tuple[str, str]],
    corpus_digest: str | None = None,
) -> int:
    """Persist a trained BPE merge list (``operators.bpe.bpe_train``
    output). Merge ORDER is the model — rank decides greedy application
    — so each row carries its rank and the loader restores the exact
    sequence. A tokenizer is the most fit-once artifact of all: it must
    be BIT-stable across every pipeline that touches the corpus (train,
    eval, decontamination all tokenize identically or token counts lie).
    """
    rows = [(i, a, b) for i, (a, b) in enumerate(merges)]
    frame = spark.createDataFrame(rows, "rank int, a string, b string")
    return _save("bpe", path, (frame,), corpus_digest, n_merges=len(rows))


def save_unigram_model(
    spark: SparkSession,
    path: str,
    pieces: list[tuple[str, float]],
    corpus_digest: str | None = None,
) -> int:
    """Persist a trained unigram-LM vocabulary
    (``operators.unigram.unigram_train`` output — ``(piece, logprob)``
    pairs). Logprobs travel as parquet doubles (exact IEEE round trip),
    so a reloaded model Viterbi-segments BIT-identically to the fit
    session — the same fit-once contract as the BPE artifact."""
    rows = [(p_, float(lp)) for p_, lp in pieces]
    frame = spark.createDataFrame(rows, "piece string, logprob double")
    return _save(
        "unigram", path, (frame,), corpus_digest, vocab_size=len(rows)
    )


def load_unigram_model(
    spark: SparkSession, path: str, version: int | None = None
) -> list[tuple[str, float]]:
    (pieces,), _ = _load(spark, path, version, "unigram")
    rows = pieces.orderBy(F.col("logprob").desc(), "piece").collect()
    return [(r["piece"], r["logprob"]) for r in rows]


def load_bpe_model(
    spark: SparkSession, path: str, version: int | None = None
) -> list[tuple[str, str]]:
    """Reload the ordered merge list — plugs straight into
    ``operators.bpe.bpe_tokenize(merges=...)``."""
    (merges,), _ = _load(spark, path, version, "bpe")
    rows = merges.orderBy("rank").collect()
    return [(r["a"], r["b"]) for r in rows]


def save_minhash_index(
    band_index: DataFrame,
    path: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    corpus_digest: str | None = None,
    extra_meta: dict | None = None,
    precommit=None,
) -> int:
    """Persist a banded-MinHash bucket index (distinct ``(band, bucket)``
    rows from ``corpus_minhash_band_index``) together with the hash
    config that produced it. The config is PART of the index: a probe
    only collides with the corpus if both sides used identical
    ``num_hashes``/``bands``/``shingle_k`` (the seeds are baked into the
    engine's ``xxhash64(shingle, i)`` scheme), so loaders get it back
    and must feed it to the probe side — ``decontaminate_stream_fuzzy``
    does this automatically."""
    return _save(
        "minhash_bands", path, (band_index,), corpus_digest, extra_meta,
        precommit, num_hashes=int(num_hashes), bands=int(bands),
        shingle_k=int(shingle_k),
    )


def save_minhash_doc_index(
    doc_index: DataFrame,
    path: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    jaccard_threshold: float | None = None,
    corpus_digest: str | None = None,
    extra_meta: dict | None = None,
    precommit=None,
) -> int:
    """Persist an id-CARRYING banded-MinHash index (distinct ``(band,
    bucket, corpus_id)`` rows from ``corpus_minhash_doc_index``) with its
    hash config — the static side of the VERIFIED decontamination tier
    (``minhash_band_probe_verified`` / ``decontaminate_stream_verified``).
    ``jaccard_threshold`` rides along as the operating threshold the
    index was intended for (informational; probes may override)."""
    return _save(
        "minhash_docs", path, (doc_index,), corpus_digest, extra_meta,
        precommit, num_hashes=int(num_hashes), bands=int(bands),
        shingle_k=int(shingle_k), jaccard_threshold=jaccard_threshold,
    )


def load_minhash_doc_index(
    spark: SparkSession, path: str, version: int | None = None
) -> tuple[DataFrame, dict]:
    """Reload ``(doc_index, config)`` for the verified probe side."""
    (bands,), config = _load(spark, path, version, "minhash_docs")
    return bands, config


def save_dsir_model(
    ratio: DataFrame,
    path: str,
    n_buckets: int,
    alpha: float,
    salt: str,
    corpus_digest: str | None = None,
) -> int:
    """Persist a fitted DSIR model — the ``(bucket, _lr)`` log-ratio
    table from ``text.dsir_fit`` (≤ n_buckets rows of (long, double);
    doubles round-trip exactly through parquet) together with the
    featurization config. The config is PART of the model: a scoring
    pass only lands grams in the right buckets with identical
    ``n_buckets``/``salt``, so loaders get it back and must feed it to
    ``dsir_score``."""
    return _save(
        "dsir_ratio", path, (ratio,), corpus_digest,
        n_buckets=int(n_buckets), alpha=float(alpha), salt=salt,
    )


def load_dsir_model(
    spark: SparkSession, path: str, version: int | None = None
) -> tuple[DataFrame, dict]:
    """Reload ``(ratio, config)`` for fresh-session DSIR scoring."""
    (ratio,), config = _load(spark, path, version, "dsir_ratio")
    return ratio, config


def load_minhash_index(
    spark: SparkSession, path: str, version: int | None = None
) -> tuple[DataFrame, dict]:
    """Reload ``(band_index, config)`` — config carries ``num_hashes``,
    ``bands``, ``shingle_k`` for the probe side."""
    (bands,), config = _load(spark, path, version, "minhash_bands")
    return bands, config
