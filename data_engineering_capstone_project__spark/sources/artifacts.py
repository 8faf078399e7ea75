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
models) and the APPEND-LOG form (``load_artifact_log`` — every
committed version is a delta, union-read as ONE multi-path scan;
the ingest loop's dedup indexes, whose per-tick admission must cost
O(batch), never O(index)). ``compact_artifact_log`` folds a log back
to one version; ``expire_artifact_versions`` is retention for
snapshots ONLY — applying it to a log would delete content.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

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
    "list_artifact_versions",
    "expire_artifact_versions",
    "load_artifact_log",
    "compact_artifact_log",
    "load_fingerprint_log",
    "load_minhash_log",
    "corpus_digest",
    "observe_digest",
    "is_current",
    "save_bm25_index",
    "load_bm25_index",
    "save_pca_model",
    "load_pca_model",
    "save_centroids",
    "load_centroids",
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
    "compact_ivf_log",
    "load_centroids_by_digest",
]

_META = "_META.json"
# fold-subsumption note — same filename and protocol as the ingest
# publication log's (plans/ingest.py), so operators see ONE idiom
_FOLDS = "_FOLDS.json"


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
    as a ``_FOLDS.json`` note before the commit, so the commit marker
    is the single atomic switch from inputs-visible to fold-visible
    (the publication-log compaction protocol, ``plans/ingest.py``).
    Log readers resolve through :func:`visible_artifact_versions`.
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
        with open(os.path.join(target, _FOLDS), "w") as f:
            json.dump(sorted(set(int(v) for v in folds)), f)
    if precommit is not None:
        precommit()
    commitlog.commit_version(path, n)
    return n


def _folds_note(path: str, n: int) -> list[int]:
    """Versions that committed version ``n`` subsumes (empty for plain
    deltas/snapshots)."""
    try:
        with open(os.path.join(path, f"v={n}", _FOLDS)) as f:
            return [int(x) for x in json.load(f)]
    except (OSError, ValueError):
        return []


def visible_artifact_versions(path: str) -> list[int]:
    """Committed versions minus those a committed fold subsumes: the set
    a LOG reader must union. Equal to ``commitlog.committed_versions``
    except in the window between a compactor's fold commit and its
    physical deletes (or after a compactor crash inside that window),
    where the subsumed inputs are still on disk but must not be read —
    double-counting folded postings/fingerprints would corrupt any
    count-bearing log (BM25 tf/df) and waste scans on the rest."""
    vs = commitlog.committed_versions(path)
    folded: set[int] = set()
    for v in vs:
        folded.update(_folds_note(path, v))
    return [v for v in vs if v not in folded]


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


def list_artifact_versions(path: str) -> list[int]:
    """Committed + orphan snapshot versions present under ``path``."""
    return commitlog.all_versions(path)


# ------------------------------------------------------ append-log form


def load_artifact_log(
    spark: SparkSession, path: str, part: str
) -> tuple[DataFrame, dict]:
    """APPEND-LOG reading of an artifact path: ``part`` union-read across
    ALL committed versions as ONE multi-path parquet scan (plan size
    flat in version count — the publication-log lesson, VERDICT r8 #1),
    with the LATEST version's meta.

    The snapshot loaders (``load_artifact``) treat each version as a
    full replacement; a LOG treats each version as a delta — what the
    ingest loop's index admission writes (per-tick cost O(batch), never
    O(index): rewriting the full index per tick is quadratic cumulative
    I/O at corpus scale). Appenders must keep the meta consistent
    across versions (the ingest tick threads the loaded config back
    into every save).

    Resolution is FOLDS-aware (r12): versions a committed compaction
    fold subsumes are excluded even when a compactor crash left them
    on disk — the union is exactly-once under any crash interleaving.

    The schema comes from the latest version's footer (``footer_schema``,
    read on the driver): the version set grows every tick, so a cache
    keyed on it never hits, and inferring would cost a Spark job per
    read. Spark infers it only when the footer cannot give it."""
    vs = visible_artifact_versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed version under {path!r}")
    meta = load_artifact_meta(path, vs[-1])
    paths = [os.path.join(path, f"v={v}", part) for v in vs]
    schema = io.footer_schema(paths[-1])
    if schema is None:
        return io.read_parquet_cached(spark, *paths), meta
    return spark.read.schema(schema).parquet(*paths), meta


def compact_artifact_log(
    spark: SparkSession,
    path: str,
    part: str,
    distinct: bool = False,
    n_files: int | None = None,
) -> int:
    """Fold every committed version of an append-log artifact into ONE
    new version holding the union (optionally ``distinct`` — for logs
    whose deltas may overlap, e.g. (band, bucket) rows) and remove
    exactly the captured inputs. Same concurrency discipline as the
    publication-log compactor: the version set is captured once, the
    write unions exactly those versions, and expiry removes exactly
    those versions — a delta committed after the capture survives and
    the union is preserved under any interleaving. Returns the
    compacted version.

    Crash-safe since r12 via the ``folds`` note: the fold commits with
    a ``_FOLDS.json`` naming every subsumed input (captured visible
    versions AND crash leftovers from a prior compactor, whose own
    notes are about to be GC'd), so a crash anywhere between the commit
    and the deletes never double-counts the union; deletes run
    leftovers-first as belt-and-braces."""
    vs = visible_artifact_versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed version under {path!r}")
    leftovers = [
        v for v in commitlog.committed_versions(path) if v not in vs
    ]
    meta = load_artifact_meta(path, vs[-1])
    df = spark.read.parquet(
        *[os.path.join(path, f"v={v}", part) for v in vs]
    )
    if distinct:
        df = df.distinct()
    if n_files is not None:
        df = df.coalesce(n_files)
    out_meta = {k: m for k, m in meta.items() if k != "parts"}
    # pin the retention FAMILY before the digest restamp below erases
    # the only way to infer it from the name (ADVICE r12 #4): computed
    # from the pre-compaction name+meta, carried in the folded meta, so
    # sweep_stale_artifacts groups the compacted log with its digest-
    # keyed siblings exactly — no regex inference on restamped names
    out_meta.setdefault(
        "family",
        _artifact_family(os.path.basename(os.path.normpath(path)), meta),
    )
    if "corpus_digest" in out_meta:
        # the latest delta's digest describes THAT delta's source frame,
        # not the compacted union — re-stamping it verbatim would let an
        # is_current-style consumer wrongly trust the folded artifact as
        # current for that frame. Stamp a value that can never match a
        # real digest, forcing staleness checks to refit.
        out_meta["corpus_digest"] = f"compacted:{len(vs)}"
    v = save_artifact(
        path, {part: df}, out_meta, folds=sorted(set(vs) | set(leftovers))
    )
    for old in leftovers + vs:
        shutil.rmtree(os.path.join(path, f"v={old}"), ignore_errors=True)
    return v


def load_fingerprint_log(spark: SparkSession, path: str) -> DataFrame:
    """Union-read a fingerprint-index LOG (bootstrap + per-tick deltas)."""
    df, meta = load_artifact_log(spark, path, "fps")
    if meta.get("kind") != "fingerprints":
        raise ValueError(
            f"not a fingerprint artifact: {path} ({meta.get('kind')})"
        )
    return df


def load_minhash_log(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict]:
    """Union-read a MinHash-index LOG of either kind; returns
    ``(rows, meta)`` — meta carries ``kind`` plus the banding config
    every delta was written with.

    Every version's (kind, num_hashes, bands, shingle_k) must AGREE —
    a delta appended with different banding would union rows whose
    band hashes can never collide with a correctly-configured probe
    (silent recall loss, the r8 #3 failure class), so the loader
    verifies all metas (V small JSON reads, trivial next to the scan)
    and refuses a mixed log."""
    df, meta = load_artifact_log(spark, path, "bands")
    if meta.get("kind") not in ("minhash_bands", "minhash_docs"):
        raise ValueError(
            f"not a minhash artifact: {path} ({meta.get('kind')})"
        )
    keys = ("kind", "num_hashes", "bands", "shingle_k")
    want = {k: meta.get(k) for k in keys}
    for v in visible_artifact_versions(path):
        m = load_artifact_meta(path, v)
        got = {k: m.get(k) for k in keys}
        if got != want:
            raise ValueError(
                f"load_minhash_log: version {v} of {path} was written "
                f"with {got}, latest is {want} — a mixed-banding log "
                "cannot be probed; re-bootstrap or compact from a "
                "consistent source"
            )
    return df, meta


def expire_artifact_versions(path: str, keep: int = 1) -> list[int]:
    """Retention: drop old versions, keeping the newest ``keep`` committed
    ones (the resolved snapshot always survives; versions without a
    ``_COMMITTED`` marker belong to in-flight writers and are never
    touched)."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    committed = commitlog.committed_versions(path)
    if not committed:
        raise FileNotFoundError(f"no committed version under {path!r}")
    keep_set = set(sorted(committed, reverse=True)[:keep]) | {committed[-1]}
    removed = []
    for v in committed:
        if v not in keep_set:
            shutil.rmtree(os.path.join(path, f"v={v}"))
            removed.append(v)
    return removed


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


def _matrix_frame(spark: SparkSession, name: str, mat: np.ndarray) -> DataFrame:
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
    meta = {
        "kind": "bm25",
        "id_col": id_col,
        "k1": k1,
        "b": b,
        "corpus_digest": corpus_digest,
    }
    if n_term_buckets is None:
        return save_artifact(path, {"weights": weights}, meta)
    bucketed = weights.withColumn(
        "_tb",
        F.pmod(F.xxhash64("term"), F.lit(int(n_term_buckets))).cast("int"),
    ).repartition(F.col("_tb"))  # ~one file per bucket directory, not
    # one per upstream partition — the probe's cost is files opened
    meta["n_term_buckets"] = int(n_term_buckets)
    return save_artifact(
        path,
        {"weights": bucketed},
        meta,
        partition_by={"weights": ["_tb"]},
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
    parts, meta = load_artifact(spark, path, version)
    if meta.get("kind") != "bm25":
        raise ValueError(f"not a bm25 artifact: {path} ({meta.get('kind')})")
    w = parts["weights"]
    w._bm25_n_term_buckets = meta.get("n_term_buckets")
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
    if stats is None or not {"n_docs", "n_tok_docs", "sum_dl"} <= set(stats):
        raise ValueError(
            "save_bm25_postings: stats must carry n_docs, n_tok_docs, "
            "sum_dl (use text.bm25_postings_with_stats)"
        )
    if "_tb" not in postings.columns:
        postings = postings.withColumn(
            "_tb",
            F.pmod(F.xxhash64("term"), F.lit(int(n_term_buckets))).cast(
                "int"
            ),
        )
    meta = {
        "kind": "bm25_postings",
        "id_col": id_col,
        "n_term_buckets": int(n_term_buckets),
        "stats": {
            "n_docs": int(stats["n_docs"]),
            "n_tok_docs": int(stats["n_tok_docs"]),
            "sum_dl": int(stats["sum_dl"]),
        },
        "corpus_digest": corpus_digest,
        **(extra_meta or {}),
    }
    if int(stats["n_tok_docs"]) == 0:
        # a zero-posting delta (full-dup tick, token-less batch) still
        # needs its version: the meta carries the tick marker and the
        # scalar n_docs. A partitionBy write of zero rows emits NO
        # schema-bearing file, so write it flat — the reader's
        # unionByName aligns it, and an empty scan prunes trivially.
        return save_artifact(
            path,
            {"postings": postings.coalesce(1)},
            meta,
            precommit=precommit,
            folds=folds,
        )
    return save_artifact(
        path,
        # ~one file per bucket directory, not one per upstream partition
        {"postings": postings.repartition(F.col("_tb"))},
        meta,
        partition_by={"postings": ["_tb"]},
        precommit=precommit,
        folds=folds,
    )


def load_bm25_postings_log(
    spark: SparkSession, path: str | list[str]
) -> tuple[DataFrame, dict]:
    """Union-read a BM25 posting LOG: ``(postings, meta)`` where
    ``meta['totals']`` carries the SUMMED scalars over every visible
    version (``n_docs``, ``n_tok_docs``, ``sum_dl`` — exact integers,
    V tiny JSON reads, no scan) and ``meta['n_term_buckets']`` the
    layout's bucket count. Verifies every version agrees on
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
    want = None
    totals = {"n_docs": 0, "n_tok_docs": 0, "sum_dl": 0}
    dfs = []
    meta = None
    keys = ("kind", "id_col", "n_term_buckets")
    for p in paths:
        vs = visible_artifact_versions(p)
        if not vs:
            raise FileNotFoundError(f"no committed version under {p!r}")
        meta = load_artifact_meta(p, vs[-1])
        if meta.get("kind") != "bm25_postings":
            raise ValueError(
                f"not a bm25_postings artifact: {p} ({meta.get('kind')})"
            )
        if want is None:
            want = {k: meta.get(k) for k in keys}
        for v in vs:
            m = load_artifact_meta(p, v)
            got = {k: m.get(k) for k in keys}
            if got != want:
                raise ValueError(
                    f"load_bm25_postings_log: version {v} of {p} was "
                    f"written with {got}, expected {want} — a mixed "
                    "posting log cannot be probed"
                )
            s = m.get("stats") or {}
            for k in totals:
                totals[k] += int(s.get(k, 0))
        # per-version reads unioned, NOT one multi-path scan: a
        # multi-path read of directory-PARTITIONED roots fails partition
        # inference (CONFLICTING_DIRECTORY_STRUCTURES). The _tb
        # partition filter pushes into every branch identically, and
        # compaction bounds the branch count, so the plan stays small
        # where it matters.
        dfs.extend(
            io.read_parquet_cached(spark, os.path.join(p, f"v={v}", "postings"))
            for v in vs
        )
    df = dfs[0]
    for d in dfs[1:]:
        df = df.unionByName(d)
    out = dict(meta)
    out["totals"] = totals
    return df, out


def compact_bm25_postings(
    spark: SparkSession, path: str, n_files: int | None = None
) -> int:
    """Fold a BM25 posting log's visible versions into ONE — the
    folded version's meta carries the SUMMED scalars (the generic
    :func:`compact_artifact_log` would copy the LAST delta's scalars,
    silently shrinking N/avgdl). Crash-safe via the ``folds`` note
    (commit is the atomic visibility switch; deletes are pure GC), so
    a probe straddling a compactor crash still sees the exact union."""
    vs = visible_artifact_versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed version under {path!r}")
    leftovers = [
        v for v in commitlog.committed_versions(path) if v not in vs
    ]
    df, meta = load_bm25_postings_log(spark, path)
    if n_files is not None:
        df = df.coalesce(n_files)
    # carry every NON-structural meta key from the latest delta — the
    # same convention as compact_artifact_log. In particular the tick
    # markers (batch_digest / publish_version) MUST survive the fold:
    # dangling-tick recovery decides "is this tick's bm25 delta
    # present?" by comparing the log's latest batch_digest, and a fold
    # that dropped it would make recovery append the delta AGAIN —
    # doubled tf/df/N for the recovered docs, permanently (review r12).
    carried = {
        k: val
        for k, val in meta.items()
        if k
        not in (
            "parts", "kind", "id_col", "n_term_buckets", "stats",
            "corpus_digest", "totals",
        )
    }
    # pin the retention family across the digest restamp (ADVICE r12
    # #4) — same convention as compact_artifact_log
    carried.setdefault(
        "family",
        _artifact_family(os.path.basename(os.path.normpath(path)), meta),
    )
    v = save_bm25_postings(
        df,
        path,
        id_col=meta["id_col"],
        n_term_buckets=meta["n_term_buckets"],
        stats=meta["totals"],
        corpus_digest=f"compacted:{len(vs)}",
        extra_meta=carried,
        folds=sorted(set(vs) | set(leftovers)),
    )
    for old in leftovers + vs:
        shutil.rmtree(os.path.join(path, f"v={old}"), ignore_errors=True)
    return v


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
    n_rows = sum(int(s[1]) for s in (cell_stats or []))
    meta = {
        "kind": "ivf_vectors",
        "id_col": id_col,
        "vec_col": vec_col,
        "cell_col": cell_col,
        "codebook_digest": codebook_digest,
        "n_vectors": n_rows,
        "cell_stats": [
            [int(c), int(n), float(q)] for c, n, q in (cell_stats or [])
        ],
        "corpus_digest": corpus_digest,
        **(extra_meta or {}),
    }
    if n_rows == 0:
        # a zero-vector delta (full-dup tick, all-NULL vec batch) still
        # needs its version for the tick marker; a partitionBy write of
        # zero rows emits no schema-bearing file, so write it flat
        return save_artifact(
            path,
            {"vectors": vectors.coalesce(1)},
            meta,
            precommit=precommit,
            folds=folds,
        )
    return save_artifact(
        path,
        # ~one file per cell directory, not one per upstream partition
        {"vectors": vectors.repartition(F.col(cell_col))},
        meta,
        partition_by={"vectors": [cell_col]},
        precommit=precommit,
        folds=folds,
    )


def load_ivf_log(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict]:
    """Union-read an IVF vector LOG: ``(vectors, meta)`` where
    ``meta['cell_totals']`` folds every visible version's per-cell
    ``(count, qerr_sum)`` (V tiny JSON reads, zero scans) and
    ``meta['n_vectors']`` their total. Refuses a log whose versions
    disagree on (kind, id_col, vec_col, cell_col, codebook_digest) —
    mixed-codebook cells would probe the wrong directories silently.

    Per-version reads are unioned rather than one multi-path scan
    (directory-partitioned roots fail multi-path partition inference);
    the probe's cell filter pushes into every branch identically and
    compaction bounds the branch count."""
    meta, vs = load_ivf_log_stats(path)
    dfs = [
        io.read_parquet_cached(spark, os.path.join(path, f"v={v}", "vectors"))
        for v in vs
    ]
    df = dfs[0]
    for d in dfs[1:]:
        df = df.unionByName(d)
    return df, meta


def load_ivf_log_stats(path: str) -> tuple[dict, list[int]]:
    """The SCAN-FREE half of :func:`load_ivf_log`: fold every visible
    version's meta note — per-cell ``(count, qerr_sum)`` totals,
    ``n_vectors``, consistency validation — without touching a parquet
    file. This is what lets the ingest tick evaluate the drift/refit
    trigger EVERY tick at O(versions) tiny-JSON cost (VERDICT r12 #5);
    ``operators.similarity.fold_ivf_cell_stats`` turns the totals into
    the ``ivf_drift_stats`` dict. Returns ``(meta, versions)``."""
    vs = visible_artifact_versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed version under {path!r}")
    keys = ("kind", "id_col", "vec_col", "cell_col", "codebook_digest")
    want = None
    meta = load_artifact_meta(path, vs[-1])
    if meta.get("kind") != "ivf_vectors":
        raise ValueError(
            f"not an ivf_vectors artifact: {path} ({meta.get('kind')})"
        )
    totals: dict[int, list] = {}
    n_total = 0
    for v in vs:
        m = load_artifact_meta(path, v)
        got = {k: m.get(k) for k in keys}
        if want is None:
            want = got
        elif got != want:
            raise ValueError(
                f"load_ivf_log: version {v} of {path} was written with "
                f"{got}, expected {want} — a mixed-codebook log cannot "
                "be probed (refit writes a fold, never a mixed append)"
            )
        for c, n, q in m.get("cell_stats") or ():
            t = totals.setdefault(int(c), [0, 0.0])
            t[0] += int(n)
            t[1] += float(q)
        n_total += int(m.get("n_vectors", 0))
    out = dict(meta)
    out["cell_totals"] = {c: tuple(t) for c, t in totals.items()}
    out["n_vectors"] = n_total
    return out, vs


def compact_ivf_log(
    spark: SparkSession, path: str, n_files: int | None = None
) -> int:
    """Fold an IVF vector log's visible versions into ONE — bespoke
    like :func:`compact_bm25_postings`: the folded meta must carry the
    SUMMED per-cell stats (the drift fold's inputs) and the latest
    tick markers (dangling-tick recovery compares the log's
    ``batch_digest``), which the generic log compactor would copy from
    the last delta alone. Crash-safe via the ``folds`` note."""
    vs = visible_artifact_versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed version under {path!r}")
    leftovers = [
        v for v in commitlog.committed_versions(path) if v not in vs
    ]
    df, meta = load_ivf_log(spark, path)
    if n_files is not None:
        df = df.coalesce(n_files)
    carried = {
        k: val
        for k, val in meta.items()
        if k
        not in (
            "parts", "kind", "id_col", "vec_col", "cell_col",
            "codebook_digest", "n_vectors", "cell_stats",
            "corpus_digest", "cell_totals",
        )
    }
    carried.setdefault(
        "family",
        _artifact_family(os.path.basename(os.path.normpath(path)), meta),
    )
    v = save_ivf_delta(
        df,
        path,
        id_col=meta["id_col"],
        vec_col=meta["vec_col"],
        cell_col=meta["cell_col"],
        codebook_digest=meta["codebook_digest"],
        cell_stats=[
            [c, n, q] for c, (n, q) in sorted(meta["cell_totals"].items())
        ],
        corpus_digest=f"compacted:{len(vs)}",
        extra_meta=carried,
        folds=sorted(set(vs) | set(leftovers)),
    )
    for old in leftovers + vs:
        shutil.rmtree(os.path.join(path, f"v={old}"), ignore_errors=True)
    return v


def load_centroids_by_digest(
    spark: SparkSession, path: str, digest: str
) -> tuple[np.ndarray, dict]:
    """Resolve the codebook VERSION whose stamped ``codebook_digest``
    matches — how an IVF log probe finds the codebook that defined its
    cells even after a refit appended newer codebooks (newest-first
    scan; versions are few — one per refit). Returns
    ``(centroids, meta)``."""
    vs = visible_artifact_versions(path)
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
    return save_artifact(
        path,
        {"components": _matrix_frame(spark, "components", comps),
         "scalars": scalars},
        {
            "kind": "pca",
            "k": int(comps.shape[0]),
            "dim": int(comps.shape[1]),
            "corpus_digest": corpus_digest,
        },
    )


def load_pca_model(
    spark: SparkSession, path: str, version: int | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray, float]:
    """Reload ``(components, explained_variance, mean, total_variance)``
    — plugs straight into ``pca_transform`` / ``pca_topk(fitted=...)``."""
    parts, meta = load_artifact(spark, path, version)
    if meta.get("kind") != "pca":
        raise ValueError(f"not a pca artifact: {path} ({meta.get('kind')})")
    comps = _frame_matrix(parts["components"])
    row = parts["scalars"].first()
    return (
        comps,
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
    meta = {
        "kind": kind,
        "k": int(np.asarray(centroids).shape[0]),
        "dim": int(np.asarray(centroids).shape[1]),
        "corpus_digest": corpus_digest,
    }
    if fit_stats is not None:
        meta["fit_stats"] = {k: v for k, v in fit_stats.items()}
    if extra_meta:
        meta.update(extra_meta)
    return save_artifact(
        path,
        {"centroids": _matrix_frame(spark, "centroids", centroids)},
        meta,
    )


def load_centroids(
    spark: SparkSession, path: str, version: int | None = None
) -> np.ndarray:
    parts, meta = load_artifact(spark, path, version)
    if meta.get("kind") not in ("centroids", "ivf", "kmeans"):
        raise ValueError(f"not a centroid artifact: {path} ({meta.get('kind')})")
    return _frame_matrix(parts["centroids"])


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
    return save_artifact(
        path,
        {"books": _matrix_frame(spark, "books", b.reshape(m * ksub, ds))},
        {
            "kind": "pq_codebooks",
            "m": int(m),
            "ksub": int(ksub),
            "dsub": int(ds),
            "corpus_digest": corpus_digest,
        },
    )


def load_pq_codebooks(
    spark: SparkSession, path: str, version: int | None = None
) -> np.ndarray:
    parts, meta = load_artifact(spark, path, version)
    if meta.get("kind") != "pq_codebooks":
        raise ValueError(
            f"not a PQ codebook artifact: {path} ({meta.get('kind')})"
        )
    flat = _frame_matrix(parts["books"])
    return flat.reshape(meta["m"], meta["ksub"], meta["dsub"])


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
    return save_artifact(
        path,
        {"fps": fps.repartition(F.col(fp_col))},
        {
            "kind": "fingerprints",
            "fp_col": fp_col,
            "corpus_digest": corpus_digest,
            **(extra_meta or {}),
        },
        precommit=precommit,
    )


def load_fingerprint_index(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    parts, meta = load_artifact(spark, path, version)
    if meta.get("kind") != "fingerprints":
        raise ValueError(f"not a fingerprint artifact: {path} ({meta.get('kind')})")
    return parts["fps"]


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
    return save_artifact(
        path,
        {"merges": frame},
        {"kind": "bpe", "n_merges": len(rows), "corpus_digest": corpus_digest},
    )


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
    return save_artifact(
        path,
        {"pieces": frame},
        {
            "kind": "unigram",
            "vocab_size": len(rows),
            "corpus_digest": corpus_digest,
        },
    )


def load_unigram_model(
    spark: SparkSession, path: str, version: int | None = None
) -> list[tuple[str, float]]:
    parts, meta = load_artifact(spark, path, version)
    if meta.get("kind") != "unigram":
        raise ValueError(f"not a unigram artifact: {path} ({meta.get('kind')})")
    rows = parts["pieces"].orderBy(F.col("logprob").desc(), "piece").collect()
    return [(r["piece"], r["logprob"]) for r in rows]


def load_bpe_model(
    spark: SparkSession, path: str, version: int | None = None
) -> list[tuple[str, str]]:
    """Reload the ordered merge list — plugs straight into
    ``operators.bpe.bpe_tokenize(merges=...)``."""
    parts, meta = load_artifact(spark, path, version)
    if meta.get("kind") != "bpe":
        raise ValueError(f"not a bpe artifact: {path} ({meta.get('kind')})")
    rows = parts["merges"].orderBy("rank").collect()
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
    return save_artifact(
        path,
        {"bands": band_index},
        {
            "kind": "minhash_bands",
            "num_hashes": int(num_hashes),
            "bands": int(bands),
            "shingle_k": int(shingle_k),
            "corpus_digest": corpus_digest,
            **(extra_meta or {}),
        },
        precommit=precommit,
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
    return save_artifact(
        path,
        {"bands": doc_index},
        {
            "kind": "minhash_docs",
            "num_hashes": int(num_hashes),
            "bands": int(bands),
            "shingle_k": int(shingle_k),
            "jaccard_threshold": jaccard_threshold,
            "corpus_digest": corpus_digest,
            **(extra_meta or {}),
        },
        precommit=precommit,
    )


def load_minhash_doc_index(
    spark: SparkSession, path: str, version: int | None = None
) -> tuple[DataFrame, dict]:
    """Reload ``(doc_index, config)`` for the verified probe side."""
    parts, meta = load_artifact(spark, path, version)
    if meta.get("kind") != "minhash_docs":
        raise ValueError(
            f"not a minhash doc-index artifact: {path} ({meta.get('kind')})"
        )
    return parts["bands"], {
        "num_hashes": meta["num_hashes"],
        "bands": meta["bands"],
        "shingle_k": meta["shingle_k"],
        "jaccard_threshold": meta.get("jaccard_threshold"),
    }


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
    return save_artifact(
        path,
        {"ratio": ratio},
        {
            "kind": "dsir_ratio",
            "n_buckets": int(n_buckets),
            "alpha": float(alpha),
            "salt": salt,
            "corpus_digest": corpus_digest,
        },
    )


def load_dsir_model(
    spark: SparkSession, path: str, version: int | None = None
) -> tuple[DataFrame, dict]:
    """Reload ``(ratio, config)`` for fresh-session DSIR scoring."""
    parts, meta = load_artifact(spark, path, version)
    if meta.get("kind") != "dsir_ratio":
        raise ValueError(f"not a dsir artifact: {path} ({meta.get('kind')})")
    return parts["ratio"], {
        "n_buckets": meta["n_buckets"],
        "alpha": meta["alpha"],
        "salt": meta["salt"],
    }


def load_minhash_index(
    spark: SparkSession, path: str, version: int | None = None
) -> tuple[DataFrame, dict]:
    """Reload ``(band_index, config)`` — config carries ``num_hashes``,
    ``bands``, ``shingle_k`` for the probe side."""
    parts, meta = load_artifact(spark, path, version)
    if meta.get("kind") != "minhash_bands":
        raise ValueError(f"not a minhash artifact: {path} ({meta.get('kind')})")
    return parts["bands"], {
        "num_hashes": meta["num_hashes"],
        "bands": meta["bands"],
        "shingle_k": meta["shingle_k"],
    }
