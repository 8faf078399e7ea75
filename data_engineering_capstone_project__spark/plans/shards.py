"""SHARDED ingest: N independent single-writer roots behind one view
(VERDICT r11 #2 — the single-global-lease throughput ceiling).

``plans/ingest.py``'s loop is single-writer by contract: one lease per
root serializes every tick, because two simultaneous ticks each probe
only pre-tick index versions and could both publish near-dups of each
other's batches. Correct — and a throughput ceiling: at 100 TB one
writer is one driver's worth of admission bandwidth.

This module removes the ceiling without weakening any per-root
guarantee: the corpus is split into ``n_shards`` INDEPENDENT ingest
roots (``root/shard=K`` — each a full publication log + fp/mh(/bm25)
index set with its OWN lease, generation fencing, recovery, and
compaction), and documents route to shards by their EXACT-DEDUP
IDENTITY — ``pmod(xxhash64(fingerprint(text)), n_shards)``, the same
md5-over-normalized-text key the exact tier shuffles on. Routing on
content rather than id is what makes exact dedup GLOBAL for free: a
byte-identical (after normalization) re-arrival lands on the same shard
as the original by construction and drops against that shard's
fingerprint index — no shared mutable index, no cross-shard
coordination, no blind window, under ANY concurrent interleaving of
shard ticks.

The near-dup tier is SHARD-LOCAL by default: a near-duplicate is not
byte-identical, so it may route to a different shard and will not be
caught there. This is the documented trade — the single-root loop
serializes all fuzzy admissions globally; sharding trades cross-shard
near-dup suppression for N-writer throughput, which is the standard
posture of horizontally-scaled dedup pipelines (near-dup coverage
within a shard stays exactly the single-root semantics, and a periodic
global MinHash pass over the union view — ``operators.dedup`` on
``read_sharded_corpus`` — reclaims the cross-shard stragglers offline).
``ingest_batch_sharded(probe_all_shards=True)`` narrows the gap to
in-flight content only: each shard's fuzzy probe then unions every
other shard's COMMITTED index (admissions stay local), so a near-dup
of anything already published anywhere drops — at the documented cost
that concurrent-vs-serialized equality then holds only when racing
batches don't near-duplicate each other.

Because shards share NOTHING, concurrency is mechanically safe:
``ingest_batch_sharded`` routes one batch and ticks every non-empty
shard in PARALLEL threads (each claims its own shard lease; Spark job
submission is thread-safe), and the result is bit-identical to ticking
the shards one at a time — the ``x_sharded_ingest`` gate races two
shards concurrently against a serialized golden run and requires
digest equality. Per-shard exactly-once (crash replay, two-phase
publish, fencing) is inherited wholesale from ``plans/ingest.py``.

Scale shape: routing is one codegen projection; each shard tick is
batch-sized against its own indexes; the union read
(``read_sharded_corpus``) is a UNION of per-shard multi-path scans —
plan size linear in n_shards (bounded, operator-chosen), never in
version count (per-shard compaction bounds that).
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_capstone_project__spark.operators.text import fingerprint
from data_engineering_capstone_project__spark.plans import ingest

_SHARDS_NOTE = "_SHARDS.json"


def shard_root(root: str, shard: int) -> str:
    return os.path.join(root, f"shard={shard}")


def shard_route(text_col: Column, n_shards: int) -> Column:
    """A document's shard: hash of its exact-dedup fingerprint. MUST be
    a pure function of the normalized text (never the id) so that
    byte-identical re-arrivals co-locate with their originals and the
    exact tier stays globally correct without any shared index.

    NULL text routes to shard 0, EXPLICITLY (review r12): Spark's
    ``xxhash64`` hashes a NULL input to its seed (42), so the
    implementation-default route for NULL text would be
    ``pmod(42, n_shards)`` — never a dropped row, but a value that
    silently depends on a hash implementation detail and on
    ``n_shards``. The explicit branch makes the documented invariant
    (NULL → shard 0) independent of both. On shard 0 such rows get
    exactly the single-root treatment: the exact tier drops
    null-fingerprint docs, accounted in ``n_exact_dropped``
    (unit-verified identical to a single-root run)."""
    return F.when(text_col.isNull(), F.lit(0)).otherwise(
        F.pmod(F.xxhash64(fingerprint(text_col)), F.lit(n_shards)).cast(
            "int"
        )
    )


def load_shard_config(root: str) -> dict:
    try:
        with open(os.path.join(root, _SHARDS_NOTE)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"{root!r} is not a sharded ingest root (no {_SHARDS_NOTE}) — "
            "bootstrap with init_sharded_ingest"
        ) from None


_ROUNDS = "_ROUNDS"


def _current_round(root: str) -> int:
    """The latest claimed GLOBAL arrival round of a sharded root (0
    before any claim). Resolution is max() over ``r=N`` entries, the
    same put-if-absent ledger shape as the ingest lease generations."""
    try:
        entries = os.listdir(os.path.join(root, _ROUNDS))
    except FileNotFoundError:
        return 0
    return max(
        (
            int(e[2:])
            for e in entries
            if e.startswith("r=") and e[2:].isdigit()
        ),
        default=0,
    )


def _claim_next_round(root: str) -> int:
    """Claim the next GLOBAL arrival round for one sharded tick
    (VERDICT r13 #3): every shard publish of that tick stamps THIS
    round into its rows (``ingest_batch(arrival_round=...)``), so
    cross-shard arrival order is a per-doc property — independent of
    per-shard version clocks, of shards skipped by empty sub-batches,
    and of compaction (which folds the version directories away but
    carries the rows). Put-if-absent claims make concurrent sharded
    ticks take distinct rounds; entries below the previous round are
    GC'd (resolution is max())."""
    from data_engineering_capstone_project__spark.sources.commitlog import (
        _put_if_absent,
    )

    rdir = os.path.join(root, _ROUNDS)
    os.makedirs(rdir, exist_ok=True)
    n = _current_round(root)
    while True:
        n += 1
        try:
            _put_if_absent(os.path.join(rdir, f"r={n}"))
            break
        except FileExistsError:
            continue
    try:
        for e in os.listdir(rdir):
            if e.startswith("r=") and e[2:].isdigit() and int(e[2:]) < n - 1:
                try:
                    os.remove(os.path.join(rdir, e))
                except FileNotFoundError:
                    pass
    except OSError:
        pass
    return n


def _seed_round(root: str, n: int) -> None:
    """Pin the round clock at ``n`` (bootstrap = 1; a reshard seeds the
    new root at the union's max carried stamp so its next tick claims
    a strictly later round)."""
    from data_engineering_capstone_project__spark.sources.commitlog import (
        _put_if_absent,
    )

    rdir = os.path.join(root, _ROUNDS)
    os.makedirs(rdir, exist_ok=True)
    try:
        _put_if_absent(os.path.join(rdir, f"r={int(n)}"))
    except FileExistsError:
        pass


def init_sharded_ingest(
    spark: SparkSession,
    corpus: DataFrame,
    root: str,
    n_shards: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    **init_kw,
) -> None:
    """Bootstrap ``n_shards`` independent ingest roots under ``root``:
    the corpus splits by :func:`shard_route` and each slice bootstraps
    its own index set (``init_ingest_indexes`` — every keyword, e.g.
    ``verify_jaccard_threshold`` or ``bm25_index``, passes through).
    The shard count is pinned in ``_SHARDS.json`` and immutable for the
    root's lifetime (re-routing would strand fingerprints on their old
    shard; resharding = bootstrap a new root from the union view)."""
    _declare = init_kw.pop("_declare", True)
    if n_shards < 1:
        raise ValueError("init_sharded_ingest: n_shards must be >= 1")
    os.makedirs(root, exist_ok=True)
    note = os.path.join(root, _SHARDS_NOTE)
    if os.path.exists(note):
        raise FileExistsError(
            f"{root!r} already bootstrapped — shard count is immutable"
        )
    # ONE MinHash banding for all shards, sized from the per-shard
    # expected count (total/n): per-slice auto-sizing would give each
    # shard a DIFFERENT banding from its slice's accidental size —
    # harmless for today's shard-local probes but inconsistent across
    # restarts and a hard blocker for any future cross-shard band
    # probe (mixed-banding logs are refused by load_minhash_log).
    if "num_hashes" not in init_kw and "bands" not in init_kw:
        from data_engineering_capstone_project__spark.operators import (
            dedup as dedup_mod,
        )

        thr = init_kw.get("verify_jaccard_threshold")
        if thr is None:
            thr = init_kw.get("near_dup_threshold", 0.8)
        n_total = corpus.count()
        nh, nb = dedup_mod.auto_minhash_config(
            max(1, (n_total + n_shards - 1) // n_shards),
            thr,
            baseline_j=init_kw.get("baseline_j", 0.2),
        )
        init_kw = {**init_kw, "num_hashes": nh, "bands": nb}
    route = shard_route(F.col(text_col), n_shards)
    for s in range(n_shards):
        ingest.init_ingest_indexes(
            spark,
            corpus.filter(route == s),
            shard_root(root, s),
            text_col=text_col,
            id_col=id_col,
            **init_kw,
        )
    # seed the GLOBAL arrival-round clock (VERDICT r13 #3): a fresh
    # bootstrap is round 1; a corpus that already carries per-doc
    # stamps (a reshard re-routing a living corpus — the per-shard
    # bootstraps preserved them verbatim) seeds at its max stamp so
    # the new root's next tick claims a strictly later round
    if ingest._ARRIVAL in corpus.columns:
        seed = corpus.agg(F.max(ingest._ARRIVAL)).first()[0] or 1
    else:
        seed = 1
    _seed_round(root, int(seed))
    if _declare:
        with open(note, "w") as f:
            json.dump(
                {"n_shards": int(n_shards), "text_col": text_col,
                 "id_col": id_col,
                 "route": "pmod(xxhash64(fingerprint),n)"},
                f,
            )


def ingest_batch_sharded(
    spark: SparkSession,
    batch: DataFrame,
    root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    select_cfg: dict | None = None,
    max_parallel: int | None = None,
    probe_all_shards: bool = False,
) -> dict[int, "ingest.IngestStats"]:
    """One sharded tick: route the batch, then run every non-empty
    shard's ``ingest_batch`` CONCURRENTLY (``max_parallel`` caps the
    thread pool; default = shard count). Each shard tick claims its own
    lease, so two sharded ticks of DIFFERENT batches also interleave
    safely per shard (a busy shard raises ``ConcurrentIngestError``
    exactly as the single-root contract specifies). Returns
    ``{shard: IngestStats}`` for the shards that received rows.

    ``probe_all_shards=True`` extends each shard's FUZZY probe over
    every other shard's committed indexes (admissions stay shard-local)
    — a near-dup of a document already PUBLISHED on another shard now
    drops, closing the shard-local near-dup gap for committed content.
    The residual blind window is cross-writer in-flight content (two
    shards concurrently admitting near-dups of each other's current
    batches — the single-root lease serialized exactly this, and
    probing pre-tick versions is what keeps concurrent ticks safe), so
    with this flag concurrent-vs-serialized equality holds only when
    racing batches don't near-duplicate each other; the default False
    keeps shards fully independent and mechanically deterministic. The
    sharded bootstrap sizes ONE banding for all shards, which is what
    makes the cross-shard band union probeable at all.

    The routed sub-batches are materialized once (persist) so each
    shard's tick does not rescan/reroute the whole input; the published
    sub-frames are unpersisted internally (stats carry the counts)."""
    cfg = load_shard_config(root)
    n = int(cfg["n_shards"])
    rcol = "__shard_route__"
    if rcol in batch.columns:
        # withColumn would silently OVERWRITE and the later drop would
        # strip the caller's data column from every publication
        raise ValueError(
            f"ingest_batch_sharded: batch already carries a {rcol!r} "
            "column — rename it before ingesting"
        )
    route = shard_route(F.col(text_col), n)
    routed = batch.withColumn(rcol, route).persist()
    # ONE global arrival round for every shard publish of this tick
    # (VERDICT r13 #3): the per-doc stamp, not per-shard version
    # clocks, is what reconciliation orders by — so empty sub-batches
    # (a shard skipped this round) and compaction (which folds the
    # version directories) can no longer skew cross-shard arrival order
    rnd = _claim_next_round(root)
    try:
        present = sorted(
            r[rcol]
            for r in routed.select(rcol).distinct().collect()
        )

        def tick(s: int):
            sub = routed.filter(F.col(rcol) == s).drop(rcol)
            extra = (
                [shard_root(root, t) for t in range(n) if t != s]
                if probe_all_shards
                else None
            )
            pub, stats = ingest.ingest_batch(
                spark, sub, shard_root(root, s),
                text_col=text_col, id_col=id_col, select_cfg=select_cfg,
                extra_probe_roots=extra, arrival_round=rnd,
            )
            pub.unpersist()
            return s, stats

        workers = max(1, min(max_parallel or n, len(present) or 1))
        if workers == 1:
            results = [tick(s) for s in present]
        else:
            with ThreadPoolExecutor(max_workers=workers) as pool:
                results = list(pool.map(tick, present))
        return dict(results)
    finally:
        routed.unpersist()


def read_sharded_corpus(
    spark: SparkSession, root: str, with_arrival: bool = False
) -> DataFrame:
    """The UNION view over every shard's publication log — what a
    consumer reads as "the corpus". Shards are disjoint by routing, so
    the union needs no dedup. ``with_arrival=True`` keeps the per-doc
    ``_arrival_round`` stamp (VERDICT r13 #3)."""
    cfg = load_shard_config(root)
    return _read_union(
        spark, root, int(cfg["n_shards"]), with_arrival=with_arrival
    )


def _read_union(
    spark: SparkSession, root: str, n: int, with_arrival: bool = False
) -> DataFrame:
    """Union the first ``n`` shard publication logs — the config-free
    form ``reshard`` needs to verify a NEW root's content BEFORE that
    root is declared (its ``_SHARDS.json`` is written only after the
    digest check passes)."""
    dfs = [
        ingest.read_ingest_corpus(
            spark, shard_root(root, s), with_arrival=with_arrival
        )
        for s in range(n)
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def run_stream_ingest_sharded(
    stream: DataFrame,
    root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    select_cfg: dict | None = None,
    compact_every: int | None = None,
    compact_indexes: bool = True,
    checkpoint_dir: str | None = None,
    max_parallel: int | None = None,
    probe_all_shards: bool = False,
    on_tick=None,
    sweep_every: int | None = None,
    sweep_keep: int = 2,
    sweep_artifact_root: str | None = None,
    reconcile_every: int | None = None,
    on_reconcile_error=None,
) -> list[dict[int, "ingest.IngestStats"]]:
    """The CONTINUOUS form of the sharded loop: every micro-batch runs
    one :func:`ingest_batch_sharded` tick (route → per-shard
    exact/fuzzy/publish, shards in parallel threads) via
    ``foreachBatch`` — the same contract as
    ``plans/ingest.run_stream_ingest`` lifted over N shard roots.

    Restartability is INHERITED per shard: with ``checkpoint_dir`` a
    replayed micro-batch re-routes identically (routing is a pure
    function of the text) and each shard's replay re-drops against its
    own admitted fingerprints or completes its own dangling tick — the
    union corpus is identical to an uninterrupted run, shard by shard.
    ``compact_every=N`` compacts EVERY shard after each N-th non-empty
    tick; ``sweep_every=N`` runs :func:`sweep_sharded_artifacts` on
    the same cadence (VERDICT r12 #3 — all shards' live digests
    pinned, one sweep of the shared artifact root, per-shard codebook
    expiry); ``reconcile_every=N`` runs
    :func:`reconcile_sharded_near_dups` on its cadence. A cadence
    reconcile that REFUSES (``ValueError`` — e.g. the duplicate-id
    check: ids are user-supplied and exact dedup keys on content
    fingerprint, so one id re-used with different text passes ingest
    but poisons adjudication, ADVICE r14) must not tear down a
    long-lived loop on every Nth tick: the loop catches it, reports
    through ``on_reconcile_error(exc)`` (default: ``warnings.warn``),
    and keeps ingesting — near-dup reclamation is paused until the
    operator resolves the colliding ids (retire one copy with
    ``plans.ingest.retire_docs``, or republish under a fresh id);
    ingest correctness is unaffected. The old
    reconcile-BEFORE-compact ordering constraint is GONE (VERDICT r13
    #3): the arrival clock now rides in the rows as a per-doc
    ``_arrival_round`` stamp, which compaction carries like any other
    column — this loop deliberately compacts FIRST on a tick that
    triggers both, pinning that reconciliation after compaction is
    exact. The loop is between ticks when either runs, so the
    probe_all_shards compaction race cannot occur from inside this
    loop. Returns per-micro-batch ``{shard: IngestStats}`` dicts in
    batch order."""
    if compact_every is not None and compact_every < 1:
        raise ValueError(
            f"run_stream_ingest_sharded: compact_every must be >= 1 or "
            f"None (got {compact_every!r})"
        )
    if sweep_every is not None and sweep_every < 1:
        raise ValueError(
            f"run_stream_ingest_sharded: sweep_every must be >= 1 or "
            f"None (got {sweep_every!r})"
        )
    if reconcile_every is not None and reconcile_every < 1:
        raise ValueError(
            f"run_stream_ingest_sharded: reconcile_every must be >= 1 "
            f"or None (got {reconcile_every!r})"
        )
    load_shard_config(root)  # fail fast on a non-sharded root
    collected: list[tuple[int, dict[int, "ingest.IngestStats"]]] = []
    n_ticks = 0

    def tick(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_ticks
        if batch_df.isEmpty():
            return
        stats = ingest_batch_sharded(
            batch_df.sparkSession, batch_df, root,
            text_col=text_col, id_col=id_col, select_cfg=select_cfg,
            max_parallel=max_parallel, probe_all_shards=probe_all_shards,
        )
        collected.append((batch_id, stats))
        n_ticks += 1
        # compact FIRST, deliberately (VERDICT r13 #3): the per-doc
        # arrival stamps survive the fold, so reconciliation no longer
        # depends on running before compaction — this ordering is the
        # standing proof of that
        if compact_every is not None and n_ticks % compact_every == 0:
            compact_sharded_ingest(
                batch_df.sparkSession, root, compact_indexes=compact_indexes
            )
        if reconcile_every is not None and n_ticks % reconcile_every == 0:
            try:
                reconcile_sharded_near_dups(batch_df.sparkSession, root)
            except ValueError as exc:
                # a REFUSED reconcile (duplicate ids across the union)
                # is an operator problem, not an ingest fault — report
                # and keep the loop alive (ADVICE r14)
                if on_reconcile_error is not None:
                    on_reconcile_error(exc)
                else:
                    import warnings

                    warnings.warn(
                        f"reconcile skipped on tick {n_ticks}: {exc}",
                        stacklevel=2,
                    )
        if sweep_every is not None and n_ticks % sweep_every == 0:
            sweep_sharded_artifacts(
                root, artifact_root=sweep_artifact_root, keep=sweep_keep
            )
        if on_tick is not None:
            on_tick(stats)

    writer = stream.writeStream.foreachBatch(tick)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return [s for _, s in sorted(collected, key=lambda t: t[0])]


def sharded_bm25_paths(root: str) -> list[str]:
    """The per-shard incremental BM25 posting-log paths (present when
    the root was bootstrapped with ``bm25_index=True``) — feed to
    ``text.bm25_topk_incremental`` for GLOBAL search over the sharded
    corpus: per-shard scalar stats SUM into one global (N, avgdl) and
    df_t aggregates the cross-shard posting union, so sharded search
    scores exactly as one unsharded index of the union would (shards
    are document-disjoint by routing)."""
    cfg = load_shard_config(root)
    paths = [
        os.path.join(shard_root(root, s), ingest._BM25)
        for s in range(int(cfg["n_shards"]))
    ]
    missing = [p for p in paths if not os.path.isdir(p)]
    if missing:
        raise FileNotFoundError(
            f"sharded root {root!r} has no BM25 posting logs "
            f"(bootstrap with bm25_index=True); missing: {missing[:3]}"
        )
    return paths


def _inherit_reshard_config(
    spark: SparkSession, root: str, init_kw: dict
) -> dict:
    """Fill ``init_kw`` defaults from the OLD root's pinned shard-0
    config: banding (+verified threshold when the mh log is
    id-carrying), BM25 presence, IVF config by presence. Reads only
    committed artifact metas — safe without the leases (config is
    pinned for a root's lifetime)."""
    from data_engineering_capstone_project__spark.sources import (
        artifacts as art,
    )

    s0 = shard_root(root, 0)
    mh_meta = art.load_artifact_meta(os.path.join(s0, ingest._MH))
    init_kw.setdefault("num_hashes", int(mh_meta["num_hashes"]))
    init_kw.setdefault("bands", int(mh_meta["bands"]))
    init_kw.setdefault("shingle_k", int(mh_meta["shingle_k"]))
    if mh_meta.get("kind") == "minhash_docs":
        init_kw.setdefault(
            "verify_jaccard_threshold", mh_meta.get("jaccard_threshold")
        )
    if ingest._bm25_log_active(s0):
        init_kw.setdefault("bm25_index", True)
    if ingest._ivf_log_active(s0) and "ivf_index" not in init_kw:
        imeta, _ = art.load_ivf_log_stats(os.path.join(s0, ingest._IVF))
        _, cbm = art.load_centroids_by_digest(
            spark, os.path.join(s0, ingest._IVF_CB),
            imeta["codebook_digest"],
        )
        init_kw["ivf_index"] = {
            "vec_col": imeta["vec_col"], "n_centroids": int(cbm["k"]),
        }
    return init_kw


def _cleanup_undeclared(new_root: str, n_shards: int) -> None:
    """Remove a half-built, UNDECLARED new reshard root (ADVICE r14):
    safe by construction (no ``_SHARDS.json``, so nothing can probe
    it), and necessary — a same-new_root re-run would otherwise append
    second bootstrap versions per shard and the digest check could
    never pass."""
    import shutil as _shutil

    for s in range(n_shards):
        _shutil.rmtree(shard_root(new_root, s), ignore_errors=True)
    _shutil.rmtree(os.path.join(new_root, _ROUNDS), ignore_errors=True)


def reshard(
    spark: SparkSession,
    root: str,
    new_root: str,
    n_shards: int,
    _test_hook=None,
    catchup: bool = False,
    _catchup_hook=None,
    **init_kw,
) -> dict:
    """Re-shard a sharded ingest root to a NEW shard count at a NEW
    root (VERDICT r12 #4 — ``_SHARDS.json`` pins the count for a
    root's lifetime, because re-routing in place would strand
    fingerprints on their old shard): bootstrap ``new_root`` from the
    union view, re-routing every document by the SAME content identity
    (``shard_route`` is a pure function of the normalized text, so a
    byte-identical re-arrival lands on its original's NEW shard by
    construction — exact dedup stays global on the new layout), and
    VERIFY union-digest equality before declaring the new root live.

    **Quiesce is ENFORCED, not documented** (VERDICT r13 #2 — the r13
    shape told the operator to stop the loop first): the call ACQUIRES
    EVERY OLD SHARD'S ingest lease for its whole duration, runs each
    shard's recovery preamble (``recover_ingest_tick`` under the held
    generation — a dangling crashed tick's claimed-but-uncommitted
    batch would otherwise be invisible to the union read), and
    releases the leases on completion or failure. A tick attempted
    mid-reshard therefore raises ``ConcurrentIngestError`` instead of
    publishing content the new root never sees; a reshard process that
    DIES mid-flight leaves each old-shard lease behind — breakable
    with ``break_ingest_lease`` exactly like any dead tick holder —
    and the new root UNDECLARED (its ``_SHARDS.json`` is written only
    AFTER the digest verification passes, so a half-built layout can
    never be probed as live).

    What carries, and how:

    - **banding** is inherited from the old root's pinned config by
      default (probe semantics unchanged across the reshard; pass
      ``num_hashes``/``bands`` to override deliberately);
    - **verified-tier mode** (``verify_jaccard_threshold``) and the
      **BM25 posting log** are inherited by presence — the new
      per-shard logs are REBUILT from the union (a from-scratch fit of
      the same corpus: global scores are unchanged by the incremental
      log's exactness contract, which the ``x_reshard`` gate pins);
    - **IVF config** is inherited by presence (vec_col + codebook
      size from the old shard-0 artifacts); each new shard fits its
      OWN codebook — cells are layout-local by contract;
    - **per-doc arrival stamps** (VERDICT r13 #3) ride in the rows
      through the re-route, and the new root's round clock seeds at
      their max — reconciliation history survives the reshard.

    The old root is untouched; callers switch writers to ``new_root``
    only after this returns, then retire the old root on their own
    schedule. On digest mismatch the call raises with the new root
    left undeclared and its half-built shard dirs removed.
    ``_test_hook`` (tests only) runs after the quiesce, before the
    union read — the window a racing tick must be excluded from.

    **``catchup=True`` — snapshot-then-catchup** (VERDICT r14 #2: the
    default path holds EVERY old shard's lease across the full
    O(corpus) rebuild — route + per-shard index rebuild + k-means +
    BM25 re-tokenize — so ingest is down for the duration, ladder-
    measured linear in corpus size in SCALING.md). The catchup shape
    bounds the window:

    1. **Phase A, LEASELESS**: snapshot the union (its version set
       pins at read construction) and record R0 = its max
       ``_arrival_round``; bootstrap ``new_root`` (undeclared) from
       the snapshot — the O(corpus) work, with ingest still running.
    2. **Phase B, leases held**: quiesce exactly as the default path,
       then replay only the DELTA — rows with stamp > R0, which is
       precisely the ticks that landed during the rebuild (rounds are
       ledger-monotone, so any mid-rebuild publish stamps > R0;
       compaction folds carry rows+stamps so a mid-rebuild compaction
       does not perturb the delta) — via
       ``plans.ingest.append_published_raw`` per new shard (raw
       publish+admit, stamps carried, NO re-dedup: the delta already
       passed the old root's tiers, and re-running the fuzzy tier
       under the new layout would drop content that was cross-shard
       before), then verify the same union digest and declare.

    The leased window shrinks from the full rebuild to delta replay +
    one verification scan of the union. CAVEATS, enforced or
    disclosed: a reconciliation/retirement that runs DURING phase A
    removes pre-R0 rows the snapshot already captured — the digest
    gate catches it (cleanup + raise; schedule reconcile away from a
    catchup reshard); a leaseless phase-A read can also race a
    concurrent compaction's physical GC (transient FileNotFound —
    re-run). Returns ``{"n_docs", "digest", "n_shards"}`` (+
    ``"n_catchup"`` when catchup)."""
    import json as _json

    from data_engineering_capstone_project__spark.sources import (
        artifacts as art,
    )

    cfg = load_shard_config(root)
    n_old = int(cfg["n_shards"])
    id_col, text_col = cfg["id_col"], cfg["text_col"]
    if catchup:
        return _reshard_catchup(
            spark, root, new_root, n_shards, n_old, id_col, text_col,
            _test_hook, _catchup_hook, **init_kw,
        )
    gens: dict[int, int] = {}
    try:
        # ---- quiesce: lease every old shard, then drain its log ----
        for s in range(n_old):
            gens[s] = ingest.acquire_ingest_lease(shard_root(root, s))
        for s in range(n_old):
            ingest.recover_ingest_tick(
                spark, shard_root(root, s),
                text_col=text_col, id_col=id_col, generation=gens[s],
            )
        if _test_hook is not None:
            _test_hook()
        init_kw = _inherit_reshard_config(spark, root, init_kw)

        union = _read_union(spark, root, n_old, with_arrival=True).persist()
        try:
            cols = sorted(union.columns)
            dg_old = art.corpus_digest(union, cols)
            # bootstrap UNDECLARED (_declare=False): the note that makes
            # the root probe-able is written only after verification
            init_sharded_ingest(
                spark, union, new_root, n_shards=n_shards,
                text_col=text_col, id_col=id_col, _declare=False,
                **init_kw,
            )
            dg_new = art.corpus_digest(
                _read_union(spark, new_root, n_shards, with_arrival=True),
                cols,
            )
            if dg_new != dg_old:
                _cleanup_undeclared(new_root, n_shards)
                raise RuntimeError(
                    f"reshard: union digest diverged ({dg_old} -> "
                    f"{dg_new}) — {new_root!r} left undeclared and its "
                    "half-built shard directories removed; investigate "
                    "and re-run"
                )
            with open(os.path.join(new_root, _SHARDS_NOTE), "w") as f:
                _json.dump(
                    {"n_shards": int(n_shards), "text_col": text_col,
                     "id_col": id_col,
                     "route": "pmod(xxhash64(fingerprint),n)",
                     "resharded_from": root, "verified_digest": dg_old},
                    f,
                )
            return {
                "n_docs": int(dg_old.split(":")[0]),
                "digest": dg_old,
                "n_shards": int(n_shards),
            }
        finally:
            union.unpersist()
    finally:
        for s, g in gens.items():
            ingest.release_ingest_lease(shard_root(root, s), g)


def _reshard_catchup(
    spark: SparkSession,
    root: str,
    new_root: str,
    n_shards: int,
    n_old: int,
    id_col: str,
    text_col: str,
    _test_hook=None,
    _catchup_hook=None,
    **init_kw,
) -> dict:
    """The ``reshard(catchup=True)`` body — see :func:`reshard` for
    the contract. ``_catchup_hook`` (tests only) runs between the
    leaseless snapshot bootstrap and the lease acquisition: the
    window where a mid-rebuild tick lands, whose content the delta
    replay must carry into the verified new root."""
    import json as _json

    from data_engineering_capstone_project__spark.sources import (
        artifacts as art,
    )

    init_kw = _inherit_reshard_config(spark, root, init_kw)
    # ---- phase A: LEASELESS snapshot bootstrap (the O(corpus) part).
    # The union's version set pins at construction; ticks landing
    # after this line publish NEW versions the snapshot never reads.
    snap = _read_union(spark, root, n_old, with_arrival=True)
    if ingest._ARRIVAL in snap.columns:
        stamp0 = F.coalesce(
            F.col(ingest._ARRIVAL).cast("long"), F.lit(0)
        )
        r0 = int(snap.agg(F.max(stamp0)).first()[0] or 0)
    else:
        r0 = 0  # wholly-legacy root: every snapshot row reads round 0
    init_sharded_ingest(
        spark, snap, new_root, n_shards=n_shards,
        text_col=text_col, id_col=id_col, _declare=False, **init_kw,
    )
    if _catchup_hook is not None:
        _catchup_hook()
    # ---- phase B: leases held only for delta replay + verification
    import time as _time

    t_leased = _time.monotonic()
    gens: dict[int, int] = {}
    try:
        for s in range(n_old):
            gens[s] = ingest.acquire_ingest_lease(shard_root(root, s))
        for s in range(n_old):
            ingest.recover_ingest_tick(
                spark, shard_root(root, s),
                text_col=text_col, id_col=id_col, generation=gens[s],
            )
        if _test_hook is not None:
            _test_hook()
        union = _read_union(spark, root, n_old, with_arrival=True)
        # digest columns BEFORE any stamp synthesis: on a wholly-legacy
        # root the new bootstrap stamps round 1 where the old union has
        # no column at all — comparing on the old union's own columns
        # keeps the gate about CONTENT (same posture as the default
        # path)
        raw_cols = sorted(union.columns)
        if ingest._ARRIVAL not in union.columns:
            union = union.withColumn(
                ingest._ARRIVAL, F.lit(None).cast("long")
            )
        union = union.persist()
        try:
            stamp = F.coalesce(
                F.col(ingest._ARRIVAL).cast("long"), F.lit(0)
            )
            # the delta IS "stamp > R0": rounds are ledger-monotone,
            # so every mid-rebuild publish stamped strictly later
            # than anything the snapshot captured; compaction folds
            # carry rows+stamps, so a mid-rebuild compaction neither
            # adds nor removes delta rows
            delta = union.filter(stamp > F.lit(r0))
            routed = delta.withColumn(
                "_cu_shard", shard_route(F.col(text_col), n_shards)
            ).persist()
            counts = {
                int(r["_cu_shard"]): int(r["n"])
                for r in routed.groupBy("_cu_shard")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            for s in sorted(counts):
                ingest.append_published_raw(
                    spark,
                    shard_root(new_root, s),
                    routed.filter(F.col("_cu_shard") == F.lit(s)).drop(
                        "_cu_shard"
                    ),
                    text_col=text_col,
                    id_col=id_col,
                )
            routed.unpersist()
            dg_old = art.corpus_digest(union, raw_cols)
            dg_new = art.corpus_digest(
                _read_union(spark, new_root, n_shards, with_arrival=True),
                raw_cols,
            )
            if dg_new != dg_old:
                _cleanup_undeclared(new_root, n_shards)
                raise RuntimeError(
                    f"reshard(catchup): union digest diverged ({dg_old}"
                    f" -> {dg_new}) — content changed during the "
                    f"leaseless rebuild in a way the delta replay "
                    f"cannot express (a reconciliation/retirement ran "
                    f"mid-rebuild?); {new_root!r} left undeclared and "
                    "its half-built shard directories removed — "
                    "schedule reconcile away from the reshard and "
                    "re-run"
                )
            mx = int(union.agg(F.max(stamp)).first()[0] or 1)
            _seed_round(new_root, mx)
            with open(os.path.join(new_root, _SHARDS_NOTE), "w") as f:
                _json.dump(
                    {"n_shards": int(n_shards), "text_col": text_col,
                     "id_col": id_col,
                     "route": "pmod(xxhash64(fingerprint),n)",
                     "resharded_from": root, "verified_digest": dg_old,
                     "catchup": True},
                    f,
                )
            return {
                "n_docs": int(dg_old.split(":")[0]),
                "digest": dg_old,
                "n_shards": int(n_shards),
                "n_catchup": sum(counts.values()),
                # the ingest-downtime window this shape exists to
                # shrink (SCALING.md reshard ladder): lease
                # acquisition → declaration
                "leased_s": round(_time.monotonic() - t_leased, 3),
            }
        finally:
            union.unpersist()
    finally:
        for s, g in gens.items():
            ingest.release_ingest_lease(shard_root(root, s), g)


def sweep_sharded_artifacts(
    root: str,
    artifact_root: str | None = None,
    keep: int = 2,
) -> dict:
    """Sharded form of ``plans.ingest.sweep_ingest_artifacts``
    (VERDICT r12 #3): union every shard's live digests, sweep the
    shared digest-keyed artifact root ONCE with all of them pinned
    (one ``_SWEEP_LOCK`` claim — a concurrent sweeper is skipped),
    and expire unreferenced IVF codebook versions per shard root."""
    from data_engineering_capstone_project__spark.sources import (
        artifacts as art,
    )

    cfg = load_shard_config(root)
    n = int(cfg["n_shards"])
    digs: set[str] = set()
    removed_cb: dict[int, list] = {}
    for s in range(n):
        sr = shard_root(root, s)
        digs |= ingest.live_index_digests(sr)
        rm = ingest._expire_stale_codebooks(sr)
        if rm:
            removed_cb[s] = rm
    aroot = artifact_root or art.default_artifact_root()
    out = {"swept": [], "codebook_versions_removed": removed_cb,
           "skipped": False}
    if os.path.isdir(aroot):
        try:
            out["swept"] = art.sweep_stale_artifacts(aroot, digs, keep=keep)
        except art.ConcurrentSweepError:
            out["skipped"] = True
    return out


def reconcile_sharded_near_dups(
    spark: SparkSession,
    root: str,
    max_pairs: int = 1_000_000,
    distributed: bool | None = None,
    use_band_logs: bool | None = None,
) -> dict:
    """Reclaim the CROSS-SHARD near-dup stragglers the shard-local
    fuzzy tier leaks (VERDICT r12 #2): one banded MinHash pass over the
    union view finds candidate pairs, a deterministic arrival-order
    adjudication picks each cluster's survivors, and the losers retire
    per shard via :func:`plans.ingest.retire_docs` (fenced fold +
    ``_RETIRED.json`` CDC note; search indexes EXCLUSION-fold —
    O(index log), see ``_refold_indexes_excluding``; fp/mh keep the
    losers as suppression).

    **Semantics mirror the single-root loop exactly** so the gate can
    demand hash-equality (``x_shard_reconcile``):

    - candidate relation = shared ``(band, bucket)`` under the ONE
      banding the sharded bootstrap pinned for every shard — the same
      collision the per-shard tick probes;
    - in VERIFIED mode (the bootstrap set ``verify_jaccard_threshold``)
      candidates are kept only at exact shingle Jaccard ≥ the
      threshold, exactly as the verified tick drops;
    - adjudication replays SEQUENTIAL ARRIVAL on the PER-DOC
      ``_arrival_round`` stamp (VERDICT r13 #3 — one global round per
      sharded tick, stamped into the rows at publish): docs ordered by
      (round, shard, id) are kept unless they collide with an
      ALREADY-KEPT doc from a STRICTLY EARLIER round — a later arrival
      drops against published content, while same-round pairs both
      survive (the tick's probe is index-only: it never dedups within
      a batch, so neither does reconciliation). Because the stamp is
      row data, COMPACTION NO LONGER ERASES THE CLOCK and empty
      sub-batches no longer skew alignment — both r13 caveats are
      gone; reconcile and compact schedule freely in either order.
      Rows published before stamping existed (legacy pre-stamp
      versions) read as round 0 — earliest, i.e. treated as
      already-published content.

    Duplicate ids across the union are REFUSED (ADVICE r13 #4: ids are
    user-supplied and routing is by content, so one id on two shards
    would silently mis-key the adjudication and could retire the wrong
    shard's doc) — one countDistinct over the union, raised with the
    offending count.

    Scale shape (VERDICT r14 #1): on VERIFIED roots the candidate
    relation comes from the persisted id-carrying ``(band, bucket,
    corpus_id)`` logs every tick already maintains per shard
    (``use_band_logs`` default-auto) — a self-join of the UNION of the
    shard logs (banding is pinned across shards by the bootstrap), so
    candidate generation is **O(index log)**, and document TEXT is
    read only to exact-Jaccard-verify the candidates. The r14 shape
    re-shingled and re-MinHashed the entire union's text every cycle —
    the largest recurring job in the system once retirement became
    bounded. Equivalence: the log rows were produced by the same
    ``corpus_minhash_doc_index`` on the same text under the same
    pinned config (bootstrap writes all docs' bands; every tick
    appends its published docs'; recovery rebuilds a crashed tick's
    from the claimed payload — the log exactly covers the publication
    log, the invariant the recovery units pin), restricted here to
    LIVE ids (fp/mh keep retired docs as suppression, so the log is a
    superset). Docs too short to shingle produce band rows in NEITHER
    form. ``use_band_logs=False`` pins the recompute path (the only
    path on id-less ``minhash_bands`` roots, where it remains the
    default); both paths are unit-pinned hash-equal. The pass still
    runs on the documented offline cadence (it takes every shard's
    lease via ``retire_docs``). Two adjudication paths, same verdicts:

    - **driver** (default for ≤ ``max_pairs`` candidates): pairs
      collect and the sequential replay runs in-process;
    - **distributed** (``distributed=True``, or AUTO when the
      candidate count exceeds ``max_pairs`` — the r13 shape RAISED
      here): rounds iterate ascending and each round's losers are one
      anti-join against the accumulated earlier losers — provably the
      same fixpoint as the sequential replay, because a doc's verdict
      depends only on verdicts of STRICTLY earlier rounds. Per-round
      jobs; rounds are bounded by the ticks since the last reconcile.
      ``distributed=False`` pins the r13 behavior (raise over cap).

    On the DRIVER path retired ids collect (the under-cap relation is
    driver-sized by construction); on the DISTRIBUTED path retirement
    is frame-valued end-to-end (VERDICT r14 #5) — only per-shard loser
    COUNTS return to the driver, so even a degenerate mass-duplication
    event (a crawler loop, a re-uploaded dump) adjudicates and retires
    without a driver materialization.
    Returns ``{"n_pairs", "n_retired", "retired_per_shard", "path",
    "candidates"}`` — candidates reports which source generated the
    pair relation (``band_logs`` / ``recompute``).
    """
    from data_engineering_capstone_project__spark.operators import (
        dedup as dedup_mod,
    )
    from data_engineering_capstone_project__spark.sources import (
        artifacts as art,
    )

    cfg = load_shard_config(root)
    n = int(cfg["n_shards"])
    id_col, text_col = cfg["id_col"], cfg["text_col"]
    mh_meta = art.load_artifact_meta(
        os.path.join(shard_root(root, 0), ingest._MH)
    )
    nh, nb, sk = (
        int(mh_meta["num_hashes"]), int(mh_meta["bands"]),
        int(mh_meta["shingle_k"]),
    )
    thr = mh_meta.get("jaccard_threshold")
    verified = mh_meta.get("kind") == "minhash_docs"

    # union view with per-doc arrival keys: (_rnd, _shard). The stamp
    # is row data (r13 #3), so ONE union read per shard replaces the
    # r13 per-version plan fan-out entirely.
    parts = []
    for s in range(n):
        df = ingest.read_ingest_corpus(
            spark, shard_root(root, s), with_arrival=True
        )
        if ingest._ARRIVAL not in df.columns:
            df = df.withColumn(ingest._ARRIVAL, F.lit(None).cast("long"))
        parts.append(
            df.select(
                id_col,
                text_col,
                F.coalesce(
                    F.col(ingest._ARRIVAL).cast("long"), F.lit(0)
                ).alias("_rnd"),
                F.lit(s).alias("_shard"),
            )
        )
    union = parts[0]
    for pdf in parts[1:]:
        union = union.unionByName(pdf)
    union = union.persist()
    try:
        # id-uniqueness validation (ADVICE r13 #4)
        chk = union.agg(
            F.count("*").alias("n"),
            F.count_distinct(F.col(id_col)).alias("d"),
        ).first()
        if chk["n"] != chk["d"]:
            raise ValueError(
                f"reconcile_sharded_near_dups: {chk['n'] - chk['d']} "
                f"duplicate {id_col!r} values across the sharded union "
                "— ids are the adjudication key, so a duplicate could "
                "retire the wrong shard's document; deduplicate ids "
                "upstream before reconciling"
            )
        # banded candidate pairs — the same (band, bucket) relation
        # the per-shard probe collides on, from one of two sources:
        if use_band_logs is None:
            use_band_logs = verified
        if use_band_logs and not verified:
            raise ValueError(
                "reconcile_sharded_near_dups: use_band_logs=True needs "
                "the verified tier's id-carrying minhash_docs logs — "
                "this root's logs are id-less minhash_bands; use the "
                "recompute path (use_band_logs=False/None)"
            )
        if use_band_logs:
            # VERDICT r14 #1: candidates from the persisted per-shard
            # (band, bucket, corpus_id) logs — O(index log), no text
            # re-MinHash. Every shard's banding must equal the pinned
            # shard-0 config (the bootstrap guarantees it; a drifted
            # shard is refused, not silently mis-collided).
            logs = []
            for s in range(n):
                rows, smeta = art.load_minhash_log(
                    spark, os.path.join(shard_root(root, s), ingest._MH)
                )
                if (
                    smeta.get("kind") != "minhash_docs"
                    or int(smeta["num_hashes"]) != nh
                    or int(smeta["bands"]) != nb
                    or int(smeta["shingle_k"]) != sk
                ):
                    raise ValueError(
                        f"reconcile_sharded_near_dups: shard {s} band "
                        f"log config ({smeta.get('kind')}, "
                        f"{smeta.get('num_hashes')}/{smeta.get('bands')}"
                        f"/{smeta.get('shingle_k')}) diverges from the "
                        f"pinned shard-0 banding (minhash_docs, "
                        f"{nh}/{nb}/{sk}) — refusing a mis-collided "
                        "candidate pass"
                    )
                logs.append(rows.select("band", "bucket", "corpus_id"))
            log_u = logs[0]
            for lf in logs[1:]:
                log_u = log_u.unionByName(lf)
            # restrict to LIVE ids: fp/mh keep retired and
            # selection-rejected docs as suppression rows. No distinct
            # here — log rows are distinct by construction (per-delta
            # distinct over disjoint docs; compaction distinct-folds)
            # and the final pairs.distinct() guarantees the pair SET
            # regardless, so an intermediate index-sized shuffle would
            # buy nothing
            live = union.select(F.col(id_col).alias("corpus_id"))
            bl = log_u.join(live, "corpus_id", "left_semi").withColumnRenamed(
                "corpus_id", id_col
            )
        else:
            bl = dedup_mod.minhash_band_rows(
                union, id_col, text_col, nh, nb, sk
            )
        a = bl.select(
            F.col(id_col).alias("id_a"), "band", "bucket"
        )
        b = bl.select(
            F.col(id_col).alias("id_b"), "band", "bucket"
        )
        pairs = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        if verified:
            if thr is None:
                raise ValueError(
                    "reconcile_sharded_near_dups: verified-tier index "
                    "carries no jaccard_threshold"
                )
            pairs = dedup_mod.verify_jaccard(
                union, pairs, id_col=id_col, text_col=text_col,
                shingle_k=sk,
            ).filter(F.col("jaccard") >= thr).select("id_a", "id_b")
        # arrival keys joined onto the PAIRS (never collected per doc)
        ka = union.select(
            F.col(id_col).alias("id_a"),
            F.col("_rnd").alias("_rnd_a"),
            F.col("_shard").alias("_shard_a"),
        )
        kb = union.select(
            F.col(id_col).alias("id_b"),
            F.col("_rnd").alias("_rnd_b"),
            F.col("_shard").alias("_shard_b"),
        )
        keyed = pairs.join(ka, "id_a").join(kb, "id_b")
        rows = None
        if distributed is not True:
            # persist BEFORE the cap probe: if the cap trips, the
            # escalation path reuses the materialized pair relation
            # instead of recomputing the whole banded pass
            # (tools/reconcile_ladder.py: 44.6 -> 35.2 s on the 2.4M-pair
            # rung). The probe itself is a COUNT, not a collect
            # (VERDICT r14 #3 — the r14 shape pulled max_pairs+1 rows
            # to the driver just to discover it must go distributed):
            # rows transfer only once the relation is known under-cap,
            # and the collect then reads the persisted cache.
            keyed = keyed.persist()
            if keyed.limit(max_pairs + 1).count() > max_pairs:
                if distributed is False:
                    raise RuntimeError(
                        f"reconcile_sharded_near_dups: >{max_pairs} "
                        "candidate pairs with distributed=False — "
                        "banding collides far below the threshold; "
                        "re-bootstrap with a tighter (num_hashes, "
                        "bands) config, or let the distributed "
                        "adjudication run (distributed=None/True)"
                    )
                # rows stays None — auto-escalate (VERDICT r13 #4)
            else:
                rows = keyed.collect()
        try:
            if rows is not None:
                per_shard, n_pairs = _adjudicate_driver(rows)
                path = "driver"
                counts = {
                    s: len(ids) for s, ids in sorted(per_shard.items())
                }
                for s, ids in sorted(per_shard.items()):
                    ingest.retire_docs(
                        spark, shard_root(root, s), sorted(ids),
                        id_col=id_col, text_col=text_col,
                    )
            else:
                # FRAME-VALUED retirement end-to-end (VERDICT r14 #5):
                # the over-cap path's loser relation never materializes
                # on the driver — only per-shard COUNTS collect, and
                # each shard retires from a DataFrame slice (retire_docs
                # persists the ids durably for its heal marker)
                losers, n_pairs = _adjudicate_distributed(spark, keyed)
                path = "distributed"
                counts = {
                    int(r["l_shard"]): int(r["n"])
                    for r in losers.groupBy("l_shard")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
                for s in sorted(counts):
                    ingest.retire_docs(
                        spark,
                        shard_root(root, s),
                        losers.filter(
                            F.col("l_shard") == F.lit(s)
                        ).select("l_id"),
                        id_col=id_col,
                        text_col=text_col,
                    )
        finally:
            keyed.unpersist()
        return {
            "n_pairs": n_pairs,
            "n_retired": sum(counts.values()),
            "retired_per_shard": counts,
            "path": path,
            "candidates": "band_logs" if use_band_logs else "recompute",
        }
    finally:
        union.unpersist()


def _adjudicate_driver(rows) -> tuple[dict[int, list], int]:
    """Sequential-arrival replay over collected candidate pairs: docs
    ordered by (round, shard, id) are kept unless they collide with an
    already-kept doc of a STRICTLY earlier round. Returns
    ``({shard: [loser ids]}, n_pairs)``."""
    adj: dict = {}
    keys: dict = {}
    for r in rows:
        keys[r["id_a"]] = (int(r["_rnd_a"]), int(r["_shard_a"]))
        keys[r["id_b"]] = (int(r["_rnd_b"]), int(r["_shard_b"]))
        adj.setdefault(r["id_a"], set()).add(r["id_b"])
        adj.setdefault(r["id_b"], set()).add(r["id_a"])
    kept: set = set()
    losers: set = set()
    for doc in sorted(adj, key=lambda d: (keys[d], d)):
        rnd = keys[doc][0]
        if any(
            nb2 in kept and keys[nb2][0] < rnd for nb2 in adj[doc]
        ):
            losers.add(doc)
        else:
            kept.add(doc)
    per_shard: dict[int, list] = {}
    for doc in losers:
        per_shard.setdefault(keys[doc][1], []).append(doc)
    return per_shard, len(rows)


def _adjudicate_distributed(
    spark: SparkSession, keyed: DataFrame
) -> tuple[dict[int, list], int]:
    """The over-cap adjudication path (VERDICT r13 #4 — the r13 shape
    raised): the sequential replay's fixpoint, computed round-by-round
    with DataFrame joins instead of a driver pair scan.

    Identity argument: a doc D at round r loses iff some banded
    neighbor N with round(N) < r is KEPT, and N's own verdict depends
    only on rounds < round(N) — so verdicts are well-founded by round
    and within-round order never matters. Iterating rounds ascending,
    round r's losers are exactly the 'later' endpoints of
    earlier→later edges whose 'earlier' endpoint has NOT already lost
    (same-round pairs carry no edge — both survive, mirroring the
    tick's index-only probe). One anti-join per round; rounds are
    bounded by the ticks since the last reconcile. Per-round loser
    frames are localCheckpoint'd to keep the iterative plan flat, and
    the accumulated loser relation STAYS A FRAME (VERDICT r14 #5 —
    the r14 shape collected losers per round, which one
    mass-duplication event would break): nothing doc-sized returns to
    the driver. Returns ``(losers_df(l_id, l_shard), n_pairs)`` —
    the losers frame is checkpoint-backed, valid after unpersists."""
    keyed = keyed.persist()
    try:
        n_pairs = keyed.count()
        e1 = keyed.filter(F.col("_rnd_a") < F.col("_rnd_b")).select(
            F.col("id_a").alias("e_id"),
            F.col("id_b").alias("l_id"),
            F.col("_rnd_b").alias("l_rnd"),
            F.col("_shard_b").alias("l_shard"),
        )
        e2 = keyed.filter(F.col("_rnd_b") < F.col("_rnd_a")).select(
            F.col("id_b").alias("e_id"),
            F.col("id_a").alias("l_id"),
            F.col("_rnd_a").alias("l_rnd"),
            F.col("_shard_a").alias("l_shard"),
        )
        edges = e1.unionByName(e2).persist()
        rounds = sorted(
            r["l_rnd"]
            for r in edges.select("l_rnd").distinct().collect()
        )
        lost = edges.select(F.col("e_id").alias("x_id")).limit(0)
        losers = edges.select("l_id", "l_shard").limit(0)
        for rnd in rounds:
            newly = (
                edges.filter(F.col("l_rnd") == F.lit(rnd))
                .join(lost, F.col("e_id") == F.col("x_id"), "left_anti")
                .select("l_id", "l_shard")
                .distinct()
                .localCheckpoint()
            )
            losers = losers.unionByName(newly)
            lost = lost.unionByName(
                newly.select(F.col("l_id").alias("x_id"))
            )
        edges.unpersist()
        return losers, n_pairs
    finally:
        keyed.unpersist()


def ivf_topk_sharded(
    spark: SparkSession,
    root: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """GLOBAL ANN retrieval over a SHARDED living corpus — the vector
    counterpart of the global BM25 probe (``sharded_bm25_paths``):
    each shard's incremental IVF log probes under its OWN codebook
    (cells are layout-local — every shard fit its own k-means at
    bootstrap/reshard), and the per-shard top-k's merge into one
    global top-k. Exactness composition: cosine is a per-row score
    independent of any corpus statistic, and shards are
    document-disjoint by routing, so the union of per-shard top-k's
    CONTAINS the union's true top-k at the same per-shard probe
    quality — global recall equals per-shard IVF recall, nothing is
    lost in the merge (oracle-gated by ``x_sharded_ann`` — full-probe
    hash-equality to brute-force cosine over the union, pruned-probe
    self-recall and score-subset invariants — plus the single-log-twin
    unit). Plan:
    n_shards pruned probes (each ``PartitionFilters`` on its own
    cells) unioned, one final ``TakeOrderedAndProject`` of
    n_shards × k rows."""
    from data_engineering_capstone_project__spark.operators import (
        similarity as sim,
    )

    cfg = load_shard_config(root)
    n = int(cfg["n_shards"])
    outs = []
    for s in range(n):
        sr = shard_root(root, s)
        if not ingest._ivf_log_active(sr):
            raise FileNotFoundError(
                f"shard {s} of {root!r} has no IVF vector log "
                "(bootstrap with ivf_index=...)"
            )
        outs.append(
            sim.ivf_topk_log(
                spark,
                os.path.join(sr, ingest._IVF),
                os.path.join(sr, ingest._IVF_CB),
                query_vec,
                k=k,
                nprobe=nprobe,
            )
        )
    out = outs[0]
    for d in outs[1:]:
        out = out.unionByName(d)
    id_col = out.columns[0]
    return out.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def recover_sharded_ingest(
    spark: SparkSession,
    root: str,
    break_leases: bool = False,
) -> dict[int, int | None]:
    """Per-shard :func:`plans.ingest.recover_ingest_tick` over a
    sharded root — the operator surface for restarting a sharded loop
    whose writer died: each shard's dangling claimed-but-uncommitted
    tick completes (the missing admissions rebuilt from the claimed
    payload, the publish committed) and any unfinished retirement
    heals (``_heal_pending_retirement``). ``break_leases=True`` first
    breaks each shard's lease (``break_ingest_lease`` — fenced, safe
    even against a live holder), the hard-killed-driver posture; the
    default assumes the leases were released and just takes each in
    turn. Returns ``{shard: recovered_publish_version_or_None}``.

    Crash-convergence composition, unit-pinned: a reconciliation that
    dies mid-way (some shards retired, others not — or none) simply
    re-runs; surviving losers still collide with their kept winners,
    so the next ``reconcile_sharded_near_dups`` retires exactly the
    remainder and the union converges to the single-root golden."""
    cfg = load_shard_config(root)
    out: dict[int, int | None] = {}
    for s in range(int(cfg["n_shards"])):
        sr = shard_root(root, s)
        if break_leases:
            ingest.break_ingest_lease(sr)
        out[s] = ingest.recover_ingest_tick(
            spark, sr,
            text_col=cfg["text_col"], id_col=cfg["id_col"],
        )
    return out


def backfill_arrival_stamps(
    spark: SparkSession, root: str, round_for_version=None
) -> dict:
    """One-shot arrival-stamp BACKFILL over every shard of a pre-r14
    sharded root (VERDICT r14 #4): each shard runs
    :func:`plans.ingest.backfill_arrival_stamp` under its own lease
    (unstamped rows stamp with their corpus VERSION number — the
    pre-stamp arrival clock — folding the shard's log into one
    fully-stamped version), and the root's global round ledger is
    seeded at the max stamp so the next sharded tick claims a strictly
    later round. After this, a mixed legacy root adjudicates
    IDENTICALLY to a born-stamped twin of the same history
    (unit-pinned) — its legacy near-dup ties stop being permanently
    mutual survivors. Idempotent: already-stamped rows are untouched.
    Returns ``{"versions": {shard: folded_version}, "max_round": N}``.
    """
    cfg = load_shard_config(root)
    out: dict[int, int] = {}
    mx = 0
    for s in range(int(cfg["n_shards"])):
        v, m = ingest.backfill_arrival_stamp(
            spark, shard_root(root, s), round_for_version
        )
        out[s] = v
        mx = max(mx, m)
    if mx > _current_round(root):
        _seed_round(root, mx)
    return {"versions": out, "max_round": mx}


def compact_sharded_ingest(
    spark: SparkSession, root: str, **kw
) -> dict[int, int]:
    """Per-shard ``compact_publication_log`` (each under its own shard
    lease); shards compact independently.

    Concurrency (qualified — ADVICE r12 #3): with the DEFAULT
    shard-local probe, compacting shard B is safe concurrently with
    other shards' ticks (a tick only reads its own root, which its
    lease serializes against its own compaction). With
    ``probe_all_shards=True``, a tick on shard A scans shard B's
    committed fp/mh delta files, and a concurrent compaction of shard
    B can GC those files after A listed them — the transient
    FileNotFound hazard ``ingest_batch``'s ``extra_probe_roots``
    docstring discloses. Under that flag, schedule compaction away
    from ticking (or retry the failed tick — nothing is corrupted,
    the probe scan just raced a GC). Returns
    ``{shard: compacted_version}``."""
    cfg = load_shard_config(root)
    return {
        s: ingest.compact_publication_log(spark, shard_root(root, s), **kw)
        for s in range(int(cfg["n_shards"]))
    }
