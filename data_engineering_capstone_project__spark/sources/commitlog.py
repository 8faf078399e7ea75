"""Object-store-safe versioned-snapshot commit protocol (VERDICT r7 #2/#3).

The round-7 protocol committed a snapshot by atomically ``os.replace``-ing
a ``LATEST`` pointer file and claimed version numbers with atomic
``os.mkdir`` — both POSIX-only primitives. A real 100 TB pipeline's
artifact root lives on S3/GCS/HDFS where neither exists, and the pointer
swap was additionally LAST-WRITER-WINS: if the ``v=N`` writer finished
after the ``v=N+1`` writer, ``LATEST`` regressed and a committed version
silently disappeared (dup re-admission in the ingest loop).

This module replaces both with primitives every object store offers:

- **put-if-absent** (``O_CREAT|O_EXCL`` locally; S3 conditional PUT with
  ``If-None-Match: *``, GCS ``ifGenerationMatch=0``, ABFS/HDFS atomic
  create) — used for both the version CLAIM and the COMMIT marker;
- **list + exists** — commit state is the PRESENCE of a per-version
  ``_COMMITTED`` marker file, and the committed snapshot is
  ``max(versions with a marker)``, which is MONOTONE under any writer
  interleaving by construction (a slow v=N landing after a fast v=N+1
  can never regress a max).

Protocol per writer::

    1. n := 1 + max(existing v=* entries)           # list
    2. create v=n/_CLAIM   exclusively               # put-if-absent; on
       FileExistsError retry with n+1                # conflict, next n
    3. write payload under v=n/ (parquet parts, meta)
    4. create v=n/_COMMITTED exclusively             # THE commit point

A writer that dies before step 4 leaves an orphan claim no reader ever
resolves; re-running it claims a fresh n. Directory creation for the
local filesystem is a non-protocol convenience (object stores have no
directories); no step relies on atomic rename or atomic mkdir.

A human-readable ``LATEST`` pointer file is still maintained as an
ADVISORY CACHE — written monotonically and best-effort (failures
ignored), never consulted by resolution when any marker exists. Readers
of legacy pointer-protocol layouts (no markers anywhere, pointer
present) keep working: the pointer bounds the committed set exactly as
the old protocol defined it.

LOGS (a version is a delta, readers union them — the ingest
publication log and the append-log artifacts) add one more step, the
FOLD (:func:`fold`): many versions become one new version whose
``_FOLDS.json`` note names every version it subsumes. The note lands
before the fold's commit marker, so the marker is the single atomic
switch from inputs-visible to fold-visible; :func:`visible_versions` is
the log reader's resolution (committed minus subsumed), and deleting
the inputs afterwards is pure garbage collection.

Spark's own parquet part files are committed by its FileOutputCommitter
(rename-based locally; use an object-store committer — e.g. the S3A
magic committer — there). This module only governs snapshot VISIBILITY:
readers never list a ``v=n`` payload until the marker exists, so
part-file mechanics inside an uncommitted version are never observed.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

_CLAIM = "_CLAIM"
_COMMITTED = "_COMMITTED"
_FENCED = "_FENCED"
_FOLDS = "_FOLDS.json"
LATEST = "LATEST"

__all__ = [
    "claim_version",
    "commit_version",
    "committed_versions",
    "latest_version",
    "all_versions",
    "fence_version",
    "fence_uncommitted",
    "unfence_version",
    "is_fenced",
    "FencedVersionError",
    "visible_versions",
    "note_folds",
    "fold",
    "expire_versions",
]


class FencedVersionError(RuntimeError):
    """A commit landed on a version fenced by ``fence_uncommitted`` —
    the writer's lease was broken while this claim was in flight."""


def _put_if_absent(path: str) -> None:
    """Exclusive create — the one atomic primitive the protocol needs.
    Raises ``FileExistsError`` when the object already exists (the
    conditional-PUT conflict signal)."""
    fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)


def all_versions(path: str) -> list[int]:
    """Every ``v=N`` entry under ``path`` — committed AND in-flight
    claims (the raw listing; resolution filters by marker)."""
    try:
        entries = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(
        int(d[2:])
        for d in entries
        if d.startswith("v=") and d[2:].isdigit()
    )


def _migrate_legacy_pointer(path: str) -> None:
    """One-time legacy migration (ADVICE r8): a pre-marker store (LATEST
    pointer present, ZERO ``_COMMITTED`` markers) resolves by the
    pointer-bounded fallback in :func:`committed_versions` — but the
    FIRST new-protocol commit stamps a marker and flips resolution to
    marker-only, silently un-committing every pointer-era version (the
    ingest publication log would lose its bootstrap corpus and every
    prior batch; the verified tick's candidate text fetch would go
    empty and near-duplicates would publish). So before any new write
    claims a version on such a store, stamp markers for every version
    the pointer committed. Idempotent and race-safe: concurrent
    migrators collide on put-if-absent and ignore the loss."""
    vs = all_versions(path)
    if not vs:
        return
    if any(
        os.path.exists(os.path.join(path, f"v={v}", _COMMITTED)) for v in vs
    ):
        return
    try:
        with open(os.path.join(path, LATEST)) as f:
            latest = int(f.read().strip())
    except (FileNotFoundError, ValueError, OSError):
        return
    for v in vs:
        if v <= latest:
            try:
                _put_if_absent(os.path.join(path, f"v={v}", _COMMITTED))
            except FileExistsError:
                pass


def claim_version(path: str) -> tuple[int, str]:
    """Claim the next free version number via put-if-absent of the
    ``_CLAIM`` marker; returns ``(n, snapshot_dir)``. Exactly one writer
    wins each n under any interleaving; losers retry n+1. On a legacy
    pointer-only layout, first stamps ``_COMMITTED`` markers for every
    pointer-committed version (:func:`_migrate_legacy_pointer`)."""
    os.makedirs(path, exist_ok=True)
    _migrate_legacy_pointer(path)
    n = max(all_versions(path), default=0)
    while True:
        n += 1
        target = os.path.join(path, f"v={n}")
        # local-FS convenience only — the claim is the _CLAIM create
        os.makedirs(target, exist_ok=True)
        try:
            _put_if_absent(os.path.join(target, _CLAIM))
            return n, target
        except FileExistsError:
            continue


def fence_version(path: str, n: int) -> None:
    """Stamp the ``_FENCED`` marker on ``v=n`` (put-if-absent,
    idempotent): the version becomes permanently invisible to readers
    even if a ``_COMMITTED`` marker lands later — the fence wins
    regardless of marker ordering, which is what makes breaking a
    paused-but-live writer's lease race-free for in-flight claims (the
    zombie's late commit cannot publish a fenced claim, no matter how
    it interleaves with the fencing)."""
    try:
        _put_if_absent(os.path.join(path, f"v={n}", _FENCED))
    except FileExistsError:
        pass


def unfence_version(path: str, n: int) -> None:
    """Remove the fence from ``v=n`` (idempotent). ONLY for the current
    lease holder adopting a dead writer's recoverable claim (exactly-
    once recovery: the claim is referenced by a committed admission
    delta, so completing it is the correct action) — the caller must be
    serialized by the lease."""
    try:
        os.remove(os.path.join(path, f"v={n}", _FENCED))
    except FileNotFoundError:
        pass


def is_fenced(path: str, n: int) -> bool:
    return os.path.exists(os.path.join(path, f"v={n}", _FENCED))


def fence_uncommitted(path: str) -> list[int]:
    """Fence every claim without a ``_COMMITTED`` marker — the
    break-a-lease sweep. Versions committed before the sweep stay
    visible (they are the dead holder's COMPLETED work, which the
    break contract preserves); a commit racing the sweep converges to
    invisible either way (fence wins at read time). Returns the fenced
    version numbers."""
    fenced = []
    for v in all_versions(path):
        if not os.path.exists(os.path.join(path, f"v={v}", _COMMITTED)):
            fence_version(path, v)
            fenced.append(v)
    return fenced


def commit_version(path: str, n: int) -> None:
    """THE commit point: put-if-absent of the ``_COMMITTED`` marker makes
    ``v=n`` visible. Raises ``FileExistsError`` on a double commit and
    :class:`FencedVersionError` when the claim was fenced by a lease
    break (the marker is still not written then; and even a marker that
    slips in between the fence check and a racing fence stays invisible
    — resolution excludes fenced versions). Also advances the advisory
    ``LATEST`` cache, monotonically and best-effort."""
    if is_fenced(path, n):
        raise FencedVersionError(
            f"v={n} under {path!r} was fenced by a lease break: this "
            "writer's lease is no longer valid; its in-flight claim "
            "cannot be published"
        )
    _put_if_absent(os.path.join(path, f"v={n}", _COMMITTED))
    try:
        p = os.path.join(path, LATEST)
        cur = -1
        if os.path.exists(p):
            with open(p) as f:
                txt = f.read().strip()
            cur = int(txt) if txt else -1
        if n > cur:
            # plain write: the cache may transiently hold a torn value —
            # resolution never trusts it when a marker exists
            with open(p, "w") as f:
                f.write(str(n))
    except Exception:
        pass  # advisory only


def committed_versions(path: str) -> list[int]:
    """Versions a reader may resolve: those with a ``_COMMITTED`` marker
    and no ``_FENCED`` marker (fence wins — see :func:`fence_version`).
    Legacy pointer-protocol layouts (no marker anywhere, ``LATEST``
    present) resolve exactly as the old protocol defined: every listed
    version ≤ the pointer."""
    vs = all_versions(path)
    out = [
        v
        for v in vs
        if os.path.exists(os.path.join(path, f"v={v}", _COMMITTED))
        and not os.path.exists(os.path.join(path, f"v={v}", _FENCED))
    ]
    if out:
        return out
    # legacy fallback applies ONLY to pre-marker layouts: if ANY
    # _COMMITTED marker exists, this is a marker-protocol log whose
    # visible set is genuinely empty (e.g. every committed version was
    # fenced) — the pointer must not resurrect fenced versions, fence
    # wins regardless of marker ordering.
    if any(
        os.path.exists(os.path.join(path, f"v={v}", _COMMITTED)) for v in vs
    ):
        return []
    try:
        with open(os.path.join(path, LATEST)) as f:
            latest = int(f.read().strip())
        return [
            v
            for v in vs
            if v <= latest
            and not os.path.exists(os.path.join(path, f"v={v}", _FENCED))
        ]
    except (FileNotFoundError, ValueError, OSError):
        return []


def latest_version(path: str) -> int:
    """The committed snapshot: ``max(committed_versions)`` — monotone
    under concurrent writers. Raises ``FileNotFoundError`` when nothing
    was ever committed (parity with the old missing-pointer error)."""
    vs = committed_versions(path)
    if not vs:
        raise FileNotFoundError(
            f"no committed version under {path!r} (orphan claims only, "
            "or nothing written)"
        )
    return vs[-1]


def expire_versions(path: str, keep: int = 1) -> list[int]:
    """SNAPSHOT retention: delete old version directories, keeping the
    newest ``keep`` committed ones (the resolved snapshot always
    survives). Versions without a ``_COMMITTED`` marker are in-flight
    writers' claims — never touched. Never apply this to a LOG: there
    every visible version is content, and only :func:`fold` may remove
    one. Returns the versions removed."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    committed = committed_versions(path)
    if not committed:
        raise FileNotFoundError(f"no committed version under {path!r}")
    keep_set = set(sorted(committed, reverse=True)[:keep]) | {committed[-1]}
    removed = []
    for v in committed:
        if v not in keep_set:
            shutil.rmtree(os.path.join(path, f"v={v}"))
            removed.append(v)
    return removed


def _folded_by(path: str, n: int) -> list[int]:
    """Versions that committed version ``n`` subsumes (its ``_FOLDS.json``
    note; empty for plain deltas and snapshots)."""
    try:
        with open(os.path.join(path, f"v={n}", _FOLDS)) as f:
            return [int(x) for x in json.load(f)]
    except (OSError, ValueError):
        return []


def visible_versions(path: str) -> list[int]:
    """Committed versions minus those a committed fold subsumes: the set
    a LOG reader must union. Equal to :func:`committed_versions` except
    between a fold's commit and its deletes (or after a crash inside
    that window), where the subsumed inputs are still on disk but must
    not be read — double-counting folded rows would corrupt any
    count-bearing log (BM25 tf/df, the publication log's union)."""
    vs = committed_versions(path)
    folded: set[int] = set()
    for v in vs:
        folded.update(_folded_by(path, v))
    return [v for v in vs if v not in folded]


def note_folds(path: str, n: int, folds: list[int]) -> None:
    """Write claimed version ``n``'s ``_FOLDS.json`` note (the versions
    it subsumes). Writers call it between the payload and the commit."""
    with open(os.path.join(path, f"v={n}", _FOLDS), "w") as f:
        json.dump(sorted(set(int(v) for v in folds)), f)


def fold(path: str, write: Callable[[list[int], list[int]], int]) -> int:
    """THE fold protocol of a log under ``path``; returns the fold's
    version.

    1. Capture the visible versions (the inputs) and the crash leftovers
       — committed versions a prior fold subsumed whose directories a
       crashed fold never deleted.
    2. ``write(inputs, folds)`` claims a version, writes the union of
       exactly ``inputs`` (plus its own notes), writes the note
       ``note_folds(path, n, folds)``, runs its fencing checks and
       commits; it returns the version. ``folds`` names the inputs AND
       the leftovers: a leftover is invisible only through an older
       fold's note, and that fold is an input about to be deleted — if
       this fold then crashed before deleting the leftover, its own note
       must still subsume it.
    3. Delete the leftovers first, then the inputs: pure garbage
       collection, since the commit already made them invisible.

    A version committed after the capture is not an input and survives,
    so the union is preserved under any interleaving; callers serialize
    folds of one log (the ingest lease)."""
    inputs = visible_versions(path)
    if not inputs:
        raise FileNotFoundError(f"no committed version under {path!r}")
    leftovers = [v for v in committed_versions(path) if v not in inputs]
    n = write(inputs, sorted(set(inputs) | set(leftovers)))
    for old in leftovers + inputs:
        shutil.rmtree(os.path.join(path, f"v={old}"), ignore_errors=True)
    return n
