"""Versioned-manifest commit protocol for managed tables.

A managed table is a directory of immutable parquet data files plus a
commit log of manifest files. Each committed version is its own
immutable file ``_manifest-v{N:012d}.json`` listing exactly the data
files that make up that version, and the table schema they are read
with (Spark's ``StructType.json()``, an opaque string here). A version
may list no file: CREATE TABLE, or a DELETE that removed every row, is
its schema alone and writes no data (the reference's CREATE TABLE is
likewise only a catalog entry, duckherder_schema_catalog_entry.cpp).
Only a directory adopted from outside the engine (``adopt``), or
written before versions carried a schema, has none; readers take it
from a file footer. ``_manifest.json`` is kept as a
best-effort CONVENIENCE POINTER at the latest version for legacy /
external readers, refreshed after every commit. Engine readers resolve
the highest-numbered version file directly.

The log is the table's ONLY version history. The latest version is the
live table; every older version still in the directory is readable as
it was (``Engine.table_at_version``), because a commit never deletes a
data file: a superseded file stays until ``prune`` retires every
version that lists it. Nothing prunes on commit; history is kept until
an explicit ``prune`` (``Engine.vacuum_history``).

A commit stages its new files invisibly, then publishes the version
as one COMPARE-AND-SWAP, so two writer PROCESSES that both read
version v cannot both publish v+1 (the second silently discarding the
first writer's files):

* A writer materializes the full manifest content in a temp file
  (fsync'd), then publishes it with ``link(2)`` to the version-numbered
  name. ``link`` fails with EEXIST if that version was already
  committed — the atomic create-if-absent primitive — and because the
  temp file is complete before the link, a version file can never be
  observed partially written (unlike ``open(O_CREAT|O_EXCL)`` + write,
  where a crash mid-write leaves a torn committed version).
* The LOSER of a race re-reads the new latest version and either
  REBASES (blind appends: the new files can simply be appended to the
  winner's file list — they conflict with nothing) or ABORTS with
  ``ConcurrentWriteError`` (rewrites: DELETE/UPDATE/compact computed
  their kept-file set against a version that is no longer latest, so
  committing would silently drop — or resurrect — the winner's rows).

This is the same split Delta Lake ships as WriteSerializable (blind
appends never conflict; any transaction that *read* table state
conflicts with every intervening commit) and the same primitive both
Delta (put-if-absent on ``_delta_log/{N}.json``) and Iceberg (CAS on
the metadata pointer) use at 100 TB. The reference sidesteps the
problem by serializing all writers through one server process
(duckherder_schema_catalog_entry.cpp:173-213 — catalog entries created
inside the server DuckDB's single-writer transaction); a shared
warehouse directory has no such funnel, so isolation must come from
the commit protocol itself.

Everything here is Spark-free on purpose: the multi-process isolation
test (tests/test_manifest_cas.py) drives these functions from plain
Python subprocesses, proving the CAS across real process boundaries
without paying a SparkSession per writer.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

__all__ = [
    "ConcurrentWriteError",
    "adopt",
    "commit_append",
    "commit_exact",
    "last_txn",
    "list_versions",
    "prune",
    "prune_watermark",
    "read_manifest",
    "read_version",
    "referenced",
    "try_commit",
    "versions",
]

POINTER = "_manifest.json"
_VERSION_FMT = "_manifest-v{:012d}.json"
_VERSION_RE = re.compile(r"_manifest-v(\d{1,18})\.json$")
_PRUNED_FMT = "_pruned-v{:012d}.marker"
_PRUNED_RE = re.compile(r"_pruned-v(\d{1,18})\.marker$")


class ConcurrentWriteError(RuntimeError):
    """Another writer committed a new table version between this
    operation's read of the table state and its commit attempt. The
    operation was NOT applied (the losing commit never becomes
    visible); re-run it against the new state. Raised only by
    state-dependent mutations (DELETE/UPDATE/MERGE/compact/restore) —
    blind appends rebase and retry automatically."""


def _pointer_path(path: str) -> str:
    return os.path.join(path, POINTER)


def version_file(path: str, version: int) -> str:
    return os.path.join(path, _VERSION_FMT.format(version))


def list_versions(path: str) -> list[int]:
    """Committed version numbers present in the directory, ascending."""
    out = []
    for f in os.listdir(path):
        m = _VERSION_RE.fullmatch(f)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def prune_watermark(path: str) -> int:
    """Highest version number ever PRUNED in this directory, -1 if
    none. Persisted as link(2)-created ``_pruned-v{N}.marker`` files
    and resolved as the max, so the watermark is monotone by
    construction — two racing pruners each publish their own marker
    and the max wins; a marker is never replaced in place, so the
    value can never regress the way a read-modify-write pointer
    could."""
    w = -1
    try:
        names = os.listdir(path)
    except OSError:
        return w
    for f in names:
        m = _PRUNED_RE.fullmatch(f)
        if m:
            w = max(w, int(m.group(1)))
    return w


def read_manifest(path: str) -> dict | None:
    """Resolve the latest committed manifest: the highest-numbered
    version file, else the legacy single pointer file (a pre-CAS
    table that has not been committed to since), else None."""
    versions = list_versions(path)
    if versions:
        with open(version_file(path, versions[-1])) as fh:
            return json.load(fh)
    pp = _pointer_path(path)
    if not os.path.exists(pp):
        return None
    with open(pp) as fh:
        return json.load(fh)


def read_version(path: str, version: int) -> dict | None:
    """The manifest of committed ``version``, None if it is not
    retained (never committed, or pruned)."""
    try:
        with open(version_file(path, version)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def versions(path: str) -> list[dict]:
    """Manifests of the retained versions, oldest first; the last one
    is the live table. A pre-CAS table's pointer file is its one
    version. A version a racing ``prune`` retires while this reads is
    left out."""
    out = [m for v in list_versions(path)
           if (m := read_version(path, v)) is not None]
    if not out:
        m = read_manifest(path)
        out = [m] if m is not None else []
    return out


def referenced(path: str) -> set[str]:
    """Data files any retained version lists: the files that must stay
    in the directory (a vacuum or an adopt sweep treats them as live)."""
    return {f for m in versions(path) for f in m["files"]}


def try_commit(path: str, files: list[str], op: str,
               version: int, txns: dict | None = None,
               schema: str | None = None) -> dict | None:
    """ONE compare-and-swap attempt: publish ``files`` as exactly
    ``version``. Returns the manifest on the win, None if that version
    number was already taken (lost race — re-read and rebase/abort).
    ``schema`` is the table schema the version is read with (None:
    unknown; readers fall back to a file footer). ``txns`` is the
    application-transaction map ({app_id: last applied transaction
    version} — Delta's SetTransaction action): each commit stores the
    FULL map, so the latest manifest always answers "what was the last
    batch app X applied?" without any log-history scan — prune-safe by
    construction.

    The content is fully written and fsync'd in a temp file first;
    link(2) then creates the version name atomically (EEXIST = loss),
    so a committed version file is always complete and a crash at any
    point leaves at most an invisible ``_manifest.tmp.*`` orphan.

    A commit publishes and deletes nothing else: the files it
    supersedes stay until ``prune`` retires every version listing
    them, and no commit prunes.

    A version number at or below the PRUNE WATERMARK is a loss even
    if the name is free: pruning unlinked that version's file, which
    would otherwise re-open the number for link(2) and let a stalled
    loser (read base N, slept through commits past N+1 and the prune
    that retired N+1) 'win' a commit that never becomes latest —
    readers resolve max — and whose files no live version lists. The
    watermark is checked before staging AND re-checked after the link
    (backing the link out on failure), closing the race where pruning
    advances between check and link."""
    if version <= prune_watermark(path):
        return None
    m = {
        "version": version,
        "op": op,
        "files": sorted(files),
        "ts": time.time(),
    }
    if txns:
        m["txns"] = dict(txns)
    if schema is not None:
        m["schema"] = schema
    tmp = os.path.join(path, f"_manifest.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump(m, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, version_file(path, version))
    except FileExistsError:
        os.unlink(tmp)
        return None
    os.unlink(tmp)
    if version <= prune_watermark(path):
        # Pruning advanced past us between the pre-check and the link.
        # Our version file can never be the resolved max (a pruner
        # never retires the latest version it saw, so the watermark is
        # always below a live latest), so backing it out is invisible
        # to readers.
        try:
            os.unlink(version_file(path, version))
        except OSError:
            pass
        return None
    # Make the directory entry itself durable (the rename-commit's
    # fsync-the-parent step, same reason).
    try:
        dfd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass
    _refresh_pointer(path)
    return m


def commit_exact(path: str, files: list[str], op: str,
                 base_version: int | None,
                 txns: dict | None = None,
                 schema: str | None = None) -> dict:
    """Commit ``files`` as the version directly after ``base_version``
    (the version this mutation READ its state from; None = the table
    had no manifest). Any intervening commit makes the read stale →
    ConcurrentWriteError, nothing applied. This is the commit path for
    every state-dependent mutation. Callers must pass the BASE
    manifest's ``txns`` map through (rewrites otherwise erase stream
    idempotence state, re-opening replayed batches after a compact)."""
    version = 0 if base_version is None else base_version + 1
    m = try_commit(path, files, op, version, txns=txns, schema=schema)
    if m is None:
        cur = read_manifest(path)
        raise ConcurrentWriteError(
            f"{op}: table at {path} moved from version {base_version} "
            f"to {cur['version'] if cur else '?'} during this "
            "operation; re-run against the new state"
        )
    return m


def commit_append(path: str, new_files: list[str], op: str,
                  txn: tuple[str, int] | None = None,
                  schema: str | None = None) -> dict:
    """Commit ``new_files`` appended to the live file list, REBASING
    onto the winner and retrying if a concurrent commit lands first.
    Blind appends conflict with nothing: the staged files are fresh
    uniquely-named objects no other transaction references, so
    append-after-rebase preserves every concurrent commit's effect
    (WriteSerializable append semantics). The schema of the version
    appended to carries forward, like ``txns``; ``schema`` stands in
    only when that version has none.

    ``txn=(app_id, txn_version)`` stamps this append as application
    transaction ``txn_version`` of ``app_id`` ATOMICALLY with the data
    (the idempotent-foreachBatch pattern): the rebase loop re-reads
    the live txns map each attempt, and if the app's recorded version
    is already >= txn_version the append is SKIPPED (files discarded
    by the caller) and the live manifest returned — a replayed
    micro-batch can never land twice even when the replay races a
    fresh batch."""
    while True:
        cur = read_manifest(path)
        base = cur["files"] if cur else []
        version = (cur["version"] + 1) if cur else 0
        txns = dict(cur.get("txns") or {}) if cur else {}
        kept_schema = (cur or {}).get("schema", schema)
        if txn is not None:
            app, tv = txn
            last = txns.get(app)
            if last is not None and last >= tv:
                return cur  # already applied — idempotent skip
            txns[app] = tv
        m = try_commit(path, base + list(new_files), op,
                       version, txns=txns or None, schema=kept_schema)
        if m is not None:
            return m


def last_txn(path: str, app: str) -> int | None:
    """Last applied transaction version for ``app`` (None = never) —
    resolved from the latest manifest's carried txns map."""
    m = read_manifest(path)
    if not m:
        return None
    return (m.get("txns") or {}).get(app)


def adopt(path: str) -> dict:
    """Manifest for a directory that predates one (legacy layout or an
    externally-written parquet dir): adopt the current ``*.parquet``
    listing as version 0, with no schema (nothing but the files says
    what it is). If a concurrent adopter wins the race, return the
    winner's manifest."""
    m = read_manifest(path)
    if m is not None:
        return m
    files = sorted(
        f for f in os.listdir(path)
        if f.endswith(".parquet") and os.path.isfile(os.path.join(path, f))
    )
    won = try_commit(path, files, "adopt", 0)
    return won if won is not None else read_manifest(path)


def _refresh_pointer(path: str) -> None:
    """Best-effort: point ``_manifest.json`` at the CURRENT latest
    version (re-resolved, not necessarily the caller's commit — a
    racing refresh that loses the replace still converges, because
    every later commit refreshes again and engine readers never trust
    the pointer when version files exist)."""
    versions = list_versions(path)
    if not versions:
        return
    src = version_file(path, versions[-1])
    tmp = os.path.join(
        path, f"_pointer.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    )
    try:
        with open(src) as fh:
            content = fh.read()
        with open(tmp, "w") as fh:
            fh.write(content)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, _pointer_path(path))
    except OSError:
        try:
            os.unlink(tmp)
        except OSError:
            pass


def prune(path: str, keep_last: int = 0) -> int:
    """Retire every version but the latest and the ``keep_last``
    before it, then delete the data files only retired versions
    listed. Returns the number of versions retired.

    Watermark first: before any unlink the prune WATERMARK is raised
    to the highest version about to go, so a version number is retired
    before its name is ever free for reuse and try_commit's watermark
    check holds even against a pruner that crashes mid-sweep. Then the
    retired version files go, and only then their data files: a crash
    in between leaves data files no version lists, which
    ``Engine.vacuum_orphans`` reclaims, never a version listing a
    missing file. The kept set is resolved after the version files
    are gone, so it includes any commit that landed meanwhile (a
    commit builds on the latest version, which is never retired).
    Safe concurrently: version files are immutable, each unlink
    targets a distinct name, readers resolve the max (never touched),
    and the marker scheme makes the watermark monotone under racing
    pruners."""
    doomed = list_versions(path)[:-1]
    doomed = doomed[:max(len(doomed) - keep_last, 0)]
    if not doomed:
        return 0
    _raise_watermark(path, doomed[-1])
    files = set()
    for v in doomed:
        m = read_version(path, v)
        if m is None:
            continue  # a racing pruner retired it
        files.update(m["files"])
        try:
            os.remove(version_file(path, v))
        except FileNotFoundError:
            pass
    for f in sorted(files - referenced(path)):
        try:
            os.remove(os.path.join(path, f))
        except FileNotFoundError:
            pass
    return len(doomed)


def _raise_watermark(path: str, new_w: int) -> None:
    """Publish ``new_w`` as the prune watermark unless it already is
    at least that."""
    if new_w <= prune_watermark(path):
        return
    # publish the new watermark with the same create-if-absent
    # primitive as commits (content irrelevant — the NAME is the
    # value); EEXIST = another pruner already published it
    tmp = os.path.join(
        path, f"_manifest.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    )
    with open(tmp, "w") as fh:
        fh.write("")
    try:
        os.link(tmp, os.path.join(path, _PRUNED_FMT.format(new_w)))
    except FileExistsError:
        pass
    os.unlink(tmp)
    # retire superseded markers (max is preserved: we only ever
    # delete strictly below a marker that is already published)
    for f in os.listdir(path):
        m = _PRUNED_RE.fullmatch(f)
        if m and int(m.group(1)) < new_w:
            try:
                os.unlink(os.path.join(path, f))
            except OSError:
                pass


def vacuum_tmp(path: str) -> int:
    """Remove ``_manifest.tmp.*`` / ``_pointer.tmp.*`` orphans left by
    writers that crashed between staging a manifest and linking it.
    Invisible to every reader; pure housekeeping."""
    n = 0
    for f in os.listdir(path):
        if f.startswith(("_manifest.tmp.", "_pointer.tmp.")):
            try:
                os.unlink(os.path.join(path, f))
                n += 1
            except OSError:
                pass
    return n
