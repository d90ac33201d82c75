"""Crash-atomic, reader-consistent DML commits (round-6 verdict #1;
commit point re-based on the round-8 manifest CAS — verdict r7 #1).

Every mutation of a managed table commits by atomically publishing a
version-numbered manifest file via link(2) (manifest.try_commit); new
data files are staged into the directory BEFORE the commit
(unreferenced, invisible), and no commit deletes a data file:
superseded files go only when ``vacuum_history`` prunes every version
listing them. These tests prove the two properties that layout buys:

* **Crash atomicity** — a writer or a vacuum that dies at ANY step
  (injected by monkeypatching the commit/unlink syscalls) leaves the
  live table readable and either fully-old or fully-new, never
  partial, with recovery = nothing (pre-commit crash) or
  ``vacuum_orphans`` housekeeping (crash mid-vacuum). The round-6
  layout (remove matched files, then rename replacements in) failed
  this: a crash in the window lost rows from the live directory.

* **Reader consistency** — an INDEPENDENT resolver (modeled with
  DuckDB, the way a second process would read the table: open the
  manifest, scan exactly the files it lists) observes only complete
  versions while the engine mutates concurrently. The one permitted
  race is the standard lakehouse read-vs-vacuum race: a reader
  holding a manifest a ``vacuum_history`` then prunes can find a
  listed file gone and must re-resolve.
"""

from __future__ import annotations

import json
import os
import threading

import duckdb
import pytest
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark import manifest


@pytest.fixture()
def eng(spark):
    from duckdb_distributed_execution_spark import Engine

    e = Engine(spark)
    e._COMPACT_BYTES = 0  # keep multi-file layouts (production shape)
    yield e
    e.close()


def _make_table(spark, eng, name, n_batches=3):
    if eng.table_exists(name):
        eng.drop_table(name)
    eng.create_table(name, "k BIGINT, v VARCHAR")
    for lo in range(0, n_batches * 100, 100):
        batch = spark.range(lo, lo + 100).select(
            F.col("id").alias("k"),
            F.concat(F.lit("v"), F.col("id")).alias("v"),
        ).repartition(1)
        eng.insert_into(name, batch)


def _read_latest_manifest(path: str) -> dict:
    """Independent manifest resolution, sharing no code with the
    engine: highest-numbered ``_manifest-v*.json`` (the round-8 CAS
    commit log), falling back to the legacy ``_manifest.json``."""
    import re

    versions = sorted(
        (int(m.group(1)), f)
        for f in os.listdir(path)
        for m in [re.fullmatch(r"_manifest-v(\d+)\.json", f)]
        if m
    )
    name = versions[-1][1] if versions else "_manifest.json"
    with open(os.path.join(path, name)) as fh:
        return json.load(fh)


def _resolve_external(path: str) -> tuple[int, int]:
    """What a second PROCESS sees: read the manifest, scan exactly the
    files it lists with an engine that shares nothing with Spark."""
    m = _read_latest_manifest(path)
    files = [os.path.join(path, f) for f in m["files"]]
    cnt, s = duckdb.sql(
        "SELECT COUNT(*), COALESCE(SUM(k), 0) FROM read_parquet($f)",
        params={"f": files},
    ).fetchone()
    return int(cnt), int(s)


class _Boom(RuntimeError):
    """Injected writer crash (not OSError — must not be swallowed)."""


def test_crash_before_commit_preserves_old_version(spark, eng, monkeypatch):
    """Writer dies AT the commit point (the link(2) CAS publishing
    the next version file): the staged replacement files are already
    on disk, but the live table — both through the engine and through
    an external resolver — is the complete OLD version. Recovery is
    optional housekeeping."""
    _make_table(spark, eng, "ac_pre")
    path = eng._tables["ac_pre"].path

    real_link = os.link

    def exploding_link(src, dst, **kw):
        if "_manifest-v" in os.path.basename(dst):
            raise _Boom("crash at commit point")
        return real_link(src, dst, **kw)

    monkeypatch.setattr(os, "link", exploding_link)
    with pytest.raises(_Boom):
        eng.delete_from("ac_pre", "k BETWEEN 120 AND 140")
    monkeypatch.undo()

    # staged files exist on disk but are unreferenced
    on_disk = {f for f in os.listdir(path) if f.endswith(".parquet")}
    live = {os.path.basename(p) for p in eng._managed_files("ac_pre")}
    assert on_disk > live, "crash must leave staged orphans"

    # both resolvers see the COMPLETE old version
    cnt, s = _resolve_external(path)
    assert (cnt, s) == (300, sum(range(300)))
    eng._attach_managed("ac_pre", path)  # what a restart would do
    assert eng.table("ac_pre").count() == 300

    # housekeeping + retry: the same mutation succeeds cleanly
    assert eng.vacuum_orphans("ac_pre", min_age_seconds=0) == len(on_disk - live)
    assert eng.delete_from("ac_pre", "k BETWEEN 120 AND 140") == 21
    assert _resolve_external(path)[0] == 279


def test_crash_after_commit_before_gc_shows_new_version(
    spark, eng, monkeypatch
):
    """A commit deletes nothing; a superseded file goes when
    vacuum_history prunes the versions listing it. A vacuum that dies
    while unlinking those data files leaves the NEW version live and
    complete and the retained history readable; the files it did not
    reach are invisible orphans reclaimed by vacuum_orphans."""
    _make_table(spark, eng, "ac_post")
    path = eng._tables["ac_post"].path
    assert eng.delete_from("ac_post", "k BETWEEN 120 AND 140") == 21
    assert eng.delete_from("ac_post", "k BETWEEN 250 AND 259") == 10
    live_sum = sum(range(300)) - sum(range(120, 141)) - sum(range(250, 260))

    real_remove = os.remove

    def exploding_remove(p):
        if p.endswith(".parquet"):
            raise _Boom("crash while vacuum_history unlinks data files")
        return real_remove(p)

    # keeps the version after the first DELETE and the live one; the
    # file the first DELETE superseded is listed by neither
    monkeypatch.setattr(os, "remove", exploding_remove)
    with pytest.raises(_Boom):
        eng.vacuum_history("ac_post", keep_last=1)
    monkeypatch.undo()

    assert _resolve_external(path) == (269, live_sum), \
        "committed version must be live after the crash"
    eng._attach_managed("ac_post", path)
    assert eng.table("ac_post").count() == 269
    hist = eng.history("ac_post")
    assert [h["op"] for h in hist] == ["delete"]
    assert eng.table_at_version("ac_post", hist[0]["version"]).count() == 279
    assert eng.vacuum_orphans("ac_post", min_age_seconds=0) >= 1
    on_disk = {f for f in os.listdir(path) if f.endswith(".parquet")}
    assert on_disk == manifest.referenced(path)
    assert _resolve_external(path) == (269, live_sum)
    assert eng.table_at_version("ac_post", hist[0]["version"]).count() == 279


def test_crash_during_staging_is_invisible(spark, eng, monkeypatch):
    """Writer dies while renaming staged part files into the table
    directory (before any commit): nothing changes for readers."""
    _make_table(spark, eng, "ac_stage")
    path = eng._tables["ac_stage"].path

    real_rename = os.rename
    calls = {"n": 0}

    def exploding_rename(src, dst):
        if "__tmp" in src and dst.endswith(".parquet"):
            calls["n"] += 1
            raise _Boom("crash mid-staging")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", exploding_rename)
    with pytest.raises(_Boom):
        eng.update_table("ac_stage", {"v": "'x'"}, "k < 10")
    monkeypatch.undo()
    assert calls["n"] == 1

    assert _resolve_external(path) == (300, sum(range(300)))
    eng._attach_managed("ac_stage", path)
    t = eng.table("ac_stage")
    assert t.count() == 300
    assert t.filter("v = 'x'").count() == 0, "no partial update visible"


def test_append_is_atomic(spark, eng, monkeypatch):
    """INSERT commits through the same manifest rename: a crash at the
    commit point leaves the append entirely invisible (the round-6
    mode('append') write exposed in-progress part files)."""
    _make_table(spark, eng, "ac_app", n_batches=1)
    path = eng._tables["ac_app"].path

    real_link = os.link

    def exploding_link(src, dst, **kw):
        if "_manifest-v" in os.path.basename(dst):
            raise _Boom("crash at append commit")
        return real_link(src, dst, **kw)

    monkeypatch.setattr(os, "link", exploding_link)
    extra = spark.range(1000, 1100).select(
        F.col("id").alias("k"), F.lit("new").alias("v")
    )
    with pytest.raises(_Boom):
        eng.insert_into("ac_app", extra)
    monkeypatch.undo()

    assert _resolve_external(path)[0] == 100
    eng.vacuum_orphans("ac_app", min_age_seconds=0)
    eng.insert_into("ac_app", extra)
    assert _resolve_external(path)[0] == 200


def test_concurrent_reader_sees_only_complete_versions(spark, eng):
    """An external resolver polling in a tight loop while the engine
    runs a DELETE burst observes ONLY (count, sum) pairs belonging to
    a committed version — a mid-swap directory state (the round-6
    hazard) would surface as an impossible pair. A read racing a
    vacuum may find a just-unlinked file and must re-resolve; such
    retries are counted and must not be the common case."""
    _make_table(spark, eng, "ac_rd", n_batches=4)
    path = eng._tables["ac_rd"].path

    # every committed version's (count, sum) — computed up front
    total = sum(range(400))
    valid = {(400, total)}
    running = total
    n = 400
    cuts = [(0, 50), (100, 150), (200, 250), (300, 350)]
    for lo, hi in cuts:
        running -= sum(range(lo, hi))
        n -= hi - lo
        valid.add((n, running))

    observed: list[tuple[int, int]] = []
    errors: list[str] = []
    retries = {"n": 0}
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                observed.append(_resolve_external(path))
            except (duckdb.Error, OSError):
                # read-vs-vacuum race: a listed file was GC'd between
                # resolving the manifest and opening it — re-resolve
                # (any duckdb.Error here is a file-level failure; the
                # manifest itself is atomic and always parseable)
                retries["n"] += 1
            except Exception as exc:  # pragma: no cover
                errors.append(repr(exc))
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for lo, hi in cuts:
            assert eng.delete_from(
                "ac_rd", f"k >= {lo} AND k < {hi}"
            ) == hi - lo
    finally:
        stop.set()
        t.join(timeout=30)

    assert not errors, errors
    assert len(observed) > 10, "reader must have sampled the burst"
    bad = [o for o in observed if o not in valid]
    assert not bad, f"reader saw non-version states: {bad[:5]}"
    # the vacuum race must be rare relative to clean resolutions
    assert retries["n"] <= len(observed)
    assert _resolve_external(path) == (200, running)


def test_vacuum_retention_spares_live_writers_staging(spark, eng):
    """Round-9 (ADVICE r8, medium): vacuum_orphans must not eat a LIVE
    concurrent writer's work. Its default min_age_seconds retention
    window (Delta VACUUM's model) spares anything recently written —
    a just-staged ``v{N}-part-*`` file (renamed into the table dir,
    commit still in flight) and a sibling ``{table}__tmp.*`` staging
    dir — while min_age_seconds=0 (explicit single-writer recovery)
    reclaims them."""
    _make_table(spark, eng, "ac_ret", n_batches=1)
    path = eng._tables["ac_ret"].path

    # model a concurrent writer mid-commit: a staged-but-uncommitted
    # data file inside the table dir + a staging dir next to it
    staged = os.path.join(path, "v999-part-deadbeef.parquet")
    spark.range(5).toPandas().to_parquet(staged)
    stage_dir = os.path.realpath(path) + "__tmp.concurrent"
    os.makedirs(stage_dir, exist_ok=True)
    open(os.path.join(stage_dir, "marker"), "w").close()

    try:
        # default retention: young files/dirs survive
        assert eng.vacuum_orphans("ac_ret") == 0
        assert os.path.exists(staged)
        assert os.path.isdir(stage_dir)
        # table content untouched either way
        assert eng.table("ac_ret").count() == 100

        # explicit zero-retention recovery reclaims both
        assert eng.vacuum_orphans("ac_ret", min_age_seconds=0) == 1
        assert not os.path.exists(staged)
        assert not os.path.isdir(stage_dir)
        assert eng.table("ac_ret").count() == 100
    finally:
        import shutil
        shutil.rmtree(stage_dir, ignore_errors=True)
