"""Multi-writer isolation of the manifest commit (round-8 verdict #1).

Round 7 proved crash-atomicity and reader consistency for ONE writer;
its commit was still read-modify-write over a single pointer file, so
two concurrent writers could both read version v and both publish
v+1 — the second silently discarding the first's committed files.
Round 8 commits via compare-and-swap (manifest.try_commit: fsync'd
temp + link(2) to an immutable ``_manifest-v{N}.json``; EEXIST = lost
race). These tests prove the isolation properties that buys:

* **No lost update** — N writers × M blind appends each, raced from
  threads AND from separate OS processes: every appended file is in
  the final manifest, and the version sequence is gap-free (every
  commit that reported success is a distinct, durable version).
* **Append/delete interleave** — concurrent appenders and a deleter
  (state-dependent, retried at the OPERATION level on conflict) never
  drop each other's effects: the final file set is exactly
  (all appends − deleted), matching Delta's WriteSerializable split.
* **Conflict detection** — a state-dependent mutation (DELETE/UPDATE/
  compact) whose base version is stale raises ConcurrentWriteError
  with NOTHING applied; the winner's commit is intact.

The process-level tests drive manifest.py directly (it is Spark-free
by design) so each writer is a real separate interpreter hitting the
same directory — the trickle-ingest scenario adopt_external_files
invites.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

import pytest
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark import manifest
from duckdb_distributed_execution_spark.manifest import (
    ConcurrentWriteError,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------------
# primitive level: threads racing the CAS in one process
# ---------------------------------------------------------------------

def test_threaded_appends_lose_nothing(tmp_path):
    path = str(tmp_path)
    manifest.try_commit(path, [], "create", 0)
    n_threads, n_commits = 8, 25
    errors: list[str] = []

    def writer(t):
        try:
            for i in range(n_commits):
                manifest.commit_append(path, [f"w{t}-{i}.parquet"], "append")
        except Exception as exc:  # pragma: no cover
            errors.append(repr(exc))

    threads = [threading.Thread(target=writer, args=(t,))
               for t in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert not errors, errors
    m = manifest.read_manifest(path)
    expected = {f"w{t}-{i}.parquet"
                for t in range(n_threads) for i in range(n_commits)}
    assert set(m["files"]) == expected, "a concurrent append was lost"
    # every successful commit is a distinct version: create + N*M appends
    assert m["version"] == n_threads * n_commits


def test_version_files_are_immutable_and_gapfree(tmp_path):
    path = str(tmp_path)
    for i in range(5):
        manifest.commit_append(path, [f"f{i}.parquet"], "append")
    versions = manifest.list_versions(path)
    assert versions == [0, 1, 2, 3, 4], "version sequence must be gap-free"
    for v in versions:
        with open(manifest.version_file(path, v)) as fh:
            m = json.load(fh)
        assert m["version"] == v
        assert len(m["files"]) == v + 1


def test_stale_base_version_raises_and_applies_nothing(tmp_path):
    path = str(tmp_path)
    manifest.commit_append(path, ["a.parquet"], "append")   # v0
    manifest.commit_append(path, ["b.parquet"], "append")   # v1
    with pytest.raises(ConcurrentWriteError):
        # a rewrite that read its state at v0 must not clobber v1
        manifest.commit_exact(path, ["rewritten.parquet"], "delete",
                              base_version=0)
    m = manifest.read_manifest(path)
    assert m["version"] == 1
    assert set(m["files"]) == {"a.parquet", "b.parquet"}


def test_pointer_converges_and_old_versions_prune(tmp_path):
    path = str(tmp_path)
    for i in range(30):
        manifest.commit_append(path, [f"f{i}.parquet"], "append")
    latest = manifest.read_manifest(path)["version"]
    with open(os.path.join(path, manifest.POINTER)) as fh:
        assert json.load(fh)["version"] == latest
    assert manifest.prune(path, keep_last=20) == latest - 20
    kept = manifest.list_versions(path)
    assert kept[-1] == latest
    assert kept[0] == latest - 20
    # pruning never breaks resolution
    assert manifest.read_manifest(path)["version"] == latest
    # the watermark records the highest pruned version, ready to
    # reject any stalled loser targeting a retired number
    assert manifest.prune_watermark(path) == kept[0] - 1


def test_prune_age_floor_retains_young_versions(tmp_path):
    """Reader retention: commits never prune, so every version a
    reader resolved mid-burst stays until an explicit prune."""
    path = str(tmp_path)
    for i in range(30):
        manifest.commit_append(path, [f"f{i}.parquet"], "append")
    kept = manifest.list_versions(path)
    assert kept[0] == 0                       # nothing pruned
    assert manifest.prune_watermark(path) == -1
    # the version-0 snapshot a lagging reader resolved is still openable
    with open(manifest.version_file(path, 0)) as fh:
        assert json.load(fh)["version"] == 0


def test_stalled_loser_cannot_reuse_pruned_version(tmp_path):
    """The ADVICE-high scenario: a writer reads base version N, stalls
    while commits land and a prune retires N+1's file, then attempts
    commit_exact at N+1. Pre-fix, link(2) on the freed name
    'succeeded' — a phantom commit that never becomes latest.
    Post-fix the watermark rejects it: ConcurrentWriteError, nothing
    applied, latest untouched."""
    path = str(tmp_path)
    manifest.commit_append(path, ["base.parquet"], "append")   # v0
    stale_base = manifest.read_manifest(path)["version"]       # reads v0
    for i in range(30):                                        # the stall
        manifest.commit_append(path, [f"w{i}.parquet"], "append")
    manifest.prune(path, keep_last=20)
    latest = manifest.read_manifest(path)["version"]
    assert manifest.prune_watermark(path) >= stale_base + 1    # v1 pruned
    before = manifest.read_manifest(path)
    with pytest.raises(ConcurrentWriteError):
        manifest.commit_exact(path, ["phantom.parquet"], "delete",
                              base_version=stale_base)
    after = manifest.read_manifest(path)
    assert after["version"] == latest
    assert after["files"] == before["files"]
    assert "phantom.parquet" not in after["files"]
    # and no orphan version file was left behind at the stale number
    assert stale_base + 1 not in manifest.list_versions(path)


def test_stalled_append_rebases_past_watermark(tmp_path):
    """Blind appends are immune by construction: commit_append re-reads
    latest each attempt, so even after pruning it lands above the
    watermark and loses nothing."""
    path = str(tmp_path)
    for i in range(30):
        manifest.commit_append(path, [f"w{i}.parquet"], "append")
    manifest.prune(path, keep_last=20)
    m = manifest.commit_append(path, ["late.parquet"], "append")
    assert m["version"] > manifest.prune_watermark(path)
    assert "late.parquet" in manifest.read_manifest(path)["files"]


# The table schema a version records is an opaque string here (Spark's
# StructType.json() in the engine).
_SCHEMA = '{"fields":[{"name":"id","type":"long"}],"type":"struct"}'
_SCHEMA2 = '{"fields":[{"name":"id","type":"integer"}],"type":"struct"}'


def test_try_commit_writes_the_schema(tmp_path):
    path = str(tmp_path)
    m = manifest.try_commit(path, [], "create", 0, schema=_SCHEMA)
    assert (m["files"], m["schema"]) == ([], _SCHEMA)
    with open(manifest.version_file(path, 0)) as fh:
        assert json.load(fh) == m
    manifest.commit_exact(path, ["a.parquet"], "rewrite", 0,
                          schema=_SCHEMA2)
    assert manifest.read_version(path, 1)["schema"] == _SCHEMA2
    assert manifest.read_manifest(path)["schema"] == _SCHEMA2


def test_commit_append_carries_the_schema_across_a_lost_cas(
        tmp_path, monkeypatch):
    """An append that loses the CAS rebases onto the winner and keeps
    the schema of the version it lands on, as it keeps ``txns``."""
    path = str(tmp_path)
    manifest.try_commit(path, [], "create", 0, schema=_SCHEMA)
    real = manifest.try_commit
    raced = []

    def lose_once(p, files, op, version, txns=None, schema=None):
        if not raced:
            # a concurrent writer takes the version first
            raced.append(real(p, ["w.parquet"], "rewrite", version,
                              schema=_SCHEMA2))
        return real(p, files, op, version, txns=txns, schema=schema)

    monkeypatch.setattr(manifest, "try_commit", lose_once)
    m = manifest.commit_append(path, ["a.parquet"], "append")
    assert raced[0]["version"] == 1 and m["version"] == 2
    assert m["files"] == ["a.parquet", "w.parquet"]
    assert m["schema"] == _SCHEMA2
    # a given schema stands in only for a version without one
    m = manifest.commit_append(path, ["b.parquet"], "append", schema=_SCHEMA)
    assert m["schema"] == _SCHEMA2


def test_adopt_of_a_foreign_directory_has_no_schema(tmp_path):
    (tmp_path / "x.parquet").write_bytes(b"")
    m = manifest.adopt(str(tmp_path))
    assert m["files"] == ["x.parquet"] and "schema" not in m
    m = manifest.commit_append(str(tmp_path), ["y.parquet"], "append",
                               schema=_SCHEMA)
    assert m["schema"] == _SCHEMA


# ---------------------------------------------------------------------
# process level: real OS processes racing the same directory
# ---------------------------------------------------------------------

# The children load manifest.py by file path (importlib) rather than
# through the package, so each writer process is a lightweight plain
# interpreter — no pyspark import — exactly like an external trickle-
# ingest job linking only the commit protocol.
_LOAD = """
import importlib.util, sys
spec = importlib.util.spec_from_file_location("mf", {mf!r})
manifest = importlib.util.module_from_spec(spec)
spec.loader.exec_module(manifest)
"""

_APPENDER = _LOAD + r"""
path, tag, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
for i in range(n):
    manifest.commit_append(path, [f"{{tag}}-{{i}}.parquet"], "append")
print("ok")
"""

_DELETER = _LOAD + r"""
import time
path, victim_prefix, rounds = sys.argv[1], sys.argv[2], int(sys.argv[3])
deleted = set()
done = 0
while done < rounds:
    m = manifest.read_manifest(path)
    victims = [f for f in m["files"]
               if f.startswith(victim_prefix) and f not in deleted]
    if not victims:
        time.sleep(0.005)
        continue
    v = victims[0]
    kept = [f for f in m["files"] if f != v]
    try:
        # state-dependent commit: stale base -> retry the whole op,
        # exactly what a DELETE caller must do on ConcurrentWriteError
        manifest.commit_exact(path, kept, "delete", m["version"])
    except manifest.ConcurrentWriteError:
        continue
    deleted.add(v)
    done += 1
print("\n".join(sorted(deleted)))
"""


def test_multiprocess_append_delete_interleave(tmp_path):
    """Two appender PROCESSES and one deleter PROCESS hammer one
    table directory. Every append survives (minus exactly the files
    the deleter reports deleting), versions are gap-free, and no
    committed state was ever based on a stale read."""
    path = str(tmp_path)
    manifest.try_commit(path, [], "create", 0)
    n_appends, n_deletes = 30, 10

    mf = os.path.join(
        REPO, "duckdb_distributed_execution_spark", "manifest.py"
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _APPENDER.format(mf=mf),
             path, tag, str(n_appends)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for tag in ("pa", "pb")
    ]
    deleter = subprocess.Popen(
        [sys.executable, "-c", _DELETER.format(mf=mf),
         path, "pa-", str(n_deletes)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )

    outs = [p.communicate(timeout=120) for p in procs]
    d_out, d_err = deleter.communicate(timeout=120)
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, err
        assert out.strip() == "ok"
    assert deleter.returncode == 0, d_err
    deleted = {line for line in d_out.strip().splitlines() if line}
    assert len(deleted) == n_deletes

    m = manifest.read_manifest(path)
    expected = {
        f"{tag}-{i}.parquet" for tag in ("pa", "pb")
        for i in range(n_appends)
    } - deleted
    assert set(m["files"]) == expected, (
        "lost update across processes: "
        f"missing={expected - set(m['files'])} "
        f"extra={set(m['files']) - expected}"
    )
    # 1 create + 60 appends + 10 deletes, every one a distinct version
    assert m["version"] == 2 * n_appends + n_deletes


# ---------------------------------------------------------------------
# engine level: two Engine instances sharing one managed table
# ---------------------------------------------------------------------

def test_two_engines_interleaved_inserts(spark):
    """Two Engine objects (independent catalogs, same table directory —
    the two-session scenario) interleave INSERTs; every row survives
    because appends rebase through the CAS."""
    from duckdb_distributed_execution_spark import Engine

    e1 = Engine(spark)
    e2 = Engine(spark)
    try:
        e1.create_table("cas_two", "k BIGINT")
        path = e1._tables["cas_two"].path
        e2._attach_managed("cas_two", path)
        for i in range(4):
            eng = (e1, e2)[i % 2]
            batch = spark.range(i * 10, (i + 1) * 10).select(
                F.col("id").alias("k")
            ).coalesce(1)
            eng.insert_into("cas_two", batch)
        e1._attach_managed("cas_two", path)
        assert e1.table("cas_two").count() == 40
        got = {r["k"] for r in e1.table("cas_two").collect()}
        assert got == set(range(40))
    finally:
        e1.drop_table("cas_two", if_exists=True)
        e2.close()
        e1.close()


def test_concurrent_staging_does_not_collide(spark):
    """Two writers staging for the SAME table at the same time must
    not clobber each other's scratch files (pre-r8 the scratch dir
    was the shared ``{path}__tmp`` and a concurrent mode('overwrite')
    deleted the other writer's staged parquet mid-flight). Staged
    files are writer-unique; both ingests land intact."""
    from duckdb_distributed_execution_spark import Engine

    e = Engine(spark)
    try:
        e.create_table("cas_stage", "k BIGINT")
        path = e._tables["cas_stage"].path
        results: dict[int, list[str]] = {}
        errors: list[str] = []

        def writer(tag):
            try:
                df = spark.range(tag * 100, tag * 100 + 50).select(
                    F.col("id").alias("k")
                ).repartition(4)
                results[tag] = e._ingest_files(path, df, 90 + tag)
            except Exception as exc:  # pragma: no cover
                errors.append(repr(exc))

        ts = [threading.Thread(target=writer, args=(t,)) for t in (1, 2)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errors, errors
        # every staged file from BOTH writers exists and holds its
        # writer's rows
        import duckdb

        for tag in (1, 2):
            files = [os.path.join(path, f) for f in results[tag]]
            assert all(os.path.isfile(p) for p in files), (tag, files)
            got = duckdb.sql(
                "SELECT COUNT(*), MIN(k), MAX(k) FROM read_parquet($f)",
                params={"f": files},
            ).fetchone()
            assert got == (50, tag * 100, tag * 100 + 49), (tag, got)
    finally:
        e.drop_table("cas_stage", if_exists=True)
        e.close()


def test_vacuum_sweeps_stray_staging_dirs(spark):
    from duckdb_distributed_execution_spark import Engine

    e = Engine(spark)
    try:
        e.create_table("cas_vac", "k BIGINT")
        path = os.path.realpath(e._tables["cas_vac"].path)
        stray = f"{path}__tmp.99999.deadbeef"
        os.makedirs(stray)
        with open(os.path.join(stray, "part-0.parquet"), "wb") as fh:
            fh.write(b"not really parquet")
        e.vacuum_orphans("cas_vac", min_age_seconds=0)
        assert not os.path.exists(stray), "crashed-writer scratch swept"
        assert e.table("cas_vac").count() == 0
    finally:
        e.drop_table("cas_vac", if_exists=True)
        e.close()


def test_engine_delete_conflicts_with_concurrent_commit(spark, monkeypatch):
    """A DELETE whose probe ran against a version that a concurrent
    writer then superseded must raise ConcurrentWriteError and apply
    nothing — the interleave is injected deterministically by
    committing an append from inside the DELETE's staging step."""
    from duckdb_distributed_execution_spark import Engine

    eng = Engine(spark)
    try:
        eng.create_table("cas_del", "k BIGINT")
        eng.insert_into(
            "cas_del", spark.range(100).select(F.col("id").alias("k"))
        )
        path = eng._tables["cas_del"].path

        real_ingest = Engine._ingest_files

        def ingest_with_interleaved_commit(self, p, df, version):
            out = real_ingest(self, p, df, version)
            if p == path and not getattr(self, "_intruded", False):
                self._intruded = True
                # concurrent writer lands between probe and commit
                manifest.commit_append(p, [], "append")
            return out

        monkeypatch.setattr(Engine, "_ingest_files",
                            ingest_with_interleaved_commit)
        with pytest.raises(ConcurrentWriteError):
            eng.delete_from("cas_del", "k < 50")
        monkeypatch.undo()

        eng._attach_managed("cas_del", path)
        assert eng.table("cas_del").count() == 100, "nothing applied"
        # and the op succeeds cleanly when re-run against the new state
        assert eng.delete_from("cas_del", "k < 50") == 50
        assert eng.table("cas_del").count() == 50
    finally:
        eng.drop_table("cas_del", if_exists=True)
        eng.close()
