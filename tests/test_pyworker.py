"""The Python-worker zip fix (``pyworker``).

pyspark re-reads every cached zip directory at the start of each task;
the fix re-reads an archive only when it changed. Checked here without
Spark: an unchanged archive is not re-read, a rewritten one is and its
new member imports, the fix is off on CPython 3.12+ and importing the
package in a driver leaves zipimport alone. Then, in a fresh process
started outside the repo, an ``Engine.start_local`` session: every
worker has the fix from its first task and an insert → merge →
execute round-trip returns the expected rows.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from duckdb_distributed_execution_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HOOK = "duckdb_distributed_execution_spark.pyworker"

needs_eager_reread = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ re-reads zip directories lazily; fix inactive",
)


@pytest.fixture
def reads(monkeypatch):
    """Install the fix for one test; returns the list of archives
    ``zipimport._read_directory`` was called on."""
    # setattr to the current value: monkeypatch restores it afterwards
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(pyworker, "_stamps", {})
    assert pyworker.install()
    seen: list[str] = []
    real = zipimport._read_directory

    def counted(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return seen


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in members.items():
            z.writestr(name, source)


@needs_eager_reread
def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pw_a.py": "X = 1\n"})
    importers = [zipimport.zipimporter(archive) for _ in range(3)]
    importers[0].invalidate_caches()  # first call in this process: read
    reads.clear()
    for _ in range(4):
        for imp in importers:
            imp.invalidate_caches()
    assert reads == []
    assert all(imp._files is zipimport._zip_directory_cache[archive]
               for imp in importers)
    assert importers[2].find_spec("pw_a") is not None
    zipimport._zip_directory_cache.pop(archive, None)


@needs_eager_reread
def test_rewritten_archive_is_reread(tmp_path, reads, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pw_old.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for mod in ("pw_old", "pw_new"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("pw_old").X == 1
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(archive, {"pw_old.py": "X = 1\n", "pw_new.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("pw_new").Y == 2
    zipimport._zip_directory_cache.pop(archive, None)


def test_inactive_on_lazy_reread_python(monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 12, 0))
    before = zipimport.zipimporter.invalidate_caches
    assert pyworker.install() is False
    assert zipimport.zipimporter.invalidate_caches is before


def test_driver_import_leaves_zipimport_untouched():
    probe = (
        "import zipimport\n"
        "before = zipimport.zipimporter.invalidate_caches\n"
        "import duckdb_distributed_execution_spark\n"
        "assert zipimport.zipimporter.invalidate_caches is before\n"
        "print('OK')\n"
    )
    res = subprocess.run([sys.executable, "-c", probe], cwd=REPO,
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-2000:]
    assert res.stdout.strip() == "OK"


_START_LOCAL = r"""
import json
import sys
import zipimport

sys.path.insert(0, REPO)
driver_hook = zipimport.zipimporter.invalidate_caches

from duckdb_distributed_execution_spark import Engine


def probe(_):
    # imports nothing from the package: sees only what the daemon set up
    import os
    import zipimport

    yield os.getpid(), zipimport.zipimporter.invalidate_caches.__module__


e = Engine.start_local(workers=2)
e.spark.sparkContext.setLogLevel("ERROR")
tasks = e.spark.sparkContext.parallelize(range(4), 4).mapPartitions(
    probe).collect()
e.create_table("rt", "id INTEGER, v VARCHAR")
e.insert_values("rt", [(1, "a"), (2, "b")])
merged = e.merge_upsert(
    "rt", e.spark.createDataFrame([(2, "B"), (3, "c")], "id INT, v STRING"),
    on=["id"])
rows = [tuple(r) for r in e.execute("SELECT id, v FROM rt ORDER BY id")]
e.close()
e.spark.stop()
print(json.dumps({
    "tasks": tasks, "merged": merged, "rows": rows,
    "driver_untouched":
        zipimport.zipimporter.invalidate_caches is driver_hook,
}))
"""


def test_start_local_workers_have_fix_from_first_task(tmp_path):
    script = tmp_path / "drive.py"
    script.write_text(f"REPO = {REPO!r}\n" + _START_LOCAL)
    # No PYTHONPATH and a CWD outside the repo: the workers can import
    # the daemon module only through the session's own settings.
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert len(out["tasks"]) == 4
    want = HOOK if sys.version_info < (3, 12) else "zipimport"
    assert {mod for _, mod in out["tasks"]} == {want}
    assert out["merged"] == {"updated": 1, "inserted": 1}
    assert out["rows"] == [[1, "a"], [2, "B"], [3, "c"]]
    assert out["driver_untouched"]
