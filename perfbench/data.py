"""Benchmark data: generated scale-factor datasets and the DuckDB
oracle hashes of the queries run on them, both cached under
``perfbench/.cache`` and checked before use."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

from env import CACHE_DIR, REPO_ROOT

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Row counts tools/gen_sf.py derives from the scale factor alone; the
# remaining tables (lineitem, documents_distinct) have seeded counts
# and are checked against the counts recorded at generation.
_ROWS_PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "events": 1_000_000, "documents": 50_000,
    "embeddings": 20_000,
}
_FIXED_ROWS = {"region": 5, "nation": 25}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """A progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench +{time.perf_counter() - _T0:.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _row_counts(path: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {
        f[: -len(".parquet")]: pq.read_metadata(os.path.join(path, f)).num_rows
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet")
    }


def _expected_rows(sf: float) -> dict[str, int]:
    out = dict(_FIXED_ROWS)
    out.update({t: int(n * sf) for t, n in _ROWS_PER_SF.items()})
    return out


def _check_rows(path: str, sf: float, recorded: dict[str, int] | None) -> str | None:
    """Why the dataset at ``path`` is unusable, or None."""
    try:
        got = _row_counts(path)
    except OSError as e:
        return str(e)
    missing = [t for t in TABLES if t not in got]
    if missing:
        return f"missing tables {missing}"
    for t, n in _expected_rows(sf).items():
        if got[t] != n:
            return f"{t} has {got[t]} rows, expected {n}"
    if recorded is not None and got != recorded:
        return f"row counts {got} differ from those recorded {recorded}"
    return None


def dataset(sf: float) -> str:
    """Directory of the sf dataset, generated by tools/gen_sf.py on
    first use (logged, not part of any metric) and checked by per-table
    row counts every time."""
    path = os.path.join(CACHE_DIR, "data", f"sf{sf:g}")
    rows_file = os.path.join(path, "rows.json")
    if os.path.exists(rows_file):
        with open(rows_file) as f:
            recorded = json.load(f)
        problem = _check_rows(path, sf, recorded)
        if problem is None:
            return path
        log(f"regenerating sf{sf:g}: {problem}")
    shutil.rmtree(path, ignore_errors=True)
    staging = f"{path}.staging"
    shutil.rmtree(staging, ignore_errors=True)
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(REPO_ROOT, "tools", "gen_sf.py"),
         "--sf", f"{sf:g}", "--out", staging],
        check=True, stdout=subprocess.DEVNULL,
    )
    problem = _check_rows(staging, sf, None)
    if problem is not None:
        raise RuntimeError(f"generated sf{sf:g} is wrong: {problem}")
    with open(os.path.join(staging, "rows.json"), "w") as f:
        json.dump(_row_counts(staging), f)
    os.rename(staging, path)
    log(f"generated sf{sf:g} in {time.perf_counter() - t0:.1f} s")
    return path


def _sql_key(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:24]


def oracle_hashes(sf_dir: str, oracles: dict[str, str]) -> dict[str, str]:
    """name -> table_hash of the DuckDB oracle result. Hashes are cached
    beside the data, keyed by the oracle SQL text, so an edited oracle
    is recomputed and an unchanged one never is."""
    import duckdb
    from tools.selfcheck import table_hash

    cache_file = os.path.join(sf_dir, "oracle_hashes.json")
    cache: dict[str, str] = {}
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            cache = json.load(f)
    todo = {n: s for n, s in oracles.items() if _sql_key(s) not in cache}
    if todo:
        t0 = time.perf_counter()
        con = duckdb.connect()
        try:
            con.execute(
                f"SET temp_directory = '{os.path.join(CACHE_DIR, 'tmp')}'")
            for t in TABLES:
                p = os.path.join(sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            for sql in todo.values():
                cur = con.execute(sql)
                cols = [d[0] for d in cur.description]
                cache[_sql_key(sql)] = table_hash(cur.fetchall(), cols)[0]
        finally:
            con.close()
        tmp = f"{cache_file}.tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=0, sort_keys=True)
        os.replace(tmp, cache_file)
        log(f"oracle hashes for {len(todo)} queries on "
            f"{os.path.basename(sf_dir)} in {time.perf_counter() - t0:.1f} s")
    return {n: cache[_sql_key(s)] for n, s in oracles.items()}
