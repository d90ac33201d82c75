"""Auto-generate the Spark-vs-DuckDB A/B tables — honestly.

Round-4 verdict ("What's wrong" #1): the r4 README table was built
from a best-ever unloaded-machine Spark JSON paired with a DuckDB run
from a different session, publishing 1.73x where every reproducible
same-session measurement said ~2.1x. This builder now refuses that:

- both JSONs must carry the session stamp bench.py/bench_duckdb.py
  emit (``ts`` wall-clock + ``boot_id``), come from the SAME boot,
  and lie within 30 minutes of each other;
- the recommended mode is ``--sessions N`` (3 when publishing):
  run ``bench.py`` and ``tools/bench_duckdb.py``
  back-to-back N times and publish per-query MEDIANS across
  sessions — the reproducible number, not the minimum.

    python tools/ab_table.py --sessions 3 --write
    python tools/ab_table.py [--bench BENCH_r05.json] [--duckdb d.json]
    python tools/ab_table.py --check

With explicit files the stamp check still applies
(``--allow-mismatched-sessions`` overrides, loudly, for forensics on
historical JSONs that predate the stamp).

Tables are published in ``ab_tables/``, one file per (date, host),
never in README.md. Each file carries a ``Host: cpus=N boot=<id>``
line. ``--check`` applies the staleness rule — a table must be
generated after the last commit touching any module its queries'
plans are built from — only to tables stamped with the host it runs
on: a table from another host (or an earlier boot) cannot be
regenerated here and is history, not a current claim.
"""

from __future__ import annotations

import argparse
import ast
import datetime
import glob
import json
import os
import re
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "duckdb_distributed_execution_spark"
ARCHIVE = os.path.join(ROOT, "ab_tables")

BLOCK_RE = re.compile(
    r"<!-- AB_TABLE(?P<tag>[A-Z0-9_]*):BEGIN[^>]*-->(?P<body>.*?)"
    r"<!-- AB_TABLE(?P=tag):END -->",
    re.S,
)
_STAMP_RE = re.compile(r"^Source: .*?(\d{4}-\d{2}-\d{2} \d{2}:\d{2})Z", re.M)
_ROW_RE = re.compile(r"^\| ([a-z][a-z0-9_]+) \|", re.M)
_HOST_RE = re.compile(r"^Host: cpus=(\d+) boot=(\S+)", re.M)

def mark_begin(tag: str) -> str:
    return f"<!-- AB_TABLE{tag}:BEGIN (generated by tools/ab_table.py) -->"


def mark_end(tag: str) -> str:
    return f"<!-- AB_TABLE{tag}:END -->"


MARK_BEGIN = mark_begin("")
MARK_END = mark_end("")

MAX_SKEW_SECONDS = 1800


def current_host() -> tuple[int, str]:
    """(cpus, boot id) of this host: the cores this process may use and
    the kernel's per-boot id. A table stamped with another pair was
    measured elsewhere or before a reboot."""
    with open("/proc/sys/kernel/random/boot_id") as f:
        return len(os.sched_getaffinity(0)), f.read().strip()


def read_blocks(text: str) -> list[tuple[str, datetime.datetime, list[str]]]:
    """(tag, generation time, query names) of every AB_TABLE block in
    ``text``. The time is the block's minute-resolution UTC ``Source:``
    stamp."""
    blocks = []
    for mm in BLOCK_RE.finditer(text):
        body, tag = mm.group("body"), f"AB_TABLE{mm.group('tag')}"
        stamp = _STAMP_RE.search(body)
        if not stamp:
            raise ValueError(f"{tag} block has no Source stamp")
        ts = datetime.datetime.strptime(
            stamp.group(1), "%Y-%m-%d %H:%M"
        ).replace(tzinfo=datetime.timezone.utc)
        queries = _ROW_RE.findall(body)
        if not queries:
            raise ValueError(f"{tag} block has no query rows")
        blocks.append((tag, ts, queries))
    return blocks


def read_archive() -> list[tuple[str, tuple[int, str] | None, str]]:
    """(path, host stamp or None, text) of every file in ab_tables/."""
    out = []
    for path in sorted(glob.glob(os.path.join(ARCHIVE, "*.md"))):
        with open(path) as f:
            text = f.read()
        m = _HOST_RE.search(text)
        out.append((path, (int(m.group(1)), m.group(2)) if m else None,
                    text))
    return out


def _module_file(modname: str) -> str | None:
    rel = modname.replace(".", "/")
    for cand in (f"{rel}.py", f"{rel}/__init__.py"):
        p = os.path.join(ROOT, cand)
        if os.path.exists(p):
            return p
    return None


def _package_imports(path: str) -> set[str]:
    """In-package modules imported anywhere in ``path`` (incl. inside
    function bodies — several queries import their operator lazily)."""
    with open(path) as f:
        tree = ast.parse(f.read())
    mods: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            if node.module.startswith(PKG):
                mods.add(node.module)
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(PKG):
                    mods.add(alias.name)
    return mods


def query_files(names: list[str]) -> set[str]:
    """The files a table's query plans are built from: each query's
    defining module plus every in-package module it imports."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from duckdb_distributed_execution_spark.queries import all_queries

    specs = all_queries()
    files: set[str] = set()
    for n in names:
        spec = specs.get(n)
        if spec is None:  # renamed/retired query: the regen will drop it
            continue
        f = _module_file(spec.fn.__module__)
        if f is None:
            continue
        files.add(f)
        for dep in _package_imports(f):
            df = _module_file(dep)
            if df:
                files.add(df)
    return files


def last_commit_utc(files: set[str]) -> tuple[datetime.datetime | None, str]:
    """COMMITTER time and subject of the newest commit touching
    ``files`` (None when git history is unavailable)."""
    out = subprocess.run(
        ["git", "log", "-1", "--format=%ct %h %s", "--"]
        + sorted(os.path.relpath(f, ROOT) for f in files),
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip()
    if not out:
        return None, ""
    ct, rest = out.split(" ", 1)
    return (
        datetime.datetime.fromtimestamp(int(ct), tz=datetime.timezone.utc),
        rest,
    )


def staleness(tag: str, stamp: datetime.datetime,
              queries: list[str]) -> str | None:
    """Why the table is stale, or None. A one-minute grace absorbs the
    stamp's minute truncation."""
    files = query_files(queries)
    if not files:
        return f"{tag}: could not resolve any query modules"
    last, desc = last_commit_utc(files)
    if last is None or last <= stamp + datetime.timedelta(minutes=1):
        return None
    return (
        f"{tag} (generated {stamp:%Y-%m-%d %H:%M}Z) is STALE: commit "
        f"[{desc}] at {last:%Y-%m-%d %H:%M}Z touches its queries' "
        f"modules. Regenerate with tools/ab_table.py before publishing."
    )


def check() -> list[str]:
    """Every problem with the published tables: an AB_TABLE block in
    README.md, an archive file without a host stamp, or a stale table
    stamped with this host."""
    problems = []
    with open(os.path.join(ROOT, "README.md")) as f:
        if BLOCK_RE.search(f.read()):
            problems.append("README.md holds an AB_TABLE block; tables "
                            "belong in ab_tables/")
    here = current_host()
    for path, host, text in read_archive():
        if host is None:
            problems.append(f"{os.path.relpath(path, ROOT)} has no "
                            "'Host: cpus=N boot=<id>' stamp")
        elif host == here:
            try:
                blocks = read_blocks(text)
            except ValueError as exc:
                problems.append(f"{os.path.relpath(path, ROOT)}: {exc}")
                continue
            problems += filter(None, (staleness(*b) for b in blocks))
    return problems


def latest_bench() -> str:
    paths = sorted(glob.glob(os.path.join(ROOT, "BENCH_r*.json")))
    if not paths:
        sys.exit("no BENCH_r*.json found; pass --bench or --sessions")
    return paths[-1]


def load_bench(path: str) -> dict:
    with open(path) as f:
        d = json.load(f)
    return d.get("parsed", d)


def _run_json(cmd: list[str], env: dict | None = None) -> dict:
    out = subprocess.run(
        cmd, capture_output=True, text=True, check=True, env=env,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def check_same_session(
    spark: dict, duck: dict, allow: bool, contiguous: bool = False
) -> None:
    """Refuse mismatched-session pairs (round-4 verdict task 2).

    ``contiguous=True`` is the --sessions path: the two runs were
    launched back-to-back by THIS process, so the wall gap between
    their stamps is the second run's own runtime, not staleness — the
    skew ceiling would spuriously reject any cohort whose DuckDB side
    runs >30 min (first hit: the sf10 headline set). Same-boot is
    still enforced; the skew rule remains for explicitly-passed
    historical JSONs, where a large gap really does mean a best-ever
    number paired with a different load regime."""
    problems = []
    for side, d in (("spark", spark), ("duckdb", duck)):
        if "ts" not in d or "boot_id" not in d:
            problems.append(f"{side} JSON has no session stamp (ts/boot_id)")
    if not problems:
        if spark["boot_id"] != duck["boot_id"]:
            problems.append(
                f"different boots: {spark['boot_id']} vs {duck['boot_id']}"
            )
        skew = abs(spark["ts"] - duck["ts"])
        if skew > MAX_SKEW_SECONDS and not contiguous:
            problems.append(
                f"runs are {skew / 60:.0f} min apart (max "
                f"{MAX_SKEW_SECONDS // 60} min)"
            )
    if problems:
        msg = "; ".join(problems)
        if allow:
            print(f"WARNING: mismatched sessions ({msg}) — table is NOT a "
                  "same-session A/B", file=sys.stderr)
        else:
            sys.exit(
                f"refusing to build A/B table from mismatched sessions: {msg}"
                "\n(use --sessions N for a fresh same-session pair, or "
                "--allow-mismatched-sessions to override loudly)"
            )


def run_sessions(
    n: int, sf_dir: str | None = None, queries: str | None = None
) -> tuple[dict, dict, str]:
    """Run bench.py + bench_duckdb.py back-to-back ``n`` times; return
    per-query MEDIAN timings across sessions plus a provenance line.
    Each (spark, duck) pair is same-session by construction and is
    stamp-checked anyway. ``sf_dir``/``queries`` select the data scale
    and the query cohort (the per-family sf1 A/B)."""
    env = dict(os.environ)
    if sf_dir:
        env["SPARK_GRAFT_SF_DIR"] = sf_dir
    if queries:
        env["SPARK_GRAFT_QUERIES"] = queries
    spark_runs, duck_runs = [], []
    for i in range(n):
        print(f"session {i + 1}/{n}: bench.py ...", file=sys.stderr)
        s = _run_json([sys.executable, os.path.join(ROOT, "bench.py")], env)
        print(f"session {i + 1}/{n}: bench_duckdb.py ...", file=sys.stderr)
        d = _run_json(
            [sys.executable, os.path.join(ROOT, "tools", "bench_duckdb.py")],
            env,
        )
        check_same_session(s, d, allow=False, contiguous=True)
        spark_runs.append(s)
        duck_runs.append(d)

    def med(runs: list[dict]) -> dict:
        base = dict(runs[-1])
        names = set.intersection(*(set(r["queries"]) for r in runs))
        base["queries"] = {
            q: round(statistics.median(r["queries"][q] for r in runs), 3)
            for q in sorted(names)
        }
        base["value"] = round(sum(base["queries"].values()), 3)
        return base

    when = datetime.datetime.now(datetime.timezone.utc).strftime(
        "%Y-%m-%d %H:%MZ"
    )
    prov = (
        f"median of {n} back-to-back same-session run(s), {when}"
        if n > 1
        else f"one same-session run pair, {when}"
    )
    return med(spark_runs), med(duck_runs), prov


def build_table(spark: dict, duck: dict) -> str:
    sq, dq = spark["queries"], duck["queries"]
    names = sorted(set(sq) & set(dq))
    lines = [
        f"Scale factor {spark.get('sf')}, Spark local[{spark.get('cpus', '?')}]"
        f" vs DuckDB {duck.get('threads', '?')}-thread, same parquet and"
        " semantics (oracle SQL). Ratio < 1 means Spark is faster.",
        "",
        "| query | Spark s | DuckDB s | ratio |",
        "|---|---|---|---|",
    ]
    ts = td = 0.0
    for n in names:
        ts += sq[n]
        td += dq[n]
        lines.append(f"| {n} | {sq[n]:.3f} | {dq[n]:.3f} | {sq[n] / dq[n]:.2f}x |")
    lines.append(f"| **total ({len(names)}q)** | **{ts:.2f}** | **{td:.2f}** |"
                 f" **{ts / td:.2f}x** |")
    only_s = set(sq) - set(dq)
    only_d = set(dq) - set(sq)
    if only_s or only_d:
        lines.append("")
        lines.append(f"Unmatched queries skipped: spark-only={sorted(only_s)}, "
                     f"duckdb-only={sorted(only_d)}")
    return "\n".join(lines)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bench", default=None,
                    help="BENCH_r*.json (default: latest in repo root)")
    ap.add_argument("--duckdb", default=None,
                    help="bench_duckdb JSON file")
    ap.add_argument("--sessions", type=int, default=0, metavar="N",
                    help="run bench.py + bench_duckdb.py back-to-back N "
                         "times and use per-query medians (recommended: 3)")
    ap.add_argument("--allow-mismatched-sessions", action="store_true",
                    help="build anyway from stampless/mismatched JSONs, "
                         "with a loud warning (forensics only)")
    ap.add_argument("--write", action="store_true",
                    help="publish the table in this host's dated file "
                         "under ab_tables/")
    ap.add_argument("--check", action="store_true",
                    help="exit 1 if README.md holds a table, an archive "
                         "file lacks a host stamp, or a table stamped "
                         "with this host is stale")
    ap.add_argument("--sf-dir", default=None,
                    help="data directory for --sessions runs "
                         "(default: bench.py's own default sf0.1)")
    ap.add_argument("--queries", default=None,
                    help="comma-separated registry names for --sessions "
                         "runs (default: the headline set)")
    ap.add_argument("--tag", default="",
                    help="marker suffix — e.g. _SF1_FAMILIES "
                         "writes a separate AB_TABLE_SF1_FAMILIES "
                         "block instead of replacing the main table")
    args = ap.parse_args()

    if args.check:
        problems = check()
        for p in problems:
            print(p, file=sys.stderr)
        sys.exit(1 if problems else 0)

    if args.sessions:
        spark, duck, prov = run_sessions(
            args.sessions, args.sf_dir, args.queries
        )
        source = f"Source: {prov}."
        if args.sf_dir:
            source += f" Data: `{args.sf_dir}`."
    else:
        bench_path = args.bench or latest_bench()
        spark = load_bench(bench_path)
        if args.duckdb:
            with open(args.duckdb) as f:
                duck = json.load(f)
            duck_src = os.path.basename(args.duckdb)
        else:
            duck = _run_json(
                [sys.executable,
                 os.path.join(ROOT, "tools", "bench_duckdb.py")]
            )
            duck_src = "fresh tools/bench_duckdb.py run"
        check_same_session(spark, duck, args.allow_mismatched_sessions)
        when = datetime.datetime.fromtimestamp(
            spark.get("ts", 0), tz=datetime.timezone.utc
        ).strftime("%Y-%m-%d %H:%MZ")
        source = (f"Source: `{os.path.basename(bench_path)}` + {duck_src}"
                  f", {when}.")

    mb, me = mark_begin(args.tag), mark_end(args.tag)
    table = f"{mb}\n{source}\n\n{build_table(spark, duck)}\n{me}"
    print(table)
    if args.write:
        host = current_host()
        day = datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%d")
        path = os.path.join(
            ARCHIVE, f"{day}_{host[0]}cpu_{host[1][:8]}.md"
        )
        if os.path.exists(path):
            with open(path) as f:
                txt = f.read()
        else:
            txt = (f"# Spark vs DuckDB A/B tables, {day}\n\n"
                   f"Host: cpus={host[0]} boot={host[1]}\n")
        pat = re.compile(
            re.escape(mb) + r".*?" + re.escape(me), re.DOTALL
        )
        if pat.search(txt):
            txt = pat.sub(lambda _: table, txt)
        else:
            txt += "\n" + table + "\n"
        os.makedirs(ARCHIVE, exist_ok=True)
        with open(path, "w") as f:
            f.write(txt)
        print(f"\n{os.path.relpath(path, ROOT)} updated", file=sys.stderr)


if __name__ == "__main__":
    main()
