"""Interleaved same-boot A/B between two checkouts.

Runs alternate A,B,A,B,... so host drift hits both sides equally.

Default mode benches ``bench.py`` and prints a per-query table of the
min across pairs for each side, plus the ratio:

    python tools/ab_worktree.py --dir-a <parent checkout> --pairs 3 \
        [--dir-b <this checkout>] [--sf-dir ...] [--queries q1,q2]

With ``--workload`` it runs ``perfbench/run.py`` instead, one pair per
seed (the order within a pair alternates), and prints the median of
every metric the runs report (end-to-end with ``--trace 0``, per-layer
with ``--trace 1``) and of each op's ``per_op_cpu_s``, with the number
of pairs where B was lower and the IQR ÷ median of A's runs:

    python tools/ab_worktree.py --dir-a <parent checkout> \
        --workload dml_mix --seeds 1-10 [--trace 0]

Each run lasts the ``run_seconds`` that BENCHMARK.json fixes. The sf1
workloads (``relational_sf1``, ``llm_ops_sf1``) generate their data
with tools/gen_sf.py into each checkout's ``perfbench/.cache`` on
first use.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench(root: str, env: dict) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(root, "bench.py")],
        capture_output=True, text=True, check=True, env=env, cwd=root,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def run_perfbench(root: str, workload: str, seed: int, trace: int) -> dict:
    """One ``perfbench/run.py`` run: its result line, plus the
    ``per_op_cpu_s`` medians from the ``host`` line on stderr."""
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        capture_output=True, text=True, cwd=root,
    )
    if res.returncode != 0:
        sys.exit(f"{root}: perfbench failed\n{res.stderr[-3000:]}")
    out = json.loads(res.stdout.strip().splitlines()[-1])
    per_op = {}
    for line in res.stderr.splitlines():
        if "] host {" in line:
            meta = json.loads(line.split("] host ", 1)[1])
            per_op = meta["samples"].get("per_op_cpu_s", {})
    return {
        "correct": out["correct"], "failed": out["failed"],
        "metrics": {k: v["value"] if isinstance(v, dict) else v
                    for k, v in out["metrics"].items()},
        "per_op": per_op,
    }


def parse_seeds(spec: str) -> list[int]:
    """``1-5,8`` → [1, 2, 3, 4, 5, 8]."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def _spread(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q3 - q1) / med if med else 0.0


def perfbench_ab(args) -> None:
    runs_a, runs_b = [], []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        sides = [("A", args.dir_a, runs_a), ("B", args.dir_b, runs_b)]
        for label, root, runs in sides if i % 2 == 0 else sides[::-1]:
            print(f"seed {seed}: {label} ({root}) ...", file=sys.stderr)
            r = run_perfbench(root, args.workload, seed, args.trace)
            print(f"seed {seed}: {label} correct={r['correct']} "
                  f"{json.dumps(r['metrics'])}", file=sys.stderr)
            runs.append(r)

    def table(title: str, key: str) -> None:
        names = sorted(set().union(*(r[key] for r in runs_a + runs_b)))
        print(f"\n{title:<36} {'A med':>10} {'B med':>10} {'B/A':>6} "
              f"{'B<A':>6} {'A IQR/med':>9}")
        for m in names:
            a = [r[key].get(m, 0.0) for r in runs_a]
            b = [r[key].get(m, 0.0) for r in runs_b]
            ma, mb = statistics.median(a), statistics.median(b)
            lower = sum(y < x for x, y in zip(a, b))
            ratio = f"{mb / ma:>6.2f}" if ma else f"{'-':>6}"
            print(f"{m:<36} {ma:>10.4g} {mb:>10.4g} {ratio} "
                  f"{lower:>3}/{len(a):<2} {_spread(a):>9.3f}")

    n = len(runs_a)
    print(f"\nworkload={args.workload} pairs={n} "
          f"correct A={sum(r['correct'] for r in runs_a)}/{n} "
          f"B={sum(r['correct'] for r in runs_b)}/{n} "
          f"failed A={sum(r['failed'] for r in runs_a)} "
          f"B={sum(r['failed'] for r in runs_b)}")
    table("metric", "metrics")
    table("per_op_cpu_s", "per_op")


def bench_ab(args) -> None:
    env = dict(os.environ)
    if args.sf_dir:
        env["SPARK_GRAFT_SF_DIR"] = args.sf_dir
    if args.queries:
        env["SPARK_GRAFT_QUERIES"] = args.queries

    runs_a, runs_b = [], []
    for i in range(args.pairs):
        print(f"pair {i + 1}/{args.pairs}: A ({args.dir_a}) ...",
              file=sys.stderr)
        runs_a.append(run_bench(args.dir_a, env))
        print(f"pair {i + 1}/{args.pairs}: B ({args.dir_b}) ...",
              file=sys.stderr)
        runs_b.append(run_bench(args.dir_b, env))

    qa = {q: min(r["queries"][q] for r in runs_a)
          for q in runs_a[0]["queries"]}
    qb = {q: min(r["queries"][q] for r in runs_b)
          for q in runs_b[0]["queries"]}
    common = sorted(set(qa) & set(qb))
    print(f"\nboot={runs_a[0].get('boot_id', '?')} pairs={args.pairs}")
    print(f"{'query':<34} {'A s':>9} {'B s':>9} {'B/A':>6}")
    ta = tb = 0.0
    for q in common:
        ta += qa[q]
        tb += qb[q]
        print(f"{q:<34} {qa[q]:>9.3f} {qb[q]:>9.3f} {qb[q] / qa[q]:>6.2f}")
    print(f"{'TOTAL':<34} {ta:>9.3f} {tb:>9.3f} {tb / ta:>6.2f}")
    print("\nper-run totals A:", [r["value"] for r in runs_a])
    print("per-run totals B:", [r["value"] for r in runs_b])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir-a", required=True, help="baseline checkout")
    ap.add_argument("--dir-b", default=REPO_ROOT,
                    help="checkout under test (default: this one)")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--workload", default=None,
                    choices=("headline_sf0.1", "dml_mix",
                             "relational_sf1", "llm_ops_sf1"),
                    help="run perfbench/run.py instead of bench.py")
    ap.add_argument("--seeds", default="1-5",
                    help="perfbench seeds, one pair each (e.g. 1-5,8)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload:
        perfbench_ab(args)
    else:
        bench_ab(args)


if __name__ == "__main__":
    main()
