"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload from the root of a checkout, checks every result
against its DuckDB oracle, and prints one JSON line last: the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
The traced run also writes its spans and per-op breakdown to
perfbench/.cache/traces/. Host facts go to stderr. See
perfbench/NOTES.md for what each workload and metric means."""

from __future__ import annotations

import argparse
import json
import os
import sys

import reads
from data import log
from env import CACHE_DIR, check_checkout, prepare_process
from host import HostStamp
from summary import END_TO_END, PER_LAYER, with_units

READ_WORKLOADS = {
    # name: (scale factor, queries; None = every headline query)
    "headline_sf0.1": (0.1, None),
    "relational_sf1": (1.0, reads.RELATIONAL),
    "llm_ops_sf1": (1.0, reads.LLM_OPS),
}
WORKLOADS = (*READ_WORKLOADS, "dml_mix")


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="run a read workload on another scale factor "
                         "(the self-test uses 0.001)")
    return ap.parse_args()


def main() -> int:
    args = _parse()
    problem = check_checkout()
    if problem:
        print(f"perfbench: cannot run: {problem}", file=sys.stderr)
        return 2
    prepare_process()

    log("start")
    host = HostStamp()
    host.start()
    traced = bool(args.trace)
    if args.workload == "dml_mix":
        from dml import run_dml

        res = run_dml(args.seed, args.seconds, traced)
    else:
        sf, names = READ_WORKLOADS[args.workload]
        res = reads.run_reads(names, args.scale or sf, args.seed,
                              args.seconds, traced)
    log("measured")
    host.finish()
    _shutdown_jvm()
    log("JVM stopped")

    meta = {"workload": args.workload, "seed": args.seed,
            "samples": res["samples"], **host.as_dict()}
    log(f"host {json.dumps(meta)}")
    if traced:
        out_dir = os.path.join(CACHE_DIR, "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"meta": meta, "per_layer": res["per_layer"],
                       **res["trace"]}, f)
        log(f"trace written to {path}")
        metrics = with_units(res["per_layer"], PER_LAYER)
    else:
        metrics = with_units(res["end_to_end"], END_TO_END)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


def _shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM to exit, so the run
    leaves no process behind."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None


if __name__ == "__main__":
    sys.exit(main())
