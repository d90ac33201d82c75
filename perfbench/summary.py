"""Metric names, units and the arithmetic that turns per-op samples
into the reported figures."""

from __future__ import annotations

import math
import statistics

END_TO_END = {
    "setup_s": "s",
    "total_cpu_s": "s",
    "query_geomean_cpu_s": "s",
}

PER_LAYER = {
    "wall.total_s": "s",
    "wall.query_geomean_s": "s",
    "wall.ops_per_s": "1/s",
    "wall.read_p50_s": "s",
    "wall.read_p90_s": "s",
    "mem.peak_rss_mb": "MB",
    "jvm.jit_cpu_s": "s",
    "jvm.gc_cpu_s": "s",
    "setup.wall_s": "s",
    "setup.warm_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.slot_util": "ratio",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.shuffle_read_bytes": "bytes",
    "exchange.spill_bytes": "bytes",
    "operators.python_run_s": "s",
    "operators.python_start_s": "s",
    "operators.python_init_s": "s",
    "operators.python_bytes_sent": "bytes",
    "operators.python_bytes_returned": "bytes",
    "functions.cached_relations": "count",
    "session.insert_s": "s",
    "session.delete_s": "s",
    "session.update_s": "s",
    "session.merge_s": "s",
    "session.execute_s": "s",
    "session.sql_duckdb_s": "s",
    "session.jobs_per_write": "count",
    "session.write_amp": "ratio",
    "session.write_p50_s": "s",
    "session.write_p90_s": "s",
    "session.write_samples": "count",
    "session.read_samples": "count",
    "manifest.commit_s": "s",
    "manifest.commits": "count",
    "manifest.conflicts": "count",
    "manifest.live_files": "count",
    "dialect.transpile_s": "s",
    "stats.record_s": "s",
    "stats.recorder_len": "count",
    "trace.overhead_s": "s",
}


def another_pass(done: int, elapsed_s: float, seconds: float,
                 traced: bool) -> bool:
    """Whether the timed phase runs another pass (or round): at least
    one, or one untraced plus one traced; after that, only while the
    next one is predicted to end within ``seconds``."""
    if done < (2 if traced else 1):
        return True
    return elapsed_s * (done + 1) / done <= seconds


def pct(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method; the value itself for a
    single sample)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def per_op_medians(samples: dict[str, list[float]]) -> dict[str, float]:
    return {k: statistics.median(v) for k, v in samples.items() if v}


def rounded(d: dict[str, float]) -> dict[str, float]:
    return {k: round(v, 3) for k, v in d.items()}


def _geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(max(v, 1e-6)) for v in values) / len(values))


def end_to_end(cpu: dict[str, list[float]], setup_s: float) -> dict[str, float]:
    """``cpu``: work CPU seconds per distinct op (a query, or a DML op
    kind), one sample per execution; ``setup_s``: work CPU seconds of
    one set-up."""
    med = list(per_op_medians(cpu).values())
    return {
        "setup_s": setup_s,
        "total_cpu_s": sum(med),
        "query_geomean_cpu_s": _geomean(med),
    }


def wall_metrics(wall: dict[str, list[float]], reads: list[float],
                 elapsed_s: float) -> dict[str, float]:
    """Wall-clock figures of the untraced ops: ``wall`` per distinct op,
    ``reads`` the latencies of the read ops among them."""
    med = list(per_op_medians(wall).values())
    return {
        "wall.total_s": sum(med),
        "wall.query_geomean_s": _geomean(med),
        "wall.ops_per_s": sum(len(v) for v in wall.values()) / elapsed_s,
        "wall.read_p50_s": statistics.median(reads),
        "wall.read_p90_s": pct(reads, 90),
    }


def with_units(values: dict[str, float], units: dict[str, str]) -> dict:
    return {
        k: {"value": float(values.get(k, 0.0)), "unit": u}
        for k, u in units.items()
    }


class LayerTotals:
    """Per-op counters and span self times, summed over the traced
    passes and reported per pass (per-query sums for a read workload,
    per-round sums for dml_mix)."""

    def __init__(self) -> None:
        self.sums: dict[str, float] = {}
        self.per_op: list[dict] = []

    def add_op(self, op_id: str, name: str, wall_s: float,
               self_times: dict[str, float], counters: dict[str, float]) -> None:
        for k, v in counters.items():
            self.sums[k] = self.sums.get(k, 0.0) + v
        self.per_op.append({
            "op": op_id, "name": name, "wall_s": wall_s,
            "self_s": self_times, "counters": counters,
        })

    def per_pass(self, passes: int) -> dict[str, float]:
        return {k: v / max(passes, 1) for k, v in self.sums.items()}
