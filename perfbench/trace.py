"""Spans and Spark-side counters for the traced run.

Spans are recorded only from the benchmark's side of each layer
boundary: around calls into ``QuerySpec.fn``, Catalyst planning, the
sink, ``Engine`` methods, and — through wrappers installed for the
traced run only — ``manifest`` commits, ``dialect.transpile`` and
``QueryRecorder.record``. Spark counters come from its status stores
after each call."""

from __future__ import annotations

import contextlib
import re
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    op_id: str = ""

    @property
    def active(self) -> bool:
        """True inside a span, that is, inside a traced op."""
        return bool(self._stack)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(
            Span(name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self, op_id: str) -> tuple[float, dict[str, float]]:
        """(root wall time, {span name: summed self time}) for one op.
        Children of a span run inside it one after another, so a span's
        self time is its duration minus its children's durations."""
        idx = [i for i, s in enumerate(self.spans) if s.op_id == op_id]
        child_total = dict.fromkeys(idx, 0.0)
        for i in idx:
            p = self.spans[i].parent
            if p is not None:
                child_total[p] += self.spans[i].end - self.spans[i].start
        wall, out = 0.0, {}
        for i in idx:
            s = self.spans[i]
            dur = s.end - s.start
            if s.parent is None:
                wall += dur
            out[s.name] = out.get(s.name, 0.0) + dur - child_total[i]
        return wall, out

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "op": s.op_id}
            for s in self.spans
        ]


def install_wrappers(tracer: Tracer, counters: dict) -> None:
    """Time manifest commits, dialect transpilation and stats recording
    for the rest of the process. Calls made outside a traced op (no
    open span) pass straight through."""
    from duckdb_distributed_execution_spark import dialect, manifest, stats

    def wrap(owner, attr, span_name, after=None):
        inner = getattr(owner, attr)

        def timed(*a, **kw):
            if not tracer.active:
                return inner(*a, **kw)
            with tracer.span(span_name):
                out = inner(*a, **kw)
            if after is not None:
                after(out)
            return out

        setattr(owner, attr, timed)

    def count_commit(out):
        key = "manifest.commits" if out is not None else "manifest.conflicts"
        counters[key] = counters.get(key, 0) + 1

    wrap(manifest, "try_commit", "manifest.try_commit", count_commit)
    wrap(manifest, "commit_exact", "manifest.commit_exact")
    wrap(manifest, "commit_append", "manifest.commit_append")
    wrap(dialect, "transpile", "dialect.transpile")
    wrap(stats.QueryRecorder, "record", "stats.record")


def settle(spark) -> None:
    """Wait until Spark's listener bus has handled every event so far,
    so the previous op's bookkeeping is not charged to the next one."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)


_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a Spark SQL metric as the status store formats it:
    '391 ms', '248.2 KiB', or 'total (min, med, max ...)\\n12.7 s (...)'.
    Times come back in seconds, sizes in bytes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


_PY_METRICS = {
    "time to run Python workers": "operators.python_run_s",
    "time to start Python workers": "operators.python_start_s",
    "time to initialize Python workers": "operators.python_init_s",
    "data sent to Python workers": "operators.python_bytes_sent",
    "data returned from Python workers": "operators.python_bytes_returned",
}


class SparkProbe:
    """Job, stage and SQL-metric deltas of one op, read from Spark's
    status stores (which work with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._last_exec = -1

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _executions(self):
        return self._conv.asJava(self._sql_store().executionsList())

    def _max_execution_id(self) -> int:
        ex = self._executions()  # ordered by execution id
        return ex.get(ex.size() - 1).executionId() if ex.size() else -1

    def begin(self) -> None:
        """Start a new op: later ``collect`` calls see only the SQL
        executions from here on."""
        settle(self.spark)
        self._last_exec = self._max_execution_id()

    def group(self, gid: str) -> None:
        self._sc.setJobGroup(gid, gid)

    def persisted_rdds(self) -> int:
        return self._sc._jsc.getPersistentRDDs().size()

    def collect(self, groups: dict[str, str]) -> dict[str, float]:
        """Counters for the jobs of ``groups`` ({job group: role}) and the
        SQL executions finished since the previous call."""
        settle(self.spark)
        tracker = self._sc.statusTracker()
        store = self._jsc.statusStore()
        out: dict[str, float] = {}

        def add(k, v):
            out[k] = out.get(k, 0.0) + v

        for gid, role in groups.items():
            for jid in tracker.getJobIdsForGroup(gid):
                add(f"{role}.jobs", 1)
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # stage skipped or evicted: no data
                        continue
                    add("exec.stages", 1)
                    add("exec.tasks", sd.numTasks())
                    add("exec.task_run_s", sd.executorRunTime() / 1e3)
                    add("exec.task_cpu_s", sd.executorCpuTime() / 1e9)
                    add("exec.gc_s", sd.jvmGcTime() / 1e3)
                    add("exec.output_bytes", sd.outputBytes())
                    add("sources.input_bytes", sd.inputBytes())
                    add("sources.input_rows", sd.inputRecords())
                    add("exchange.shuffle_write_bytes", sd.shuffleWriteBytes())
                    add("exchange.shuffle_read_bytes", sd.shuffleReadBytes())
                    add("exchange.spill_bytes",
                        sd.memoryBytesSpilled() + sd.diskBytesSpilled())
        sql = self._sql_store()
        ex = self._executions()
        newest = self._last_exec
        for i in range(ex.size() - 1, -1, -1):
            e = ex.get(i)
            eid = e.executionId()
            if eid <= self._last_exec:
                break  # the list is ordered by execution id
            newest = max(newest, eid)
            values = sql.executionMetrics(eid)
            seen = set()
            for m in self._conv.asJava(e.metrics()):
                key = _PY_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    add(key, parse_metric(v.get()))
        self._last_exec = newest
        return out
