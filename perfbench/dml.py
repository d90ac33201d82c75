"""dml_mix: one managed table driven through the Engine facade by a
seeded mix of writes (insert_into, delete_from, update_table,
merge_upsert) and reads (execute, sql_duckdb).

One client, closed loop. The seed generates every batch, key,
predicate and the op order of each round; each round holds the same
op multiset, so every kind is sampled alike. The same ops are replayed
on an in-memory DuckDB table; every read result, every returned row
count and the final table must match it."""

from __future__ import annotations

import decimal
import os
import random
import statistics
import time
import traceback

from data import log
from env import CACHE_DIR, cores
from host import CpuMeter, JvmCpu, RssSampler
from summary import (LayerTotals, another_pass, end_to_end, pct,
                     per_op_medians, rounded, wall_metrics)
from trace import SparkProbe, Tracer, install_wrappers, settle

TABLE = "bench_t"
COLUMNS_DDL = ("id BIGINT PRIMARY KEY, qty INTEGER NOT NULL, "
               "price DECIMAL(12,2), tag VARCHAR")
TAGS = ("a", "b", "c", "d", "e", None)
INITIAL_ROWS = 2000
# Read templates, in Spark SQL for Engine.execute and in DuckDB's
# dialect (through the shim) for Engine.sql_duckdb. Every round runs each
# template once, so the read mix, and with it the read percentiles, is
# the same in every round; the seed picks the literals.
EXECUTE_SQL = (
    "SELECT tag, count(*) AS n, sum(price) AS s, min(qty) AS q "
    "FROM {t} WHERE qty >= {k} GROUP BY tag",
    "SELECT id, qty, price, tag FROM {t} WHERE id % {m} = {rem}",
    "SELECT count(*) AS n, sum(qty) AS q, max(price) AS p FROM {t}",
    "SELECT qty, count(*) AS n FROM {t} "
    "WHERE tag IS NULL OR tag = '{tag}' GROUP BY qty",
)
SQL_DUCKDB = (
    "SELECT tag, count(*)::BIGINT AS n, sum(price)::DECIMAL(18,2) AS s "
    "FROM {t} WHERE qty // 10 = {d} GROUP BY tag",
    "SELECT id, price::DOUBLE AS p FROM {t} "
    "WHERE tag = '{tag}' AND id % {m} = 0",
    "SELECT count(*)::BIGINT AS n FROM {t} WHERE price::DOUBLE > {p}",
    "SELECT tag, id, qty FROM {t} "
    "QUALIFY row_number() OVER (PARTITION BY tag ORDER BY id DESC) = 1",
)
# One round: every write kind and every read template once.
ROUND = (("insert", 0), ("delete", 0), ("update", 0), ("merge", 0),
         *(("execute", i) for i in range(len(EXECUTE_SQL))),
         *(("sql_duckdb", i) for i in range(len(SQL_DUCKDB))))
KINDS = ("insert", "delete", "update", "merge", "execute", "sql_duckdb")
WRITES = ("insert", "delete", "update", "merge")
WARM = (("delete", 0), ("update", 0), ("merge", 0),
        ("execute", 0), ("sql_duckdb", 0))
SETUP_REPEATS = 3


def _spark_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("qty", T.IntegerType(), False),
        T.StructField("price", T.DecimalType(12, 2), True),
        T.StructField("tag", T.StringType(), True),
    ])


class OpGenerator:
    """Seeded op inputs. Keys for updates and merges are drawn from the
    DuckDB replica, which holds the state the ops so far produced."""

    def __init__(self, seed: int, duck) -> None:
        self.rng = random.Random(seed)
        self.duck = duck
        self.next_id = 0

    def rows(self, k: int, ids: list[int] | None = None) -> list[tuple]:
        """Random rows for ``ids``, or for ``k`` fresh keys."""
        if ids is None:
            ids = list(range(self.next_id, self.next_id + k))
            self.next_id += k
        r = self.rng
        return [
            (i, r.randrange(100),
             None if r.random() < 0.05
             else decimal.Decimal(r.randrange(1_000_000)) / 100,
             r.choice(TAGS))
            for i in ids
        ]

    def live_ids(self) -> list[int]:
        return [x for (x,) in self.duck.execute(
            f"SELECT id FROM {TABLE} ORDER BY id").fetchall()]

    def make(self, kind: str, variant: int = 0) -> dict:
        r = self.rng
        if kind == "insert":
            return {"rows": self.rows(r.randrange(50, 200))}
        if kind == "delete":
            m = r.randrange(17, 31)
            return {"where": f"id % {m} = {r.randrange(m)}"}
        if kind == "update":
            d = decimal.Decimal(r.randrange(1, 500)) / 100
            tag, qty = r.choice(TAGS[:-1]), r.randrange(10, 60)
            return {"set": {"price": f"price + {d}"},
                    "where": f"tag = '{tag}' AND qty < {qty}"}
        if kind == "merge":
            live = self.live_ids()
            old = r.sample(live, min(len(live), r.randrange(10, 50)))
            return {"rows": self.rows(0, sorted(old))
                    + self.rows(r.randrange(10, 50))}
        sql = EXECUTE_SQL if kind == "execute" else SQL_DUCKDB
        return {"sql": sql[variant].format(
            t=TABLE, k=r.randrange(100), d=r.randrange(10),
            m=r.randrange(20, 40), rem=r.randrange(20),
            tag=r.choice(TAGS[:-1]), p=r.randrange(10_000))}


def _replay(duck, kind: str, op: dict):
    """Apply ``op`` to the DuckDB replica; return what the engine call
    must return (row counts) or produce (read rows)."""
    if kind == "insert":
        duck.executemany(f"INSERT INTO {TABLE} VALUES (?, ?, ?, ?)", op["rows"])
        return None
    if kind == "delete":
        return duck.execute(f"DELETE FROM {TABLE} WHERE {op['where']}").fetchone()[0]
    if kind == "update":
        (col, expr), = op["set"].items()
        return duck.execute(
            f"UPDATE {TABLE} SET {col} = {expr} WHERE {op['where']}").fetchone()[0]
    if kind == "merge":
        ids = [(row[0],) for row in op["rows"]]
        duck.execute("CREATE OR REPLACE TEMP TABLE src_ids (id BIGINT)")
        duck.executemany("INSERT INTO src_ids VALUES (?)", ids)
        updated = duck.execute(
            f"DELETE FROM {TABLE} WHERE id IN (SELECT id FROM src_ids)").fetchone()[0]
        duck.executemany(f"INSERT INTO {TABLE} VALUES (?, ?, ?, ?)", op["rows"])
        return {"updated": updated, "inserted": len(op["rows"]) - updated}
    cur = duck.execute(op["sql"])
    return cur.fetchall(), [d[0] for d in cur.description]


_SPAN_LAYER = {"manifest": "manifest.commit_s",
               "dialect": "dialect.transpile_s",
               "stats": "stats.record_s"}


class DmlRun:
    """The engine, its DuckDB replica and what the run has measured."""

    def __init__(self, engine, duck, traced: bool, meter: CpuMeter) -> None:
        self.engine = engine
        self.duck = duck
        self.schema = _spark_schema()
        self.tracer = Tracer()
        self.counters: dict[str, float] = {}
        self.probe = SparkProbe(engine.spark) if traced else None
        if traced:
            install_wrappers(self.tracer, self.counters)
        self.layers = LayerTotals()
        self.attempted = self.failed = 0
        self.wall: dict[str, list[float]] = {k: [] for k in KINDS}
        self.cpu: dict[str, list[float]] = {k: [] for k in KINDS}
        self.traced_wall: dict[str, list[float]] = {k: [] for k in KINDS}
        self.jvm = JvmCpu()
        self.meter = meter

    def call(self, kind: str, op: dict):
        """The engine call for one op; returns what it returned."""
        e = self.engine
        if kind == "insert":
            return e.insert_into(TABLE, op["df"])
        if kind == "delete":
            return e.delete_from(TABLE, op["where"])
        if kind == "update":
            return e.update_table(TABLE, op["set"], op["where"])
        if kind == "merge":
            return e.merge_upsert(TABLE, op["df"], on=["id"])
        if kind == "execute":
            return e.execute(op["sql"])
        return e.sql_duckdb(op["sql"]).collect()

    def do(self, kind: str, op: dict, op_id: str, mode: str) -> None:
        """Run one op and check it against the replica. ``mode``:
        "warm" (untimed), "plain" (timed) or "traced"."""
        self.attempted += 1
        try:
            ok = self._run(kind, op, op_id, mode)
        except Exception:
            log(f"FAIL {op_id} {kind}: engine error")
            traceback.print_exc()
            ok = False
        self.failed += not ok

    def _run(self, kind: str, op: dict, op_id: str, mode: str) -> bool:
        from tools.selfcheck import table_hash

        if "rows" in op:  # the user's input, built before the clock starts
            op["df"] = self.engine.spark.createDataFrame(op["rows"], self.schema)
        if mode == "traced":
            self.probe.begin()
            self.probe.group(op_id)
            self.tracer.op_id = op_id
            with self.tracer.span(f"session.{kind}"):
                got = self.call(kind, op)
            lat, self_s = self.tracer.self_times(op_id)
            self.traced_wall[kind].append(lat)
            self._record(kind, op, op_id, lat, self_s)
        else:
            settle(self.engine.spark)
            cpu0 = self.meter.read()
            t0 = time.perf_counter()
            got = self.call(kind, op)
            lat = time.perf_counter() - t0
            cpu1 = self.meter.read()
            if mode == "plain":
                self.wall[kind].append(lat)
                self.cpu[kind].append(cpu1.work - cpu0.work)
                self.jvm.add(cpu0, cpu1)
        want = _replay(self.duck, kind, op)
        if kind in ("execute", "sql_duckdb"):
            rows, cols = want
            got_cols = list(got[0].asDict()) if got else cols
            ok = (table_hash([tuple(r) for r in got], got_cols)[0]
                  == table_hash(rows, cols)[0])
        else:
            ok = got == want
        if not ok:
            log(f"FAIL {op_id} {kind} {op.get('where') or op.get('sql') or ''}: "
                f"engine returned {str(got)[:200]}, replica {str(want)[:200]}")
        return ok

    def _record(self, kind, op, op_id, lat, self_s) -> None:
        counters = self.probe.collect({op_id: "exec"})
        counters[f"session.{kind}_s"] = lat
        if kind in WRITES:
            counters["session.write_jobs"] = counters.get("exec.jobs", 0.0)
            counters["session.write_ops"] = 1
            counters["session.write_output_bytes"] = counters.get(
                "exec.output_bytes", 0.0)
            if "rows" in op:
                counters["session.user_bytes"] = _row_bytes(op["rows"])
        for name, v in self_s.items():
            key = _SPAN_LAYER.get(name.split(".")[0])
            if key is not None:
                counters[key] = counters.get(key, 0.0) + v
        self.layers.add_op(op_id, kind, lat, self_s, counters)


def _row_bytes(rows: list[tuple]) -> float:
    """Arrow size of the user's rows: the bytes a write must persist."""
    import pyarrow as pa

    ids, qty, price, tag = zip(*rows)
    return float(pa.table({
        "id": pa.array(ids, pa.int64()),
        "qty": pa.array(qty, pa.int32()),
        "price": pa.array(price, pa.decimal128(12, 2)),
        "tag": pa.array(tag, pa.string()),
    }).nbytes)


def _set_up(n: int, meter: CpuMeter) -> tuple[object, dict[str, list[float]]]:
    """Engine.start_local plus CREATE TABLE, repeated. The first repeat
    launches the JVM and the context; later ones find the session
    running, as a second engine in one process does."""
    from duckdb_distributed_execution_spark.session import Engine

    setups: dict[str, list[float]] = {"wall": [], "cpu": []}
    engine = None
    for _ in range(SETUP_REPEATS):
        if engine is not None:
            engine.drop_table(TABLE)
            engine.close()
        work0 = meter.read().work
        t0 = time.perf_counter()
        engine = Engine.start_local(workers=n)
        engine.spark.sparkContext.setLogLevel("ERROR")
        engine.create_table(TABLE, COLUMNS_DDL)
        setups["wall"].append(time.perf_counter() - t0)
        setups["cpu"].append(meter.read().work - work0)
    log(f"setup repeats {setups}")
    return engine, setups


def run_dml(seed: int, seconds: float, traced: bool) -> dict:
    import duckdb
    from tools.selfcheck import table_hash

    from duckdb_distributed_execution_spark import manifest

    n = cores()
    rss = RssSampler()
    meter = CpuMeter()
    engine, setups = _set_up(n, meter)
    rss.sample()

    duck = duckdb.connect()
    duck.execute(f"SET temp_directory = '{os.path.join(CACHE_DIR, 'tmp')}'")
    duck.execute(f"CREATE TABLE {TABLE} (id BIGINT, qty INTEGER, "
                 "price DECIMAL(12,2), tag VARCHAR)")
    gen = OpGenerator(seed, duck)
    run = DmlRun(engine, duck, traced, meter)

    # Untimed: the initial load (an insert), then one op of every other
    # kind, so each code path has run once before timing.
    t_warm = time.perf_counter()
    run.do("insert", {"rows": gen.rows(INITIAL_ROWS)}, "load", "warm")
    for kind, variant in WARM:
        run.do(kind, gen.make(kind, variant), f"warm.{kind}", "warm")
    warm_s = time.perf_counter() - t_warm
    log(f"load and warm ops {warm_s:.1f} s")
    rss.sample()

    rounds = traced_rounds = 0
    plain_s = 0.0
    t_start = time.perf_counter()
    while another_pass(rounds, time.perf_counter() - t_start, seconds,
                       traced):
        mode = "traced" if traced and rounds % 2 == 1 else "plain"
        t_round = time.perf_counter()
        for i, (kind, variant) in enumerate(gen.rng.sample(ROUND, len(ROUND))):
            run.do(kind, gen.make(kind, variant), f"r{rounds}.{i}", mode)
            rss.sample()
        if mode == "plain":
            plain_s += time.perf_counter() - t_round
        rounds += 1
        traced_rounds += mode == "traced"

    # The final table must equal the replica's.
    run.attempted += 1
    final = engine.table(TABLE)
    got = table_hash([tuple(r) for r in final.collect()], final.columns)[0]
    cur = duck.execute(f"SELECT * FROM {TABLE}")
    want = table_hash(cur.fetchall(), [d[0] for d in cur.description])[0]
    if got != want:
        log(f"FAIL final table hash {got} != replica {want}")
        run.failed += 1
    live_files = len(manifest.read_manifest(engine._tables[TABLE].path)["files"])
    recorder_len = len(engine.recorder)
    engine.close()
    engine.spark.stop()
    duck.close()

    reads = run.wall["execute"] + run.wall["sql_duckdb"]
    writes = [x for k in WRITES for x in run.wall[k]]
    layer = run.layers.per_pass(traced_rounds)
    layer.update(wall_metrics(run.wall, reads, plain_s))
    layer.update({
        "setup.wall_s": statistics.median(setups["wall"]),
        "setup.warm_s": warm_s,
        "mem.peak_rss_mb": rss.peak_mb,
        **run.jvm.per_pass(rounds - traced_rounds),
        "session.write_p50_s": statistics.median(writes),
        "session.write_p90_s": pct(writes, 90),
        "session.write_samples": len(writes),
        "session.read_samples": len(reads),
        "stats.recorder_len": recorder_len,
        "manifest.live_files": live_files,
    })
    if traced:
        s = run.layers.sums
        layer.update({
            "session.jobs_per_write":
                s.get("session.write_jobs", 0.0) / s["session.write_ops"],
            "session.write_amp":
                s.get("session.write_output_bytes", 0.0) / s["session.user_bytes"],
            "exec.slot_util": s.get("exec.task_run_s", 0.0) / (
                sum(o["wall_s"] for o in run.layers.per_op) * n),
            "trace.overhead_s":
                sum(per_op_medians(run.traced_wall).values())
                - layer["wall.total_s"],
            "manifest.commits":
                run.counters.get("manifest.commits", 0) / traced_rounds,
            "manifest.conflicts":
                run.counters.get("manifest.conflicts", 0) / traced_rounds,
        })
    return {
        "attempted": run.attempted, "failed": run.failed,
        "end_to_end": end_to_end(run.cpu, statistics.median(setups["cpu"])),
        "per_layer": layer,
        "samples": {"reads": len(reads), "writes": len(writes), "rounds": rounds,
                    "per_op_cpu_s": rounded(per_op_medians(run.cpu))},
        "trace": {"spans": run.tracer.to_json(), "ops": run.layers.per_op},
    }
