"""Read workloads: a fixed set of registered queries over a generated
dataset, each built with ``QuerySpec.fn`` and run to a noop sink.

One client, closed loop: each query starts after the previous one
returns. The seed permutes the query order of every pass; the data
never changes."""

from __future__ import annotations

import os
import random
import statistics
import time
import traceback

from data import TABLES, dataset, log, oracle_hashes
from env import cores, spark_session
from host import CpuMeter, JvmCpu, RssSampler
from summary import (LayerTotals, another_pass, end_to_end, per_op_medians,
                     rounded, wall_metrics)
from trace import SparkProbe, Tracer, settle

RELATIONAL = (
    "agg_pricing_summary", "case_when_agg", "events_tumbling_window",
    "join_asof", "join_broadcast_dim", "join_multi_star",
    "salted_hot_key_agg", "sessionize_window_sql", "tpch_q9_partsupp",
    "window_rownum_latest",
)
LLM_OPS = (
    "ann_bruteforce_topk", "dedup_embedding_cosine_banded", "dedup_exact",
    "dedup_minhash_lsh", "semantic_dedup_seeded", "text_quality",
    "tokens_per_lang_topk",
)
SETUP_REPEATS = 3


def _set_up(sf_dir: str, n: int,
            meter: CpuMeter) -> tuple[object, dict[str, list[float]]]:
    """Session start plus registration of every table, repeated. The
    first repeat launches the JVM and the context; later ones find the
    session running, as a second ``getOrCreate`` in one process does,
    and register every table again."""
    from duckdb_distributed_execution_spark.sources import read_parquet_table

    setups: dict[str, list[float]] = {"wall": [], "cpu": []}
    for _ in range(SETUP_REPEATS):
        work0 = meter.read().work
        t0 = time.perf_counter()
        spark = spark_session(n)
        for t in TABLES:
            read_parquet_table(
                spark, os.path.join(sf_dir, f"{t}.parquet"),
            ).createOrReplaceTempView(t)
        setups["wall"].append(time.perf_counter() - t0)
        setups["cpu"].append(meter.read().work - work0)
    log(f"setup repeats {setups}")
    return spark, setups


def _warm_and_check(spark, specs, names, sf_dir, expected, rng) -> int:
    """Untimed warm pass; each collected result is hashed and compared
    with its oracle. Returns the number of queries that failed."""
    from tools.selfcheck import table_hash

    failed = 0
    for name in rng.sample(names, len(names)):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            df = specs[name].fn(spark, sf_dir)
            got = table_hash([tuple(r) for r in df.collect()], df.columns)[0]
        except Exception:
            log(f"FAIL {name}: error in warm pass")
            traceback.print_exc()
            failed += 1
            continue
        if got != expected[name]:
            log(f"FAIL {name}: result hash {got} != oracle {expected[name]}")
            failed += 1
        log(f"warm {name} {time.perf_counter() - t0:.2f} s")
    return failed


def run_reads(names: tuple[str, ...] | None, sf: float, seed: int,
              seconds: float, traced: bool) -> dict:
    from duckdb_distributed_execution_spark.queries import all_queries

    specs = all_queries()
    if names is None:
        names = tuple(n for n, s in sorted(specs.items()) if s.headline)
    sf_dir = dataset(sf)
    expected = oracle_hashes(sf_dir, {n: specs[n].oracle for n in names})
    rng = random.Random(seed)
    n = cores()
    rss = RssSampler()

    log("data ready")
    meter = CpuMeter()
    spark, setups = _set_up(sf_dir, n, meter)
    rss.sample()
    t_warm = time.perf_counter()
    failed = _warm_and_check(spark, specs, names, sf_dir, expected, rng)
    warm_s = time.perf_counter() - t_warm
    attempted = len(names)
    rss.sample()

    tracer = Tracer()
    probe = SparkProbe(spark) if traced else None
    layers = LayerTotals()
    wall: dict[str, list[float]] = {k: [] for k in names}
    cpu: dict[str, list[float]] = {k: [] for k in names}
    traced_wall: dict[str, list[float]] = {k: [] for k in names}
    jvm = JvmCpu()
    plain_s = 0.0
    passes = traced_passes = 0
    t_start = time.perf_counter()
    while another_pass(passes, time.perf_counter() - t_start, seconds,
                       traced):
        tracing = traced and passes % 2 == 1
        t_pass = time.perf_counter()
        for name in rng.sample(names, len(names)):
            attempted += 1
            spark.catalog.clearCache()
            try:
                if tracing:
                    traced_wall[name].append(_traced_query(
                        spark, specs[name].fn, sf_dir, f"p{passes}.{name}",
                        name, tracer, probe, layers))
                else:
                    settle(spark)
                    cpu0 = meter.read()
                    t0 = time.perf_counter()
                    specs[name].fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite").save()
                    wall[name].append(time.perf_counter() - t0)
                    cpu1 = meter.read()
                    cpu[name].append(cpu1.work - cpu0.work)
                    jvm.add(cpu0, cpu1)
            except Exception:
                log(f"FAIL {name}: error in pass {passes}")
                traceback.print_exc()
                failed += 1
            rss.sample()
        if not tracing:
            plain_s += time.perf_counter() - t_pass
        passes += 1
        traced_passes += tracing
    spark.catalog.clearCache()
    spark.stop()

    reads = [x for v in wall.values() for x in v]
    layer = layers.per_pass(traced_passes)
    layer.update(wall_metrics(wall, reads, plain_s))
    layer.update({
        "setup.wall_s": statistics.median(setups["wall"]),
        "setup.warm_s": warm_s,
        "mem.peak_rss_mb": rss.peak_mb,
        **jvm.per_pass(passes - traced_passes),
    })
    if traced:
        layer["exec.slot_util"] = layer.get("exec.task_run_s", 0.0) / max(
            layer.get("exec.wall_s", 0.0) * n, 1e-9)
        layer["trace.overhead_s"] = (
            sum(per_op_medians(traced_wall).values()) - layer["wall.total_s"])
    return {
        "attempted": attempted, "failed": failed,
        "end_to_end": end_to_end(cpu, statistics.median(setups["cpu"])),
        "per_layer": layer,
        "samples": {"reads": len(reads), "passes": passes,
                    "per_op_cpu_s": rounded(per_op_medians(cpu))},
        "trace": {"spans": tracer.to_json(), "ops": layers.per_op},
    }


def _traced_query(spark, fn, sf_dir, op_id, name, tracer, probe,
                  layers) -> float:
    tracer.op_id = op_id
    probe.begin()
    with tracer.span("query"):
        probe.group(f"{op_id}.b")
        with tracer.span("queries.build"):
            df = fn(spark, sf_dir)
        probe.group(f"{op_id}.e")
        with tracer.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("exec"):
            df.write.format("noop").mode("overwrite").save()
    wall, self_s = tracer.self_times(op_id)
    counters = probe.collect({f"{op_id}.b": "queries.build",
                              f"{op_id}.e": "exec"})
    counters["queries.build_jobs"] = counters.pop("queries.build.jobs", 0.0)
    counters["exec.jobs"] = counters.get("exec.jobs", 0.0)
    counters["queries.build_s"] = self_s.get("queries.build", 0.0)
    counters["catalyst.plan_s"] = self_s.get("catalyst.plan", 0.0)
    counters["exec.wall_s"] = self_s.get("exec", 0.0)
    counters["functions.cached_relations"] = probe.persisted_rdds()
    layers.add_op(op_id, name, wall, self_s, counters)
    return wall
