"""Query inventory — the correctness surface of the engine.

Every operator claimed in SURVEY.md §2 gets a named entry here: a
PySpark DataFrame program plus (where SQL-expressible) an equivalent
ANSI-SQL oracle string that DuckDB runs on the same parquet tables.
The driver executes both at sf=0.01 and compares row count + column
names + order-insensitive value hashes.

Determinism conventions (see functions/__init__.py):

- double SUM/AVG go through exact decimal arithmetic on BOTH sides so
  results are bit-identical regardless of partitioning/accumulation
  order;
- per-row double expressions are written with identical operation
  order on both sides (IEEE ops are deterministic given order);
- similarity scores (cosine etc.) are ROUND()ed to 4 decimals — the
  cross-engine discrepancy is O(1e-12) on O(1) values, so rounding is
  stable;
- queries returning a row subset (top-k, limit/offset) order by a
  unique key so the subset is well-defined.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    headline: bool = False  # include in bench.py


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, headline: bool = False):
    def deco(fn: QueryFn) -> QueryFn:
        # A duplicate name would silently OVERWRITE an existing query
        # (and its oracle) — caught once in round 5 when a second
        # target_encode_loo shadowed pipeline11's. Fail loudly instead.
        if name in REGISTRY:
            raise ValueError(
                f"query {name!r} is already registered "
                f"(by {REGISTRY[name].fn.__module__})"
            )
        REGISTRY[name] = QuerySpec(name, fn, oracle, headline)
        return fn

    return deco


_ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def arr_str(col):
    """Serialize an array column to a ','-joined string.

    The driver's correctness harness canonicalizes results through a
    pandas sort/factorize, which raises ``TypeError: unhashable type:
    'list'`` on raw array cells (CORRECTNESS_r01 ``array_agg_sorted``).
    Every query whose *output* schema would contain an array therefore
    emits this serialized form, mirrored by ``array_to_string(x, ',')``
    in the DuckDB oracle — semantics stay checkable, cells stay
    hashable. Elements are cast to string first (Spark ``array_join``
    needs array<string>; DuckDB casts implicitly)."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    c = col if isinstance(col, Column) else F.col(col)
    return F.array_join(c.cast("array<string>"), ",")


_LOAD_CACHE: dict[tuple[str, str], DataFrame] = {}


def load(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Register the requested testdata tables as temp views (matching
    the oracle's pre-registered DuckDB view names) and return them.

    The DataFrame (the analyzed scan relation) is memoized per
    (session, path): the testdata files are immutable inputs, and
    rebuilding the relation on every query construction repeats the
    JVM-side file listing + footer schema read — the same catalog
    metadata a production engine caches in its metastore client."""
    from duckdb_distributed_execution_spark import ensure_worker_pythonpath
    from duckdb_distributed_execution_spark.sources import read_parquet_table

    # Workers must be able to import this package regardless of the
    # harness's CWD (mapInPandas / Python DataSource closures pickle
    # module-level helpers by reference).
    ensure_worker_pythonpath(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out: dict[str, DataFrame] = {}
    for n in names or _ALL_TABLES:
        key = (
            spark.sparkContext.applicationId,
            os.path.join(sf_dir, f"{n}.parquet"),
        )
        df = _LOAD_CACHE.get(key)
        if df is None:
            df = read_parquet_table(spark, key[1])
            _LOAD_CACHE[key] = df
        df.createOrReplaceTempView(n)
        out[n] = df
    return out


def all_queries() -> dict[str, QuerySpec]:
    # Import side-effect populates REGISTRY.
    from duckdb_distributed_execution_spark.queries import (  # noqa: F401
        core,
        extended,
        extras,
        extras2,
        extras3,
        joins,
        llm,
        nested,
        pipeline2,
        pipeline3,
        pipeline4,
        pipeline5,
        pipeline6,
        pipeline7,
        pipeline8,
        pipeline9,
        pipeline10,
        pipeline11,
        pipeline12,
        pipeline13,
        pipeline14,
        pipeline15,
        pipeline16,
        pipeline17,
        pipeline18,
        pipeline19,
        pipeline20,
        pipeline21,
        pipeline22,
        pipeline23,
        pipeline24,
        pipeline25,
        pipeline26,
        pipeline27,
        pipeline28,
        pipeline29,
        pipeline30,
        pipeline31,
        pipeline32,
        pipeline33,
        pipeline34,
        pipeline35,
        pipeline36,
        pipeline37,
        pipeline38,
        pipeline39,
        pipeline40,
        pipeline41,
        pipeline42,
        pipeline43,
        pipeline44,
        pipeline45,
        pipeline46,
        pipeline47,
        pipeline48,
        pipeline49,
        pipeline50,
        pipeline51,
        pipeline52,
        pipeline53,
        pipeline54,
        pipeline55,
        pipeline56,
        pipeline57,
        pipeline58,
        pipeline60,
        textstats,
        tpch,
        vectors,
        window,
    )

    return REGISTRY
