"""Source/sink connectors.

The reference's only source is its own remote-table scan over Arrow
Flight (SURVEY §2.A1/A2); Spark's DataSource V2 already covers
parquet/csv/json/orc + streaming file sources, so this module is a
thin façade that adds the engine's registration semantics and the
write-path guarantees the reference lacks (distributed columnar
append — never the row-by-row VALUES path of
distributed_insert.cpp:71-86)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_READERS = ("parquet", "csv", "json", "orc")


def path_bytes(path: str) -> int:
    """On-disk size of a file, or of every file under a directory; a
    missing path counts as 0 bytes. The file-size statistic that
    stands in for a catalog's ANALYZE stats in the streaming backlog
    sizing."""
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path)
                for f in fs
            )
        return os.path.getsize(path)
    except OSError:
        return 0


def read(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
) -> DataFrame:
    if fmt not in _READERS:
        raise ValueError(f"unsupported source format {fmt!r}; one of {_READERS}")
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
        options.setdefault("inferSchema", "false" if schema else "true")
    return reader.options(**options).load(path)


_NANOS_PROBE_CACHE: dict[str, list[str]] = {}


def _nanos_columns(path: str) -> list[str]:
    """Names of timestamp[ns] columns in the parquet footer (cached
    per path — the probe is driver-side filesystem work that would
    otherwise repeat on every query construction)."""
    import glob

    import pyarrow.parquet as pq

    if path in _NANOS_PROBE_CACHE:
        return _NANOS_PROBE_CACHE[path]
    probe = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            _NANOS_PROBE_CACHE[path] = []
            return []
        probe = parts[0]
    cols = [
        field.name
        for field in pq.read_schema(probe)
        if str(field.type) == "timestamp[ns]"
    ]
    _NANOS_PROBE_CACHE[path] = cols
    return cols


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read that tolerates TIMESTAMP(NANOS) columns (Spark has
    no nanosecond timestamps): on PARQUET_TYPE_ILLEGAL, re-read with
    nanos-as-long and floor any ``*_NANOS`` long column back to a
    microsecond timestamp — the same truncation DuckDB applies when
    fetching TIMESTAMP_NS."""
    from pyspark.sql import functions as F

    # Naive parquet timestamps (isAdjustedToUTC=false) must surface as
    # TimestampType, not TIMESTAMP_NTZ: the session runs in UTC so the
    # values are identical, NTZ forbids epoch casts (CAST AS BIGINT),
    # and DuckDB's naive timestamps then compare bit-for-bit.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    nanos_cols = _nanos_columns(path)
    if not nanos_cols:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for name in nanos_cols:
        # Guard on the dtype Spark actually produced: pyarrow reports
        # INT96 timestamps as timestamp[ns] too, but Spark reads INT96
        # natively as TIMESTAMP (nanosAsLong only affects TIMESTAMP(
        # NANOS) annotations), so only long-surfaced columns need the
        # floor-to-micros repair.
        if dict(df.dtypes).get(name) == "bigint":
            df = df.withColumn(
                name, F.timestamp_micros(F.expr(f"`{name}` DIV 1000"))
            )
    return df


def write(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    """Distributed write; ``partition_by`` produces hive-style
    directory partitioning so downstream scans get partition pruning."""
    writer = df.write.format(fmt).mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
