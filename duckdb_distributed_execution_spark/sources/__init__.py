"""Source/sink connectors.

The reference's only source is its own remote-table scan over Arrow
Flight (SURVEY §2.A1/A2); Spark's DataSource V2 already covers
parquet/csv/json/orc + streaming file sources, so this module is a
thin façade that adds the engine's registration semantics and the
write-path guarantees the reference lacks (distributed columnar
append — never the row-by-row VALUES path of
distributed_insert.cpp:71-86)."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType

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
    """``path`` read as ``fmt``. Parquet with neither a schema nor
    options (which may filter Spark's listing) takes its schema from
    one footer read (``read_parquet_table``), not an inference job."""
    if fmt not in _READERS:
        raise ValueError(f"unsupported source format {fmt!r}; one of {_READERS}")
    if fmt == "parquet" and schema is None and not options:
        return read_parquet_table(spark, path)
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
        options.setdefault("inferSchema", "false" if schema else "true")
    return reader.options(**options).load(path)


# Parquet summary files, which Spark's schema inference reads before
# any data file (ParquetUtils.splitFiles / inferSchema).
_SUMMARY_FILES = ("_common_metadata", "_metadata")


def _hidden(name: str) -> bool:
    """Spark's file listing skips these names
    (HadoopFSUtils.shouldFilterOutPathName)."""
    exclude = ((name.startswith("_") and "=" not in name)
               or name.startswith(".") or name.endswith("._COPYING_"))
    return exclude and not name.startswith(_SUMMARY_FILES)


def _leaf_files(path: str) -> list[str]:
    """``path`` if it is a file, else the files under it, listed the
    way Spark lists them (hidden names skipped)."""
    if os.path.isfile(path):
        return [path]
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        files += [os.path.join(root, f) for f in names if not _hidden(f)]
    return files


def schema_file(paths: list[str]) -> str | None:
    """The one file whose footer Spark's (non-merging) parquet schema
    inference reads for the files and directories ``paths``:
    ``_common_metadata``, else ``_metadata``, else the first data file
    in path order (ParquetUtils.splitFiles sorts by path); None if
    there is none."""
    ordered = sorted((f for p in paths for f in _leaf_files(p)),
                     key=os.path.abspath)
    for summary in _SUMMARY_FILES:
        for f in ordered:
            if os.path.basename(f) == summary:
                return f
    data = [f for f in ordered if os.path.basename(f) not in _SUMMARY_FILES]
    return data[0] if data else None


def footer_schema(spark: SparkSession,
                  path: str) -> tuple[StructType, list[str]]:
    """The Spark schema of the parquet file at ``path``, read from its
    footer on the driver with Spark's own converter (the conversion
    schema inference runs in a one-task job), and the names of its
    top-level TIMESTAMP(NANOS) columns. Those convert as long (Spark
    has no nanosecond timestamps), and naive timestamps as TIMESTAMP,
    on a clone of the session's SQL conf, so the session itself is left
    as it is."""
    jvm = spark._jvm
    jspark = spark._jsparkSession
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    conf = jspark.sessionState().conf().clone()
    conf.setConfString("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Naive parquet timestamps (isAdjustedToUTC=false) surface as
    # TimestampType, not TIMESTAMP_NTZ: the session runs in UTC so the
    # values are identical, NTZ forbids epoch casts (CAST AS BIGINT),
    # and DuckDB's naive timestamps then compare bit-for-bit.
    conf.setConfString("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    meta = pq.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            hpath, jspark.sessionState().newHadoopConf()),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter
        .SKIP_ROW_GROUPS,
    )
    jschema = pq.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(hpath, meta),
        pq.ParquetToSparkSchemaConverter(conf),
    )
    schema = StructType.fromJson(json.loads(jschema.json()))
    message = meta.getFileMetaData().getSchema()
    nanos = [
        f.name for f in schema.fields
        if isinstance(f.dataType, LongType)
        and "NANOS" in str(message.getType(f.name).getLogicalTypeAnnotation())
    ]
    return schema, nanos


def _floor_nanos(df: DataFrame, nanos: list[str]) -> DataFrame:
    """Each nanos-as-long column back to a microsecond timestamp, the
    truncation DuckDB applies when fetching TIMESTAMP_NS."""
    from pyspark.sql import functions as F

    for name in nanos:
        df = df.withColumn(
            name, F.timestamp_micros(F.expr(f"`{name}` DIV 1000")))
    return df


def read_parquet_files(spark: SparkSession, paths: list[str],
                       schema=None) -> DataFrame:
    """The parquet relation over the files and directories ``paths``,
    opened with ``schema`` or, when None, with the schema Spark's
    inference would give it, taken from the one footer inference would
    read (``schema_file``, ``footer_schema``), and TIMESTAMP(NANOS)
    columns floored to microsecond timestamps. A directory's partition
    columns are still discovered from its layout. Opening it runs no
    Spark job as long as Spark lists the paths on the driver: up to
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
    paths, or subdirectories of one directory."""
    nanos = []
    if schema is None:
        first = schema_file(paths)
        # No local file under ``paths`` (missing, empty, or a non-local
        # URI): Spark infers, or raises its own error.
        if first is None:
            return spark.read.parquet(*paths)
        schema, nanos = footer_schema(spark, first)
    return _floor_nanos(spark.read.schema(schema).parquet(*paths), nanos)


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read of a file or a directory that tolerates
    TIMESTAMP(NANOS) columns (read as long, then floored to
    microsecond timestamps — the truncation DuckDB applies when
    fetching TIMESTAMP_NS), with the schema of one driver-side footer
    read (``read_parquet_files``)."""
    return read_parquet_files(spark, [path])


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
