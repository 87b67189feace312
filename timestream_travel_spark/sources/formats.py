"""File-format scans and sinks (SURVEY.md §2 B.1): parquet (primary),
CSV, JSON/NDJSON (+gzip) — the reference's output format
(cmd/backup.go:263-297) read back as a source.

Schema handling mirrors the reference's dynamic model
(helpers/helpers.go:43-46): inferred by default, explicit DDL strings
where inference is unsafe (streams, CSV without headers at scale —
inference costs an extra full scan of the data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_csv(
    spark: SparkSession, path: str, schema: str | None = None, header: bool = True
) -> DataFrame:
    """CSV scan. With a DDL schema: single-pass, no inference scan —
    the only acceptable mode at 100 TB."""
    reader = spark.read.option("header", str(header).lower())
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """NDJSON scan (gzip transparent via codec extension). The
    faithful backup output (all-string scalars) reads back with every
    column string-typed — by design; `typed=False` exports are for
    archival fidelity, parquet for analytics re-ingest."""
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — Spark-native columnar alternative; same pushdown /
    pruning behavior as parquet (predicate pushdown via ORC
    SearchArguments)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, compression: str = "zlib") -> None:
    df.write.mode("overwrite").option("compression", compression).orc(path)


def read_xml(spark: SparkSession, path: str, row_tag: str = "row") -> DataFrame:
    """XML scan (Spark 4 built-in): one DataFrame row per rowTag
    element, schema inferred from attributes/children."""
    return spark.read.format("xml").option("rowTag", row_tag).load(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row", root_tag: str = "rows") -> None:
    df.write.mode("overwrite").format("xml").option("rowTag", row_tag).option(
        "rootTag", root_tag
    ).save(path)


def write_csv(df: DataFrame, path: str, header: bool = True, compression: str | None = None) -> None:
    w = df.write.mode("overwrite").option("header", str(header).lower())
    if compression:
        w = w.option("compression", compression)
    w.csv(path)


def write_ndjson(df: DataFrame, path: str, gzip: bool = True, max_records_per_file: int | None = None) -> None:
    """The reference's sink format: newline-delimited JSON, gzip
    (cmd/backup.go:263-297), chunk size via maxRecordsPerFile (A15)."""
    w = df.write.mode("overwrite")
    if gzip:
        w = w.option("compression", "gzip")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.json(path)
