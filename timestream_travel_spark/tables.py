"""Fixture catalog: schema-on-read parquet loading.

Mirrors the reference's dynamic-schema model (helpers/helpers.go:43-46:
column names/types discovered per query, never declared): we never
hard-code schemas — `spark.read.parquet` infers them from footers,
and Catalyst prunes columns/pushes filters into the scan.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

_SESSION_CACHE: dict = {}


def _fixture_stamp(sf_dir: str) -> tuple:
    stamp = []
    for t in TABLES:
        try:
            st = os.stat(f"{sf_dir}/{t}.parquet")
        except OSError:
            continue
        stamp.append((t, st.st_mtime_ns, st.st_size))
    return tuple(stamp)


def session_cached(build):
    """Memoize a shared intermediate `build(spark, sf_dir)`.

    One entry per (build, sf_dir) holds (applicationId, fixture stamp,
    value); a call whose session or stamp differs rebuilds and
    replaces it. The caching rules, stated once for every builder:

    - handles are session-bound: persisted/checkpointed DataFrames die
      with their session, so a new applicationId never sees them;
    - entries are stamped against the fixture: (name, mtime_ns, size)
      of every `{sf_dir}/{t}.parquet` in TABLES, so a fixture rewritten
      in place is never served stale;
    - the first consumer pays the build inside its own timed region;
      the builder keeps its own materialization (persist + count, or
      an eager localCheckpoint);
    - caches hold intermediates only, never a declared query's result:
      flagships keep their uncached from-scratch plans."""

    @functools.wraps(build)
    def cached(spark: SparkSession, sf_dir: str):
        app, stamp = spark.sparkContext.applicationId, _fixture_stamp(sf_dir)
        entry = _SESSION_CACHE.get((build, sf_dir))
        if entry is None or entry[:2] != (app, stamp):
            entry = (app, stamp, build(spark, sf_dir))
            _SESSION_CACHE[(build, sf_dir)] = entry
        return entry[2]

    return cached


def ensure_timestamp(df: DataFrame, ts_col: str) -> DataFrame:
    """Normalize the fixture time column to TimestampType whatever the
    parquet physical type was:

    - timestamp[us] (Spark 4 reads it as TIMESTAMP_NTZ): cast to
      TIMESTAMP — value-exact under the engine's UTC session timezone
      (same wall-clock micros; DuckDB's naive timestamp agrees).
    - legacy TIMESTAMP(NANOS) read as long (under
      spark.sql.legacy.parquet.nanosAsLong): truncate ns→us exactly
      like DuckDB's TIMESTAMP_NS→TIMESTAMP cast. Integer `div` —
      double math would lose precision at 1.7e18."""
    dtype = dict(df.dtypes).get(ts_col)
    if dtype == "bigint":
        df = df.withColumn(ts_col, F.expr(f"timestamp_micros({ts_col} div 1000)"))
    elif dtype == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def time_window_filter(df: DataFrame, ts_col: str, lo: str, hi: str) -> DataFrame:
    """Time-range predicate that reaches the parquet scan whatever
    physical type the time column carries.

    - timestamp_ntz (timestamp[us] parquet under Spark 4): compare
      against NTZ literals directly so pushdown never depends on
      Catalyst unwrapping a cast around the column.
    - legacy TIMESTAMP(NANOS) int64: the ns→us conversion
      (`timestamp_micros(ts div 1000)`) is opaque to pushdown, so the
      exact raw-ns equivalent ns ∈ [lo_us·1000, hi_us·1000 + 999] is
      pushed instead — int64 bounds let parquet row-group stats skip
      data. Bounds are second-precision timestamps interpreted as UTC
      (the engine session timezone)."""
    from datetime import datetime, timezone

    dtype = dict(df.dtypes).get(ts_col)
    if dtype == "bigint":
        fmt = "%Y-%m-%d %H:%M:%S"
        lo_us = int(datetime.strptime(lo, fmt).replace(tzinfo=timezone.utc).timestamp()) * 1_000_000
        hi_us = int(datetime.strptime(hi, fmt).replace(tzinfo=timezone.utc).timestamp()) * 1_000_000
        return df.filter(F.col(ts_col).between(lo_us * 1000, hi_us * 1000 + 999))
    if dtype == "timestamp_ntz":
        return df.filter(
            F.col(ts_col).between(
                F.lit(lo).cast("timestamp_ntz"), F.lit(hi).cast("timestamp_ntz")
            )
        )
    return df.filter(
        F.col(ts_col).between(F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp"))
    )


def load_events_window(spark: SparkSession, sf_dir: str, lo: str, hi: str) -> DataFrame:
    """events scan with the time window pushed to the raw column,
    then normalized to TimestampType."""
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ensure_timestamp(time_window_filter(raw, "ts", lo, hi), "ts")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = ensure_timestamp(df, "ts")
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None, register_views: bool = True
) -> dict[str, DataFrame]:
    """Load fixture tables lazily; optionally register temp views so
    the same names resolve in spark.sql() as in the DuckDB oracle."""
    out: dict[str, DataFrame] = {}
    for name in names or TABLES:
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Scale-adaptive scan fan-out (r15; guide §2.2 'fewer, larger
    map tasks' / §2.5 input skew). Parquet row groups are the
    parallelism unit, and every fixture file holds exactly ONE — so a
    scan followed by CPU-heavy per-row work (decimal casts, wide
    expression trees) runs that work on a single core no matter how
    many cores the session has. When the scan's input is too small to
    fill the cores at the configured split size, round-robin
    repartition to defaultParallelism: the narrow-row shuffle is
    cheap at exactly the input sizes where the gate fires.

    The gate derives from INPUT SIZE, not a local constant: inputs
    ≥ cores × 8 MiB return the DataFrame unchanged, so at production
    scale (multi-row-group files, TB-scale tables) this is a no-op
    and the scan parallelizes naturally. Only associative/exact
    downstream aggregations may sit above a spread (decimal sums,
    counts, min/max) — row order changes."""
    spark = df.sparkSession
    par = partitions or spark.sparkContext.defaultParallelism
    try:
        from urllib.parse import urlparse

        files = df.inputFiles()
        if not files:  # non-file source (range, local relation): never spread
            return df
        total = 0
        for f in files:
            u = urlparse(f)
            if u.scheme not in ("file", ""):
                return df
            total += os.path.getsize(u.path)
    except Exception:  # noqa: BLE001 — non-file sources: never spread
        return df
    if total >= par * 8 * 1024 * 1024:
        return df
    return df.repartition(par)


def bounded_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """createDataFrame for SMALL driver-side row lists that carry
    ARRAY columns, via the pandas/Arrow batch path.

    The default row-by-row converter pays a multi-second py4j +
    per-element verification cost for array columns (measured 5.3 s
    for a 138-row × 64-double codebook table; the Arrow path is
    0.25 s). Scalar-only small tables don't need this. `schema` is a
    DDL string ("name type, ..."); column names are the first token
    of each top-level comma-separated field (commas inside <> or ()
    — array/map/decimal parameters — don't split)."""
    import re

    import pandas as pd

    fields = re.split(r",(?![^<(]*[>)])", schema)
    names = [part.strip().split()[0] for part in fields]
    pdf = pd.DataFrame(rows, columns=names)
    return spark.createDataFrame(pdf, schema)
