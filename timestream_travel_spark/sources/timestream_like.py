"""Timestream-like connector: a PySpark Python DataSource that reads
paginated query-result pages in Amazon Timestream's wire shape and
decodes them with the reference's recursive type rules.

The reference consumes `timestreamquery` results: pages of Rows of
Datum, typed by ColumnInfo, with four type constructors decoded
recursively (helpers/helpers.go):

- scalar    → string, nil → "NULL"        (ProcessScalarType, :5-10)
- timeseries→ {timeString: value} map     (ProcessTimeSeriesType, :12-25)
- array     → list, recursive             (ProcessArrayType, :27-41)
- row       → {columnName: value} map     (ProcessRowType, :43-63)

This connector reads the same shapes from NDJSON page files (the
local stand-in for the paginated HTTP API — one file per NextToken
page, cmd/backup.go:253-258) and exposes them as a DataFrame:
scalar columns as strings (faithful), nested columns as JSON strings.
Schema comes from the first page's ColumnInfo — dynamic, never
declared (SURVEY.md §1.1).

Spark integration: the DataSource V2 Python API. Pages are packed,
in page order, into contiguous runs, one InputPartition each, with
Spark's own file-split rule: a page costs its file size plus a 4 MiB
open cost, a run closes before it would exceed 128 MiB, and a larger
page is a run of its own. A task decodes its run page by page, so a
result of many small pages costs a few Python tasks, not one per page,
while a large result still fans out across cores (the
goroutine-per-partition of cmd/backup.go:228-231, without threads).

Usage:
    spark.dataSource.register(TimestreamLikeDataSource)
    df = spark.read.format("timestream_like").option("path", pages_dir).load()
"""

from __future__ import annotations

import glob
import json
import os
from typing import Any

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StringType, StructField, StructType

NULL_STR = "NULL"  # helpers.go:5-10

# Spark's file-split defaults: spark.sql.files.maxPartitionBytes and
# spark.sql.files.openCostInBytes
MAX_PARTITION_BYTES = 128 * 1024 * 1024
OPEN_COST_BYTES = 4 * 1024 * 1024


# ----------------------------------------------------------- decoders
# Each mirrors one helpers.go function; Datum/ColumnInfo field names
# follow the public timestreamquery API shape.


def process_scalar(datum: dict[str, Any]) -> str:
    """helpers.go:5-10 — nil ScalarValue renders as the string NULL."""
    v = datum.get("ScalarValue")
    return NULL_STR if v is None else str(v)


def process_time_series(datum: dict[str, Any], value_type: dict[str, Any]) -> dict[str, Any]:
    """helpers.go:12-25 — points become a {timeString: value} map."""
    out: dict[str, Any] = {}
    for point in datum.get("TimeSeriesValue") or []:
        out[str(point["Time"])] = decode_datum(point["Value"], value_type)
    return out


def process_array(datum: dict[str, Any], elem_type: dict[str, Any]) -> list[Any]:
    """helpers.go:27-41 — recursive element decode."""
    return [decode_datum(d, elem_type) for d in (datum.get("ArrayValue") or [])]


def process_row(data: list[dict[str, Any]], column_info: list[dict[str, Any]]) -> dict[str, Any]:
    """helpers.go:43-63 — ColumnInfo-driven map keyed by column name."""
    out: dict[str, Any] = {}
    for datum, ci in zip(data, column_info):
        out[ci["Name"]] = decode_datum(datum, ci["Type"])
    return out


def decode_datum(datum: dict[str, Any], col_type: dict[str, Any]) -> Any:
    """Dispatch on the four constructors (helpers.go:46-59)."""
    if "ScalarType" in col_type:
        return process_scalar(datum)
    if "TimeSeriesMeasureValueColumnInfo" in col_type:
        return process_time_series(datum, col_type["TimeSeriesMeasureValueColumnInfo"]["Type"])
    if "ArrayColumnInfo" in col_type:
        return process_array(datum, col_type["ArrayColumnInfo"]["Type"])
    if "RowColumnInfo" in col_type:
        return process_row(datum.get("RowValue", {}).get("Data", []), col_type["RowColumnInfo"])
    raise ValueError(f"unknown Timestream column type: {col_type}")


def _read_page(path: str) -> dict[str, Any]:
    # bytes, not text: json.loads detects the UTF-8 encoding itself,
    # whatever the worker's locale
    with open(path, "rb") as fh:
        return json.loads(fh.read())


def pack_pages(pages: list[str]) -> list[list[str]]:
    """Split the ordered page list into contiguous runs. A page costs
    its file size plus OPEN_COST_BYTES; a run closes before it would
    exceed MAX_PARTITION_BYTES, so a page larger than that is a run of
    its own."""
    runs: list[list[str]] = []
    run: list[str] = []
    run_bytes = 0
    for page in pages:
        cost = os.path.getsize(page) + OPEN_COST_BYTES
        if run and run_bytes + cost > MAX_PARTITION_BYTES:
            runs.append(run)
            run, run_bytes = [], 0
        run.append(page)
        run_bytes += cost
    if run:
        runs.append(run)
    return runs


def _decode_pages(pages: list[str], fields: list[str]):
    """Rows of `pages`, in page order, as tuples of `fields`. The
    schema is fixed from the FIRST page, but ColumnInfo is per-page
    (helpers.go ProcessRowType is per-page too): a later page missing
    a schema column degrades to "NULL" instead of failing the scan;
    extra columns are dropped."""
    for path in pages:
        page = _read_page(path)
        column_info = page["ColumnInfo"]
        for row in page.get("Rows", []):
            decoded = process_row(row["Data"], column_info)
            yield tuple(
                v if isinstance(v, str) else json.dumps(v, sort_keys=True)
                for v in (decoded.get(name, NULL_STR) for name in fields)
            )


class TimestreamLikeDataSource(DataSource):
    """spark.read.format('timestream_like').option('path', dir)."""

    @classmethod
    def name(cls) -> str:
        return "timestream_like"

    def _pages(self) -> list[str]:
        path = self.options.get("path")
        if not path:
            raise ValueError("timestream_like requires option 'path' (directory of page files)")
        # (len, name) order == numeric order for zero-padded names
        # that outgrew their %05d pad (page-100000 after page-99999)
        pages = sorted(glob.glob(f"{path}/page-*.json"), key=lambda p: (len(p), p))
        if not pages:
            raise ValueError(f"no page-*.json files under {path}")
        return pages

    def schema(self) -> StructType:
        """Dynamic schema from the first page's ColumnInfo
        (helpers.go:43-46): scalars → string (faithful), nested →
        JSON string."""
        first = _read_page(self._pages()[0])
        return StructType([StructField(ci["Name"], StringType()) for ci in first["ColumnInfo"]])

    def reader(self, schema: StructType) -> "TimestreamLikeReader":
        return TimestreamLikeReader(self._pages(), schema)

    def writer(self, schema: StructType, overwrite: bool) -> "TimestreamLikeWriter":
        return TimestreamLikeWriter(
            self.options.get("path"), [f.name for f in schema.fields], overwrite
        )

    def streamWriter(self, schema: StructType, overwrite: bool) -> "TimestreamLikeStreamWriter":
        return TimestreamLikeStreamWriter(
            self.options.get("path"), [f.name for f in schema.fields]
        )

    def simpleStreamReader(self, schema: StructType) -> "TimestreamLikeStreamReader":
        # spark.readStream.format('timestream_like') — live tail of
        # the page directory; offset = pages consumed
        return TimestreamLikeStreamReader(
            self.options.get("path"), [f.name for f in schema.fields]
        )


class TimestreamLikeReader(DataSourceReader):
    def __init__(self, pages: list[str], schema: StructType) -> None:
        self.pages = pages
        self.fields = [f.name for f in schema.fields]

    def partitions(self) -> list[InputPartition]:
        # one partition per contiguous run of pages — the unit of
        # parallel decode
        return [InputPartition(run) for run in pack_pages(self.pages)]

    def read(self, partition: InputPartition):
        return _decode_pages(partition.value, self.fields)


class TimestreamLikeStreamReader(SimpleDataSourceStreamReader):
    """Streaming tail of a paginated query-result directory: the
    offset is the count of page files consumed (pages are named
    page-NNN.json, so the sorted listing is the page order — the
    NextToken chain of cmd/backup.go:253-258). Each microbatch decodes
    the pages that appeared since the last offset; readBetweenOffsets
    replays any [start, end) slice deterministically, which is what
    makes the source exactly-once under checkpoint recovery."""

    def __init__(self, path: str, fields: list[str]) -> None:
        self.path = path
        self.fields = fields

    def initialOffset(self) -> dict:
        return {"pages_read": 0}

    def _pages(self) -> list[str]:
        # same (len, name) ordering rationale as the batch reader
        return sorted(glob.glob(f"{self.path}/page-*.json"), key=lambda p: (len(p), p))

    def read(self, start: dict):
        # lists, not generators: the runtime caches and (deep)copies
        # the (rows, offset) pair for prefetch replay
        pages = self._pages()
        lo = start.get("pages_read", 0)
        return list(_decode_pages(pages[lo:], self.fields)), {"pages_read": len(pages)}

    def readBetweenOffsets(self, start: dict, end: dict):
        pages = self._pages()
        lo, hi = start.get("pages_read", 0), end.get("pages_read", 0)
        return list(_decode_pages(pages[lo:hi], self.fields))


# ------------------------------------------------------------ writer
# The write-side counterpart: DataFrames go back OUT as wire-shape
# result pages (ColumnInfo + Rows of ScalarValue Datums — the same
# shape the reader ingests), so connector round-trips are exact.
# Exactly-once protocol: executors stage page-*.json.tmp files and
# report them in commit messages; the driver's commit() renames the
# staged files to their final page-NNN.json names (a bounded,
# partitions-sized rename pass) and writes a pages manifest.
# Speculative or retried tasks leave only .tmp orphans, which never
# match the reader's page-*.json glob; abort() removes them.

import dataclasses
import re as _re
import uuid as _uuid

from pyspark.sql.datasource import DataSourceStreamWriter, DataSourceWriter, WriterCommitMessage


@dataclasses.dataclass
class PageCommit(WriterCommitMessage):
    staged: str
    rows: int


def _encode_page(rows: list, fields: list[str]) -> dict:
    column_info = [{"Name": f, "Type": {"ScalarType": "VARCHAR"}} for f in fields]
    out_rows = []
    for row in rows:
        data = []
        for f in fields:
            v = row[f]
            # nil ScalarValue → decoded as "NULL" (helpers.go:5-10)
            data.append({} if v is None else {"ScalarValue": str(v)})
        out_rows.append({"Data": data})
    return {"ColumnInfo": column_info, "Rows": out_rows}


class TimestreamLikeWriter(DataSourceWriter):
    """df.write.format('timestream_like').option('path', dir) —
    one wire-shape page per task, staged + driver-committed."""

    def __init__(self, path: str, fields: list[str], overwrite: bool) -> None:
        if not path:
            raise ValueError("timestream_like writer requires option 'path'")
        self.path = path
        self.fields = fields
        self.overwrite = overwrite

    def write(self, iterator) -> PageCommit:
        os.makedirs(self.path, exist_ok=True)
        rows = list(iterator)
        staged = os.path.join(self.path, f"stage-{_uuid.uuid4().hex}.json.tmp")
        with open(staged, "w") as fh:
            json.dump(_encode_page(rows, self.fields), fh, sort_keys=True)
        return PageCommit(staged=staged, rows=len(rows))

    # batch pages only — stream pages are page-bNNNNN-MMMMM.json and
    # belong to their batchId, never to this writer
    # 5+ digits: %05d pads small indices but page 100000 widens to 6
    # digits, which must still parse or the next-index scan would
    # stick at 100000 and collide forever
    _BATCH_PAGE_RE = _re.compile(r"page-(\d{5,})\.json$")

    def _batch_pages(self) -> list[tuple[int, str]]:
        out = []
        for p in glob.glob(os.path.join(self.path, "page-*.json")):
            m = self._BATCH_PAGE_RE.search(p)
            if m:
                out.append((int(m.group(1)), p))
        return out

    def _finalize(self, messages) -> None:
        os.makedirs(self.path, exist_ok=True)
        # next index = max existing batch-page number + 1: counting
        # files instead would re-issue a gapped number (crashed
        # commit, manual deletion) and clobber a live page
        nxt = max((n for n, _ in self._batch_pages()), default=-1) + 1
        for i, msg in enumerate(messages):
            final = os.path.join(self.path, f"page-{nxt + i:05d}.json")
            # exclusive claim: hard-link + unlink raises FileExistsError
            # if the target unexpectedly exists instead of silently
            # overwriting someone else's page
            os.link(msg.staged, final)
            os.unlink(msg.staged)

    def commit(self, messages) -> None:
        if self.overwrite:
            for _, p in self._batch_pages():
                os.remove(p)
        self._finalize(messages)

    def abort(self, messages) -> None:
        for msg in messages:
            if msg is not None and os.path.exists(msg.staged):
                os.remove(msg.staged)


class TimestreamLikeStreamWriter(DataSourceStreamWriter):
    """writeStream.format('timestream_like') — same staged-page
    protocol; commit(batchId) names pages page-b<batch>-NNN.json so
    replayed batches overwrite their own output (idempotent sink)."""

    def __init__(self, path: str, fields: list[str]) -> None:
        if not path:
            raise ValueError("timestream_like stream writer requires option 'path'")
        self.path = path
        self.fields = fields

    def write(self, iterator) -> PageCommit:
        os.makedirs(self.path, exist_ok=True)
        rows = list(iterator)
        staged = os.path.join(self.path, f"stage-{_uuid.uuid4().hex}.json.tmp")
        with open(staged, "w") as fh:
            json.dump(_encode_page(rows, self.fields), fh, sort_keys=True)
        return PageCommit(staged=staged, rows=len(rows))

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 — API name
        for p in glob.glob(os.path.join(self.path, f"page-b{batchId:05d}-*.json")):
            os.remove(p)  # idempotent replay: a batch owns its pages
        for i, msg in enumerate(messages):
            final = os.path.join(self.path, f"page-b{batchId:05d}-{i:05d}.json")
            os.replace(msg.staged, final)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803 — API name
        for msg in messages:
            if msg is not None and os.path.exists(msg.staged):
                os.remove(msg.staged)
