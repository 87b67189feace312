"""Timestream-like connector tests: wire-shape pages through the
Python DataSource, exercising all four recursive type constructors
(helpers/helpers.go:5-63)."""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from timestream_travel_spark.sources.timestream_like import (
    MAX_PARTITION_BYTES,
    OPEN_COST_BYTES,
    TimestreamLikeDataSource,
    _decode_pages,
    decode_datum,
    pack_pages,
    process_row,
)


def _scalar(v):
    return {"ScalarValue": None if v is None else str(v)}


def _write_pages(tmp_path, n_pages=3, rows_per_page=40):
    """Fake paginated query result in the Timestream wire shape:
    scalar time/measure columns + an array column + a nested row +
    a timeseries column."""
    column_info = [
        {"Name": "time", "Type": {"ScalarType": "TIMESTAMP"}},
        {"Name": "measure_name", "Type": {"ScalarType": "VARCHAR"}},
        {"Name": "value", "Type": {"ScalarType": "DOUBLE"}},
        {"Name": "tags", "Type": {"ArrayColumnInfo": {"Type": {"ScalarType": "VARCHAR"}}}},
        {
            "Name": "dims",
            "Type": {
                "RowColumnInfo": [
                    {"Name": "region", "Type": {"ScalarType": "VARCHAR"}},
                    {"Name": "host", "Type": {"ScalarType": "VARCHAR"}},
                ]
            },
        },
        {
            "Name": "series",
            "Type": {"TimeSeriesMeasureValueColumnInfo": {"Type": {"ScalarType": "DOUBLE"}}},
        },
    ]
    src = tmp_path / "pages"
    src.mkdir()
    rid = 0
    for p in range(n_pages):
        rows = []
        for _ in range(rows_per_page):
            rows.append(
                {
                    "Data": [
                        _scalar(f"2024-01-{(rid % 28) + 1:02d} 00:00:{rid % 60:02d}"),
                        _scalar(["cpu", "mem", None][rid % 3]),  # NULL measure every 3rd
                        _scalar(round(rid * 1.5, 2)),
                        {"ArrayValue": [_scalar(f"t{rid}"), _scalar(None)]},
                        {"RowValue": {"Data": [_scalar(f"r{rid % 4}"), _scalar(f"h{rid % 7}")]}},
                        {
                            "TimeSeriesValue": [
                                {"Time": f"2024-01-01 00:00:{rid % 60:02d}", "Value": _scalar(1.0 + rid)},
                                {"Time": f"2024-01-01 00:01:{rid % 60:02d}", "Value": _scalar(2.0 + rid)},
                            ]
                        },
                    ]
                }
            )
            rid += 1
        (src / f"page-{p:03d}.json").write_text(
            json.dumps({"ColumnInfo": column_info, "Rows": rows})
        )
    return str(src), rid


def test_decoder_units():
    # scalar NULL -> "NULL" (helpers.go:5-10)
    assert decode_datum({"ScalarValue": None}, {"ScalarType": "DOUBLE"}) == "NULL"
    assert decode_datum({"ScalarValue": "7"}, {"ScalarType": "BIGINT"}) == "7"
    # timeseries -> time-keyed map (helpers.go:12-25)
    ts = decode_datum(
        {"TimeSeriesValue": [{"Time": "t1", "Value": {"ScalarValue": "5"}}]},
        {"TimeSeriesMeasureValueColumnInfo": {"Type": {"ScalarType": "DOUBLE"}}},
    )
    assert ts == {"t1": "5"}
    # nested: array of rows (helpers.go:32-38 recursion)
    arr = decode_datum(
        {"ArrayValue": [{"RowValue": {"Data": [{"ScalarValue": "x"}]}}]},
        {"ArrayColumnInfo": {"Type": {"RowColumnInfo": [{"Name": "a", "Type": {"ScalarType": "VARCHAR"}}]}}},
    )
    assert arr == [{"a": "x"}]


def test_connector_reads_pages(spark, tmp_path):
    src, total = _write_pages(tmp_path)
    spark.dataSource.register(TimestreamLikeDataSource)
    df = spark.read.format("timestream_like").option("path", src).load()
    assert df.columns == ["time", "measure_name", "value", "tags", "dims", "series"]
    rows = df.collect()
    assert len(rows) == total
    # three small pages pack into one read partition, in page order
    assert df.rdd.getNumPartitions() == 1
    assert [r["value"] for r in rows] == [str(round(i * 1.5, 2)) for i in range(total)]
    # faithful NULL rendering survives the connector
    assert df.filter(F.col("measure_name") == "NULL").count() == total // 3
    # nested columns arrive as deterministic JSON
    sample = json.loads(rows[0]["dims"])
    assert set(sample) == {"region", "host"}
    series = json.loads(rows[0]["series"])
    assert len(series) == 2 and all(isinstance(v, str) for v in series.values())
    tags = json.loads(rows[0]["tags"])
    assert tags[1] == "NULL"


def test_connector_feeds_backup_pipeline(spark, tmp_path):
    """The reference's full shape: read Timestream-like pages →
    export with the backup pipeline (partition discovery on
    measure_name, time window on time)."""
    from timestream_travel_spark.pipeline.backup import BackupConfig, backup

    src, _ = _write_pages(tmp_path)
    spark.dataSource.register(TimestreamLikeDataSource)
    df = (
        spark.read.format("timestream_like").option("path", src).load()
        .withColumn("time", F.to_timestamp("time"))
        .filter(F.col("measure_name") != "NULL")
    )
    manifest = backup(
        spark,
        df,
        BackupConfig(
            dest=str(tmp_path / "ts_backup"),
            partition_col="measure_name",
            ts_col="time",
            time_from="2024-01-01 00:00:00",
            time_to="2024-02-01 00:00:00",
            tiebreak_col="value",
        ),
    ).collect()
    assert {r["partition"] for r in manifest} == {"cpu", "mem"}
    assert sum(r["row_count"] for r in manifest) == df.count()


def test_connector_missing_path_errors(spark):
    spark.dataSource.register(TimestreamLikeDataSource)
    with pytest.raises(Exception):
        spark.read.format("timestream_like").load().collect()


def test_connector_tolerates_page_schema_drift(spark, tmp_path):
    """Dynamic-schema APIs can return heterogeneous pages: a later
    page missing a first-page column must degrade that column to
    "NULL" (helpers.go ProcessRowType is per-page), and an extra
    column must be dropped — never a KeyError that kills the scan."""
    src = tmp_path / "pages"
    src.mkdir()
    ci_full = [
        {"Name": "time", "Type": {"ScalarType": "TIMESTAMP"}},
        {"Name": "value", "Type": {"ScalarType": "DOUBLE"}},
    ]
    ci_drifted = [  # 'value' gone, unexpected 'extra' present
        {"Name": "time", "Type": {"ScalarType": "TIMESTAMP"}},
        {"Name": "extra", "Type": {"ScalarType": "VARCHAR"}},
    ]
    (src / "page-000.json").write_text(json.dumps({
        "ColumnInfo": ci_full,
        "Rows": [{"Data": [_scalar("2024-01-01 00:00:00"), _scalar(1.5)]}],
    }))
    (src / "page-001.json").write_text(json.dumps({
        "ColumnInfo": ci_drifted,
        "Rows": [{"Data": [_scalar("2024-01-02 00:00:00"), _scalar("surprise")]}],
    }))
    spark.dataSource.register(TimestreamLikeDataSource)
    df = spark.read.format("timestream_like").option("path", src).load()
    assert df.columns == ["time", "value"]
    rows = {r["time"]: r["value"] for r in df.collect()}
    assert rows["2024-01-01 00:00:00"] == "1.5"
    assert rows["2024-01-02 00:00:00"] == "NULL"  # missing column degraded


def test_connector_stream_matches_batch(spark, tmp_path):
    """readStream over the page directory equals the batch read —
    and a page appended after the first run is picked up by a second
    run from the same checkpoint (the live-tail contract). Parquet
    sink: the memory sink cannot recover from a checkpoint."""
    src, total = _write_pages(tmp_path, n_pages=3, rows_per_page=10)
    spark.dataSource.register(TimestreamLikeDataSource)

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("timestream_like")
            .option("path", src)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got1 = spark.read.parquet(out).count()
    batch1 = (
        spark.read.format("timestream_like").option("path", src).load().count()
    )
    assert got1 == batch1 == total

    # append a late page; the next run from the same checkpoint
    # reads only the delta
    import shutil

    shutil.copy(f"{src}/page-000.json", f"{src}/page-900.json")
    run_once()
    assert spark.read.parquet(out).count() == total + 10


MiB = 1024 * 1024


def _sized_pages(tmp_path, sizes):
    """Sparse page files of the given byte sizes (content is never
    parsed): large sizes cost no disk."""
    paths = []
    for i, n in enumerate(sizes):
        path = tmp_path / f"page-{i:05d}.json"
        with open(path, "wb") as fh:
            fh.truncate(n)
        paths.append(str(path))
    return paths


def _cost(page):
    return os.path.getsize(page) + OPEN_COST_BYTES


def test_pack_pages_runs_are_contiguous_and_within_budget(tmp_path):
    rng = random.Random(7)
    pages = _sized_pages(tmp_path, [rng.randint(0, 60 * MiB) for _ in range(60)])
    runs = pack_pages(pages)
    # concatenated runs are the page list itself: contiguous, in order
    assert [p for run in runs for p in run] == pages
    for i, run in enumerate(runs):
        assert sum(map(_cost, run)) <= MAX_PARTITION_BYTES
        if i + 1 < len(runs):  # a run closes only when the next page would not fit
            assert sum(map(_cost, run)) + _cost(runs[i + 1][0]) > MAX_PARTITION_BYTES


def test_pack_pages_open_cost_caps_small_pages(tmp_path):
    # every page costs at least the 4 MiB open cost, so at most 31
    # one-byte pages fit a 128 MiB run: 32 would be 128 MiB + 32 bytes
    runs = pack_pages(_sized_pages(tmp_path, [1] * 40))
    assert [len(r) for r in runs] == [31, 9]


def test_pack_pages_oversized_page_runs_alone(tmp_path):
    pages = _sized_pages(tmp_path, [1024, 1024, 200 * MiB, 1024, 1024])
    assert pack_pages(pages) == [pages[:2], [pages[2]], pages[3:]]
    assert pack_pages([]) == []


def test_empty_page_does_not_stop_a_run(tmp_path):
    column_info = [{"Name": "v", "Type": {"ScalarType": "VARCHAR"}}]
    pages = []
    for i, rows in enumerate([["a", "b"], [], ["c"]]):
        path = tmp_path / f"page-{i:05d}.json"
        path.write_text(json.dumps({
            "ColumnInfo": column_info,
            "Rows": [{"Data": [_scalar(v)]} for v in rows],
        }))
        pages.append(str(path))
    runs = pack_pages(pages)
    assert runs == [pages]
    assert list(_decode_pages(runs[0], ["v"])) == [("a",), ("b",), ("c",)]


def test_connector_reads_utf8_pages(spark, tmp_path):
    """Pages are UTF-8 JSON whatever the reading process's locale: a
    non-ASCII ScalarValue written as raw UTF-8 bytes reads back
    unchanged, through Spark and under an ASCII-only locale."""
    text = "Zürich – 東京 ✓"
    src = tmp_path / "pages"
    src.mkdir()
    (src / "page-00000.json").write_bytes(json.dumps({
        "ColumnInfo": [{"Name": "city", "Type": {"ScalarType": "VARCHAR"}}],
        "Rows": [{"Data": [_scalar(text)]}],
    }, ensure_ascii=False).encode("utf-8"))
    spark.dataSource.register(TimestreamLikeDataSource)
    df = spark.read.format("timestream_like").option("path", str(src)).load()
    assert [r["city"] for r in df.collect()] == [text]

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, LC_ALL="C", PYTHONUTF8="0", PYTHONCOERCECLOCALE="0", PYTHONPATH=root)
    out = subprocess.run(
        [sys.executable, "-c",
         "import json, sys\n"
         "from timestream_travel_spark.sources.timestream_like import _decode_pages\n"
         "print(json.dumps(list(_decode_pages([sys.argv[1]], ['city']))))",
         str(src / "page-00000.json")],
        env=env, capture_output=True, text=True, check=True,
    )
    assert json.loads(out.stdout) == [[text]]
