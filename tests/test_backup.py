"""End-to-end backup pipeline tests (SURVEY.md §5.3): file layout,
gzip NDJSON content, faithful NULL rendering, chunk sizes, manifest
consistency, dry-run, window resolution."""

from __future__ import annotations

import glob
import gzip
import json
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from timestream_travel_spark.pipeline.backup import BackupConfig, backup, resolve_window
from timestream_travel_spark.tables import load_table


def test_resolve_window_absolute_and_relative():
    f, t = resolve_window("2024-01-01 00:00:00", "2024-01-02 00:00:00")
    assert (t - f).days == 1
    now = datetime(2024, 6, 1, 12, 0, 0)
    f, t = resolve_window("2h", None, now=now)
    assert t == now and (t - f).total_seconds() == 7200
    f, t = resolve_window("1w", "1d", now=now)
    assert (now - t).days == 1 and (t - f).days == 7
    # defaults: to=now, from=to-1h (cmd/backup.go:139-153)
    f, t = resolve_window(None, None, now=now)
    assert t == now and (t - f).total_seconds() == 3600


def test_resolve_window_compound_durations():
    # go-str2duration grammar (cmd/backup.go:20,134,148): compounds
    # and a seconds unit, e.g. "1h30m", "1d12h", "90s"
    from datetime import timedelta

    from timestream_travel_spark.pipeline.backup import parse_duration

    assert parse_duration("1h30m") == timedelta(hours=1, minutes=30)
    assert parse_duration("1d12h") == timedelta(days=1, hours=12)
    assert parse_duration("90s") == timedelta(seconds=90)
    assert parse_duration("1w2d3h4m5s") == timedelta(weeks=1, days=2, hours=3, minutes=4, seconds=5)
    assert parse_duration("1500ms") == timedelta(milliseconds=1500)
    assert parse_duration("250us") == timedelta(microseconds=250)
    assert parse_duration("999ns") == timedelta(0)  # floors below 1us
    for bad in ("", "h", "1x", "1h30", "1.5h", " 1h", "1h "):
        with pytest.raises(ValueError):
            parse_duration(bad)

    now = datetime(2024, 6, 1, 12, 0, 0)
    f, t = resolve_window("1h30m", None, now=now)
    assert t == now and (t - f).total_seconds() == 5400
    f, t = resolve_window("1d12h", "90s", now=now)
    assert (now - t).total_seconds() == 90 and (t - f).total_seconds() == 36 * 3600


def test_resolve_window_validation():
    with pytest.raises(ValueError):
        resolve_window("2024-01-02 00:00:00", "2024-01-01 00:00:00")
    with pytest.raises(ValueError):
        resolve_window("2024-01-01 00:00:00", "2024-01-01 00:00:00")
    with pytest.raises(ValueError):
        resolve_window("nonsense", None)


def test_backup_end_to_end(spark, sf_dir, tmp_path):
    dest = str(tmp_path / "out")
    ev = load_table(spark, sf_dir, "events")
    cfg = BackupConfig(
        dest=dest,
        time_from="2024-01-01 00:00:00",
        time_to="2024-01-31 00:00:00",
        rows_per_chunk=200,
        tiebreak_col="event_id",
    )
    manifest = backup(spark, ev, cfg).collect()

    # layout: <dest>/__part=<v>/__date=<yyyyMMdd>/part-*.json.gz (A25)
    files = glob.glob(f"{dest}/__part=*/__date=*/part-*.json.gz")
    assert files, "no partitioned gzip output written"

    # decode NDJSON; faithful mode: all values strings, nulls -> "NULL"
    n_rows = 0
    parts = set()
    for fp in files:
        with gzip.open(fp, "rt") as fh:
            lines = [json.loads(line) for line in fh if line.strip()]
        assert len(lines) <= 200, "chunk exceeds rows_per_chunk"
        n_rows += len(lines)
        parts.add(fp.split("__part=")[1].split("/")[0])
        for obj in lines:
            for v in obj.values():
                assert isinstance(v, str), f"faithful mode must render strings, got {type(v)}"

    expected = ev.filter(F.col("ts").between("2024-01-01", "2024-01-31")).count()
    assert n_rows == expected
    assert parts == {r["event_type"] for r in ev.select("event_type").distinct().collect()}

    # manifest totals agree with data (A17, A27)
    assert sum(r["row_count"] for r in manifest) == expected
    for r in manifest:
        assert r["min_ts"] <= r["max_ts"]
        assert r["row_count"] <= 200
        assert r["crc32"] is not None


def test_backup_dry_run_writes_nothing(spark, sf_dir, tmp_path):
    dest = str(tmp_path / "dry")
    ev = load_table(spark, sf_dir, "events")
    cfg = BackupConfig(
        dest=dest, time_from="2024-01-01 00:00:00", time_to="2024-01-31 00:00:00", dry_run=True
    )
    manifest = backup(spark, ev, cfg).collect()
    assert len(manifest) > 0  # counting ran (cmd/backup.go:303-306)
    assert not glob.glob(f"{dest}/**", recursive=False)


def test_backup_clamps_rows_per_chunk(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    cfg = BackupConfig(
        dest=str(tmp_path / "clamp"),
        time_from="2024-01-01 00:00:00",
        time_to="2024-01-31 00:00:00",
        rows_per_chunk=99999,  # clamped to 1000, cmd/backup.go:213-217
        dry_run=True,
    )
    manifest = backup(spark, ev, cfg).collect()
    assert max(r["row_count"] for r in manifest) <= 1000


def test_faithful_null_rendering(spark):
    from timestream_travel_spark.functions.faithful import faithful_projection

    df = spark.createDataFrame(
        [(1, None, 2.5), (None, "x", None)], "a bigint, b string, c double"
    )
    rows = faithful_projection(df).collect()
    assert rows[0]["b"] == "NULL"
    assert rows[1]["a"] == "NULL" and rows[1]["c"] == "NULL"
    assert rows[0]["a"] == "1" and rows[0]["c"] == "2.5"


def test_backup_reference_layout(spark, sf_dir, tmp_path):
    """Byte-level key parity: <db>/<table>/<partition>/<yyyyMMdd>/
    <minIso>_<maxIso>_<crc32hex>.log.gz (cmd/backup.go:311-313)."""
    import gzip as _gzip
    import json as _json
    import re
    import zlib

    from timestream_travel_spark.pipeline.reference_layout import backup_reference_layout

    ev = load_table(spark, sf_dir, "events")
    cfg = BackupConfig(
        dest=str(tmp_path / "ref"),
        time_from="2024-01-01 00:00:00",
        time_to="2024-01-31 00:00:00",
        rows_per_chunk=250,
        tiebreak_col="event_id",
    )
    keys = [r["key"] for r in backup_reference_layout(spark, ev, cfg, database="mydb", table="events").collect()]
    assert keys
    pat = re.compile(
        r"^mydb/events/(?P<part>[^/]+)/(?P<day>\d{8})/"
        r"(?P<lo>\d{8}T\d{6}Z)_(?P<hi>\d{8}T\d{6}Z)_(?P<crc>[0-9a-f]{8})\.log\.gz$"
    )
    total = 0
    for key in keys:
        m = pat.match(key)
        assert m, f"key does not match reference scheme: {key}"
        fpath = str(tmp_path / "ref" / key)
        with open(fpath, "rb") as fh:
            raw = fh.read()
        assert f"{zlib.crc32(raw):08x}" == m.group("crc"), "embedded CRC mismatch"
        with _gzip.open(fpath, "rt") as fh:
            rows = [_json.loads(line) for line in fh if line.strip()]
        assert 0 < len(rows) <= 250
        total += len(rows)
        ts_vals = [r["ts"] for r in rows]
        lo = min(ts_vals).replace("-", "").replace(":", "").replace(" ", "T") + "Z"
        hi = max(ts_vals).replace("-", "").replace(":", "").replace(" ", "T") + "Z"
        assert lo == m.group("lo") and hi == m.group("hi"), "bounds in key != content"
        assert m.group("day") == m.group("lo")[:8]
    assert total == ev.filter(F.col("ts").between("2024-01-01", "2024-01-31")).count()
    # staging fully cleaned up
    assert not (tmp_path / "ref" / "_staging").exists()


def test_reference_layout_unescapes_partition_values(spark, tmp_path):
    """Partition values with chars Spark percent-escapes in dir names
    (space, ':') must appear unescaped in the reference key
    (cmd/backup.go:311-313 uses the raw partition value)."""
    from datetime import datetime

    from timestream_travel_spark.pipeline.reference_layout import backup_reference_layout

    rows = [
        ("web shop:EU", 1, datetime(2024, 1, 2, 10, 0, 0)),
        ("web shop:EU", 2, datetime(2024, 1, 2, 11, 0, 0)),
        ("plain", 3, datetime(2024, 1, 2, 12, 0, 0)),
    ]
    src = spark.createDataFrame(rows, "event_type string, event_id long, ts timestamp")
    cfg = BackupConfig(
        dest=str(tmp_path / "ref"), time_from="2024-01-01 00:00:00",
        time_to="2024-01-03 00:00:00", tiebreak_col="event_id",
    )
    keys = [r["key"] for r in backup_reference_layout(spark, src, cfg, database="db", table="t").collect()]
    parts = {k.split("/")[2] for k in keys}
    assert "web shop:EU" in parts and "plain" in parts
    for k in keys:
        assert "%" not in k.split("/")[2]
        assert (tmp_path / "ref" / k).exists()


def test_reference_layout_key_collision_raises(spark, tmp_path):
    """Two chunks with identical bounds+CRC (identical content) would
    silently overwrite under os.replace — must raise instead."""
    from datetime import datetime

    from timestream_travel_spark.pipeline.reference_layout import backup_reference_layout

    # 4 byte-identical rows, 2 per chunk → two identical staged files
    rows = [("a", 7, datetime(2024, 1, 2, 10, 0, 0))] * 4
    src = spark.createDataFrame(rows, "event_type string, event_id long, ts timestamp")
    cfg = BackupConfig(
        dest=str(tmp_path / "ref"), time_from="2024-01-01 00:00:00",
        time_to="2024-01-03 00:00:00", rows_per_chunk=2, tiebreak_col="event_id",
    )
    with pytest.raises(Exception, match="collision"):
        backup_reference_layout(spark, src, cfg, database="db", table="t")


def test_restore_backup_roundtrip(spark, sf_dir, tmp_path):
    """backup → restore roundtrip: faithful NDJSON rehydrates into
    typed parquet with NULL sentinels mapped back and values equal to
    the source window (cli `restore`)."""
    from timestream_travel_spark.cli import main as cli_main

    dest = str(tmp_path / "bk")
    ev = load_table(spark, sf_dir, "events")
    cfg = BackupConfig(
        dest=dest, time_from="2024-01-01 00:00:00", time_to="2024-01-15 00:00:00",
        rows_per_chunk=500, tiebreak_col="event_id",
    )
    backup(spark, ev, cfg)

    out = str(tmp_path / "restored")
    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    rc = cli_main(["restore", "--backup", dest, "--dest", out, "--schema", schema])
    assert rc == 0
    back = spark.read.parquet(out)
    src = ev.filter(F.col("ts").between("2024-01-01", "2024-01-15")).filter(
        F.col("event_type").isNotNull()
    )
    assert back.count() == src.count()
    assert dict(back.dtypes)["value"] == "double" and dict(back.dtypes)["ts"] == "timestamp"
    # NULL sentinel mapped back: props nulls survive the roundtrip
    assert back.filter(F.col("props").isNull()).count() == src.filter(F.col("props").isNull()).count()
    # spot-check one row end-to-end
    s = src.orderBy("event_id").limit(1).collect()[0]
    b = back.filter(F.col("event_id") == s["event_id"]).collect()[0]
    assert b["user_id"] == s["user_id"] and b["event_type"] == s["event_type"]
    assert abs((b["value"] or 0) - (s["value"] or 0)) < 1e-9


def test_restore_backup_dedup_key(spark, sf_dir, tmp_path):
    """Two exports of the same window appended to one backup: every
    row is there twice. rows_in counts what was read (before dedup),
    rows_out what landed after dedup on the key."""
    from timestream_travel_spark.pipeline.restore import restore_backup

    dest = str(tmp_path / "bk")
    ev = load_table(spark, sf_dir, "events")
    cfg = BackupConfig(
        dest=dest, time_from="2024-01-01 00:00:00", time_to="2024-01-03 00:00:00",
        tiebreak_col="event_id", write_mode="append",
    )
    window = sum(r["row_count"] for r in backup(spark, ev, cfg).collect())
    backup(spark, ev, cfg)
    assert window > 0

    stats = restore_backup(spark, dest, str(tmp_path / "restored"), dedup_key="event_id")
    assert stats == {"rows_in": 2 * window, "rows_out": window}
    back = spark.read.parquet(str(tmp_path / "restored"))
    assert back.select("event_id").distinct().count() == window


def test_backup_write_observation_metrics(spark, sf_dir, tmp_path):
    """The Observation attached to the write job must account exactly
    for the rows/partitions the manifest claims — zero-extra-scan
    write-side accounting."""
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events")
    cfg = BackupConfig(
        dest=str(tmp_path / "obs"), time_from="2024-01-01 00:00:00",
        time_to="2024-01-15 00:00:00", tiebreak_col="event_id",
    )
    obs = Observation("backup_write_test")
    manifest = backup(spark, ev, cfg, observation=obs)
    rows = manifest.agg(F.sum("row_count")).collect()[0][0]
    parts = manifest.select("partition").distinct().count()
    metrics = obs.get
    assert metrics["rows_written"] == rows
    assert metrics["partitions_written"] == parts


def test_reference_layout_filesystem_api_contract(spark, sf_dir, tmp_path):
    """A26 object-store contract: with a non-local dest scheme the
    rename must run through the Hadoop FileSystem API (rename ==
    CopyObject+DeleteObject on S3A), never POSIX os.replace on
    executors. No S3 endpoint exists in this sandbox, so force the
    FileSystem path against LocalFileSystem (file://) — the SAME
    fs.exists/fs.mkdirs/fs.rename call sequence s3a:// would take —
    and assert byte-identical layout semantics to the local path."""
    import re
    import zlib

    from timestream_travel_spark.pipeline.reference_layout import backup_reference_layout

    ev = load_table(spark, sf_dir, "events")
    cfg = BackupConfig(
        dest="file://" + str(tmp_path / "ref"),
        time_from="2024-01-01 00:00:00",
        time_to="2024-01-08 00:00:00",
        rows_per_chunk=300,
        tiebreak_col="event_id",
    )
    keys_df = backup_reference_layout(
        spark, ev, cfg, database="db", table="events", use_filesystem_api=True
    )
    keys = [r["key"] for r in keys_df.collect()]
    assert keys
    pat = re.compile(
        r"^db/events/[^/]+/\d{8}/\d{8}T\d{6}Z_\d{8}T\d{6}Z_[0-9a-f]{8}\.log\.gz$"
    )
    for key in keys:
        assert pat.match(key), key
        fpath = tmp_path / "ref" / key
        assert fpath.exists(), f"FileSystem rename did not land {key}"
        crc = f"{zlib.crc32(fpath.read_bytes()):08x}"
        assert key.endswith(f"{crc}.log.gz"), "embedded CRC mismatch after FS rename"
    # staging + pending-pairs fully cleaned through the FileSystem API
    assert not (tmp_path / "ref" / "_staging").exists()
    assert not (tmp_path / "ref" / "_keys_pending").exists()
    # the persisted manifest matches what was returned
    manifest = {r["key"] for r in spark.read.parquet(str(tmp_path / "ref" / "_keys")).collect()}
    assert manifest == set(keys)


def test_restore_as_of_point_in_time(spark, sf_dir, tmp_path):
    """Point-in-time restore: rows after the cutoff are absent, rows
    at/before are all present, and the scan prunes __date partition
    directories (PartitionFilters), not just rows."""
    from timestream_travel_spark.pipeline.restore import restore_as_of

    dest = str(tmp_path / "bk")
    ev = load_table(spark, sf_dir, "events")
    cfg = BackupConfig(
        dest=dest, time_from="2024-01-01 00:00:00", time_to="2024-01-15 00:00:00",
        rows_per_chunk=500, tiebreak_col="event_id",
    )
    backup(spark, ev, cfg)

    cutoff = "2024-01-07 12:00:00"
    out = str(tmp_path / "asof")
    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    res = restore_as_of(spark, dest, out, cutoff, schema=schema)
    back = spark.read.parquet(out)
    src = (
        ev.filter(F.col("ts").between("2024-01-01", "2024-01-15"))
        .filter(F.col("event_type").isNotNull())
        .filter(F.col("ts") <= cutoff)
    )
    assert res["rows_out"] == src.count() == back.count()
    assert back.filter(F.col("ts") > cutoff).count() == 0

    # the pruned read must push the partition predicate into the scan
    cutoff_day = "20240107"
    pruned = (
        spark.read.option("basePath", dest)
        .json(f"{dest}/__part=*/__date=*/*.json.gz")
        .filter(F.col("__date") <= cutoff_day)
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(__date" in plan or "(__date" in plan.split(
        "PartitionFilters"
    )[1][:80]


def test_cli_query_subcommand(spark, sf_dir, tmp_path, capsys):
    """`query` lists the registry, runs a named query, and writes
    parquet with --dest."""
    from timestream_travel_spark.cli import main as cli_main

    assert cli_main(["query"]) == 0
    listed = capsys.readouterr().out
    assert "q_funnel_conversion  [oracle]" in listed

    dest = str(tmp_path / "funnel_out")
    assert (
        cli_main(
            ["query", "q_funnel_conversion", "--data", sf_dir, "--dest", dest, "--limit", "0"]
        )
        == 0
    )
    row = spark.read.parquet(dest).collect()[0]
    assert row["n_view_users"] >= row["n_purchase_users"]

    assert cli_main(["query", "q_nope", "--data", sf_dir]) == 2
