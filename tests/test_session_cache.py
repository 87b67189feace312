"""tables.session_cached: one entry per (builder, sf_dir), rebuilt when
the session or the fixture changes.

The unit tests are Spark-free: a stub carries only
`sparkContext.applicationId`, and the fixture dir holds placeholder
files (the stamp reads stat() only)."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq

from timestream_travel_spark.tables import session_cached


def _session(app: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


def _counting_builder():
    calls = []

    @session_cached
    def build(spark, sf_dir):
        calls.append((spark.sparkContext.applicationId, sf_dir))
        return object()

    return build, calls


def _fixture(path, **tables):
    path.mkdir(exist_ok=True)
    for name, body in tables.items():
        (path / f"{name}.parquet").write_bytes(body)
    return str(path)


def test_same_session_and_fixture_builds_once(tmp_path):
    build, calls = _counting_builder()
    sf = _fixture(tmp_path / "sf", orders=b"a", events=b"bb")
    s = _session("app-1")
    first = build(s, sf)
    assert build(s, sf) is first
    assert build(_session("app-1"), sf) is first  # keyed on the id, not the object
    assert len(calls) == 1


def test_new_application_id_rebuilds(tmp_path):
    build, calls = _counting_builder()
    sf = _fixture(tmp_path / "sf", orders=b"a")
    first = build(_session("app-1"), sf)
    second = build(_session("app-2"), sf)
    assert second is not first
    assert calls == [("app-1", sf), ("app-2", sf)]
    # the new session's entry replaced the old one: going back rebuilds
    assert build(_session("app-1"), sf) is not first
    assert len(calls) == 3


def test_rewritten_fixture_rebuilds(tmp_path):
    build, calls = _counting_builder()
    sf = _fixture(tmp_path / "sf", orders=b"a", events=b"bb")
    s = _session("app-1")
    first = build(s, sf)
    # different size
    _fixture(tmp_path / "sf", orders=b"abc")
    second = build(s, sf)
    assert second is not first
    assert build(s, sf) is second
    # same size, new mtime
    path = os.path.join(sf, "events.parquet")
    st = os.stat(path)
    (tmp_path / "sf" / "events.parquet").write_bytes(b"cc")
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    third = build(s, sf)
    assert third is not second
    # a table appearing changes the stamp too
    _fixture(tmp_path / "sf", nation=b"n")
    assert build(s, sf) is not third
    assert len(calls) == 4


def test_files_outside_tables_do_not_rebuild(tmp_path):
    build, calls = _counting_builder()
    sf = _fixture(tmp_path / "sf", orders=b"a")
    s = _session("app-1")
    first = build(s, sf)
    (tmp_path / "sf" / "notes.txt").write_text("unrelated")
    assert build(s, sf) is first
    assert len(calls) == 1


def test_sf_dirs_and_builders_never_share_an_entry(tmp_path):
    build_a, calls_a = _counting_builder()
    build_b, calls_b = _counting_builder()
    sf1 = _fixture(tmp_path / "sf1", orders=b"a")
    sf2 = _fixture(tmp_path / "sf2", orders=b"a")
    s = _session("app-1")
    a1, a2 = build_a(s, sf1), build_a(s, sf2)
    b1 = build_b(s, sf1)
    assert len({id(a1), id(a2), id(b1)}) == 3
    assert build_a(s, sf1) is a1 and build_a(s, sf2) is a2 and build_b(s, sf1) is b1
    assert calls_a == [("app-1", sf1), ("app-1", sf2)]
    assert calls_b == [("app-1", sf1)]


def _write_orders(path, rows):
    pq.write_table(
        pa.table(
            {
                "o_orderpriority": [r[0] for r in rows],
                "o_orderstatus": [r[1] for r in rows],
            }
        ),
        str(path / "orders.parquet"),
    )


def test_order_cells_follow_a_rewritten_fixture(spark, tmp_path):
    """A fixture rewritten in place within one session is never served
    from the cache built over its old contents."""
    from timestream_travel_spark.operators.analytics24 import _order_cells

    sf = str(tmp_path)
    _write_orders(tmp_path, [("1-URGENT", "O"), ("1-URGENT", "O"), ("2-HIGH", "F")])
    before = sorted(_order_cells(spark, sf))
    assert before == [("1-URGENT", "O", 2), ("2-HIGH", "F", 1)]
    _write_orders(tmp_path, [("3-MEDIUM", "P")] * 3 + [("5-LOW", "F")])
    after = sorted(_order_cells(spark, sf))
    assert after == [("3-MEDIUM", "P", 3), ("5-LOW", "F", 1)]
