"""Round-5 tenth-wave: persisted PQ index (+ streaming maintenance)
and the Fano-factor burstiness diagnostic."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from timestream_travel_spark.tables import load_table


def test_pq_index_roundtrip_matches_direct_query(spark, sf_dir, tmp_path):
    """build_pq_index → pq_topk_from_index returns EXACTLY the rows
    of q_pq_ann_topk (same memoized codebooks, frozen in the index)."""
    from timestream_travel_spark.operators.similarity6 import (
        build_pq_index,
        pq_topk_from_index,
        q_pq_ann_topk,
    )

    idx = str(tmp_path / "pq_idx")
    build_pq_index(spark, sf_dir, idx)
    direct = [(r.vec_id, r.l2sq) for r in q_pq_ann_topk(spark, sf_dir).collect()]
    from_index = [
        (r.vec_id, r.l2sq) for r in pq_topk_from_index(spark, sf_dir, idx).collect()
    ]
    assert direct == from_index
    # the stored index is M small ints per vector
    codes = spark.read.parquet(f"{idx}/codes")
    n = load_table(spark, sf_dir, "embeddings").count()
    assert codes.count() == n
    assert codes.select(F.min(F.size("codes")), F.max(F.size("codes"))).collect()[
        0
    ] == (8, 8)


def test_streaming_pq_maintenance_matches_batch_encode(spark, sf_dir, tmp_path):
    """Codes appended per micro-batch against the frozen codebook
    equal the batch encode exactly (argmin is deterministic)."""
    from timestream_travel_spark.operators.similarity6 import (
        encode_pq_codes,
        pq_codebooks,
    )
    from timestream_travel_spark.streaming.index_maintain import maintain_pq_index

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_codebooks(spark, sf_dir)

    src = str(tmp_path / "emb_src")
    emb.withColumn("bucket", (F.col("vec_id") % 3).cast("int")).write.partitionBy(
        "bucket"
    ).mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/bucket=*")
    )
    idx = str(tmp_path / "pq_stream_idx")
    q = maintain_pq_index(stream, idx, str(tmp_path / "ckpt"), books)
    q.awaitTermination(180)

    streamed = {
        r.vec_id: list(r.codes)
        for r in spark.read.parquet(f"{idx}/codes").collect()
    }
    batch = {
        r.vec_id: list(r.codes) for r in encode_pq_codes(emb, books).collect()
    }
    assert streamed == batch


def test_fano_poisson_near_one_and_bursty_above(spark, tmp_path):
    """A deterministic near-uniform arrival stream has Fano << 1
    (regular); packing the same events into few hours makes it
    bursty (Fano >> 1)."""
    import datetime

    from timestream_travel_spark.operators.timeseries12 import q_fano_burstiness

    sf = str(tmp_path / "fano_sf")
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    # 'regular': exactly 3 events every hour for 200 hours
    eid = 0
    for h in range(200):
        for j in range(3):
            rows.append(
                (eid, t0 + datetime.timedelta(hours=h, minutes=j), 1, "regular", 1.0, "{}")
            )
            eid += 1
    # 'bursty': same 600 events all inside 4 of the 200 hours
    for j in range(600):
        h = [0, 50, 100, 199][j % 4]
        rows.append(
            (10000 + j, t0 + datetime.timedelta(hours=h, minutes=(j // 4) % 60), 1, "bursty", 1.0, "{}")
        )
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string",
    ).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    out = {r.event_type: r for r in q_fano_burstiness(spark, sf).collect()}
    assert out["regular"].n_events == 600 and out["bursty"].n_events == 600
    # constant-rate: variance 0 → fano 0
    assert math.isclose(out["regular"].fano, 0.0, abs_tol=1e-12)
    # bursty: mean 3/hour, mass in 4 cells of 150 → fano >> 1
    assert out["bursty"].fano > 50
    assert out["regular"].n_hours == out["bursty"].n_hours == 200


def test_event_pattern_match_counts_are_consistent(spark, sf_dir):
    """Pattern counts: every pattern sees the same session universe,
    matched ≤ total, and a hand-checked session matches the regex
    semantics (v.*c.*p == ordered subsequence v,c,p)."""
    import re

    from timestream_travel_spark.operators.joins3 import (
        EVENT_PATTERNS,
        q_event_pattern_match,
    )
    from timestream_travel_spark.operators.timeseries import sessionized

    out = {r.pattern_name: r for r in q_event_pattern_match(spark, sf_dir).collect()}
    assert set(out) == {n for n, _ in EVENT_PATTERNS}
    totals = {r.n_sessions for r in out.values()}
    assert len(totals) == 1  # same session universe per pattern
    for r in out.values():
        assert 0 <= r.n_matched <= r.n_sessions
    # python re parity on the reconstructed session strings
    ev = load_table(spark, sf_dir, "events")
    sess = sessionized(ev, "event_type").collect()
    by_session: dict[tuple, list] = {}
    for row in sess:
        by_session.setdefault((row.user_id, row.session_id), []).append(row)
    seqs = [
        "".join(
            e.event_type[0]
            for e in sorted(v, key=lambda e: (e.ts, e.event_id))
        )
        for v in by_session.values()
    ]
    assert len(seqs) == next(iter(totals))
    for name, pat in EVENT_PATTERNS:
        expect = sum(1 for s in seqs if re.search(pat, s))
        assert out[name].n_matched == expect, (name, out[name].n_matched, expect)
