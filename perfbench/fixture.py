"""Deterministic sf0.1-shaped fixture: the ten tables the query
registry reads (TPC-H-ish star schema, the `events` time series, the
`documents` text corpus and the `embeddings` vectors), with the row
counts, value domains and parquet layout of the sf0.1 test fixture
(one snappy row group per file, timestamp[us]).

The benchmark never varies this data: `--seed` picks the query order
and the backup window, not the tables, so one fixed dataset and its
DuckDB oracles serve every run. The files are written once per
checkout under the benchmark's work directory and reused.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
SF = 0.1
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

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENTS_FROM = datetime(2024, 1, 1)
EVENT_DAYS = 30
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()


def _us(d: datetime) -> int:
    return int((d - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng: np.random.Generator, lo: datetime, hi: datetime, n: int) -> np.ndarray:
    """n midnight timestamps (epoch us) uniform over [lo, hi]."""
    day = 86_400 * 1_000_000
    return _us(lo) + rng.integers(0, (_us(hi) - _us(lo)) // day + 1, n) * day


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def build_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = lambda base: int(base * SF)  # noqa: E731 — row count at this scale factor
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n(150_000)
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
            ),
        }
    )
    ns = n(10_000)
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _cents(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n(200_000)
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(adjectives, npart), rng.choice(nouns, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart
            ),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
        }
    )
    no = n(1_500_000)
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _cents(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _ts(_days(rng, datetime(1995, 1, 1), datetime(2001, 8, 1), no)),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
            ),
        }
    )
    nl = n(6_000_000)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl),
            "l_partkey": rng.integers(0, npart, nl),
            "l_suppkey": rng.integers(0, ns, nl),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _ts(_days(rng, datetime(1995, 1, 2), datetime(2001, 11, 4), nl)),
        }
    )
    out["events"] = build_events(rng, n(1_000_000))
    out["documents"] = build_documents(rng, n(50_000))
    out["embeddings"] = build_embeddings(rng, n(20_000))
    return out


def build_events(rng: np.random.Generator, ne: int) -> pa.Table:
    """Unique, ascending microsecond timestamps over EVENT_DAYS days
    (no timestamp falls on a whole second, so second-granular window
    bounds never tie with a row), event_id in time order, and an
    exponential value in cents."""
    span = EVENT_DAYS * 86_400 * 1_000_000
    offsets = np.sort(rng.choice(span // 1_000_000, ne, replace=False)) * 1_000_000
    offsets += rng.integers(1, 1_000_000, ne)
    return pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": _ts(_us(EVENTS_FROM) + offsets),
            "user_id": rng.integers(0, 1500, ne),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )


def build_documents(rng: np.random.Generator, nd: int) -> pa.Table:
    """Texts of 10-100 vocabulary words; 5% are near duplicates (an
    earlier text plus one word) and a handful are exact copies."""
    texts: list[str] = []
    for i in range(nd):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    langs = rng.choice(["en", "es", "zh", "de", "fr"], nd, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def build_embeddings(rng: np.random.Generator, nv: int, dim: int = 64) -> pa.Table:
    """Unit vectors in 10 labels; 5% are small perturbations of an
    earlier vector with the same label (the near-duplicate pairs)."""
    vecs = rng.normal(size=(nv, dim))
    labels = rng.integers(0, 10, nv).astype(np.int32)
    for i in range(1, nv):
        if rng.random() < 0.05:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(scale=0.05, size=dim)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, nv * dim + 1, dim), pa.int32()), flat
            ),
            "label": labels,
        }
    )


def ensure_fixture(work_dir: str) -> str:
    """Path of the fixture directory, generating it on first use.
    Writes into a temporary directory and renames it, so an
    interrupted generation never leaves a partial fixture behind."""
    final = os.path.join(work_dir, f"sf{SF}")
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = build_tables(np.random.default_rng(FIXTURE_SEED))
    for name in TABLES:
        pq.write_table(
            tables[name],
            os.path.join(tmp, f"{name}.parquet"),
            compression="snappy",
            row_group_size=1 << 30,
        )
    os.rename(tmp, final)
    return final
