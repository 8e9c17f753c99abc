"""Seeded generator for the benchmark's inputs.

Writes the ten warehouse tables the engine reads (the schemas and value
domains of FIXTURES.md: a TPC-H-like star schema, an ``events`` stream table,
a ``documents`` corpus and an ``embeddings`` table) as single-row-group
parquet files, plus the event files the stream workload drops. Every value is
drawn from ``numpy.random.default_rng(seed)``, so the same seed writes the
same bytes and the engine receives nothing the benchmark did not generate.

What a seed varies: every key column draw (foreign keys, users, event
times), every measure, the document texts and which documents are planted
near-duplicates, the embedding cluster centres, and the stream's per-file
user mix. Row counts are fixed by ``scale`` alone.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale 1.0 (the TPC-H "sf1" shape of the fixtures); the
# benchmark writes scale 0.01.
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
DOCS = 500
VECS = 500
EMB_DIM = 64
USER_SHARE = 0.015  # distinct users per event: 150 users for 10k events

TABLE_FILES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
NEAR_DUP_SHARE = 0.05

EVENT_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000
ORDER_EPOCH = np.datetime64("1995-01-01", "us")
SHIP_EPOCH = np.datetime64("1995-01-02", "us")
DAY_US = 86_400 * 1_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, as the fixtures store them."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, epoch, span_days: int, n: int) -> np.ndarray:
    return epoch + rng.integers(0, span_days, n) * np.timedelta64(DAY_US, "us")


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def event_batch(rng, first_id: int, n: int, n_users: int, t0_us: int, span_us: int) -> pa.Table:
    """``n`` events with ids ``first_id..first_id+n-1``, strictly increasing
    distinct microsecond times in ``[t0_us, t0_us + span_us)`` (no (user, ts)
    ties, so every latest-image order is total) and users drawn uniformly."""
    offs = np.sort(rng.choice(span_us, size=n, replace=False))
    ts = EVENT_EPOCH + (t0_us + offs).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(
                np.maximum(np.round(rng.lognormal(3.5, 1.0, n), 2), 0.01)
            ),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng) -> pa.Table:
    texts: list[str] = []
    n_dup = int(DOCS * NEAR_DUP_SHARE)
    dup_at = set(rng.choice(np.arange(1, DOCS), n_dup, replace=False).tolist())
    for i in range(DOCS):
        if i in dup_at:
            # A planted near-duplicate: an earlier document plus "dup" tokens.
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(VOCAB, int(rng.integers(8, 90)))
            texts.append(" ".join(words.tolist()))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(DOCS), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, DOCS, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(DOCS)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng) -> pa.Table:
    centres = rng.normal(0.0, 0.1, (10, EMB_DIM))
    labels = rng.integers(0, 10, VECS)
    vecs = (centres[labels] + rng.normal(0.0, 0.05, (VECS, EMB_DIM))).astype(
        np.float32
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_warehouse(out_dir: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; return each table's row count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(r * scale)) for t, r in BASE_ROWS.items()}
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    npart = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, len(PART_ADJ), npart),
                        rng.integers(0, len(PART_NOUN), npart),
                    )
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": pa.array(rng.choice(PART_TYPES, npart)),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, npart) / 10.0, 2)),
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, no)),
            "o_orderdate": pa.array(_days(rng, ORDER_EPOCH, 2405, no), pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
        }
    )
    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105000, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
            "l_shipdate": pa.array(_days(rng, SHIP_EPOCH, 2499, nl), pa.timestamp("us")),
        }
    )
    ne = n["events"]
    tables["events"] = event_batch(
        rng, 0, ne, max(1, round(ne * USER_SHARE)), 0, EVENT_SPAN_US
    )
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    for name, table in tables.items():
        _write(out_dir, name, table)
    return {name: t.num_rows for name, t in tables.items()}


def table_rows(out_dir: str) -> dict[str, int]:
    """Row count per written file name (``lineitem.parquet`` -> rows)."""
    return {
        f"{t}.parquet": pq.ParquetFile(os.path.join(out_dir, f"{t}.parquet")).metadata.num_rows
        for t in TABLE_FILES
    }


class EventFiles:
    """The stream workload's input: file ``i`` holds ``events_per_file``
    events with ids and event times shifted by ``i`` (each file covers its
    own slice of event time, so file order is event-time order), over
    ``n_users`` users. File contents depend only on (seed, i)."""

    def __init__(self, seed: int, events_per_file: int, n_users: int):
        self.seed = seed
        self.events_per_file = events_per_file
        self.n_users = n_users
        self.span_us = 3_600 * 1_000_000  # one hour of event time per file

    def table(self, i: int) -> pa.Table:
        rng = np.random.default_rng([self.seed, i])
        return event_batch(
            rng,
            i * self.events_per_file,
            self.events_per_file,
            self.n_users,
            i * self.span_us,
            self.span_us,
        )

    def write(self, i: int, drop_dir: str, staging_dir: str) -> str:
        """Write file ``i`` to ``staging_dir`` and rename it into
        ``drop_dir``, so the stream's file listing never sees a partial
        file. Returns the final path."""
        name = f"events-{i:06d}.parquet"
        tmp = os.path.join(staging_dir, name)
        pq.write_table(self.table(i), tmp)
        final = os.path.join(drop_dir, name)
        os.rename(tmp, final)
        return final
