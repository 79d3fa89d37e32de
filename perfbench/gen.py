"""Seeded input generation for the benchmark's batch workloads.

Every table has the column shape of the program's parquet corpus
(`graft.Tables`), so `SparkEntry` queries and their DuckDB oracles run on
it unchanged. Values are drawn from numpy's PCG64 seeded by `--seed`:
the same seed writes byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
WORDS = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split())
LANGS = np.array(["en"] * 6 + ["de", "es", "fr", "zh"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _write(table: pa.Table, path: str) -> None:
    # one row group per file: the corpus files are single-split too
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def events(rng, n: int, days: int, users: int) -> pa.Table:
    """`n` events over `days` days, sorted by time, five uniform types."""
    offs = np.sort(rng.integers(0, days * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024 + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.random(n) * 500.0, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents over a 31-word vocabulary; ~1% are exact
    copies of an earlier document so the dedup stages have work."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(WORDS[rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    """Unit-norm gaussian vectors with ten labels."""
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def tpch(rng, n_orders: int, n_cust: int) -> dict:
    """customer / orders / lineitem with TPC-H-like keys and domains."""
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.random(n_cust) * 10999.0 - 999.0, 2)),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)]),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(1000.0 + rng.random(n_orders) * 499000.0, 2)),
        "o_orderdate": pa.array(EPOCH_1995 + (rng.integers(0, 2404, n_orders) * DAY_US)
                                .astype("timedelta64[us]")),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_orders)]),
    })
    n_li = n_orders * 4
    n_part, n_supp = max(20, n_orders // 7), max(10, n_orders // 150)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * (900.0 + rng.random(n_li) * 1200.0), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(EPOCH_1995 + (rng.integers(1, 2499, n_li) * DAY_US)
                               .astype("timedelta64[us]")),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def batch_tables(out: str, seed: int, scale: float) -> None:
    """The tables the pinned batch queries read, at `scale` x sf0.01 rows."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    s = lambda n: max(10, int(n * scale))
    _write(events(rng, s(10_000), 30, s(150)), f"{out}/events.parquet")
    _write(documents(rng, s(500)), f"{out}/documents.parquet")
    _write(embeddings(rng, s(500)), f"{out}/embeddings.parquet")
    for name, t in tpch(rng, s(15_000), s(1_500)).items():
        _write(t, f"{out}/{name}.parquet")


def backfill_events(out: str, seed: int, rows: int) -> None:
    """One `events.parquet` for the file-stream backfill: `rows` rows over
    7 days, 1500 users (the sf0.1 user count). Fewer days than sf0.1's 30
    mean fewer stored windows and a cheaper serving refresh, which keeps
    a run within the benchmark's schedule."""
    os.makedirs(out, exist_ok=True)
    _write(events(np.random.default_rng(seed), rows, 7, 1500), f"{out}/events.parquet")
