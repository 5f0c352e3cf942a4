"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its ``seed`` argument: the same seed
gives byte-identical inputs, and the program under test only ever sees the
files these functions write.

Traffic dimensions:

- ``events`` rows: ``user_id`` Zipf(s=1.1)-skewed over 1,500 ids, the hot
  ids permuted per seed; ``ts`` advances one window per micro-batch with a
  5 % out-of-order share that lands in the two previous windows. The
  exponent and the late share are assumptions, not measurements: the
  repository's ``events`` test data is uniform over its ids and in ``ts``
  order, so it cannot supply them (README.md gives the figures).
- TPC-H-shaped star schema plus ``documents`` and ``embeddings`` tables with
  the same column names and types as the repository's oracle SQL expects.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_USERS = 1500
ZIPF_S = 1.1
OUT_OF_ORDER = 0.05
EPOCH_US = int(datetime.datetime(2024, 1, 1,
                                 tzinfo=datetime.timezone.utc).timestamp()
               * 1_000_000)
HOUR_US = 3600 * 1_000_000
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def events_schema():
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)

    return StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])


class EventStream:
    """Micro-batches of ``events``-shaped rows. Batch ``i`` covers the
    event-time window ``[i * window_us, (i + 1) * window_us)``; an
    ``OUT_OF_ORDER`` share of its rows is stamped into one of the two
    previous windows instead (late data)."""

    def __init__(self, seed: int, rows_per_batch: int, window_us: int):
        self.rng = np.random.default_rng(seed)
        p = 1.0 / np.arange(1, N_USERS + 1) ** ZIPF_S
        self.p = p / p.sum()
        # which ids are hot differs per seed
        self.ids = self.rng.permutation(N_USERS).astype(np.int64)
        self.rows = rows_per_batch
        self.window_us = window_us
        self.next_id = 0
        self.index = 0

    def hot_users(self, k: int) -> np.ndarray:
        return self.ids[:k]

    def draw_users(self, n: int) -> np.ndarray:
        return self.ids[self.rng.choice(N_USERS, size=n, p=self.p)]

    def batch(self) -> pa.Table:
        n, i = self.rows, self.index
        rng = self.rng
        start = EPOCH_US + i * self.window_us
        ts = start + rng.integers(0, self.window_us, size=n)
        late = rng.random(n) < OUT_OF_ORDER
        if i > 0:
            back = rng.integers(1, min(i, 2) + 1, size=n) * self.window_us
            ts = np.where(late, ts - back, ts)
        ts.sort()
        table = pa.table({
            "event_id": np.arange(self.next_id, self.next_id + n,
                                  dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "user_id": self.draw_users(n),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.random(n) * 200.0, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        })
        self.next_id += n
        self.index += 1
        return table


def write_parquet(table: pa.Table, path: str) -> int:
    """Write ``table`` atomically (rename into place, so a file-source
    stream never sees a partial file). Returns the file size."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return os.path.getsize(path)


# --------------------------------------------------------------------------
# analytics tables
# --------------------------------------------------------------------------

WORDS = np.array([
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
])
LANGS = np.array(["en", "fr", "zh", "de", "es"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                     "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 24 * HOUR_US
D1995_US = int(datetime.datetime(1995, 1, 1,
                                 tzinfo=datetime.timezone.utc).timestamp()
               * 1_000_000)


def analytics_tables(seed: int, orders: int) -> dict[str, pa.Table]:
    """A TPC-H-shaped star schema (``orders`` orders, 1-7 lines each) plus
    a text corpus and an embedding table, sized to ``orders``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = orders // 10, max(25, orders // 150), orders // 8
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.random(n_cust) * 10000 - 1000, 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.random(n_supp) * 10000 - 1000, 2),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{WORDS[a]} {WORDS[b]}" for a, b in
                   rng.integers(0, len(WORDS), (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD",
                            "PROMO"])[rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    o_date = D1995_US + rng.integers(0, 2404, orders) * DAY_US
    t["orders"] = pa.table({
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, orders).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, orders)],
        "o_totalprice": np.round(rng.random(orders) * 450000 + 1000, 2),
        "o_orderdate": pa.array(o_date, type=pa.timestamp("us")),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, orders)],
    })
    lines = rng.integers(1, 8, orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(orders, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    ship = o_date[okey] + rng.integers(1, 122, n_li) * DAY_US
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + rng.random(n_li) * 1100), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
    })
    t["documents"] = _documents(rng, max(200, orders // 40))
    t["embeddings"] = _embeddings(rng, max(200, orders // 30))
    return t


def _documents(rng, n: int) -> pa.Table:
    """Word-salad corpus over a 30-word vocabulary, with 1 % exact copies
    and 5 % near copies (one word swapped, a ``dup`` marker appended) so
    the dedup queries have work to find."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.06:
            src = texts[rng.integers(0, i)].split(" ")
            src[rng.integers(0, len(src))] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(src + ["dup"]))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[rng.integers(0, len(WORDS), k)]))
    # "en" for 3/7 of the documents, each other language 1/7
    langs = LANGS[np.maximum(rng.integers(0, 7, n) - 2, 0)]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    vecs = (centers[labels] * 0.3 + rng.normal(0, 1, (n, dim))) / 8.0
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str,
                 files_per_table: int) -> None:
    """Write each table as ``<out_dir>/<name>.parquet/part-<k>.parquet``
    (a directory of ``files_per_table`` files, so scans run parallel the
    way a real layout would; tiny dimension tables stay one file)."""
    for name, table in tables.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d)
        k = files_per_table if table.num_rows >= 10_000 else 1
        step = -(-table.num_rows // k)
        for j in range(k):
            pq.write_table(table.slice(j * step, step),
                           os.path.join(d, f"part-{j:03d}.parquet"))
