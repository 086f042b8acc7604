"""Seeded input generators for the benchmark workloads.

Everything the library reads is produced here from the ``--seed``
argument: the same seed gives byte-identical inputs. Table shapes follow
the engine's test tables at scale factor 0.1 (TPC-H-style dimensions and
facts, an event stream, a text corpus and an embedding set), so every
relational query and LLM operator meets the column types and value
ranges it is written for.
"""

from __future__ import annotations

import csv
import io
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at scale factor 1 (fixed-size dimensions do not scale)
_ROWS_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["anvil", "bolt", "cold", "hot", "large", "new", "old",
              "plate", "ring", "small", "widget"]
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "zh", "fr", "es"]
LANG_P = [0.412, 0.147, 0.147, 0.147, 0.147]
COMMENT_WORDS = ["carefully", "final", "deposits", "quickly", "pending",
                 "requests", "sleep", "express", "accounts", "ironic"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def table_rows(sf: float) -> dict[str, int]:
    rows = {t: max(1, int(n * sf)) for t, n in _ROWS_SF1.items()}
    rows.update(region=5, nation=25)
    return rows


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def relational_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders, lineitem, events."""
    rng = np.random.default_rng([seed, 1])
    n = table_rows(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    words = np.array(PART_WORDS)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": np.char.add(
            np.char.add(words[rng.integers(0, 11, npart)], " "),
            words[rng.integers(0, 11, npart)],
        ),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(npart) % 1000 / 10, 2),
    })
    no = n["orders"]
    odate = _EPOCH_1995 + rng.integers(0, 2404, no) * _DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    lkey = rng.integers(0, no, nl)
    lkey.sort()
    # line numbers restart at 1 within each order key
    starts = np.r_[0, np.flatnonzero(np.diff(lkey)) + 1]
    lineno = np.arange(nl) - np.repeat(starts, np.diff(np.r_[starts, nl])) + 1
    perm = rng.permutation(nl)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lkey[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lineno[perm], pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, nl) * _DAY_US),
    })
    ne = n["events"]
    users = max(1, int(15_000 * sf))
    ets = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ets),
        "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": _money(rng, 0.0, 560.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    return out


def corpus_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """documents (31-word vocabulary, 10-100 tokens) and embeddings
    (64-dim unit vectors around 10 cluster centres)."""
    rng = np.random.default_rng([seed, 2])
    n = table_rows(sf)
    nd = n["documents"]
    vocab = np.array(VOCAB)
    docs = [rng.integers(0, len(vocab), k) for k in rng.integers(10, 101, nd)]
    # one document in ten is an edited copy of an earlier one (each token
    # replaced with probability 0.1), so the dedup operators find pairs
    for i in np.flatnonzero(rng.random(nd) < 0.1):
        if i == 0:
            continue
        src = docs[int(rng.integers(0, i))].copy()
        edit = rng.random(len(src)) < 0.1
        src[edit] = rng.integers(0, len(vocab), int(edit.sum()))
        docs[i] = src
    texts = [" ".join(vocab[d]) for d in docs]
    documents = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv, dim, k = n["embeddings"], 64, 10
    centres = rng.normal(size=(k, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, k, nv)
    vecs = centres[labels] + 0.5 * rng.normal(size=(nv, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"documents": documents, "embeddings": embeddings}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """One single-row-group parquet file per table, as the engine's
    ``catalog.load_table`` expects (``{dir}/{name}.parquet``)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=len(tbl) or 1)
    return {name: len(tbl) for name, tbl in tables.items()}


# ----------------------------------------------------------- ETL landings --

#: CSV header of a landed orders batch (all values quoted, OpenCSV style)
LANDING_COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                   "o_orderdate", "o_orderpriority", "o_clerk", "o_comment"]


@dataclass
class Landing:
    index: int
    rows: list[list[str]]   # string cells in LANDING_COLUMNS order
    is_update: bool
    probe_key: int          # key the freshness read looks up

    def csv_bytes(self) -> bytes:
        buf = io.StringIO()
        w = csv.writer(buf, quoting=csv.QUOTE_ALL, escapechar="\\",
                       doublequote=False, lineterminator="\n")
        w.writerow(LANDING_COLUMNS)
        w.writerows(self.rows)
        return buf.getvalue().encode()


class OrdersLandings:
    """The ETL workload's input stream: batches of ``rows`` orders.

    Landing ``i`` with ``i % 3 == 2`` re-sends keys already landed, with
    changed status, price and comment (late corrections); every other
    landing carries the next block of fresh keys. Comments hold commas
    and backslash-escaped quotes, so the OpenCSV quoting rules are
    exercised on every file. Landing ``i`` depends only on ``(seed, i)``.
    """

    def __init__(self, seed: int, rows: int = 5000, customers: int = 15_000):
        self.seed = seed
        self.rows = rows
        self.customers = customers

    def _fresh_blocks_before(self, i: int) -> int:
        return sum(1 for j in range(i) if not self.is_update(j))

    @staticmethod
    def is_update(i: int) -> bool:
        return i % 3 == 2

    def _cells(self, rng: np.random.Generator, keys: np.ndarray) -> list[list[str]]:
        n = len(keys)
        words = np.array(COMMENT_WORDS)
        w = words[rng.integers(0, len(words), (n, 3))]
        quoted = rng.random(n) < 0.2
        days = rng.integers(0, 2404, n)
        dates = (np.datetime64("1995-01-01") + days).astype(str)
        rows = []
        for j in range(n):
            comment = f"{w[j, 0]} {w[j, 1]}, {w[j, 2]}"
            if quoted[j]:
                comment += f' "{w[j, 0]}"'
            rows.append([
                str(int(keys[j])),
                str(int(rng.integers(0, self.customers))),
                STATUSES[int(rng.integers(0, 3))],
                f"{rng.uniform(1000, 500000):.2f}",
                str(dates[j]),
                PRIORITIES[int(rng.integers(0, 5))],
                f"Clerk#{int(rng.integers(0, 1000)):09d}",
                comment,
            ])
        return rows

    def landing(self, i: int) -> Landing:
        rng = np.random.default_rng([self.seed, 3, i])
        if self.is_update(i):
            landed = self._fresh_blocks_before(i) * self.rows
            keys = rng.choice(landed, size=min(self.rows, landed), replace=False)
        else:
            start = self._fresh_blocks_before(i) * self.rows
            keys = np.arange(start, start + self.rows)
        rows = self._cells(rng, keys)
        probe = int(keys[int(rng.integers(0, len(keys)))])
        return Landing(i, rows, self.is_update(i), probe)
