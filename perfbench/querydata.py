"""Seeded TPC-H-style tables for the ``query_mix`` workload.

The ten headline operator queries read ``lineitem``, ``orders``,
``customer``, ``nation``, ``part``, ``events``, ``documents`` and
``embeddings`` as one parquet file each under a directory. This module
writes those tables with the same schemas and value domains as the
project's TPC-H-style test tables, sized by ``scale`` (1.0 ≈ 20k
lineitem rows), so the benchmark needs no data from outside its checkout.
The same seed always writes the same rows.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "nation", "customer", "orders", "lineitem", "part",
    "events", "documents", "embeddings",
)
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.15, 0.14, 0.14, 0.13)
_EMB_DIM = 64


def _ts(rng, lo: str, days: int, n: int, whole_days: bool) -> np.ndarray:
    base = np.datetime64(lo, "us")
    if whole_days:
        off = rng.integers(0, days, n).astype("timedelta64[D]")
    else:
        off = rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")
    return base + off


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pd.DataFrame:
    words = np.asarray(_WORDS, dtype=object)
    texts = []
    for _ in range(n):
        texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(8, 80))]))
    # near-duplicates (one word swapped for a marker) give the MinHash
    # dedup query real candidate pairs to verify
    for i in np.flatnonzero(rng.random(n) < 0.05):
        src = texts[int(rng.integers(0, n))].split()
        src[int(rng.integers(0, len(src)))] = "dup"
        texts[i] = " ".join(src)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def make_tables(scale: float, seed: int) -> dict[str, pd.DataFrame]:
    """Build every table in memory (the timed part of set-up)."""
    rng = np.random.default_rng([seed, 7])
    n_li = max(200, int(20_000 * scale))
    n_ord, n_cust = max(50, n_li // 4), max(10, n_li // 40)
    n_part, n_ev = max(20, n_li // 30), max(100, n_li // 6)
    n_doc = max(40, int(math.sqrt(n_li) * 2))
    n_users = max(10, n_ev // 66)
    out = {
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"],
                    n_cust,
                ),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _ts(rng, "1995-01-01", 2400, n_ord, True),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_ord,
                ),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                "l_suppkey": rng.integers(0, 100, n_li).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["R", "A", "N"], n_li),
                "l_linestatus": rng.choice(["O", "F"], n_li),
                "l_shipdate": _ts(rng, "1995-01-02", 2500, n_li, True),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(["small", "red", "blue", "hot", "cold", "big", "shiny", "old"], n_part),
                        rng.choice(["ring", "widget", "bolt", "gear", "nut", "pipe", "cog", "lever"], n_part),
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part
                ),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
            }
        ),
        "events": pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": np.sort(_ts(rng, "2024-01-01", 30, n_ev, False)),
                "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
                "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev),
                "value": np.round(rng.exponential(20.0, n_ev) + 0.01, 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, n_doc),
    }
    emb = rng.normal(0, 0.1, (n_doc, _EMB_DIM)).astype(np.float32)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_doc, dtype=np.int64),
            "embedding": list(emb),
            "label": rng.integers(0, 10, n_doc).astype(np.int32),
        }
    )
    return out


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        tbl = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            tbl = tbl.set_column(
                1, "embedding", tbl.column("embedding").cast(pa.list_(pa.float32()))
            )
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def _norm_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return f"{v:.17g}"
    return str(v)


def _rowset(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


class Oracle:
    """DuckDB over the same parquet files; compares a Spark result with the
    query's oracle SQL as an order-insensitive multiset of exact values."""

    def __init__(self, data_dir: str, oracle_sql: dict[str, str]):
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.sql = oracle_sql

    def mismatch(self, name: str, cols: list[str], rows) -> str | None:
        """None when the rows equal the oracle's, else a short reason."""
        res = self.con.execute(self.sql[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != {sorted(ocols)}"
        if len(rows) != len(orows):
            return f"{len(rows)} rows != {len(orows)}"
        if _rowset(cols, rows) != _rowset(ocols, orows):
            return "values differ"
        return None

    def close(self) -> None:
        self.con.close()
