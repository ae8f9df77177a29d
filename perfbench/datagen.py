"""Seeded synthetic tables for the query board.

Writes the harness star schema (region .. lineitem), the ``events``
stream table and the ``documents`` corpus as one parquet file each,
with the column types of ``io/schemas.py`` and the value distributions
of the shipped test tables: the same categorical domains, key ranges,
date windows and text shape (bag-of-words documents from a 30-word
vocabulary, about one in twenty an edited copy of an earlier one, so
the near-dup queries find pairs). Row counts scale with ``sf`` like the
shipped tables; the same seed gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "green", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "gizmo", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000


def _days(start: str, n_days: int, rng, size: int) -> np.ndarray:
    base = np.datetime64(start, "D").astype("datetime64[us]")
    return base + rng.integers(0, n_days, size) * np.timedelta64(_DAY_US, "us")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _pick(rng, values: list[str], size: int, p=None) -> list[str]:
    return np.asarray(values, dtype=object)[rng.choice(len(values), size, p=p)].tolist()


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # an edited copy of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 500)
    i32, i64 = pa.int32(), pa.int64()
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
                "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
                "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100,
                "l_tax": rng.integers(0, 9, n_line) / 100,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": _days("1995-01-02", 2498, rng, n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": np.datetime64("2024-01-01", "us")
                + np.cumsum(rng.integers(1_000, 520_000_000, n_ev)).astype(
                    "timedelta64[us]"
                ),
                "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": pa.table(_documents(rng, n_docs)),
    }
    return out


def write(sf_dir: str, sf: float, seed: int) -> str:
    """Write every table as ``<sf_dir>/<name>.parquet``; returns sf_dir."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return sf_dir
