"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from ``--seed``:
the same seed gives byte-identical inputs. Two kinds of input:

* a BankSim-shaped transaction feed (the reference ``transactions.csv``
  domain, see ``FIXTURES.md`` section 1) and its CustomerImportance
  dimension, for the streaming workloads;
* the driver's ten tables (TPC-H-ish star + ``events``, ``documents``,
  ``embeddings``) at a chosen scale factor, for the registry sweep. The
  value domains follow the driver's own generator (``TESTDATA.md``).

Only pandas, numpy and pyarrow are used, so generation never touches
Spark and is kept out of every timed window.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CATEGORIES = (
    "es_transportation", "es_food", "es_health", "es_wellnessandbeauty",
    "es_fashion", "es_barsandrestaurants", "es_hyper", "es_sportsandtoys",
)


def _ids(prefix: str, width: int, n: int) -> np.ndarray:
    return np.array([f"{prefix}{i:0{width}d}" for i in range(n)], dtype=object)


def transactions(n_rows: int, seed: int, n_customers: int, n_merchants: int) -> pd.DataFrame:
    """``n_rows`` BankSim-shaped transactions. Amounts are 2-decimal
    log-normal values straddling the PatId2 average threshold (23.0);
    a few gender 'E'/'U' rows exercise the M/F-only pivot."""
    rng = np.random.default_rng(seed)
    merch = rng.integers(0, n_merchants, n_rows)
    return pd.DataFrame(
        {
            "step": np.arange(n_rows) // 10_000,
            "customer": _ids("C", 10, n_customers)[rng.integers(0, n_customers, n_rows)],
            "age": rng.choice(list("0123456U"), n_rows),
            "gender": rng.choice(["M", "F", "E", "U"], n_rows, p=[0.54, 0.44, 0.01, 0.01]),
            "zipcodeOri": "28007",
            "merchant": _ids("M", 9, n_merchants)[merch],
            "zipMerchant": "28007",
            # one category per merchant, like BankSim
            "category": np.asarray(CATEGORIES)[merch % len(CATEGORIES)],
            "amount": np.round(rng.lognormal(3.2, 0.8, n_rows), 2),
            "fraud": (rng.random(n_rows) < 0.01).astype(int),
        }
    )


def importance(seed: int, n_customers: int, n_merchants: int) -> pd.DataFrame:
    """CustomerImportance over a random ~half of the (customer, merchant)
    pairs; about one weight in five is below PatId1's fallback 2.0."""
    rng = np.random.default_rng(seed ^ 0x5EED)
    pairs = n_customers * n_merchants
    keep = np.flatnonzero(rng.random(pairs) < 0.5)
    cust, merch = keep // n_merchants, keep % n_merchants
    return pd.DataFrame(
        {
            "Source": _ids("C", 10, n_customers)[cust],
            "Target": _ids("M", 9, n_merchants)[merch],
            "Weight": np.round(rng.uniform(0.1, 9.9, len(keep)), 2),
            "typeTrans": np.asarray(CATEGORIES)[merch % len(CATEGORIES)],
            "fraud": 0,
        }
    )


# ---------------------------------------------------------------------------
# Driver tables for the registry sweep
# ---------------------------------------------------------------------------

_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "line sort window join filter index shard page cache node query plan "
    "stream state file data"
).split()
_FILLER = ("a", "the", "of", "and")


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _days(rng, n: int, start: str, n_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def driver_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten driver tables at scale ``sf`` under ``out_dir``;
    returns table -> row count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_line = max(2_000, int(6_000_000 * sf))
    n_ev = max(500, int(1_000_000 * sf))
    n_users = max(30, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    rows = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_cust
        ).tolist(),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64),
    })
    adj = ["small", "large", "red", "blue", "shiny", "plain", "steel", "brass"]
    noun = ["ring", "bolt", "gear", "pipe", "valve", "nut", "widget", "spring"]
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part
        ).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, n_part) / 10, 1), f64),
    })
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord).tolist(),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2), f64),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2404), pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ).tolist(),
    })
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_line), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
        "l_returnflag": rng.choice(["R", "A", "N"], n_line).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_line).tolist(),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", 2499), pa.timestamp("us")),
    })
    # strictly distinct event timestamps over 30 days, in random order
    span_us = 30 * 86_400 * 1_000_000 - n_ev
    offs = np.sort(rng.integers(0, span_us, n_ev)) + np.arange(n_ev)
    ts = np.datetime64("2024-01-01", "us") + rng.permutation(offs).astype("timedelta64[us]")
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev).tolist(),
        "value": pa.array(np.clip(np.round(rng.exponential(60.0, n_ev), 2), 0.01, 490.02), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for n_words in rng.integers(10, 100, n_docs):
        words = rng.choice(_WORDS + list(_FILLER), n_words)
        texts.append(" ".join(words))
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0.0, 0.15, (10, 64))
    emb = (centers[labels] + rng.normal(0.0, 0.05, (n_docs, 64))).astype(np.float32)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_docs), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return rows
