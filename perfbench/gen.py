"""Seeded input generators.

``write_tables`` writes the ten star-schema tables the registry queries read
(the schema and value domains of FIXTURES.md §2) as single-file,
single-row-group parquet, the layout of the reference fixtures. Every money
column is an exact 2-decimal double, timestamps are ``timestamp[us]``, and 5%
of the documents are near-duplicates (a copy of an earlier document plus the
word ``dup``), so the dedup queries find pairs.

``stream_events`` draws the event log of the ``stream_serve`` workload: Zipf
users, integer-cent values, increasing ``event_id`` and segment sizes.

The same ``(seed, scale)`` always gives byte-identical inputs.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_EMB_DIM = 64


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps drawn uniformly from [start, end]."""
    span = (np.datetime64(end) - np.datetime64(start)).astype(int)
    return np.datetime64(start, "us") + rng.integers(0, span + 1, n).astype(
        "timedelta64[D]"
    )


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _embeddings(rng, n):
    labels = rng.integers(0, 10, n).astype("int32")
    centroids = rng.normal(0.0, 1.0, (10, _EMB_DIM))
    v = centroids[labels] * 0.15 + rng.normal(0.0, 1.0, (n, _EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pd.DataFrame(
        {"vec_id": np.arange(n, dtype="int64"), "embedding": list(v), "label": labels}
    )


def make_tables(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    """All ten tables at ``scale`` (1.0 = 6M lineitem rows, like TPC-H sf1)."""
    rng = np.random.default_rng(seed)
    n = lambda base: max(1, int(round(base * scale)))  # noqa: E731
    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_li, n_ev = n(1_500_000), n(6_000_000), n(1_000_000)
    n_users = n(15_000)
    t = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": _REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part)
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n(50_000))
    t["embeddings"] = _embeddings(rng, max(500, n(20_000)))
    return t


def write_tables(dest: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table to ``dest/<name>.parquet``; returns row counts."""
    os.makedirs(dest, exist_ok=True)
    rows = {}
    for name, df in make_tables(seed, scale).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(
                pa.schema(
                    [
                        ("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32()),
                    ]
                )
            )
        pq.write_table(
            table, os.path.join(dest, f"{name}.parquet"), row_group_size=max(1, len(df))
        )
        rows[name] = len(df)
    return rows


def stream_events(seed: int, n_events: int, n_segments: int, n_users: int = 1000):
    """The ``stream_serve`` event log and its segment sizes.

    Users are Zipf(1.2)-skewed (user 0 is the hottest), values are integer
    cents in [1, 10000], ``event_id`` increases through the log, and
    ``user_key`` is the user id as a string (the Kafka key). Segment
    sizes are drawn around ``n_events / n_segments`` and sum to ``n_events``.
    """
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, n_users + 1)
    p = ranks ** -1.2
    p /= p.sum()
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype="int64"),
            "user_id": rng.choice(n_users, n_events, p=p).astype("int64"),
            "cents": rng.integers(1, 10_001, n_events).astype("int64"),
        }
    )
    events["user_key"] = events["user_id"].astype(str)
    weights = rng.uniform(0.5, 1.5, n_segments)
    cuts = np.round(np.cumsum(weights) / weights.sum() * n_events).astype(int)
    sizes = np.diff(np.concatenate([[0], cuts])).tolist()
    return events, sizes
