"""Deterministic synthetic inputs, made from the workload seed.

The tables follow the shapes of the package's fixtures (a TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``), so every
registered query and its DuckDB oracle run on them unchanged. At
``scale`` 1.0 they also have the fixtures' row counts and the
statistics that set query cost there (measured on the sf0.1 set):

- documents: 10-100 words (uniform) from a 30-word vocabulary used
  uniformly; 5% are copies of another document with the word ``dup``
  appended, 3% of those verbatim, in random id order -- about 250
  Jaccard >= 0.8 pairs per 5,000 documents;
- embeddings: 64-dimensional unit vectors in uniformly random
  directions (pairwise cosine about N(0, 1/8)), 10 labels;
- events: uniform users, event types and times over 30 days, values
  exponential with mean 50;
- lineitem: uniform keys, flags and ship dates.

The same seed gives byte-identical tables and event records.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DUP_RATE = 0.05  # documents that copy another one
VERBATIM_RATE = 0.03  # of those copies, the share with no word appended
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _dates_us(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return rng.integers(lo, hi, n) * DAY_US


def events(seed: int, n: int, n_users: int = 1500) -> dict[str, np.ndarray]:
    """``n`` events over 30 days, ordered by time, µs timestamps."""
    rng = _rng(seed, 1)
    ts = EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "k": rng.integers(0, 100, n),
    }


_EVENT_JSON = (
    '{{"event_id":{},"ts_us":{},"user_id":{},"event_type":"{}","value":{!r},"props":"{{\\"k\\": {}}}"}}'
)


def event_records(ev: dict[str, np.ndarray], lo: int = 0, hi: int | None = None):
    """Events ``[lo, hi)`` as Kafka records ``(key, value, ts_ms)``:
    key = user id, value = the event as JSON (about 135 bytes)."""
    hi = len(ev["event_id"]) if hi is None else hi
    out = []
    for i in range(lo, hi):
        ts_us = int(ev["ts"][i])
        user = int(ev["user_id"][i])
        value = _EVENT_JSON.format(
            int(ev["event_id"][i]), ts_us, user, ev["event_type"][i], float(ev["value"][i]), int(ev["k"][i])
        )
        out.append((str(user).encode(), value.encode(), ts_us // 1000))
    return out


def _documents(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, 2)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < DUP_RATE:
            text = texts[int(rng.integers(0, i))]
            texts.append(text if rng.random() < VERBATIM_RATE else text + " dup")
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))))
    texts = [texts[j] for j in rng.permutation(n)]  # a copy may precede its source
    langs = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs[rng.integers(0, len(langs), n)]),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(seed: int, n: int, dim: int = 64) -> pa.Table:
    rng = _rng(seed, 3)
    vecs = rng.normal(0.0, 1.0, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def write_tables(seed: int, out_dir: str, scale: float) -> dict[str, int]:
    """Write the ten fixture tables. ``scale`` 1.0 matches the row
    counts of the sf0.1 fixtures for the star schema and ``events``,
    whose query costs grow linearly with rows; ``documents`` and
    ``embeddings`` always have the fixtures' counts, since their
    near-duplicate and top-k costs depend on corpus size itself (a
    shingle's document frequency grows with the corpus at a fixed
    vocabulary). Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 0)
    n_cust, n_supp, n_part = int(15000 * scale), max(int(1000 * scale), 25), int(20000 * scale)
    n_ord = int(150000 * scale)
    n_li = 4 * n_ord
    ts = pa.timestamp("us")
    ev = events(seed, int(100000 * scale), n_users=max(int(1500 * scale), 50))
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(_money(rng, -999, 9999, n_cust)),
                "c_mktsegment": pa.array(
                    np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                        rng.integers(0, 5, n_cust)
                    ]
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(_money(rng, -999, 9999, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": pa.array(
                    [f"{VOCAB[i % len(VOCAB)]} {VOCAB[(i * 7) % len(VOCAB)]}" for i in range(n_part)]
                ),
                "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
                "p_type": pa.array(
                    np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"])[
                        rng.integers(0, 5, n_part)
                    ]
                ),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
                "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
                "o_totalprice": pa.array(_money(rng, 1000, 450000, n_ord)),
                "o_orderdate": pa.array(_dates_us(rng, "1995-01-01", "2001-08-02", n_ord), ts),
                "o_orderpriority": pa.array(
                    np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                        rng.integers(0, 5, n_ord)
                    ]
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
                "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
                "l_shipdate": pa.array(_dates_us(rng, "1995-01-02", "2001-11-05", n_li), ts),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(ev["event_id"]),
                "ts": pa.array(ev["ts"], ts),
                "user_id": pa.array(ev["user_id"]),
                "event_type": pa.array(ev["event_type"]),
                "value": pa.array(ev["value"]),
                "props": pa.array([json.dumps({"k": int(k)}) for k in ev["k"]]),
            }
        ),
        "documents": _documents(seed, 5000),
        "embeddings": _embeddings(seed, 2000),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
