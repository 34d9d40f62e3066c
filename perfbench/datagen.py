"""Seeded inputs for the benchmark workloads.

``write_tables`` writes the ten fixture tables the headline queries
read (TPC-H-style star schema plus events, documents and embeddings)
with the column types and value distributions of the sf0.1 fixtures:
uniform keys, exponential event values, 10-100 word documents over a
30-word vocabulary with 5% near-duplicates, unit-norm 64-d
embeddings. ``delivery_plan`` and ``delivery`` build the
``EverywhereItem`` webhook bodies. All are pure functions of their
seed: the same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
P_ADJ = "blue cold hot large new old red small".split()
P_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def _days(rng: np.random.Generator, start: str, ndays: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + rng.integers(0, ndays, n).astype("timedelta64[D]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def _documents(rng: np.random.Generator, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [" ".join(VOCAB[w] for w in words[e - k : e]) for e, k in zip(ends, lengths)]
    # 5% near-duplicates (a copy plus one token) and a few exact copies:
    # the shapes the dedup and LSH queries look for.
    n_near = n // 20
    src = rng.choice(n - n_near, n_near, replace=False)
    for i, s in enumerate(src):
        texts[n - n_near + i] = texts[s] + " dup"
    for i in rng.choice(n - n_near, n // 600, replace=False):
        texts[i] = texts[(i + 1) % (n - n_near)]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def write_tables(out_dir: str, seed: int, sf: float = 0.1) -> None:
    """Write the ten fixture tables at scale ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_vec = (5000, 2000) if sf >= 0.1 else (500, 500)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    })
    gaps = rng.exponential(26.0, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    })


DEVICES = 5000  # device keys of the webhook workload


def delivery_plan(seed: int, n: int, n_devices: int = DEVICES) -> tuple[np.ndarray, np.ndarray]:
    """Device index per delivery (Zipf(0.5) skew over ``n_devices``
    keys) and each delivery's emergency flag. A plan of n deliveries is
    a prefix of any longer plan with the same seed."""
    weights = 1.0 / np.arange(1, n_devices + 1) ** 0.5
    cdf = np.cumsum(weights / weights.sum())
    devices = np.searchsorted(cdf, np.random.default_rng([seed, 0]).random(n), side="right")
    emergency = np.random.default_rng([seed, 1]).random(n) < 0.02
    return np.minimum(devices, n_devices - 1), emergency


def delivery(msg_id: int, device: int, emergency: bool, time_ms: int) -> dict:
    """One ``EverywhereItem`` body (pipeline/tracks.everywhere_item_schema)."""
    return {
        "msg_id": msg_id,
        "converterId": "perfbench",
        "deviceId": 300_000 + device,
        "teamId": 7,
        "entityId": 10_000 + device,
        "deviceType": "inReach Mini",
        "name": f"Unit {device}",
        "alias": "" if device % 3 else f"CS-{device}",
        "source": "webhook",
        "trackPoint": {
            "time": time_ms,
            "direction": (msg_id * 37) % 360,
            "inboundMessageId": msg_id,
            "isEmergency": bool(emergency),
            "source": "GPS",
            "point": {"x": -120.0 + (device % 500) * 0.01, "y": 35.0 + (msg_id % 1000) * 0.0001},
            "alertsList": None,
        },
    }


def stamp_ms(epoch_s: float) -> int:
    return int(round(epoch_s * 1000))
