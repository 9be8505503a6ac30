"""Seeded input generators.

Every table and array the benchmark feeds the engine comes from here, so
the same seed always gives the same inputs.  The star-schema tables copy
the shapes of the engine's test data (TESTDATA.md: region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings); the codec and ingest columns copy the FIXTURES.md recipes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

_EPOCH = np.datetime64("1970-01-01", "D")


def _days(start: str, end: str) -> tuple[int, int]:
    a = (np.datetime64(start, "D") - _EPOCH).astype(int)
    b = (np.datetime64(end, "D") - _EPOCH).astype(int)
    return int(a), int(b)


def _day_ts(rng, n: int, start: str, end: str) -> pa.Array:
    lo, hi = _days(start, end)
    d = rng.integers(lo, hi + 1, n).astype(np.int64) * 86_400_000_000
    return pa.array(d, type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _text(rng, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten star-schema tables at scale factor ``sf`` (lineitem has
    6,000,000 * sf rows, as in TESTDATA.md)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 15)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 150)
    n_li = max(int(6_000_000 * sf), 600)
    n_ev = max(int(1_000_000 * sf), 100)
    n_doc = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)
    n_users = max(int(15_000 * sf), 15)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2)),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _day_ts(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64) + np.cumsum(gaps).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(40.0, n_ev), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts = [_text(rng, int(w)) for w in rng.integers(10, 90, n_doc)]
    # a few exact and near duplicates, so the dedup operators find pairs
    for i in range(0, n_doc - 1, 97):
        texts[i + 1] = texts[i] if i % 2 else texts[i] + " data"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    return out


def write_star(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """One single-row-group parquet file per table, as the test data has."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"), row_group_size=len(t) or 1)


# -- FIXTURES.md shapes ---------------------------------------------------

def codec_array(rng, kind: str, n: int) -> pa.Array:
    """One array per FIXTURES.md shape: F2 random i64 / utf8 / bool, F4
    dict-shaped utf8, F7 delta (sorted) i64, F9 smooth f64, F10 list."""
    if kind == "i64":  # F2 random, cardinality ~ n
        return pa.array(rng.integers(0, n, n, dtype=np.int64))
    if kind == "i64_delta":  # F7 sorted ascending
        return pa.array(np.cumsum(rng.integers(0, 4, n, dtype=np.int64)))
    if kind == "f64":  # F9: a smooth series of small deltas, 10 % nulls
        v = np.round(np.cumsum(rng.normal(0, 0.01, n)) + 100.0, 3)
        return pa.array(v, mask=rng.random(n) < 0.1)
    if kind == "utf8":  # F2 random strings
        return pa.array(rng.integers(0, n, n).astype(str))
    if kind == "utf8_dict":  # F4: 8 distinct values, 10 % nulls
        words = np.array([f"value-{i}" for i in range(8)], dtype=object)
        return pa.array(words[rng.integers(0, 8, n)], mask=rng.random(n) < 0.1)
    if kind == "bool":  # F2 random bool
        return pa.array(rng.random(n) < 0.5)
    if kind == "list":  # F10 array<int>: 0-3 items, 10 % null lists (empty, as Parquet needs)
        lens = rng.integers(0, 4, n)
        null = rng.random(n) < 0.1
        lens[null] = 0
        offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
        values = pa.array(rng.integers(0, 1000, int(offsets[-1])).astype(np.int32))
        return pa.ListArray.from_arrays(pa.array(offsets), values, mask=pa.array(null))
    raise ValueError(f"unknown codec array kind {kind!r}")


def ingest_batch(rng, first_id: int, n: int) -> pa.Table:
    """One ingest batch: an ``id`` key plus FIXTURES.md columns (F2 random
    int, F4 dict string, F7 delta int, F9 float) and a utf8 column."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "id": pa.array(ids),
        "f2": pa.array(rng.integers(0, 1 << 30, n, dtype=np.int64)),
        "f4": pa.array(np.array([f"cat-{i}" for i in range(8)], dtype=object)[rng.integers(0, 8, n)]),
        "f7": pa.array(np.cumsum(rng.integers(0, 8, n, dtype=np.int64)) + first_id),
        "f9": pa.array(np.round(np.cumsum(rng.normal(0, 0.5, n)) + 500.0, 3)),
        "s": pa.array([f"row-{i}-{v}" for i, v in zip(ids, rng.integers(0, 1 << 20, n))]),
    })
