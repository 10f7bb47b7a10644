"""Seeded input generation for the benchmark.

Everything the benchmark feeds the engine is made here from the run's
seed: the star-schema + events + documents + embeddings tables the
declared queries read (same schemas and value domains as the TPC-H-ish
tables TESTDATA.md describes, sized by a scale factor), and the hourly
Open-Meteo-shaped payloads the weather pipeline ingests. The same seed
gives the same inputs.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US = pa.timestamp("us")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    """n midnight timestamps uniform over the closed day range [lo, hi]."""
    d0, d1 = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((d1 - d0).astype(int)) + 1, n)
    return (d0 + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _sizes(sf: float) -> dict[str, int]:
    """Row counts of the TESTDATA.md tables: 150k orders, 600k line items
    and 100k events per 0.1 of scale; documents and embeddings floored
    at 500 rows."""
    def rows(per_tenth: int) -> int:
        return round(per_tenth * sf / 0.1)

    return {
        "region": 5, "nation": 25, "customer": rows(15000), "supplier": rows(1000),
        "part": rows(20000), "orders": rows(150000), "lineitem": rows(600000),
        "events": rows(100000), "documents": max(500, rows(5000)),
        "embeddings": max(500, rows(2000)),
    }


def _region(rng, n):
    return {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}, [
        ("r_regionkey", pa.int32()), ("r_name", pa.string())]


def _nation(rng, n):
    return {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    }, [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]


def _customer(rng, n):
    m = n["customer"]
    return {
        "c_custkey": np.arange(m, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(m)],
        "c_nationkey": rng.integers(0, 25, m).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, m),
        "c_mktsegment": rng.choice(_SEGMENTS, m),
    }, [("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]


def _supplier(rng, n):
    m = n["supplier"]
    return {
        "s_suppkey": np.arange(m, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(m)],
        "s_nationkey": rng.integers(0, 25, m).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, m),
    }, [("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
        ("s_acctbal", pa.float64())]


def _part(rng, n):
    m = n["part"]
    adj, noun = rng.choice(_P_ADJ, m), rng.choice(_P_NOUN, m)
    return {
        "p_partkey": np.arange(m, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, m)],
        "p_type": rng.choice(_P_TYPES, m),
        "p_size": rng.integers(1, 51, m).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(m) % 1000) / 10.0, 1),
    }, [("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
        ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())]


def _orders(rng, n):
    m = n["orders"]
    return {
        "o_orderkey": np.arange(m, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], m).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], m),
        "o_totalprice": _money(rng, 1000.0, 500000.0, m),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", m),
        "o_orderpriority": rng.choice(_PRIORITIES, m),
    }, [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()), ("o_orderdate", _US), ("o_orderpriority", pa.string())]


def _lineitem(rng, n):
    m = n["lineitem"]
    return {
        "l_orderkey": rng.integers(0, n["orders"], m).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
    }, [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
        ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()), ("l_shipdate", _US)]


def _events(rng, n):
    m = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    return {
        "event_id": np.arange(m, dtype=np.int64),
        "ts": t0 + np.sort(rng.integers(0, span_us, m)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n["customer"] // 10), m).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, m),
        "value": np.round(rng.exponential(50.0, m), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, m)],
    }, [("event_id", pa.int64()), ("ts", _US), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]


def _documents(rng, n):
    m = n["documents"]
    # As in the TESTDATA.md fixtures (measured at sf0.01 and sf0.1): 10-100
    # words drawn from _WORDS, and 5% of documents are near-duplicates, an
    # earlier document plus the marker token "dup" (31 distinct words).
    texts: list[str] = []
    for i in range(m):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    return {
        "doc_id": np.arange(m, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, m, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(m)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]


def _embeddings(rng, n):
    m = n["embeddings"]
    # unit vectors with no cluster structure and uniform labels 0-9, as in
    # the fixtures (each label's centroid has norm ~1/sqrt(its size))
    vecs = rng.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, m).astype(np.int32),
    }, [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]


_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer, "supplier": _supplier,
    "part": _part, "orders": _orders, "lineitem": _lineitem, "events": _events,
    "documents": _documents, "embeddings": _embeddings,
}


def write_tables(out_dir: str, seed: int, sf: float, only=TABLES) -> None:
    """Write the tables named in ``only`` as ``<out_dir>/<table>.parquet``,
    with the same schemas and value domains as the TESTDATA.md tables.
    Each table draws from its own stream of the seed, so a table is the
    same whichever others are written."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = _sizes(sf)
    for i, name in enumerate(TABLES):
        if name in only:
            cols, fields = _BUILDERS[name](np.random.default_rng([seed, i]), sizes)
            pq.write_table(pa.table(cols, schema=pa.schema(fields)),
                           os.path.join(out_dir, f"{name}.parquet"))


#: One in this many hourly entries carries a malformed timestamp (the
#: FIXTURES.md §1(d) variant): the engine must parse it to NULL.
MALFORMED_EVERY = 29
#: The first hour of the first batch.
START = dt.datetime(2025, 8, 1)
_MALFORMED = ["2025-08-2XT07:00", "not-a-time", "2025-13-40T99:00"]


def weather_payloads(seed: int, n: int):
    """n Open-Meteo-shaped payloads (JSON strings) for consecutive hourly
    batches. Batch ``b`` covers the 168 hours starting ``b`` hours after
    ``START``, so consecutive batches overlap and each one spans 7-8 days.
    Temperatures and humidities are a fixed function of (seed, hour), so
    an hour re-fetched by a later batch carries the same reading; the
    malformed entries are placed by a per-batch draw."""
    rng = np.random.default_rng(seed)
    total = n + 168
    hour = np.arange(total)
    temp = np.round(18 + 6 * np.sin(hour * 2 * np.pi / 24) + rng.normal(0, 2, total), 1)
    rh = np.round(np.clip(60 - 15 * np.sin(hour * 2 * np.pi / 24)
                          + rng.normal(0, 5, total), 0, 100), 1)
    stamps = [(START + dt.timedelta(hours=int(h))).strftime("%Y-%m-%dT%H:%M") for h in hour]
    out = []
    for b in range(n):
        times = stamps[b:b + 168]
        bad = rng.integers(0, MALFORMED_EVERY, 168) == 0
        times = [_MALFORMED[i % len(_MALFORMED)] if bad[i] else t
                 for i, t in enumerate(times)]
        ingested = (START + dt.timedelta(hours=b + 168)).strftime("%Y-%m-%dT%H:%M:%SZ")
        out.append(json.dumps({
            "hourly": {
                "time": times,
                "temperature_2m": temp[b:b + 168].tolist(),
                "relative_humidity_2m": rh[b:b + 168].tolist(),
            },
            "_meta": {"lat": "-23.5505", "lon": "-46.6333", "ingested_at": ingested},
        }))
    return out
