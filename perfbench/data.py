"""Seeded input generators. The same seed gives byte-identical inputs; the
program under test only ever sees the files written here.

* :func:`point_corpus` — the map corpus: 80% world-uniform points and 20%
  Gaussian blobs around a fixed list of cities, with the columns the
  serving tier maps to metrics (``value``, ``sales``) and categorical
  metadata (``category``, ``region``).
* :func:`olap_tables` — a TPC-H-shaped star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the registry queries read,
  with the same schemas and value domains as the repository's test data.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# (lng, lat) of the blob centres; the live_ingest writer targets these too
CITIES = [
    (-74.006, 40.713),   # New York
    (-118.244, 34.052),  # Los Angeles
    (-0.128, 51.507),    # London
    (2.352, 48.857),     # Paris
    (139.692, 35.690),   # Tokyo
    (77.209, 28.614),    # Delhi
    (-46.633, -23.551),  # Sao Paulo
    (151.209, -33.868),  # Sydney
    (31.236, 30.044),    # Cairo
    (-99.133, 19.433),   # Mexico City
]
CITY_SIGMA_DEG = 0.3
CATEGORIES = ["Urban", "Rural", "Coastal", "Mountain", "Desert", "Forest", "Island"]
REGIONS = ["Americas", "Europe", "Asia", "Africa", "Oceania"]


def _points_frame(rng: np.random.Generator, ids: np.ndarray, lng, lat) -> pd.DataFrame:
    n = len(ids)
    return pd.DataFrame(
        {
            "id": ids.astype(np.int64),
            "lng": np.clip(lng, -180.0, 180.0),
            "lat": np.clip(lat, -85.0, 85.0),
            "value": rng.uniform(0.0, 100.0, n),
            "sales": rng.uniform(0.0, 1000.0, n),
            "category": rng.choice(CATEGORIES, n),
            "region": rng.choice(REGIONS, n),
        }
    )


def uniform_points(rng: np.random.Generator, first_id: int, n: int) -> pd.DataFrame:
    ids = np.arange(first_id, first_id + n)
    return _points_frame(rng, ids, rng.uniform(-180.0, 180.0, n), rng.uniform(-85.0, 85.0, n))


def city_points(rng: np.random.Generator, first_id: int, n: int, city: int | None = None) -> pd.DataFrame:
    """``n`` points around one city (``city``) or spread over all of them."""
    ids = np.arange(first_id, first_id + n)
    centres = np.asarray(CITIES)
    pick = np.full(n, city) if city is not None else rng.integers(0, len(CITIES), n)
    lng = centres[pick, 0] + rng.normal(0.0, CITY_SIGMA_DEG, n)
    lat = centres[pick, 1] + rng.normal(0.0, CITY_SIGMA_DEG, n)
    return _points_frame(rng, ids, lng, lat)


def point_corpus(seed: int, n: int) -> pd.DataFrame:
    """ids 1..n: 80% world-uniform, 20% city blobs."""
    rng = np.random.default_rng([seed, 1])
    n_uniform = n * 4 // 5
    return pd.concat(
        [uniform_points(rng, 1, n_uniform), city_points(rng, 1 + n_uniform, n - n_uniform)],
        ignore_index=True,
    )


def write_parquet(df: pd.DataFrame, path: str) -> str:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


# --- OLAP tables -------------------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group big "
    "sort query fast the"
).split()
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]


def _ts(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype="datetime64[us]"), pa.timestamp("us"))


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (lo + rng.integers(0, hi - lo + 1, n)).astype("datetime64[D]")


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def olap_tables(seed: int, out_dir: str, scale: float = 0.01) -> str:
    """Write the ten registry tables as parquet under ``out_dir``.
    ``scale`` 0.01 gives 15,000 orders and ~60,000 lineitems."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_orders, n_events, n_docs, n_vecs = int(1_500_000 * scale), int(1_000_000 * scale), 500, 500

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part)
    put("part", {
        "p_partkey": keys.astype(np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    odate = _days(rng, "1995-01-01", "2001-08-01", n_orders)
    put("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
        ),
    })
    lines = rng.integers(1, 8, n_orders)
    lok = np.repeat(np.arange(n_orders), lines)
    n_li = len(lok)
    put("lineitem", {
        "l_orderkey": lok.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()
        ),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, n_li).astype("timedelta64[D]")),
    })
    # arrivals over 30 days, microsecond timestamps
    gaps = rng.exponential(30 * 86_400e6 / n_events, n_events).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    put("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, 150, n_events).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_events),
        "value": np.round(np.minimum(rng.exponential(20.0, n_events), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            # near-duplicate: same words, different case/spacing, or a suffix
            texts.append(src.upper() if rng.random() < 0.5 else src + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_docs, p=[0.44, 0.14, 0.14, 0.13, 0.15]),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centres = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_vecs)
    vec = centres[label] + rng.normal(0.0, 0.8, (n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return out_dir
