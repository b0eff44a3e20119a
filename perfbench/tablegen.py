"""Seeded generator for the query tables (``region`` … ``embeddings``).

Writes one parquet file per table with the schemas of
``ght2dm_spark.schemas.TESTDATA`` and the shape of the sf0.1 test data:
uniform independent columns, TPC-H-like keys and dates, an events stream
ordered by time, short documents over a small vocabulary with a few
exact duplicates, and unit-length 64-dim embeddings.  Row counts depend
only on ``sf``; values depend on the seed.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per unit of scale factor
_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "bright"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "spring"]
_PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _micros(start: str, days: np.ndarray) -> pa.Array:
    base = (np.datetime64(start, "us") - _EPOCH).astype(np.int64)
    return pa.array(base + days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def _labels(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n: int) -> pa.Table:
    words = np.array(_WORDS)
    lengths = rng.integers(8, 100, n)
    flat = words[rng.integers(0, len(words), int(lengths.sum()))]
    texts, off = [], 0
    for k in lengths:
        texts.append(" ".join(flat[off : off + k]))
        off += k
    # a few exact duplicates, marked like the reference data
    for i in rng.choice(n, max(1, n // 600), replace=False):
        j = int(rng.integers(0, n))
        texts[i] = texts[j] = texts[j] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _choice(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def generate(out: Path, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out``; returns rows per table."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(r * sf)) for t, r in _ROWS.items()}
    out.mkdir(parents=True, exist_ok=True)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    c = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": _labels("Customer", c),
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(rng, c, -999.99, 9999.99),
            "c_mktsegment": _choice(rng, _SEGMENTS, c),
        }
    )
    s = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": _labels("Supplier", s),
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(rng, s, -999.99, 9999.99),
        }
    )
    p = n["part"]
    keys = np.arange(p)
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": _choice(rng, names, p),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], p),
            "p_type": _choice(rng, _PART_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 2),
        }
    )
    o = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], o),
            "o_totalprice": _money(rng, o, 1000, 500_000),
            "o_orderdate": _micros("1995-01-01", rng.integers(0, 2404, o)),
            "o_orderpriority": _choice(rng, _PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, li, 900, 105_000),
            "l_discount": np.round(rng.integers(0, 11, li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, li) / 100.0, 2),
            "l_returnflag": _choice(rng, ["A", "N", "R"], li),
            "l_linestatus": _choice(rng, ["F", "O"], li),
            "l_shipdate": _micros("1995-01-02", rng.integers(0, 2498, li)),
        }
    )
    e = n["events"]
    start = (np.datetime64("2024-01-01T00:00:00", "us") - _EPOCH).astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, e)) + start
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), e), pa.int64()),
            "event_type": _choice(rng, _EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    rows = {}
    for name, table in tables.items():
        pq.write_table(table, out / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows

