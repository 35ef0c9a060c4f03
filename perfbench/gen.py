"""Seeded input generator for the benchmark.

Writes the star-schema tables the registry queries read (``region``,
``nation``, ``customer``, ``supplier``, ``part``, ``orders``,
``lineitem``, ``events``, ``documents``) as one parquet file each.  The
shapes follow the TPC-H-style test tables the package is developed
against: the same columns and types, the same value vocabularies and
the same row-count ratios per scale factor.  The seed changes every
drawn value but no table size, so two seeds give inputs of equal volume
and the same query plans.

Keys and categories are drawn as a seeded permutation of a balanced
multiset (every customer has the same number of orders, every order the
same number of line items, every nation the same number of customers,
and so on), and the document lengths and near-duplicate count are
fixed.  Which rows pair up changes with the seed; how much work the
queries do barely does, so run-to-run spread measures the engine rather
than the draw.
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
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANGS = ["en", "zh", "es", "de", "fr"]
DOC_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
    }


def _balanced(rng, n: int, k: int) -> np.ndarray:
    """``n`` values in ``[0, k)``, each as often as ``n`` allows, in a
    seeded order."""
    return rng.permutation(np.arange(n) % k)


def _pick(rng, choices, n: int) -> np.ndarray:
    return np.asarray(choices)[_balanced(rng, n, len(choices))]


def _weighted(rng, choices, shares, n: int) -> np.ndarray:
    """Each choice on its share of ``n`` rows, in a seeded order."""
    counts = np.floor(np.asarray(shares) * n).astype(int)
    counts[0] += n - counts.sum()
    return rng.permutation(np.repeat(np.asarray(choices), counts))


def _day_ts(rng, lo: str, hi: str, n: int) -> np.ndarray:
    days = (np.datetime64(hi) - np.datetime64(lo)).astype(int)
    off = rng.integers(0, days + 1, n)
    return (np.datetime64(lo) + off.astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array(_balanced(rng, nc, 25), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array(_balanced(rng, ns, 25), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })

    npart = n["part"]
    keys = np.arange(npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": [f"{PART_ADJ[c // 8]} {PART_NOUN[c % 8]}"
                   for c in _balanced(rng, npart, 64)],
        "p_brand": [f"Brand#{b + 1}" for b in _balanced(rng, npart, 25)],
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(_balanced(rng, npart, 50) + 1, i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })

    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(_balanced(rng, no, nc), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _day_ts(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })

    nl = n["lineitem"]
    qty = (_balanced(rng, nl, 50) + 1).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(_balanced(rng, nl, no), i64),
        "l_partkey": pa.array(_balanced(rng, nl, npart), i64),
        "l_suppkey": pa.array(_balanced(rng, nl, ns), i64),
        "l_linenumber": pa.array(_balanced(rng, nl, 7) + 1, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": _balanced(rng, nl, 11) / 100.0,
        "l_tax": _balanced(rng, nl, 9) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _day_ts(rng, "1995-01-02", "2001-11-04", nl),
    })

    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(span_us / (ne + 1), ne)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("int64").astype(
        "timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(_balanced(rng, ne, max(1, nc // 10)), i64),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in _balanced(rng, ne, 100)],
    })

    nd = n["documents"]
    texts = [" ".join(rng.choice(DOC_WORDS, int(k)))
             for k in _balanced(rng, nd, 90) + 10]
    # one document in twenty is a near-duplicate: another document's
    # text with a marker word appended
    dups = rng.choice(nd, nd // 20, replace=False)
    for d in dups:
        texts[d] = texts[int(rng.integers(0, nd))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": _weighted(rng, DOC_LANGS, DOC_LANG_P, nd),
        "source": [f"src{d % 20}" for d in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    return out


def write(sf: float, seed: int, out_dir: str) -> dict[str, int]:
    """Write every table under ``out_dir``; return the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows
