"""Deterministic synthetic inputs for the benchmark.

Writes the ten tables the repository's queries read (the TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``) as one
parquet file each, with the column names and Arrow types the queries
and their DuckDB oracles expect. Every value comes from one
``numpy.random.Generator`` seeded by the benchmark's ``--seed``, so the
same seed and scale factor give byte-identical inputs.

Row counts follow the TPC-H convention: ``sf=1`` is 6 M lineitem rows
and the other tables scale with it; ``nation`` and ``region`` are fixed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "hot", "new", "large", "small", "old", "green"]
PART_NOUN = ["bolt", "ring", "anvil", "rod", "plate", "nut", "gear", "pin"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EMB_DIM = 64

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _sizes(sf: float) -> dict[str, int]:
    def n(base: float, floor: int) -> int:
        return max(floor, int(round(base * sf)))
    return {
        "customer": n(150_000, 50), "supplier": n(10_000, 10),
        "part": n(200_000, 50), "orders": n(1_500_000, 200),
        "lineitem": n(6_000_000, 800), "events": n(1_000_000, 500),
        "users": n(15_000, 20), "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = (np.datetime64(start, "D") - np.datetime64("1995-01-01", "D"))
    hi = (np.datetime64(end, "D") - np.datetime64("1995-01-01", "D"))
    d = rng.integers(lo.astype(int), hi.astype(int) + 1, n)
    return _EPOCH_1995 + d.astype("timedelta64[D]").astype("timedelta64[us]")


def _pick(rng, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words texts over a 30-word vocabulary; 5 % of the
    documents are near-duplicates (an earlier document plus one token)
    and a handful are exact copies, so the dedup operators find
    clusters."""
    lengths = rng.integers(8, 100, n)
    texts: list[str] = []
    for i, ln in enumerate(lengths):
        words = rng.integers(0, len(WORDS), ln)
        texts.append(" ".join(WORDS[w] for w in words))
    near = rng.choice(np.arange(n // 10, n), size=n // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    exact = rng.choice(np.arange(n // 10, n), size=max(2, n // 600),
                       replace=False)
    for i in exact:
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors with a weak per-label direction (10 labels)."""
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, EMB_DIM))
    vecs = rng.normal(size=(n, EMB_DIM)) + 0.5 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM), pa.int32()),
            flat),
        "label": pa.array(labels, pa.int32()),
    })


def _events(rng, n: int, n_users: int) -> pa.Table:
    """One month of events in event-id = event-time order."""
    offs = np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
    ts = np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(40.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    sz = _sizes(sf)
    nc, ns, npart, no, nl = (sz["customer"], sz["supplier"], sz["part"],
                             sz["orders"], sz["lineitem"])
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})
    adj = rng.integers(0, len(PART_ADJ), npart)
    noun = rng.integers(0, len(PART_NOUN), npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}"
                            for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2))})
    # a tenth of the customers place no orders (Q13/Q22 need them)
    buyers = np.arange(nc)[rng.random(nc) >= 0.1]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.choice(buyers, no), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", no),
                                pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", nl),
                               pa.timestamp("us"))})
    out["events"] = _events(rng, sz["events"], sz["users"])
    out["documents"] = _documents(rng, sz["documents"])
    out["embeddings"] = _embeddings(rng, sz["embeddings"])
    return out


def write(out_dir: str, sf: float, seed: int,
          only: tuple[str, ...] = ()) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table (or just
    ``only``); returns the row count of each table written."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in tables(sf, seed).items():
        if only and name not in only:
            continue
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts
