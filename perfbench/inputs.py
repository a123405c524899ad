"""Seeded input generation.

Every input the benchmark hands to the library is made here from the
run's ``--seed``: a TPC-H-shaped star schema plus the ``documents``,
``embeddings`` and ``events`` tables the catalog entries read, the
salted dimension of ``enrich_refresh``, its upsert batches, and the
permutation that maps the stream's event counter to dimension keys.
The same seed gives byte-identical parquet files.  Nothing is read
from outside the benchmark's work directory.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector"
).split()
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _write(path: str, columns: dict) -> int:
    table = pa.table(columns)
    pq.write_table(table, path)
    return table.num_rows


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    day_us = np.int64(86_400_000_000)
    return base + rng.integers(0, span + 1, n).astype(np.int64) * day_us


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(values).take(rng.integers(0, len(values), n))


def _names(prefix: str, keys, suffix: str = "") -> pa.Array:
    digits = pc.utf8_lpad(pc.cast(pa.array(keys), pa.string()), 9, "0")
    return pc.binary_join_element_wise(prefix, digits, suffix, "")


def customer_columns(rng, n: int, first_key: int = 0) -> dict:
    keys = np.arange(first_key, first_key + n, dtype=np.int64)
    return {
        "c_custkey": keys,
        "c_name": _names("Customer#", keys),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    }


def _documents(rng, n: int) -> dict:
    """Random-word documents; one in ten is a near copy of an earlier
    one with a tenth of its words replaced, so near-duplicate detection
    has pairs to find."""
    lengths = rng.integers(8, 90, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    docs, pos = [], 0
    for length in lengths:
        docs.append(words[pos:pos + length].copy())
        pos += length
    for i in range(10, n, 10):
        doc = docs[int(rng.integers(0, i))].copy()
        edits = rng.integers(0, len(doc), len(doc) // 10)
        doc[edits] = np.array(VOCAB)[rng.integers(0, len(VOCAB), len(edits))]
        docs[i] = doc
    texts = [" ".join(doc) for doc in docs]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centres = rng.normal(size=(10, dim))
    vecs = centres[labels] + rng.normal(scale=0.8, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat
        ),
        "label": labels,
    }


def _events(rng, n: int, n_users: int) -> dict:
    base = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": base + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": _pick(
            rng, ["click", "purchase", "view", "signup", "error"], n
        ),
        "value": _money(rng, 0.01, 490.0, n),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def write_star(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write the ten fixture-shaped tables at scale ``sf`` (sf 1 is
    150k customers and 6M line items) as ``<out_dir>/<name>.parquet``.
    Returns the row count per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    p_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": pa.array(REGIONS),
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": customer_columns(rng, n_cust),
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier#", np.arange(n_supp)),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": _pick(rng, p_names, n_part),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
            ),
            "p_type": _pick(
                rng,
                ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"],
                n_part,
            ),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(
                900.0 + (np.arange(n_part) % 1000) / 10.0, 1
            ),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(
                rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)
            ),
            "o_orderpriority": _pick(
                rng,
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n_ord,
            ),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(
                rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)
            ),
        },
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
        "events": _events(rng, n_evt, max(10, int(15_000 * sf))),
    }
    return {
        name: _write(os.path.join(out_dir, f"{name}.parquet"), cols)
        for name, cols in tables.items()
    }


def write_dimension(seed: int, out_dir: str, rows: int, files: int) -> int:
    """Write ``rows`` customer-shaped rows with keys ``0..rows-1`` as
    ``files`` parquet files of consecutive key ranges; each file salts
    its customer names with its own random suffix."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    per_file = -(-rows // files)
    written = 0
    for i in range(files):
        n = min(per_file, rows - written)
        cols = customer_columns(rng, n, first_key=written)
        salt = int(rng.integers(1 << 30))
        cols["c_name"] = _names("Customer#", cols["c_custkey"], f"-{salt:x}")
        written += _write(os.path.join(out_dir, f"part-{i:03d}.parquet"), cols)
    return written


def write_upserts(
    seed: int, out_dir: str, batch: int, keys: int, dim_rows: int
) -> dict[int, float]:
    """Write upsert batch ``batch``: ``keys`` distinct existing keys,
    drawn from a window ten times as wide at a random place in the key
    range (recent customers change together), each row with new
    values and ``op='U'``.  Returns ``{key: new balance}`` so the run
    can check the merged values."""
    rng = np.random.default_rng([seed, 3, batch])
    start = int(rng.integers(0, dim_rows - 10 * keys))
    chosen = start + np.sort(rng.choice(10 * keys, keys, replace=False))
    cols = customer_columns(rng, keys)
    cols["c_custkey"] = chosen.astype(np.int64)
    cols["c_name"] = _names("Customer#", chosen, f"-u{batch}")
    cols["op"] = pa.array(["U"] * keys)
    os.makedirs(out_dir, exist_ok=True)
    _write(os.path.join(out_dir, "changes.parquet"), cols)
    return dict(zip(chosen.tolist(), cols["c_acctbal"].tolist()))


def key_permutation(seed: int, n: int) -> tuple[int, int]:
    """``(a, b)`` such that ``(value * a + b) % n`` is a seed-chosen
    permutation of ``0..n-1`` (``a`` coprime to ``n``): the event
    counter of the stream becomes a dimension key."""
    rng = np.random.default_rng([seed, 4])
    while True:
        a = int(rng.integers(1, n))
        if np.gcd(a, n) == 1:
            return a, int(rng.integers(0, n))
