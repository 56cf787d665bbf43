"""Deterministic generator for the benchmark's input tables.

The benchmark reads and writes only inside its checkout, so it cannot
use a dataset installed elsewhere on the host. This module writes the
ten base tables the queries read (``pipelinejobs_indexer_spark.tables.
BASE_TABLES``) as one parquet file each (one row group, snappy, as the
project's test data is written).

Provenance. The project's synthetic test data (TESTDATA.md: seed 42)
was drawn with one ``numpy.random.default_rng(42)`` in a fixed order.
The draws below repeat that order, distributions and category orders,
which were recovered by comparing against the sf0.1 tables column by
column. At sf0.001, sf0.01 and sf0.1 ``compare`` finds these eight tables
equal to the test data value for value, in row order:

* region, nation: fixed 5 and 25 rows (``NATION_i``, region ``i % 5``).
* customer, supplier, part, orders, lineitem: uniform keys and
  attributes; money as ``uniform`` rounded to cents, discount and tax as
  ``uniform`` rounded to 0.01; ``l_orderkey`` draws orders with
  replacement, so 2% of orders have no lines.
* events: ``ts`` = 2024-01-01 plus sorted ``uniform`` seconds over 30
  days, stored as TIMESTAMP(MICROS) like the test data (its pandas
  metadata says ``datetime64[ns]``, the parquet column is micros);
  ``user_id`` uniform over 1500 (at sf0.1), five event types,
  ``value`` exponential with mean 50, ``props`` = ``{"k": 0..99}``.

The draw order of the last two tables could not be recovered, so they
are drawn to the marginals measured on the sf0.1 test data instead:

* documents: 10-100 words (uniform) from a 30-word vocabulary (uniform:
  each word occurs 8,829-9,182 times at sf0.1), then 5% of the documents
  replaced by another document plus the word ``dup`` (sf0.1: 250) and
  8 by an exact copy of another document (sf0.1: 8); ``lang`` with the
  measured shares; ``source`` = ``src{i % 20}``.
* embeddings: unit-norm isotropic 64-d float32 vectors (sf0.1 has no
  label structure: within-label mean cosine equals cross-label), labels
  uniform over 0..9.

The data depends only on the scale factor (the seed is fixed): the
benchmark's ``--seed`` chooses the operation sequence, not the data, so
runs with different seeds measure the same tables.

    python3 perfbench/datagen.py --sf 0.1 --compare DIR

generates the tables in memory and compares them with the parquet
files in DIR, column by column.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

# Category lists in the order the test data's generator indexes them.
VOCAB = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4118, 0.1506, 0.1488, 0.1484, 0.1404)  # sf0.1: 2059/753/744/742/702
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")
ORDER_STATUS = ("O", "F", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("red", "blue", "small", "large", "hot", "cold", "old", "new")
PART_NOUN = ("anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring")
PART_TYPES = ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
RETURN_FLAGS = ("R", "A", "N")
LINE_STATUS = ("O", "F")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
EVENTS_SPAN_S = 30 * 24 * 3600
NEAR_DUP_SHARE = 0.05
EXACT_DUPS_AT_SF_0_1 = 8


def _rows(sf: float, at_sf_0_1: int, floor: int = 1) -> int:
    return max(floor, int(round(at_sf_0_1 * sf / 0.1)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _pick(rng: np.random.Generator, values: tuple, n: int) -> pa.Array:
    return pa.array(rng.choice(values, n))


def make_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = _rows(sf, 15_000), _rows(sf, 1_000)
    n_part, n_ord = _rows(sf, 20_000), _rows(sf, 150_000)
    n_line, n_ev = _rows(sf, 600_000), _rows(sf, 100_000)
    n_doc, n_vec = _rows(sf, 5_000, 500), _rows(sf, 2_000, 500)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": _keys(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": _keys(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = rng.choice(PART_ADJ, n_part)
    noun = rng.choice(PART_NOUN, n_part)
    t["part"] = pa.table(
        {
            "p_partkey": _keys(n_part),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": _keys(n_ord),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ORDER_STATUS, n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": _money(rng, 0.0, 0.10, n_line),
            "l_tax": _money(rng, 0.0, 0.08, n_line),
            "l_returnflag": _pick(rng, RETURN_FLAGS, n_line),
            "l_linestatus": _pick(rng, LINE_STATUS, n_line),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n_line),
        }
    )
    # seconds drawn as doubles, taken to nanoseconds and truncated to
    # micros, as the test data's pandas frame was written
    seconds = np.sort(rng.uniform(0, EVENTS_SPAN_S, n_ev))
    ts_us = EVENTS_START_US + (seconds * 1e9).astype(np.int64) // 1000
    t["events"] = pa.table(
        {
            "event_id": _keys(n_ev),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, _rows(sf, 1500), n_ev), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    texts = _documents(rng, n_doc, sf)
    t["documents"] = pa.table(
        {
            "doc_id": _keys(n_doc),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    v = rng.standard_normal((n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": _keys(n_vec),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )
    return t


def _documents(rng: np.random.Generator, n: int, sf: float) -> list[str]:
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(n)]
    n_near = int(round(NEAR_DUP_SHARE * n))
    n_exact = _rows(sf, EXACT_DUPS_AT_SF_0_1)
    targets = rng.choice(n, n_near + n_exact, replace=False)
    for k, i in enumerate(targets):
        j = int(rng.integers(0, n - 1))
        j += j >= i  # another document
        texts[i] = texts[j] + " dup" if k < n_near else texts[j]
    return texts


def fingerprint() -> str:
    """Identifies this generator's output: changes when this file does."""
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def ensure(root: str, sf: float) -> str:
    """Return a directory holding the tables for *sf*, writing them on
    first use. The write goes to a sibling temp dir that is renamed into
    place, so an interrupted run never leaves a partial dataset."""
    out = os.path.join(root, f"sf{sf:g}-{fingerprint()}")
    if os.path.isdir(out):
        return out
    part = f"{out}.part{os.getpid()}"
    shutil.rmtree(part, ignore_errors=True)
    os.makedirs(part)
    for name, table in make_tables(sf).items():
        pq.write_table(table, os.path.join(part, f"{name}.parquet"))
    os.rename(part, out)
    return out


def compare(tables: dict[str, pa.Table], ref_dir: str) -> list[str]:
    """One line per table: which columns equal the reference's, in order."""
    lines = []
    for name, table in tables.items():
        ref = pq.read_table(os.path.join(ref_dir, f"{name}.parquet"))
        same = [
            c
            for c in table.column_names
            if c in ref.column_names and ref[c].type == table[c].type and ref[c].equals(table[c])
        ]
        differ = [c for c in table.column_names if c not in same]
        status = "equal" if not differ and ref.num_rows == table.num_rows else "differs"
        lines.append(f"{name}: {status} ({table.num_rows} rows) differing columns: {differ}")
    return lines


if __name__ == "__main__":
    p = argparse.ArgumentParser(description="compare the generated tables with a reference")
    p.add_argument("--sf", type=float, default=0.1)
    p.add_argument("--compare", required=True, help="directory of reference parquet tables")
    args = p.parse_args()
    print("\n".join(compare(make_tables(args.sf), args.compare)))
