"""Seeded input generation for the benchmark.

Everything a run reads is made here from ``--seed`` before set-up starts:
the ten fixture tables the registry queries read (same names, column types
and value domains as the engine's test fixtures) and the address CSV files
the ingest workload lands.  The same seed always gives byte-identical
files; nothing here touches Spark.
"""

from __future__ import annotations

import csv
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
STREETS = ("Main Street", "2nd Street", "Church Way", "Bangor Road", "Mill Lane")
TOWNS = ("Antrim", "Glengormley", "Ballymena", "Carrickfergus", "Larne")

#: CSV header of a landed address file (the reference's upload format).
ADDRESS_HEADER = ("ID", "HouseNum", "Street", "Town", "Zip")
#: Streaming schema for those files, matching ``ADDRESS_HEADER``.
ADDRESS_SCHEMA = "ID long, HouseNum int, Street string, Town string, Zip string"

_DAY_US = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng: np.random.Generator, n: int, lo: tuple, hi: tuple) -> pa.Array:
    """``n`` midnight timestamps drawn uniformly from the day range."""
    lo_us, hi_us = _epoch_us(*lo), _epoch_us(*hi)
    days = rng.integers(0, (hi_us - lo_us) // _DAY_US + 1, n)
    return pa.array(lo_us + days * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def table_sizes(sf: float, corpus_rows: int) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (TPC-H ratios)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": corpus_rows,
        "embeddings": corpus_rows,
    }


def write_tables(out_dir: str, seed: int, sf: float, corpus_rows: int) -> dict[str, int]:
    """Write the ten fixture tables under ``out_dir``; returns row counts.

    ``documents`` carries near-duplicates (a copy of an earlier text with
    a trailing ``dup`` token) and ``embeddings`` near-parallel vectors,
    so the band-join operators find real candidate pairs to verify.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_sizes(sf, corpus_rows)
    counts: dict[str, int] = {}

    def emit(name: str, cols: dict) -> None:
        table = pa.table(cols)
        _write(out_dir, name, table)
        counts[name] = table.num_rows

    emit("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    emit("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    emit("customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99)),
        "c_mktsegment": _choice(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    emit("supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99)),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    emit("part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": _choice(rng, names, npart),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _choice(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)),
    })
    no = n["orders"]
    emit("orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), no),
        "o_totalprice": pa.array(_money(rng, no, 1000.0, 500_000.0)),
        "o_orderdate": _days(rng, no, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _choice(rng, PRIORITIES, no),
    })
    lines_per_order = rng.integers(1, 8, no)
    nl = int(lines_per_order.sum())
    orderkey = np.repeat(np.arange(no), lines_per_order)
    linenumber = np.arange(nl) - np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order) + 1
    emit("lineitem", {
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, nl, 900.0, 100_000.0)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _choice(rng, ("A", "N", "R"), nl),
        "l_linestatus": _choice(rng, ("F", "O"), nl),
        "l_shipdate": _days(rng, nl, (1995, 1, 2), (2001, 11, 4)),
    })
    ne = n["events"]
    users = max(10, int(ne * 0.015))
    ts = np.sort(rng.integers(0, 30 * _DAY_US, ne)) + _epoch_us(2024, 1, 1)
    emit("events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(40.0, ne), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    emit("documents", _documents(rng, n["documents"]))
    emit("embeddings", _embeddings(rng, n["embeddings"]))
    return counts


def _documents(rng: np.random.Generator, nd: int) -> dict:
    lengths = rng.integers(10, 100, nd)
    texts = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # ~5% near-duplicates: an earlier document plus a trailing token
    for i in range(1, nd):
        if rng.random() < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, nd, p=LANG_P),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, nv: int, dim: int = 64) -> dict:
    vecs = rng.standard_normal((nv, dim))
    # ~5% near-parallel copies of an earlier vector
    for i in range(1, nv):
        if rng.random() < 0.05:
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(dim)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    }


def address_rows(rng: np.random.Generator, ids: np.ndarray, version: int) -> list[tuple]:
    """One address row per id; ``version`` lands in HouseNum so a replay
    can tell which write of a key won."""
    streets = rng.integers(0, len(STREETS), len(ids))
    towns = rng.integers(0, len(TOWNS), len(ids))
    zips = rng.integers(10_000, 100_000, len(ids))
    return [
        (int(i), version, STREETS[s], TOWNS[t], str(z))
        for i, s, t, z in zip(ids, streets, towns, zips)
    ]


def write_csv(path: str, rows: list[tuple]) -> None:
    with open(path, "w", newline="") as fh:
        writer = csv.writer(fh)
        writer.writerow(ADDRESS_HEADER)
        writer.writerows(rows)


def write_address_files(
    out_dir: str, seed: int, n_keys: int, n_files: int, rows_per_file: int
) -> tuple[str, list[str]]:
    """The ingest inputs: one seed CSV covering every key, and
    ``n_files`` update files of ``rows_per_file`` distinct existing keys
    each (keys drawn uniformly, so the store never grows).  Returns the
    seed file path and the update file paths in landing order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    seed_path = os.path.join(out_dir, "seed.csv")
    write_csv(seed_path, address_rows(rng, np.arange(n_keys), 0))
    paths = []
    for f in range(n_files):
        ids = np.sort(rng.choice(n_keys, rows_per_file, replace=False))
        path = os.path.join(out_dir, f"update-{f:05d}.csv")
        write_csv(path, address_rows(rng, ids, f + 1))
        paths.append(path)
    return seed_path, paths
