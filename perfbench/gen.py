"""Inputs of the commission-flow benchmark.

Two kinds of input, kept apart on purpose:

- The base tables in ``data/sf0.001/``: a copy of the engine's scale
  0.001 test data (TPC-H-ish star schema plus the events, documents and
  embeddings tables). They never change, so every seed computes the
  same outputs and does the same amount of work.
- The seeded inputs: ``write_csv_drop`` (how the nightly CSV drop is
  split into files and ordered) and ``request_rounds`` (serving request
  order). The seed changes these and nothing else.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the base tables the engine and the DuckDB oracles read
BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")

#: tables the nightly CSV drop carries, in the order they are ingested
CSV_TABLES = ("lineitem", "orders", "customer")


def read_base() -> dict[str, pa.Table]:
    """The base tables the CSV drop carries."""
    return {t: pq.read_table(os.path.join(BASE_DIR, f"{t}.parquet")) for t in CSV_TABLES}


def base_digest() -> str:
    """Hash of every base table file: keys the oracle cache."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(BASE_DIR)):
        h.update(name.encode())
        with open(os.path.join(BASE_DIR, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return repr(v) if isinstance(v, float) else str(v)


def write_csv_drop(
    out_dir: str, tables: dict[str, pa.Table], seed: int
) -> dict[str, int]:
    """The nightly drop: each CSV table shuffled and split into 2-5 files
    (``<table>/part-<i>.csv``) as the seed decides. Returns bytes written
    per table."""
    rng = np.random.default_rng(seed)
    sizes: dict[str, int] = {}
    for name in CSV_TABLES:
        tab = tables[name]
        order = rng.permutation(tab.num_rows)
        n_files = int(rng.integers(2, 6))
        cols = tab.column_names
        rows = tab.take(order).to_pylist()
        tdir = os.path.join(out_dir, name)
        os.makedirs(tdir, exist_ok=True)
        sizes[name] = 0
        for i, chunk in enumerate(np.array_split(np.arange(len(rows)), n_files)):
            path = os.path.join(tdir, f"part-{i}.csv")
            with open(path, "w", newline="") as fh:
                w = csv.writer(fh)
                w.writerow(cols)
                for j in chunk:
                    r = rows[j]
                    w.writerow([_cell(r[c]) for c in cols])
            sizes[name] += os.path.getsize(path)
    return sizes


def request_rounds(names: list[str], rounds: int, seed: int) -> list[list[str]]:
    """``rounds`` seeded shuffles of ``names``: each round issues every
    name once."""
    rng = np.random.default_rng(seed)
    return [[names[i] for i in rng.permutation(len(names))] for _ in range(rounds)]
