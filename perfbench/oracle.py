"""Output checks: fingerprints of what the engine wrote, compared with
DuckDB running the engine's registered oracle SQL over the same base
tables. Runs outside every timed region.

A fingerprint is the row count, exact integer cent sums of the money
columns, exact sums of the integer columns, and the min/max of the id
column.
"""

from __future__ import annotations

import decimal
import glob
import hashlib
import json
import os
from dataclasses import dataclass

import duckdb


@dataclass(frozen=True)
class Shape:
    id_col: str
    cents: tuple[str, ...] = ()
    ints: tuple[str, ...] = ()


#: the flow's outputs and how to fingerprint them
SHAPES = {
    "gl": Shape("GlEntryId", cents=("Amount",)),
    "broker_trace": Shape("Id", cents=("CommissionAmount",), ints=("TierLevel",)),
    "trace": Shape(
        "PremiumTransactionId", cents=("PremiumAmount", "TotalCommission"),
        ints=("ParticipantCount",),
    ),
    "consolidated": Shape(
        "RetainedId", ints=("ConsumedCount", "DateRangeFrom", "DateRangeTo"),
    ),
    "prod_gl": Shape("GlEntryId", cents=("Amount",)),
}


def fingerprint_sql(rel: str, shape: Shape) -> str:
    parts = ["COUNT(*) AS n"]
    parts += [
        f"COALESCE(SUM(CAST(ROUND({c} * 100) AS BIGINT)), 0) AS cents_{c}"
        for c in shape.cents
    ]
    parts += [f"COALESCE(SUM(CAST({c} AS BIGINT)), 0) AS sum_{c}" for c in shape.ints]
    parts += [f"MIN({shape.id_col}) AS min_id", f"MAX({shape.id_col}) AS max_id"]
    return f"SELECT {', '.join(parts)} FROM {rel}"


def parquet_rel(path: str) -> str:
    """DuckDB relation over a parquet file or a Spark output directory."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/*.parquet')"
    return f"read_parquet('{path}')"


def connect(base_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with every base table as a view, as the
    engine's oracle SQL expects."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for path in sorted(glob.glob(os.path.join(base_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {parquet_rel(path)}")
    return con


def fingerprint(con, rel: str, shape: Shape) -> dict:
    cur = con.execute(fingerprint_sql(rel, shape))
    cols = [d[0] for d in cur.description]
    return dict(zip(cols, cur.fetchone()))


def fingerprint_written(con, path: str, shape: Shape) -> dict:
    return fingerprint(con, parquet_rel(path), shape)


def fingerprint_oracle(con, oracle_sql: str, shape: Shape) -> dict:
    return fingerprint(con, f"({oracle_sql}) AS oracle_out", shape)


#: DuckDB types whose min/max are exact on both engines
_EXACT_TYPES = (
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "HUGEINT", "UBIGINT",
    "UINTEGER", "VARCHAR", "DATE", "BOOLEAN",
)


def _text(v) -> str | None:
    """A cell as text; decimals without trailing zeros, so that the same
    amount at another scale (``12.50`` and ``12.500000``) reads the same."""
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    return str(v)


def generic_fingerprint(con, rel: str) -> dict:
    """Row count, lower-cased column names, min/max of every integer,
    string, date, boolean and decimal column, and the exact sum of every
    integer and decimal column. Floats are left out: their last digits
    depend on summation order (``SHAPES`` sums money columns as cents)."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()
    exact, summed = [], []
    for name, typ, *_ in cols:
        typ = typ.upper()
        numeric = typ.startswith("DECIMAL") or (typ in _EXACT_TYPES and "INT" in typ)
        if typ in _EXACT_TYPES or numeric:
            exact.append(name)
        if numeric:
            summed.append(name)
    quote = lambda n: '"' + n.replace('"', '""') + '"'  # noqa: E731
    parts = ["COUNT(*)"]
    for name in exact:
        parts += [f"MIN({quote(name)})", f"MAX({quote(name)})"]
    parts += [f"SUM({quote(name)})" for name in summed]
    row = con.execute(f"SELECT {', '.join(parts)} FROM {rel}").fetchone()
    text = [_text(v) for v in row[1:]]
    sums = dict(zip(summed, text[2 * len(exact):]))
    return {
        "n": row[0],
        "columns": sorted(name.lower() for name, *_ in cols),
        "extremes": {
            name.lower(): text[2 * i: 2 * i + 2] + ([sums[name]] if name in sums else [])
            for i, name in enumerate(exact)
        },
    }


def generic_match(a: dict, b: dict) -> bool:
    """Same row count, same columns, same extremes (and sums) on the
    columns both sides could compare exactly."""
    shared = a["extremes"].keys() & b["extremes"].keys()
    return (
        a["n"] == b["n"]
        and a["columns"] == b["columns"]
        and all(a["extremes"][c] == b["extremes"][c] for c in shared)
    )


def cached(cache_dir: str, key: tuple[str, ...], compute) -> dict:
    """``compute()``'s JSON-able result, kept in ``cache_dir`` under a
    hash of ``key``. The base tables are fixed, so an oracle result keyed
    by their digest and the oracle SQL is the same in every run; some
    oracles take seconds in DuckDB."""
    digest = hashlib.sha256("\0".join(key).encode()).hexdigest()[:32]
    path = os.path.join(cache_dir, f"{digest}.json")
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        pass
    value = compute()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(value, fh)
    os.replace(path + ".tmp", path)
    return value
