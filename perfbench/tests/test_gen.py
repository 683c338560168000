import hashlib
import os

import duckdb
import pyarrow as pa
import pytest

import gen
import oracle


@pytest.fixture(scope="module")
def tables():
    return gen.read_base()


def _drop(tmp_path, tables, seed):
    out = tmp_path / f"csv{seed}"
    gen.write_csv_drop(str(out), tables, seed)
    return out


def _digest(path):
    return {
        os.path.relpath(os.path.join(d, n), path): hashlib.sha1(
            open(os.path.join(d, n), "rb").read()
        ).hexdigest()
        for d, _, names in os.walk(path) for n in names
    }


def _duck_type(t) -> str:
    if pa.types.is_timestamp(t):
        return "TIMESTAMP"
    if pa.types.is_floating(t):
        return "DOUBLE"
    if pa.types.is_integer(t):
        return "BIGINT"
    return "VARCHAR"


def _gl_fingerprint(csv_dir, tables):
    """The calc GL oracle's fingerprint over a CSV drop read by DuckDB."""
    from apl_commissions_etl_spark.registry import all_queries

    con = duckdb.connect()
    for t in gen.CSV_TABLES:
        cols = ", ".join(
            f"CAST({f.name} AS {_duck_type(f.type)}) AS {f.name}" for f in tables[t].schema
        )
        con.execute(
            f"CREATE VIEW {t} AS SELECT {cols} FROM "
            f"read_csv('{csv_dir}/{t}/*.csv', header=true, all_varchar=true)"
        )
    sql = all_queries()["calc_gl_entries"].oracle
    return oracle.fingerprint_oracle(con, sql, oracle.SHAPES["gl"])


def test_seed_changes_inputs_but_not_output_fingerprints(tmp_path, tables):
    a, b = _drop(tmp_path, tables, 1), _drop(tmp_path, tables, 2)
    assert _digest(a) != _digest(b)  # other split, other row order
    assert _digest(a) == _digest(_drop(tmp_path / "again", tables, 1))
    fa, fb = _gl_fingerprint(a, tables), _gl_fingerprint(b, tables)
    assert fa == fb
    assert fa["n"] > 0


def test_request_rounds_issue_every_query_once_per_round():
    names = ["q1", "q2", "q3", "q4", "q5"]
    r1 = gen.request_rounds(names, 4, seed=1)
    assert all(sorted(r) == names for r in r1)
    assert r1 == gen.request_rounds(names, 4, seed=1)
    assert r1 != gen.request_rounds(names, 4, seed=2)
