import duckdb

import oracle


def test_oracle_cache_keys_on_every_part(tmp_path):
    calls = []

    def compute():
        calls.append(1)
        return {"n": 3, "extremes": {"id": ["1", "9"]}}

    a = oracle.cached(str(tmp_path), ("select 1", "0.001"), compute)
    b = oracle.cached(str(tmp_path), ("select 1", "0.001"), compute)
    assert a == b and len(calls) == 1
    oracle.cached(str(tmp_path), ("select 1", "0.01"), compute)
    assert len(calls) == 2


def test_generic_match_compares_shared_exact_columns():
    a = {"n": 2, "columns": ["a", "b"], "extremes": {"a": ["1", "5"], "b": ["x", "y"]}}
    b = {"n": 2, "columns": ["a", "b"], "extremes": {"a": ["1", "5"]}}
    assert oracle.generic_match(a, b)
    assert not oracle.generic_match(a, {**b, "n": 3})
    assert not oracle.generic_match(a, {**b, "extremes": {"a": ["1", "6"]}})


def test_generic_fingerprint_compares_decimals_by_value():
    con = duckdb.connect()
    a = oracle.generic_fingerprint(
        con, "(SELECT * FROM (VALUES (1, 12.5::DECIMAL(18,2)), (2, 3::DECIMAL(18,2))) t(id, amt))")
    b = oracle.generic_fingerprint(
        con, "(SELECT * FROM (VALUES (1, 12.5::DECIMAL(38,6)), (2, 3::DECIMAL(38,6))) t(id, amt))")
    assert a["extremes"]["amt"] == ["3", "12.5", "15.5"]
    assert a["extremes"]["id"] == ["1", "2", "3"]
    assert oracle.generic_match(a, b)
    c = oracle.generic_fingerprint(
        con, "(SELECT * FROM (VALUES (1, 12.5::DECIMAL(18,2)), (2, 3.01::DECIMAL(18,2))) t(id, amt))")
    assert not oracle.generic_match(a, c)
