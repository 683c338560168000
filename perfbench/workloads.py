"""The benchmark's workloads. Each drives the engine only through its
public functions and returns a ``Result``; ``run.py`` turns that into
the printed metrics.

- ``nightly_batch``: the reference's batch flow from a CSV drop through
  ingest, fixture staging, the proposal builder, consolidation, the
  calc cascade and the GL merge, every stage writing parquet.
- ``serving_mix``: a warm session serving registry queries to one
  closed-loop client.
"""

from __future__ import annotations

import json
import os
import time
import traceback
from dataclasses import dataclass, field

import duckdb

import gen
import oracle
from stats import write_amp


@dataclass
class Op:
    """One operation: a stage or a request."""

    name: str
    seconds: float
    ok: bool = True


@dataclass
class Result:
    setup_s: float
    ops: list[Op]
    #: seconds and units that throughput is computed over
    busy_s: float
    units: int
    unit: str
    latencies: list[float]  # the samples behind op_p50_s
    report: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)  # per-layer counts


# -- shared helpers -----------------------------------------------------

def _spark_type(arrow_type) -> str:
    import pyarrow as pa

    if pa.types.is_int64(arrow_type):
        return "bigint"
    if pa.types.is_int32(arrow_type):
        return "int"
    if pa.types.is_floating(arrow_type):
        return "double"
    if pa.types.is_timestamp(arrow_type):
        return "timestamp"
    return "string"


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under a parquet output directory."""
    total, files = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


def _rows(con, path: str) -> int:
    return con.execute(f"SELECT COUNT(*) FROM {oracle.parquet_rel(path)}").fetchone()[0]


# -- nightly_batch ------------------------------------------------------

#: staging tables the fixture stage writes; the calc reads the other
#: (group- and broker-scale) staging dims straight from their views
STAGED_FACTS = ("stg_premium_transactions", "stg_policies")
#: builder outputs the nightly flow writes (run_builder, then mode_cascade)
BUILDER_OUTPUTS = ("proposals_fixed", "hierarchies")
CASCADE_OUTPUTS = ("granular_keys",)
CALC_OUTPUTS = ("gl", "broker_trace", "trace")
STAGES = ("sources", "fixtures", "builder", "consolidate", "calc", "export")


def _prod_gl_sql(gl_oracle: str) -> str:
    """Yesterday's production GL: tonight's entries, less those of
    certificates whose id starts with 1 (the merge inserts them), with
    stale amounts the merge has to overwrite."""
    return (
        "SELECT GlEntryId, PremiumTransactionId, BrokerId, EntryType, "
        "Amount + 1.0 AS Amount "
        f"FROM ({gl_oracle}) g WHERE substr(PremiumTransactionId, 4, 1) <> '1'"
    )


def _nightly_setup(inputs: str, seed: int):
    """The seeded CSV drop and yesterday's production GL, under
    ``inputs``: (csv dir, CSV bytes per table, production GL path,
    typed schema of each CSV table)."""
    from apl_commissions_etl_spark.registry import all_queries

    gl_oracle = all_queries()["calc_gl_entries"].oracle
    tables = gen.read_base()
    csv_dir = os.path.join(inputs, "csv")
    csv_bytes = gen.write_csv_drop(csv_dir, tables, seed)
    prod = os.path.join(inputs, "prod_gl.parquet")
    con = oracle.connect(gen.BASE_DIR)
    try:
        con.execute(f"COPY ({_prod_gl_sql(gl_oracle)}) TO '{prod}' (FORMAT PARQUET)")
    finally:
        con.close()
    schemas = {t: tables[t].schema for t in gen.CSV_TABLES}
    return csv_dir, csv_bytes, prod, schemas


def _nightly_pass(h, run_dir: str, csv_dir: str, prod_path: str, schemas):
    """One run of the flow into ``run_dir``: (one Op per stage, state the
    stages left for the report). A stage after a failed one is not run
    and counts as failed."""
    from pyspark.sql import functions as F

    from apl_commissions_etl_spark.operators.consolidate import consolidate_proposals
    from apl_commissions_etl_spark.operators.export import merge_upsert
    from apl_commissions_etl_spark.plans.builder import run_builder
    from apl_commissions_etl_spark.plans.builder_fixtures import register_builder_views
    from apl_commissions_etl_spark.plans.builder_modes import mode_cascade
    from apl_commissions_etl_spark.plans.calc import run_calc
    from apl_commissions_etl_spark.plans.fixtures import FIXTURE_VIEWS, register_fixture_views
    from apl_commissions_etl_spark.sources.csv_ingest import read_raw_csv

    spark = h.spark
    p = lambda *a: os.path.join(run_dir, *a)  # noqa: E731
    state: dict = {}

    def sources():
        for t, schema in schemas.items():
            with h.span("sources.build"):
                raw = read_raw_csv(spark, os.path.join(csv_dir, t, "*.csv"))
                typed = raw.select(*[
                    F.col(f.name).cast(_spark_type(f.type)).alias(f.name) for f in schema
                ])
            h.write("sources", typed, p(f"{t}.parquet"))

    def fixtures():
        with h.span("fixtures.build"):
            register_fixture_views(spark, run_dir)
            views = {name: spark.table(name) for name, _ in FIXTURE_VIEWS}
        for name in STAGED_FACTS:
            h.write("fixtures", views[name], p("stg", name))
        with h.span("fixtures.build"):
            for name in STAGED_FACTS:
                views[name] = spark.read.parquet(p("stg", name))
        state["staging"] = views

    def builder():
        with h.span("builder.build"):
            register_builder_views(spark, run_dir)
            out = run_builder(spark, spark.table("input_certificate_info"))
            cascade = mode_cascade(
                out["criteria"], persist=lambda df: df.localCheckpoint(eager=False)
            )
        for name in BUILDER_OUTPUTS:
            h.write("builder", out[name], p("builder", name))
        for name in CASCADE_OUTPUTS:
            h.write("builder", cascade[name], p("builder", f"mode_{name}"))

    def consolidate():
        with h.span("consolidate.build"):
            folded = consolidate_proposals(spark.table("prestage_proposals"))
        h.write("consolidate", folded, p("consolidated"))

    def calc():
        persisted = []

        def persist(df):
            df = df.cache()
            persisted.append(df)
            return df

        with h.span("calc.build"):
            out = run_calc(state["staging"], persist=persist)
        for name in CALC_OUTPUTS:
            h.write("calc", out[name], p("calc", name))
        state["cached_mb"], state["cached_frames"] = h.storage_mb()
        for df in persisted:
            df.unpersist()

    def export():
        with h.span("export.build"):
            merged = merge_upsert(
                spark.read.parquet(prod_path),
                spark.read.parquet(p("calc", "gl")),
                ["GlEntryId"],
            )
        h.write("export", merged, p("prod_gl"))

    ops = []
    failed = False
    for stage, fn in zip(STAGES, (sources, fixtures, builder, consolidate, calc, export)):
        t0 = time.perf_counter()
        ok = not failed
        if ok:
            try:
                with h.span(f"stage.{stage}"):
                    fn()
            except Exception:
                traceback.print_exc()
                ok, failed = False, True
        ops.append(Op(stage, time.perf_counter() - t0, ok))
    return ops, state


def _nightly_checks(base_dir: str, run_dir: str) -> tuple[dict[str, bool], dict]:
    """Per-stage output checks against DuckDB over the base tables:
    (stage -> passed, row counts of the outputs). A check that raises
    fails its stage."""
    from apl_commissions_etl_spark.plans.builder_fixtures import builder_cte_sql
    from apl_commissions_etl_spark.plans.fixtures import fixtures_cte_sql
    from apl_commissions_etl_spark.registry import all_queries

    q = all_queries()
    p = lambda *a: os.path.join(run_dir, *a)  # noqa: E731
    con = oracle.connect(base_dir)

    def same(name, path, sql):
        shape = oracle.SHAPES[name]
        return oracle.fingerprint_written(con, path, shape) == oracle.fingerprint_oracle(
            con, sql, shape
        )

    def count(ctes, view):
        return con.execute(f"WITH {ctes} SELECT COUNT(*) FROM {view}").fetchone()[0]

    checks = {
        "sources": lambda: all(
            _rows(con, p(f"{t}.parquet")) == _rows(con, os.path.join(base_dir, f"{t}.parquet"))
            for t in gen.CSV_TABLES
        ),
        "fixtures": lambda: all(
            _rows(con, p("stg", n)) == count(fixtures_cte_sql(), n) for n in STAGED_FACTS
        ),
        "builder": lambda: all(
            _rows(con, p("builder", n)) > 0 for n in ("proposals_fixed", "hierarchies")
        ),
        "consolidate": lambda: same(
            "consolidated", p("consolidated"), q["consolidate_proposals"].oracle
        ),
        "calc": lambda: (
            same("gl", p("calc", "gl"), q["calc_gl_entries"].oracle)
            and same("broker_trace", p("calc", "broker_trace"), q["calc_broker_trace"].oracle)
            and same("trace", p("calc", "trace"), q["calc_traceability"].oracle)
        ),
        # every stale production row is overwritten and every new entry
        # inserted, so the merged table equals tonight's full GL
        "export": lambda: same("prod_gl", p("prod_gl"), q["calc_gl_entries"].oracle),
    }
    ok: dict[str, bool] = {}
    rows: dict = {}
    try:
        for stage, check in checks.items():
            try:
                ok[stage] = bool(check())
            except Exception:
                traceback.print_exc()
                ok[stage] = False
        if all(ok.values()):
            rows = {
                "sources.rows": sum(_rows(con, p(f"{t}.parquet")) for t in gen.CSV_TABLES),
                "fixtures.rows": sum(_rows(con, p("stg", n)) for n in STAGED_FACTS),
                "consolidate.rows_in": count(builder_cte_sql(), "prestage_proposals"),
                "consolidate.rows_out": _rows(con, p("consolidated")),
                "calc.gl_rows": _rows(con, p("calc", "gl")),
            }
    finally:
        con.close()
    return ok, rows


def nightly_batch(h, seed: int, seconds: float) -> Result:
    base_dir = gen.BASE_DIR
    start_s = h.start()
    h.calibrate("start")
    t0 = time.perf_counter()
    csv_dir, csv_bytes, prod_path, schemas = _nightly_setup(
        os.path.join(h.out_dir, "inputs"), seed
    )
    gen_s = time.perf_counter() - t0
    premiums = _premium_rows(base_dir)
    h.calibrate("pre")

    ops: list[Op] = []
    run_dirs: list[str] = []
    walls: list[float] = []
    t_end = time.perf_counter() + seconds
    with h.span("timed"):
        while not walls or time.perf_counter() < t_end:
            run_dirs.append(os.path.join(h.out_dir, "runs", f"pass{len(walls)}"))
            with h.span("batch") as sp:
                pass_ops, state = _nightly_pass(h, run_dirs[-1], csv_dir, prod_path, schemas)
            walls.append(sp.dur)
            ops.extend(pass_ops)
    h.calibrate("end")
    layer: dict = {}
    for i, run_dir in enumerate(run_dirs):
        with h.span("check"):
            checks, rows = _nightly_checks(base_dir, run_dir)
        for op in ops[i * len(STAGES):(i + 1) * len(STAGES)]:
            op.ok = op.ok and checks.get(op.name, False)
        layer.update(rows)
    layer["caching.held_mb"] = state.get("cached_mb", 0.0)
    layer["caching.frames"] = state.get("cached_frames", 0)
    gl_b, _ = _dir_bytes(os.path.join(run_dirs[-1], "calc", "gl"))
    prod_b, prod_files = _dir_bytes(os.path.join(run_dirs[-1], "prod_gl"))
    layer["export.written_mb"] = prod_b / (1 << 20)
    layer["export.files"] = prod_files
    layer["export.write_amp"] = write_amp(prod_b, gl_b) if gl_b else 0.0
    csv_mb = sum(csv_bytes.values()) / (1 << 20)
    layer["sources.input_mb"] = csv_mb
    return Result(
        setup_s=start_s + gen_s, ops=ops, busy_s=sum(walls),
        units=premiums * len(walls), unit="premium rows", latencies=walls,
        report={"passes": len(walls), "premium_rows_per_pass": premiums,
                "csv_mb": round(csv_mb, 3)},
        layer=layer,
    )


def _premium_rows(base_dir: str) -> int:
    from apl_commissions_etl_spark.plans.fixtures import FIXTURE_VIEWS

    con = oracle.connect(base_dir)
    try:
        return con.execute(f"SELECT COUNT(*) FROM ({FIXTURE_VIEWS[0][1]}) f").fetchone()[0]
    finally:
        con.close()


# -- serving_mix --------------------------------------------------------

#: the served queries and their families: a frozen subset of bench.py's
#: headline set, one query per family. Two fast (cache-hit) queries, three
#: mid and two slow ones put the median request inside the mid group, so
#: ``serve_p50_s`` does not jump between groups from run to run.
SERVED = {
    "calc_gl_entries": "calc",
    "ann_topk_ivf": "ann",
    "builder_proposals": "builder",
    "consolidate_proposals": "consolidate",
    "export_merge_upsert": "export",
    "text_bpe_train": "text",
    "audit_referential_integrity": "audit",
}
#: served queries that are also flow outputs: checked by their shape too
SERVED_SHAPES = {"calc_gl_entries": "gl", "consolidate_proposals": "consolidated"}
#: every run serves at least this many rounds, so that the statistics
#: cover the same number of rounds whichever side of ``--seconds`` a
#: round ends on
MIN_ROUNDS = 4
WARMUP_ROUNDS = 2
MAX_ROUNDS = 1000


def _serve_checks(out_dirs: list[str], cache_dir: str, queries) -> dict[str, bool]:
    """Each served query's outputs, one under each of ``out_dirs``,
    against its DuckDB oracle: the generic fingerprint, and for a flow
    output the fingerprint of its shape (money as cent sums)."""
    con = oracle.connect(gen.BASE_DIR)
    digest = gen.base_digest()

    def fingerprints(rel, shape):
        out = {"generic": oracle.generic_fingerprint(con, rel),
               "shape": shape and oracle.fingerprint(con, rel, oracle.SHAPES[shape])}
        return json.loads(json.dumps(out))  # the form the cache returns

    ok: dict[str, bool] = {}
    try:
        for name in SERVED:
            try:
                sql, shape = queries[name].oracle, SERVED_SHAPES.get(name)
                want = oracle.cached(
                    cache_dir, (sql, str(shape), digest, duckdb.__version__),
                    lambda: fingerprints(f"({sql}) AS o", shape),
                )
                got = [fingerprints(oracle.parquet_rel(os.path.join(d, name)), shape)
                       for d in out_dirs]
                ok[name] = all(
                    oracle.generic_match(g["generic"], want["generic"])
                    and g["shape"] == want["shape"]
                    for g in got
                )
            except Exception:
                traceback.print_exc()
                ok[name] = False
    finally:
        con.close()
    return ok


def _serve_cold(h, queries, out_dir: str) -> dict[str, bool]:
    """The cold call of every served query, its output written under
    ``out_dir``: (query -> the call did not raise)."""
    ok: dict[str, bool] = {}
    for name in SERVED:
        try:
            with h.span(f"session.warm.{SERVED[name]}"):
                h.write("serve.cold", queries[name].spark_fn(h.spark, gen.BASE_DIR),
                        os.path.join(out_dir, name))
            ok[name] = True
        except Exception:
            traceback.print_exc()
            ok[name] = False
    return ok


def _request(h, query, out_dir: str | None = None) -> Op:
    """One request: build the query's frame and execute it, with a noop
    write, or with a parquet write under ``out_dir`` for the output
    check."""
    with h.span("serve.request", family=SERVED[query.name]) as sp:
        ok = True
        try:
            with h.span("serve.build"):
                df = query.spark_fn(h.spark, gen.BASE_DIR)
            if out_dir is None:
                h.execute("serve", df, lambda d: d.write.format("noop").mode("overwrite").save())
            else:
                h.write("serve", df, os.path.join(out_dir, query.name))
        except Exception:
            traceback.print_exc()
            ok = False
    return Op(query.name, sp.dur, ok)


def serving_mix(h, seed: int, seconds: float) -> Result:
    from apl_commissions_etl_spark.registry import all_queries

    queries = all_queries()
    cold_dir = os.path.join(h.out_dir, "runs", "cold")
    served_dir = os.path.join(h.out_dir, "runs", "served")
    rounds = gen.request_rounds(list(SERVED), MAX_ROUNDS, seed)
    start_s = h.start()
    h.calibrate("start")
    warm_ops: list[Op] = []
    with h.span("session.warm") as warm:
        # the cold call of each query fills the session caches it reads
        cold_ok = _serve_cold(h, queries, cold_dir)
        # untimed rounds: request latency still falls for the first
        # rounds after the cold calls while the JVM compiles hot paths.
        # The first writes its outputs for the output check: they come
        # from the cache-hit path the timed requests take.
        for i, rnd in enumerate(rounds[:WARMUP_ROUNDS]):
            out = served_dir if i == 0 else None
            warm_ops += [_request(h, queries[name], out) for name in rnd]
    held_mb, frames = h.storage_mb()
    h.calibrate("pre")

    ops: list[Op] = []
    t_end = time.perf_counter() + seconds
    with h.span("timed"):
        for i, rnd in enumerate(rounds[WARMUP_ROUNDS:]):
            if i >= MIN_ROUNDS and time.perf_counter() >= t_end:
                break
            ops += [_request(h, queries[name]) for name in rnd]
    h.calibrate("end")
    with h.span("check"):
        checks = _serve_checks(
            [cold_dir, served_dir],
            os.path.join(os.path.dirname(h.out_dir), "oracle-cache"), queries,
        )
    for op in warm_ops + ops:
        op.ok = op.ok and cold_ok[op.name] and checks[op.name]
    return Result(
        setup_s=start_s + warm.dur, ops=warm_ops + ops,
        busy_s=sum(op.seconds for op in ops), units=len(ops),
        unit="requests", latencies=[op.seconds for op in ops],
        report={"serve_cache_mb": {"value": held_mb, "unit": "MB"},
                "cached_frames": frames, "queries": len(SERVED),
                "rounds": len(ops) // len(SERVED),
                "failed_checks": sorted(n for n, v in checks.items() if not v)},
        layer={"caching.held_mb": held_mb, "caching.frames": frames},
    )


WORKLOADS = {
    "nightly_batch": nightly_batch,
    "serving_mix": serving_mix,
}
