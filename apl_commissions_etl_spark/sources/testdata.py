"""Loaders for the driver-generated parquet tables.

TPC-H-ish star schema + events/documents/embeddings
(see /root/repo/TESTDATA.md). These are the generic-operator test
inputs; the domain pipeline has its own fixture builders in
``plans/fixtures.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..caching import session_memo, session_state

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Scale-adaptive spread for narrow-split scans (guide §2.5 "input
    skew: one huge unsplittable file ... otherwise repartition
    immediately after the read").

    The fixture tables are single-row-group parquet files, so every
    scan arrives as ONE task and the stage fused onto it (filter +
    partial aggregation / explode / window input) runs single-threaded
    — measured 30-40% of several headline queries' steady time at
    sf0.1 on local[32].  On a real cluster the same table arrives in
    thousands of splits and no repartition is wanted: the decision is
    DERIVED FROM THE SCAN, not a constant — when the frame already
    provides at least half the session's parallelism this is a no-op.

    ``key_cols`` must functionally determine no grouping used
    downstream (callers pass a high-cardinality natural key, typically
    the row's unique id) — hash spread is exactly as uniform as
    round-robin for a unique key and skips round-robin's
    sort-before-repartition pass (guide §2.5 on SPARK-23207).  Values
    never change: the engine's aggregates are partition-order
    independent by policy (exact DECIMAL / integer accumulation)."""
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    try:
        attrs = vars(df)
        n = attrs.get(_SCAN_SPLITS)
        if n is None:
            # one full physical-planning pass (~0.06 s of driver work);
            # remembered on the session's table handles (load_table),
            # which live as long as the session
            n = df.rdd.getNumPartitions()
            if _SCAN_SPLITS in attrs:
                attrs[_SCAN_SPLITS] = n
        if n * 2 >= par:
            return df
    except Exception:
        return df  # connect mode: no RDD handle; leave the scan alone
    return df.repartition(par, *key_cols) if key_cols else df.repartition(par)


#: attribute slot on a table handle holding its scan split count (None
#: until spread() first probes it): spread()'s split probe
#: (df.rdd.getNumPartitions()) costs a full physical planning pass
#: (~0.06 s) per call otherwise.
_SCAN_SPLITS = "_scan_splits"


@session_memo
def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (one lazy frame handle per session).

    The handle is NOT a data cache: nothing is materialized — building
    the same scan frame per call costs ~0.12 s of driver work (relation
    resolution + schema) and every query pays it at build time (r13
    profile, guide §5 "the driver should do almost no data work").
    Reusing the immutable handle removes that per-call tax; the scan
    itself still executes in full inside every consuming query.

    ``events.parquet`` stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark's vectorized reader rejects. We read it with
    ``spark.sql.legacy.parquet.nanosAsLong`` (session-level, set here)
    and convert to a microsecond TimestampType column, truncating like
    DuckDB/Arrow do, so both engines see identical values.
    """
    df = _read_table(spark, sf_dir, name)
    setattr(df, _SCAN_SPLITS, None)
    return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            # integer div: float division loses precision at 1e18 nanos
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def registered_once(
    spark: SparkSession, family: str, sf_dir: str, register
) -> None:
    """Run ``register()`` exactly once per (session, family, sf_dir),
    BLOCKING concurrent callers until it has completed — so warm-up
    chains can register their own view families concurrently instead
    of serially up front.

    Replacing a temp view (CREATE OR REPLACE / createOrReplaceTempView)
    makes Spark uncache every cached plan that depends on it — so
    re-registering the same fixture views before every query silently
    dropped the session-scoped criteria/cascade caches and re-ran whole
    cascades (measured: builder_mode_key_mappings 24s in a 120-query
    session vs 2s isolated).  Views are static per (session, sf_dir):
    register once.

    The session state records, per family, the sf_dir whose
    registration has COMPLETED; it is set only after ``register()``
    returns, under the family's lock, so a waiter never proceeds
    before the claimer's CREATE VIEWs exist, and a failed registration
    leaves the record untouched so a later call retries.  The record is
    per family — not per (family, sf_dir) — so a call with a NEW sf_dir
    re-registers (the views point at the LATEST sf, and stale caches
    are correctly invalidated), and flipping back re-registers too."""
    st = session_state(spark)
    with st.key_lock((registered_once, family)):
        if st.views.get(family) != sf_dir:
            register()
            st.views[family] = sf_dir


def register_base_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Register parquet base tables as temp views, each at most once per
    (session, sf_dir) — several fixture families share these names, and
    a redundant replace would uncache everything built on them."""
    for t in tables:
        registered_once(
            spark, f"base:{t}", sf_dir,
            lambda t=t: load_table(spark, sf_dir, t).createOrReplaceTempView(t),
        )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so operators can be written in
    either the DataFrame or SQL API against the same names."""
    register_base_tables(spark, sf_dir)
