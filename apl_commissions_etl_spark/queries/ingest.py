"""Bronze ingest (SURVEY.md §2.1 S1/S2/S5/S7) as driver-checkable
queries: a real CSV/ZIP round-trip through the filesystem, not a mock.

Each query STAGES data once per session (customer written as headered
CSV parts with deliberately dirty column names; a ZIP with a decoy
member), then runs the actual ingest path — header sniff, name
sanitization, all-string bronze schema, glob multi-file read, prefix-
filtered ZIP extraction — and types the result (P2 try_cast prep).
The DuckDB oracle reads the ORIGINAL parquet, so any loss or mangling
in the round-trip (quoting, duplicate headers, float formatting,
prefix filtering) breaks the value hash.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import session_memo
from ..registry import query
from ..sources.csv_ingest import read_raw_csv
from ..sources.archive import read_zip_csvs
from ..sources.testdata import load_table

#: dirty headers exercising the sanitization rules (load-csv.ts:155-165):
#: space -> '_', leading digit -> 'Col_' prefix; the duplicate pair is
#: index-suffixed by Spark's CSV reader itself (name -> name<colIdx>)
_DIRTY_HEADERS = [
    "c custkey", "c name", "1nationkey", "c acctbal", "c mktsegment",
    "c mktsegment",
]


def _stage_dir(spark: SparkSession, sf_dir: str, kind: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_{kind}_{spark.sparkContext.applicationId}_{tag}",
    )


@session_memo
def _csv_stage(spark: SparkSession, sf_dir: str) -> str:
    """Write customer as 2 headered CSV part files (glob source S7)
    with dirty headers; once per (session, sf)."""
    path = _stage_dir(spark, sf_dir, "csv")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string"),
        "c_name",
        F.col("c_nationkey").cast("string"),
        F.col("c_acctbal").cast("string"),
        "c_mktsegment",
        F.col("c_mktsegment").alias("c_mktsegment2"),
    )
    c.toDF(*_DIRTY_HEADERS).coalesce(2).write.mode("overwrite").option(
        "header", True
    ).csv(path)
    return path


@session_memo
def _zip_stage(spark: SparkSession, sf_dir: str) -> str:
    """Zip the staged CSV parts as 'CommissionsDetail_<i>.csv' plus a
    DECOY member ('Other_0.csv', duplicate rows) that the prefix
    filter must exclude — if filtering regressed, the row multiset
    changes and the value hash catches it."""
    csv_dir = _csv_stage(spark, sf_dir)
    zpath = _stage_dir(spark, sf_dir, "zip") + ".zip"
    parts = sorted(
        f for f in os.listdir(csv_dir)
        if f.endswith(".csv") and not f.startswith(".")
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for i, p in enumerate(parts):
            zf.write(
                os.path.join(csv_dir, p), f"CommissionsDetail_{i}.csv"
            )
        zf.write(os.path.join(csv_dir, parts[0]), "Other_0.csv")
    return zpath


def _typed(raw: DataFrame) -> DataFrame:
    """P2 prep over the sanitized all-string bronze frame."""
    return raw.select(
        F.col("c_custkey").try_cast("long").alias("c_custkey"),
        "c_name",
        F.col("Col_1nationkey").try_cast("int").alias("Col_1nationkey"),
        F.col("c_acctbal").try_cast("double").alias("c_acctbal"),
        # duplicate headers are index-suffixed by Spark's CSV reader
        # itself (name -> name<colIndex>) before our sanitizer runs
        "c_mktsegment4",
        "c_mktsegment5",
    )


@query(
    "ingest_csv_typed",
    oracle="""
    SELECT c_custkey, c_name,
           c_nationkey AS Col_1nationkey,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal,
           c_mktsegment AS c_mktsegment4,
           c_mktsegment AS c_mktsegment5
    FROM customer
    """,
    survey_ref="§2.1 S1/S2/S4/S7 + P2: real CSV round-trip — headered "
    "multi-file glob read, header sanitization (space->_, leading "
    "digit->Col_, duplicate->_1), all-string bronze then try_cast prep "
    "(load-csv.ts:146-301); oracle reads the original parquet so any "
    "round-trip mangling breaks the hash",
)
def ingest_csv_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _csv_stage(spark, sf_dir)
    raw = read_raw_csv(spark, os.path.join(path, "*.csv"))
    return _typed(raw)


@query(
    "ingest_zip_prefix_summary",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(c_custkey) AS min_key,
           MAX(c_custkey) AS max_key,
           CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM customer
    """,
    survey_ref="§2.1 S5: ZIP extraction with prefix-matched member "
    "discovery (ingest-raw-data.ts:1-23, 'CommissionsDetail_*') — a "
    "decoy member is planted in the archive, so a prefix-filter "
    "regression doubles rows and breaks the hash",
)
def ingest_zip_prefix_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    zpath = _zip_stage(spark, sf_dir)
    work = _stage_dir(spark, sf_dir, "zipwork")
    raw = read_zip_csvs(spark, zpath, work, prefix="CommissionsDetail_")
    typed = _typed(raw)
    return typed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
        .cast("long")
        .alias("acctbal_cents"),
    )


@session_memo
def _materialize_stage(spark: SparkSession, sf_dir: str) -> str:
    """S3/S8/S11 sink exercise, once per (session, sf): an
    INSERT..SELECT materializer writes a filtered orders projection to
    parquet (S8), a dim goes through saveAsTable (S3,
    scripts/load-csv.ts:320-352 batched bulk insert), and a
    truncate-and-reload (S11, sql/transforms/00-references.sql:5-20)
    overwrites a first write with the corrected second load -- the
    read-back must see ONLY the reload."""
    root = _stage_dir(spark, sf_dir, "materialize")

    # S8: INSERT...SELECT -> parquet stage via the Pipeline materializer
    from ..plans.pipeline import Pipeline

    pipe = Pipeline("materialize_suite")

    @pipe.stage("orders_f")
    def _orders_f(spark, ctx):
        return (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_custkey", "o_totalprice")
        )

    pipe.run(spark, root, resume=False)

    # S3: batched bulk insert -> saveAsTable.  External table pinned to
    # the stage dir: repeated sessions (or a stale spark-warehouse/ from
    # another process) must not LOCATION_ALREADY_EXISTS-collide.
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    spark.sql("DROP TABLE IF EXISTS mat_suite_nation")
    (
        nat.write.mode("overwrite")
        .option("path", os.path.join(root, "nation_tbl"))
        .bucketBy(4, "n_nationkey")
        .format("parquet")
        .saveAsTable("mat_suite_nation")
    )

    # S11: truncate-and-reload -- first load is WRONG (filtered), the
    # reload overwrites with the full region table; a reader seeing
    # leftover rows or the first load breaks the fingerprint.
    reload_path = os.path.join(root, "region_reload")
    reg = load_table(spark, sf_dir, "region")
    reg.filter(F.col("r_regionkey") <= 1).write.mode("overwrite").parquet(
        reload_path
    )
    reg.write.mode("overwrite").parquet(reload_path)
    return root


@query(
    "pipeline_materialize_suite",
    oracle="""
    SELECT 's8_insert_select' AS pattern,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey + o_custkey) AS BIGINT) AS int_sum,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents_sum
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT 's3_save_as_table',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n_nationkey + n_regionkey) AS BIGINT),
           CAST(0 AS BIGINT)
    FROM nation
    UNION ALL
    SELECT 's11_truncate_reload',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(r_regionkey) AS BIGINT),
           CAST(0 AS BIGINT)
    FROM region
    """,
    survey_ref="§2.1 S3 (batched bulk insert -> saveAsTable, "
    "load-csv.ts:320-352), S8 (INSERT..SELECT materializer, "
    "run-pipeline.ts stage writes), S11 (truncate-and-reload, "
    "00-references.sql:5-20) -- each sink is WRITTEN then read back; "
    "the oracle computes the same fingerprints from the logical "
    "SELECT, so a sink that drops/duplicates/stales rows mismatches",
)
def pipeline_materialize_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _materialize_stage(spark, sf_dir)
    s8 = spark.read.parquet(os.path.join(root, "orders_f")).agg(
        F.lit("s8_insert_select").alias("pattern"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_orderkey") + F.col("o_custkey"))
        .cast("long")
        .alias("int_sum"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents_sum"),
    ).select("pattern", "n_rows", "int_sum", "cents_sum")
    s3 = spark.table("mat_suite_nation").agg(
        F.lit("s3_save_as_table").alias("pattern"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("n_nationkey") + F.col("n_regionkey"))
        .cast("long")
        .alias("int_sum"),
        F.lit(0).cast("long").alias("cents_sum"),
    ).select("pattern", "n_rows", "int_sum", "cents_sum")
    s11 = spark.read.parquet(os.path.join(root, "region_reload")).agg(
        F.lit("s11_truncate_reload").alias("pattern"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("r_regionkey").cast("long").alias("int_sum"),
        F.lit(0).cast("long").alias("cents_sum"),
    ).select("pattern", "n_rows", "int_sum", "cents_sum")
    return s8.unionAll(s3).unionAll(s11)


# ---------------------------------------------------------------------------
# Format completeness: JSONL / ORC / partitioned-parquet sinks and the
# text-log parse path (§2.1 sources beyond CSV/ZIP/parquet)
# ---------------------------------------------------------------------------

def _events_for_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )


@session_memo
def _jsonl_stage(spark: SparkSession, sf_dir: str) -> str:
    path = _stage_dir(spark, sf_dir, "jsonl")
    _events_for_stage(spark, sf_dir).coalesce(2).write.mode(
        "overwrite"
    ).json(path)
    return path


@query(
    "ingest_jsonl_typed",
    oracle="""
    SELECT event_id,
           epoch_us(ts) AS ts_us,
           user_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events
    """,
    survey_ref="§2.1 source completeness: JSON-lines round trip — "
    "events written as JSONL (2 part files) and read back with an "
    "EXPLICIT schema (schema inference is a full extra pass at 100 "
    "TB; production readers always pin the schema). Timestamps ride "
    "as epoch microseconds (integer-exact both directions, no "
    "datetime-format ambiguity); the oracle reads the original "
    "parquet so any round-trip mangling breaks the hash",
)
def ingest_jsonl_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _jsonl_stage(spark, sf_dir)
    schema = (
        "event_id long, ts_us long, user_id long, "
        "event_type string, value_cents long"
    )
    return spark.read.schema(schema).json(path).select(
        "event_id", "ts_us", "user_id", "event_type", "value_cents"
    )


@session_memo
def _orc_stage(spark: SparkSession, sf_dir: str) -> str:
    path = _stage_dir(spark, sf_dir, "orc")
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
    ).coalesce(2).write.mode("overwrite").orc(path)
    return path


@query(
    "ingest_orc_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
             AS o_totalprice,
           CAST(o_orderdate AS DATE) AS o_orderdate
    FROM orders
    """,
    survey_ref="§2.1 source completeness: ORC round trip — orders "
    "written as ORC (Spark-native columnar alternative to parquet; "
    "predicate pushdown and column pruning work identically) and "
    "read back typed; money through DECIMAL(18,2) so the engine's "
    "ORC writer/reader path is value-hash-exact vs the parquet "
    "original",
)
def ingest_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _orc_stage(spark, sf_dir)
    return spark.read.orc(path).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderdate",
    )


@session_memo
def partitioned_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """Orders written hive-partitioned by order year (once per
    session) — the layout every date-ranged query at 100 TB depends
    on: the year filter becomes a PartitionFilter and non-matching
    directories are never opened."""
    path = _stage_dir(spark, sf_dir, "part")
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        F.year(F.col("o_orderdate")).alias("o_year"),
    ).write.mode("overwrite").partitionBy("o_year").parquet(path)
    return path


@query(
    "sink_partitioned_prune",
    oracle="""
    SELECT EXTRACT(MONTH FROM o_orderdate) AS o_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders
    WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
    GROUP BY 1
    """,
    survey_ref="§2.1 sink completeness + §4 partition pruning: orders "
    "written hive-partitioned by order year, read back with a "
    "partition-key filter — the o_year=1995 predicate resolves "
    "against directory names (PartitionFilters in the scan, asserted "
    "in tests/test_partition_prune.py), so every other year's files "
    "are never opened. THE layout decision for time-series at 100 "
    "TB; monthly rollup + integer cents keep the result value-exact "
    "vs the unpartitioned original",
)
def sink_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = partitioned_orders_path(spark, sf_dir)
    return (
        spark.read.parquet(path)
        .filter(F.col("o_year") == 1995)
        .groupBy(F.month("o_orderdate").alias("o_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice").cast("double") * 100).cast("long")
            ).alias("cents"),
        )
    )


@session_memo
def _log_stage(spark: SparkSession, sf_dir: str) -> str:
    path = _stage_dir(spark, sf_dir, "log")
    _events_for_stage(spark, sf_dir).select(
        F.concat(
            F.col("ts_us").cast("string"),
            F.lit(" ["),
            F.upper("event_type"),
            F.lit("] user="),
            F.col("user_id").cast("string"),
            F.lit(" event="),
            F.col("event_id").cast("string"),
            F.lit(" cents="),
            F.col("value_cents").cast("string"),
        ).alias("value")
    ).coalesce(2).write.mode("overwrite").text(path)
    return path


@query(
    "ingest_log_parse",
    oracle="""
    SELECT epoch_us(ts) AS ts_us,
           upper(event_type) AS level,
           user_id, event_id,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events
    """,
    survey_ref="§2.1 source completeness: text-log parse — events "
    "serialized to a '<ts_us> [TYPE] user=.. event=.. cents=..' log "
    "format, read back via spark.read.text and re-structured with "
    "ONE regexp_extract per field inside the scan projection (no "
    "UDF, no intermediate materialization — the log-to-table path "
    "every observability pipeline runs). The oracle computes the "
    "same fields from the original events, proving the parse "
    "inverts the format exactly",
)
def ingest_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _log_stage(spark, sf_dir)
    lines = spark.read.text(path)
    pat = r"^(\d+) \[([A-Z]+)\] user=(\d+) event=(\d+) cents=(-?\d+)$"
    return lines.select(
        F.regexp_extract("value", pat, 1).cast("long").alias("ts_us"),
        F.regexp_extract("value", pat, 2).alias("level"),
        F.regexp_extract("value", pat, 3).cast("long").alias("user_id"),
        F.regexp_extract("value", pat, 4).cast("long").alias("event_id"),
        F.regexp_extract("value", pat, 5).cast("long").alias("value_cents"),
    )
