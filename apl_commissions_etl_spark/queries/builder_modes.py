"""Config-mode proposal-builder variants as driver-checkable queries
(ref sql/transforms/06b-06f — the reference's production routing modes
for non-conformant / plan-differentiated / year-differentiated /
granular groups).

Spark side: ``plans/builder_modes.py`` (keyed aggregation + broadcast
anti-join cascade over the session-cached criteria). Oracle side: the
same fixture SQL as CTEs + a DuckDB CTE chain mirroring the cascade
1:1, so every mode gets a full value-hash check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import session_cache, session_memo
from ..plans import builder_modes as modes
from ..registry import query
from .builder import BUILDER_CTES, _certs, _criteria, _per_split, builder_cte_sql

# ---------------------------------------------------------------------------
# DuckDB mirror of the 06b-06e cascade (extends BUILDER_CTES' criteria/
# conformant); `c.*` carries GroupName/SitusState/WritingBrokerId through
# ---------------------------------------------------------------------------

MODE_CTES = """
mc_groups AS (
  SELECT GroupId FROM conformant GROUP BY GroupId
  HAVING COUNT(DISTINCT ConfigHash) > 1
),
remainder AS (
  SELECT c.*, CAST(EXTRACT(YEAR FROM CertEffectiveDate) AS INT) AS EffYear
  FROM conformant c JOIN mc_groups USING (GroupId)
),
nc_keys AS (
  SELECT GroupId, CertEffectiveDate, ProductCode, PlanCode
  FROM remainder
  GROUP BY GroupId, CertEffectiveDate, ProductCode, PlanCode
  HAVING COUNT(DISTINCT ConfigHash) > 1
),
nc_certs AS (
  SELECT r.* FROM remainder r
  JOIN nc_keys USING (GroupId, CertEffectiveDate, ProductCode, PlanCode)
),
conformant2 AS (
  SELECT r.* FROM remainder r
  WHERE NOT EXISTS (SELECT 1 FROM nc_keys k
    WHERE k.GroupId = r.GroupId AND k.CertEffectiveDate = r.CertEffectiveDate
      AND k.ProductCode = r.ProductCode AND k.PlanCode = r.PlanCode)
),
pd_wop AS (
  SELECT GroupId, EffYear, ProductCode FROM conformant2
  GROUP BY GroupId, EffYear, ProductCode
  HAVING COUNT(DISTINCT ConfigHash) > 1
),
c2_stats AS (
  SELECT GroupId, EffYear, ProductCode, PlanCode,
         COUNT(DISTINCT ConfigHash) AS NConfigs,
         MAX(ConfigHash) AS ConfigHash,
         CAST(COUNT(*) AS INT) AS CertCount,
         MIN(CertEffectiveDate) AS MinEffDate,
         MAX(CertEffectiveDate) AS MaxEffDate
  FROM conformant2 GROUP BY GroupId, EffYear, ProductCode, PlanCode
),
pd_keys AS (
  SELECT s.GroupId, s.EffYear, s.ProductCode, s.PlanCode, s.ConfigHash,
         s.CertCount, s.MinEffDate, s.MaxEffDate
  FROM c2_stats s JOIN pd_wop USING (GroupId, EffYear, ProductCode)
  WHERE s.NConfigs = 1
),
remainder2 AS (
  SELECT c.* FROM conformant2 c
  WHERE NOT EXISTS (SELECT 1 FROM pd_keys k
    WHERE k.GroupId = c.GroupId AND k.EffYear = c.EffYear
      AND k.ProductCode = c.ProductCode AND k.PlanCode = c.PlanCode)
),
yd_woy AS (
  SELECT GroupId, ProductCode, PlanCode FROM remainder2
  GROUP BY GroupId, ProductCode, PlanCode
  HAVING COUNT(DISTINCT ConfigHash) > 1
),
r2_stats AS (
  SELECT GroupId, EffYear, ProductCode, PlanCode,
         COUNT(DISTINCT ConfigHash) AS NConfigs,
         MAX(ConfigHash) AS ConfigHash,
         CAST(COUNT(*) AS INT) AS CertCount,
         MIN(CertEffectiveDate) AS MinEffDate,
         MAX(CertEffectiveDate) AS MaxEffDate
  FROM remainder2 GROUP BY GroupId, EffYear, ProductCode, PlanCode
),
yd_keys AS (
  SELECT s.GroupId, s.EffYear, s.ProductCode, s.PlanCode, s.ConfigHash,
         s.CertCount, s.MinEffDate, s.MaxEffDate
  FROM r2_stats s JOIN yd_woy USING (GroupId, ProductCode, PlanCode)
  WHERE s.NConfigs = 1
),
remainder3 AS (
  SELECT c.* FROM remainder2 c
  WHERE NOT EXISTS (SELECT 1 FROM yd_keys k
    WHERE k.GroupId = c.GroupId AND k.EffYear = c.EffYear
      AND k.ProductCode = c.ProductCode AND k.PlanCode = c.PlanCode)
),
gr_keys AS (
  SELECT GroupId, EffYear, ProductCode, PlanCode,
         MAX(ConfigHash) AS ConfigHash,
         CAST(COUNT(*) AS INT) AS CertCount,
         MIN(CertEffectiveDate) AS MinEffDate,
         MAX(CertEffectiveDate) AS MaxEffDate
  FROM remainder3 GROUP BY GroupId, EffYear, ProductCode, PlanCode
)
"""


def _oracle(final_select: str) -> str:
    return f"WITH {builder_cte_sql()},\n{BUILDER_CTES},\n{MODE_CTES}\n{final_select}"


def _pid_sql(mode: str) -> str:
    return (
        f"'PROP-{mode}-' || GroupId || '-' || CAST(EffYear AS VARCHAR)"
        " || '-' || ProductCode || '-' || PlanCode"
    )


def _mode_proposal_sql(keys_cte: str, mode: str, notes: str) -> str:
    return f"""
    SELECT {_pid_sql(mode)} AS ProposalId,
           GroupId, EffYear AS EffectiveYear, ProductCode, PlanCode, ConfigHash,
           2 AS Status, '{notes}' AS Notes,
           MinEffDate AS SubmittedDate,
           MinEffDate AS EffectiveDateFrom,
           CASE WHEN MaxEffDate <> MinEffDate THEN MaxEffDate END
             AS EffectiveDateTo,
           CertCount,
           ProductCode AS ProductCodes,
           CASE WHEN PlanCode = '*' THEN '*' ELSE PlanCode END AS PlanCodes,
           CASE WHEN PlanCode = '*' THEN 0 ELSE 1 END
             AS EnablePlanCodeFiltering
    FROM {keys_cte}"""


#: session-scoped cascade cache: the routing key tables (non-conformant
#: keys, mode keys) are group-scale aggregates that every mode query
#: re-derives through the same 06b->06e chain — cache them once per
#: (session, sf) exactly like the criteria cache they build on
@session_memo
def _cascade(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    # session_cache (r12): the cached stages report their output
    # partitioning to the planner (a localCheckpoint surfaced
    # UnknownPartitioning under AQE), so mode queries keyed the same
    # way skip their Exchange — see mode_cascade
    return modes.mode_cascade(_criteria(spark, sf_dir), persist=session_cache)


@query(
    "builder_mode_nonconformant_pha",
    oracle=_oracle("""
    SELECT 'PHA-' || CAST(CertificateId AS VARCHAR) AS Id,
           CertificateId AS PolicyId, GroupId,
           CAST(CAST(100 AS DECIMAL(18,2)) AS DOUBLE) AS SplitPercent,
           WritingBrokerId,
           1 AS SplitSequence, 1 AS IsNonConforming,
           'Multiple configs for same (Group, Date, Product, Plan) key'
             AS NonConformantReason,
           0 AS EntryType
    FROM nc_certs
    WHERE WritingBrokerId IS NOT NULL AND TRIM(WritingBrokerId) <> ''"""),
    survey_ref="§2.9 config-mode 06b: non-conformant keys (2+ configs at "
    "full granularity) -> one PolicyHierarchyAssignment per certificate "
    "(06b-proposals-non-conformant.sql:23-102)",
)
def builder_mode_nonconformant_pha(spark: SparkSession, sf_dir: str) -> DataFrame:
    return modes.nonconformant_pha(_cascade(spark, sf_dir)["nc_certs"])


@query(
    "builder_mode_nonconformant_participants",
    oracle=_oracle("""
    SELECT 'PHP-' || CAST(i.CertificateId AS VARCHAR) || '-'
             || CAST(i.CertSplitSeq AS VARCHAR) || '-'
             || CAST(i.SplitBrokerSeq AS VARCHAR) AS Id,
           'PHA-' || CAST(i.CertificateId AS VARCHAR)
             AS PolicyHierarchyAssignmentId,
           TRY_CAST(REPLACE(i.SplitBrokerId, 'P', '') AS BIGINT) AS BrokerId,
           i.SplitBrokerName AS BrokerName,
           i.SplitBrokerSeq AS TierLevel,
           CAST(CAST(i.CertSplitPercent AS DECIMAL(18,2)) AS DOUBLE)
             AS CommissionRate,
           i.ScheduleCode
    FROM input_certificate_info i
    JOIN (SELECT DISTINCT GroupId, CertificateId FROM nc_certs) k
      ON i.GroupId = k.GroupId AND i.CertificateId = k.CertificateId
    WHERE TRY_CAST(REPLACE(i.SplitBrokerId, 'P', '') AS BIGINT) IS NOT NULL"""),
    survey_ref="§2.9 config-mode 06b: PolicyHierarchyParticipants per "
    "(cert, split, tier) — the reference's OPENJSON shred of the config "
    "JSON (06b:120-159); J11 lateral explode re-expressed relationally",
)
def builder_mode_nonconformant_participants(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = _cascade(spark, sf_dir)
    return modes.nonconformant_participants(c["nc_certs"], _certs(spark, sf_dir))


@query(
    "builder_mode_plan_differentiated",
    oracle=_oracle(_mode_proposal_sql("pd_keys", "PD", "Plan-differentiated")),
    survey_ref="§2.9 config-mode 06c: plan-differentiated proposals — "
    ">1 config per (G,Y,Product), exactly 1 with Plan "
    "(06c-proposals-plan-differentiated.sql:25-139)",
)
def builder_mode_plan_differentiated(spark: SparkSession, sf_dir: str) -> DataFrame:
    return modes.mode_proposals(
        _cascade(spark, sf_dir)["pd_keys"], "PD", "Plan-differentiated"
    )


@query(
    "builder_mode_year_differentiated",
    oracle=_oracle(_mode_proposal_sql("yd_keys", "YD", "Year-differentiated")),
    survey_ref="§2.9 config-mode 06d: year-differentiated proposals — "
    ">1 config per (G,Product,Plan) across years, exactly 1 with Year "
    "(06d-proposals-year-differentiated.sql:25-141); wildcard plan "
    "disables plan filtering (06d:122-130)",
)
def builder_mode_year_differentiated(spark: SparkSession, sf_dir: str) -> DataFrame:
    return modes.mode_proposals(
        _cascade(spark, sf_dir)["yd_keys"], "YD", "Year-differentiated"
    )


@query(
    "builder_mode_granular",
    oracle=_oracle(_mode_proposal_sql("gr_keys", "GR", "Granular")),
    survey_ref="§2.9 config-mode 06e: granular proposals — one per "
    "remaining distinct (G,Y,Product,Plan) key, MAX config as "
    "representative (06e-proposals-granular.sql:35-119)",
)
def builder_mode_granular(spark: SparkSession, sf_dir: str) -> DataFrame:
    return modes.mode_proposals(
        _cascade(spark, sf_dir)["granular_keys"], "GR", "Granular"
    )


@query(
    "builder_mode_key_mappings",
    oracle=_oracle(f"""
    SELECT GroupId, EffYear AS EffectiveYear, ProductCode, PlanCode,
           {_pid_sql('PD')} AS ProposalId, ConfigHash
    FROM pd_keys
    UNION ALL
    SELECT GroupId, EffYear, ProductCode, PlanCode,
           {_pid_sql('YD')}, ConfigHash
    FROM yd_keys
    UNION ALL
    SELECT GroupId, EffYear, ProductCode, PlanCode,
           {_pid_sql('GR')}, ConfigHash
    FROM gr_keys"""),
    survey_ref="§2.9 config-mode: (G,Y,Product,Plan) -> ProposalId "
    "mappings for all three proposal modes (06c:150-174, 06d:152-178, "
    "06e:130-153); mode key sets are disjoint so no NOT-EXISTS dedup",
)
def builder_mode_key_mappings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return modes.mode_key_mappings(_cascade(spark, sf_dir))


_TOTALS_SQL = """
conf_y AS (
  SELECT c.*, CAST(EXTRACT(YEAR FROM CertEffectiveDate) AS INT) AS EffYear
  FROM conformant c
)"""


def _psv_sql(keys_cte: str, mode: str) -> str:
    pid = _pid_sql(mode).replace("GroupId", "k.GroupId").replace(
        "EffYear", "k.EffYear"
    ).replace("ProductCode", "k.ProductCode").replace("PlanCode", "k.PlanCode")
    return f"""
    SELECT 'PSV-' || {pid} AS SplitVersionId,
           {pid} AS ProposalId,
           '1.0' AS VersionNumber,
           k.MinEffDate AS EffectiveFrom,
           CASE WHEN k.MaxEffDate <> k.MinEffDate THEN k.MaxEffDate END
             AS EffectiveTo,
           MIN(c.TotalSplitPercent) AS TotalSplitPercent,
           1 AS Status
    FROM {keys_cte} k
    JOIN conf_y c
      ON c.GroupId = k.GroupId AND c.EffYear = k.EffYear
     AND c.ProductCode = k.ProductCode AND c.PlanCode = k.PlanCode
     AND c.ConfigHash = k.ConfigHash
    GROUP BY k.GroupId, k.EffYear, k.ProductCode, k.PlanCode,
             k.MinEffDate, k.MaxEffDate"""


@query(
    "builder_mode_split_versions",
    oracle=_oracle(
        f", {_TOTALS_SQL.strip().lstrip(',')}\n"
        + _psv_sql("pd_keys", "PD")
        + "\n    UNION ALL\n"
        + _psv_sql("yd_keys", "YD")
        + "\n    UNION ALL\n"
        + _psv_sql("gr_keys", "GR")
    ),
    survey_ref="§2.9 config-mode: one premium split version per mode "
    "proposal, total split from the key's representative config "
    "(06c:182-213, level-1 JSON percent sum re-derived relationally)",
)
def builder_mode_split_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return modes.mode_split_versions(
        _cascade(spark, sf_dir), _criteria(spark, sf_dir)
    )


_TIER_JSON_SQL = (
    "array_to_string(list_transform(string_split(ps.TiersCanonical, ';'),"
    " t -> '{\"level\":' || split_part(t, ':', 1)"
    " || ',\"brokerId\":\"' || split_part(t, ':', 2)"
    " || '\",\"schedule\":\"' || split_part(t, ':', 3) || '\"}'), ',')"
)


def _rep_sql(keys_cte: str, mode: str) -> str:
    pid = _pid_sql(mode).replace("GroupId", "k.GroupId").replace(
        "EffYear", "k.EffYear"
    ).replace("ProductCode", "k.ProductCode").replace("PlanCode", "k.PlanCode")
    return f"""
      SELECT k.GroupId, {pid} AS ProposalId, MIN(c.CertificateId) AS CertificateId
      FROM {keys_cte} k
      JOIN conf_y c
        ON c.GroupId = k.GroupId AND c.EffYear = k.EffYear
       AND c.ProductCode = k.ProductCode AND c.PlanCode = k.PlanCode
       AND c.ConfigHash = k.ConfigHash
      GROUP BY k.GroupId, k.EffYear, k.ProductCode, k.PlanCode"""


@query(
    "builder_mode_split_configs",
    oracle=_oracle(
        f", {_TOTALS_SQL.strip().lstrip(',')},\n"
        f"rep AS ({_rep_sql('pd_keys', 'PD')}\n"
        f"  UNION ALL {_rep_sql('yd_keys', 'YD')}\n"
        f"  UNION ALL {_rep_sql('gr_keys', 'GR')}),\n"
        "doc AS (\n"
        "  SELECT r.ProposalId,\n"
        "         CAST(SUM(ps.CertSplitPercent) AS INT) AS TotalSplitPercent,\n"
        "         string_agg('{\"splitPercent\":'\n"
        "           || CAST(ps.CertSplitPercent AS VARCHAR)\n"
        "           || ',\"sequence\":' || CAST(ps.CertSplitSeq AS VARCHAR)\n"
        f"           || ',\"tiers\":[' || {_TIER_JSON_SQL} || ']}}',\n"
        "           ',' ORDER BY ps.CertSplitSeq) AS SplitsJson\n"
        "  FROM rep r JOIN per_split ps\n"
        "    ON ps.GroupId = r.GroupId AND ps.CertificateId = r.CertificateId\n"
        "  GROUP BY r.ProposalId)\n"
        "SELECT ProposalId,\n"
        "       '{\"totalSplitPercent\":' || CAST(TotalSplitPercent AS VARCHAR)\n"
        "         || ',\"splits\":[' || SplitsJson || ']}'\n"
        "         AS SplitConfigurationJSON,\n"
        "       md5('{\"totalSplitPercent\":'\n"
        "         || CAST(TotalSplitPercent AS VARCHAR)\n"
        "         || ',\"splits\":[' || SplitsJson || ']}')\n"
        "         AS SplitConfigurationMD5\n"
        "FROM doc"
    ),
    survey_ref="§2.9 config-mode 06f: nested split-configuration JSON + "
    "MD5 per mode proposal — the reference's 3-level FOR JSON tree "
    "(06f-populate-prestage-split-configs.sql:22-97) built by canonical "
    "string ops so both engines hash identical bytes",
)
def builder_mode_split_configs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return modes.mode_prestage_split_configs(
        _cascade(spark, sf_dir),
        _criteria(spark, sf_dir),
        _certs(spark, sf_dir),
        per_split=_per_split(spark, sf_dir),
    )


@query(
    "builder_mode_routing_summary",
    oracle=_oracle("""
    SELECT 'remainder' AS stage, COUNT(*) AS n FROM remainder
    UNION ALL SELECT 'non_conformant_certs', COUNT(*) FROM nc_certs
    UNION ALL SELECT 'plan_differentiated_keys', COUNT(*) FROM pd_keys
    UNION ALL SELECT 'year_differentiated_keys', COUNT(*) FROM yd_keys
    UNION ALL SELECT 'granular_keys', COUNT(*) FROM gr_keys"""),
    survey_ref="§2.9 config-mode: per-stage routing counts (the "
    "reference's PRINT summary blocks, 06b:197-226, 06c:303-328) as a "
    "checkable A12 summary union",
)
def builder_mode_routing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _cascade(spark, sf_dir)
    rows = [
        ("remainder", c["remainder"]),
        ("non_conformant_certs", c["nc_certs"]),
        ("plan_differentiated_keys", c["pd_keys"]),
        ("year_differentiated_keys", c["yd_keys"]),
        ("granular_keys", c["granular_keys"]),
    ]
    out = None
    for stage, df in rows:
        part = df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(stage).alias("stage"), "n"
        )
        out = part if out is None else out.unionByName(part)
    return out


@query(
    "fix_flag_nonconformant_groups",
    oracle=_oracle("""
    SELECT g.GroupId,
           CASE WHEN s.GroupId IS NULL THEN 0 ELSE 1 END AS IsNonConformant,
           COALESCE(s.NcKeyCount, 0) AS NcKeyCount,
           COALESCE(s.NcCertCount, 0) AS NcCertCount
    FROM (SELECT DISTINCT GroupId FROM conformant) g
    LEFT JOIN (
      SELECT GroupId,
             CAST(COUNT(DISTINCT CAST(CertEffectiveDate AS VARCHAR) || '|'
                        || COALESCE(ProductCode, '') || '|'
                        || COALESCE(PlanCode, '')) AS INT) AS NcKeyCount,
             CAST(COUNT(DISTINCT CertificateId) AS INT) AS NcCertCount
      FROM nc_certs GROUP BY GroupId) s USING (GroupId)"""),
    survey_ref="§2 repair transform (sql/fix/flag-nonconformant-groups"
    ".sql:22-174): IsNonConformant flag per employer group from the "
    "06b non-conformant key set, with the per-group key and certificate "
    "counts the reference prints. The flag side is the cascade's "
    "key-scale nc table — a broadcast left join against the group dim, "
    "the UPDATE-join re-expressed as a projection",
)
def fix_flag_nonconformant_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.builder import conformant_criteria

    groups = (
        conformant_criteria(_criteria(spark, sf_dir))
        .select("GroupId")
        .distinct()
    )
    nc = _cascade(spark, sf_dir)["nc_certs"]
    key_str = F.concat(
        F.col("CertEffectiveDate").cast("string"),
        F.lit("|"),
        F.coalesce("ProductCode", F.lit("")),
        F.lit("|"),
        F.coalesce("PlanCode", F.lit("")),
    )
    stats = nc.groupBy("GroupId").agg(
        F.countDistinct(key_str).cast("int").alias("NcKeyCount"),
        F.countDistinct("CertificateId").cast("int").alias("NcCertCount"),
    )
    return groups.join(F.broadcast(stats), "GroupId", "left").select(
        "GroupId",
        F.col("NcKeyCount").isNotNull().cast("int").alias("IsNonConformant"),
        F.coalesce("NcKeyCount", F.lit(0)).alias("NcKeyCount"),
        F.coalesce("NcCertCount", F.lit(0)).alias("NcCertCount"),
    )
