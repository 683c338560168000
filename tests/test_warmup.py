"""Session warm-up: concurrent cache chains + the IVF index contract.

warm_shared_caches runs four independent chains on a thread pool after
serially registering temp views; these tests pin (a) that every cache
family reports a timing and the registered queries still answer
correctly afterwards (a silent race would surface as a wrong result or
an uncached re-derivation), and (b) that the session-scoped IVF index
path returns exactly the per-query assignment path's answer.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from apl_commissions_etl_spark.operators import similarity
from apl_commissions_etl_spark.queries import llmdata
from apl_commissions_etl_spark.registry import all_queries
from apl_commissions_etl_spark.session import warm_shared_caches
from apl_commissions_etl_spark.sources.testdata import load_table

WARM_STEPS = {
    "calc_views",
    "builder_views",
    "calc_staging_cascade",
    "builder_criteria",
    "mode_cascade_keys",
    "lsh_pair_index",
    "dedup_cluster_labels",
    "ann_constants",
    "ivf_index",
    # NOT here: ann_probe (r12) — probe selection is per-serving-call
    # driver arithmetic since r13, deliberately unwarmed
    "doc_signals",
    "builder_per_split",
}


def test_warm_shared_caches_covers_every_family_and_queries_agree(
    spark, sf_dir
):
    timings = warm_shared_caches(spark, sf_dir)
    assert set(timings) == WARM_STEPS
    assert all(t >= 0 for t in timings.values())
    # post-warm, a representative query from each warmed family still
    # answers (and from the cache: these run in well under a second at
    # sf0.001, but we only assert correctness-shaped facts here)
    qs = all_queries()
    gl = qs["calc_gl_entries"].spark_fn(spark, sf_dir)
    assert gl.count() > 0
    labels = qs["dedup_cluster_labels"].spark_fn(spark, sf_dir)
    assert labels.filter(F.col("cluster_id") > F.col("doc_id")).count() == 0
    topk = qs["ann_topk_ivf"].spark_fn(spark, sf_dir).collect()
    assert len(topk) == 10


def test_probe_selection_local_matches_engine_job(spark, sf_dir):
    """The r13 per-call driver-math probe selection must return the
    exact bits the engine-job form returns — cells list identical,
    qnorm repr-identical — for both centroid families (it feeds literal
    qnorm/probe-cell values into oracle-hashed plans)."""
    qvec, seeds = llmdata._ann_constants(spark, sf_dir)
    qcol = llmdata._qcol(qvec)
    for cents in (seeds, llmdata._kmeans_centroids(spark, sf_dir)):
        eng_cells, eng_qn = similarity.select_probe_cells(
            spark, qcol, cents, 4
        )
        loc_cells, loc_qn = similarity.select_probe_cells_local(
            qvec, cents, 4
        )
        assert loc_cells == eng_cells
        assert repr(loc_qn) == repr(eng_qn)


def test_probe_selection_local_orders_like_spark_doubles():
    """Tied and NaN sims must order exactly as Spark sorts doubles
    (NaN largest), with cid as the ascending tiebreak. The signed-zero
    corner is pinned against the engine in
    test_probe_selection_signed_zero_ties_like_engine."""
    # centroids crafted so sims are: cid 1 -> NaN, cid 2/3 -> 0.0 tie,
    # cid 4 -> negative
    q = [1.0, 0.0]
    cents = [
        (4, [-1.0, 0.0]),   # sim -1.0
        (3, [0.0, 1.0]),    # sim 0.0
        (2, [0.0, 1.0]),    # sim 0.0 (cid tie -> 2 before 3)
        (1, [float("nan"), 0.0]),  # sim NaN -> ranks first
    ]
    cells, qn = similarity.select_probe_cells_local(q, cents, 4)
    assert cells == [1, 2, 3, 4]
    assert qn == 1.0


def test_probe_selection_signed_zero_ties_like_engine(spark):
    """Spark's sort treats -0.0 == 0.0, so a -0.0 sim and a 0.0 sim
    tie and cid ASC decides. The -0.0 comes from a tiny negative dot
    product that underflows when divided by a large norm product."""
    import math

    q = [1.0, 0.0]
    cents = [
        (2, [-5e-324, 1e10]),  # dot -5e-324, / 1e10 -> sim -0.0
        (3, [0.0, 1.0]),       # dot 0.0 -> sim +0.0
        (1, [-1.0, 0.0]),      # sim -1.0
    ]
    qcol = F.expr(similarity._vec_sql(q))
    eng_cells, eng_qn = similarity.select_probe_cells(spark, qcol, cents, 3)
    loc_cells, loc_qn = similarity.select_probe_cells_local(q, cents, 3)
    # the crafted centroid really scores -0.0 (same op order as both
    # probe paths: left-to-right dot, then one divide)
    dot = 0.0 + -5e-324 * 1.0 + 1e10 * 0.0
    sim = dot / (math.sqrt(0.0 + (-5e-324) ** 2 + 1e10 * 1e10) * 1.0)
    assert sim == 0.0 and math.copysign(1.0, sim) == -1.0
    assert eng_cells == [2, 3, 1]
    assert loc_cells == eng_cells
    assert repr(loc_qn) == repr(eng_qn)


def test_ivf_prebuilt_index_matches_inline_assignment(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qvec, cents = llmdata._ann_constants(spark, sf_dir)
    qcol = F.lit(qvec).cast("array<double>")
    inline = similarity.cosine_topk_ivf(
        emb, qcol, cents, k=10, nprobe=4
    ).collect()
    indexed = similarity.cosine_topk_ivf(
        emb, qcol, cents, k=10, nprobe=4,
        index=llmdata._ivf_index(spark, sf_dir),
    ).collect()
    assert [tuple(r) for r in inline] == [tuple(r) for r in indexed]
