"""Similarity search over embedding columns (array<float>).

- ``cosine_topk_bruteforce``: exact baseline; per-partition top-k then
  a single driver merge (TakeOrderedAndProject), no global sort.
- ``cosine_topk_lsh``: scale path -- sign-LSH buckets prune the
  candidate set before scoring; recall checked against brute force in
  tests.

All vector math is pure SQL lambda expressions (zip_with/aggregate)
over double-cast arrays: JVM-side, no Python, deterministic
left-to-right accumulation (matches DuckDB's list_dot_product on
DOUBLE[], so results are oracle-checkable bit-exactly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _d(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


# -- SQL-text builders ------------------------------------------------------
# Building a 64-dim literal vector as a Column tree costs ~1000 py4j
# round trips PER VECTOR (measured: 16 centroids = 3.5s of socket
# chatter before any execution). Emitting the same expression as SQL
# text and parsing it with ONE F.expr call removes that driver-side
# serial cost. repr(float) is the shortest round-trip decimal and
# Java's Double.parseDouble is correctly rounded, so CAST('…' AS
# DOUBLE) reproduces the exact same bits as F.lit(float).


def _dlit_sql(x: float) -> str:
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _vec_sql(vec: list[float]) -> str:
    return "array(" + ",".join(_dlit_sql(x) for x in vec) + ")"


def _dcol_sql(col_name: str) -> str:
    return f"transform(`{col_name}`, x -> CAST(x AS DOUBLE))"


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D,"
        " (acc, x) -> acc + x)"
    )


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return (dot(a, b) / (norm(a) * norm(b))).cast("double")


def engine_norm(df: DataFrame, vec: list[float]) -> float:
    """The vector's norm computed BY THE ENGINE (one 1-row job) so the
    constant is bit-identical to what a per-row evaluation would give
    — required for exact oracle parity when hoisting it out of the hot
    loop."""
    return engine_norms(df, {0: vec})[0]


def engine_norms(
    df: DataFrame, vecs: dict[int, list[float]]
) -> dict[int, float]:
    """All vector norms in ONE 1-row engine job (same bit-exact
    guarantee as ``engine_norm``). Batching matters: a per-vector job
    loop is driver-side serial work that grows linearly with centroid
    count — wrong shape at 64K centroids. Expressions are SQL text
    (one parse) rather than py4j-built Column trees."""
    exprs = [
        F.expr(f"sqrt({_dot_sql(_vec_sql(v), _vec_sql(v))})").alias(f"n{i}")
        for i, v in vecs.items()
    ]
    row = df.sparkSession.range(1).select(*exprs).collect()[0]
    return {i: row[f"n{i}"] for i in vecs}


def cosine_topk_bruteforce(
    emb: DataFrame,
    query_vec: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    query_norm: float | None = None,
) -> DataFrame:
    """Exact top-k by cosine against one query vector. Ties broken by
    id for a well-defined result set. Pass ``query_norm`` (from
    ``engine_norm``) to skip recomputing the constant q·q per row."""
    qn = F.lit(query_norm) if query_norm is not None else norm(query_vec)
    scored = emb.select(
        F.col(id_col),
        (dot(F.col(vec_col), query_vec) / (norm(F.col(vec_col)) * qn))
        .cast("double")
        .alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def sign_lsh_bucket(vec_col: Column, planes: int = 8) -> Column:
    """Random-hyperplane LSH approximated with axis-aligned planes:
    bucket key = concat of signs of the first ``planes`` components.
    Deterministic, no trained state; adjacent buckets can be probed
    for higher recall."""
    signs = [
        F.when(F.element_at(vec_col, i + 1) >= 0, "1").otherwise("0")
        for i in range(planes)
    ]
    return F.concat(*signs)


def cosine_topk_lsh(
    emb: DataFrame,
    query_vec: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    planes: int = 8,
) -> DataFrame:
    """ANN: score only vectors in the query's sign-LSH bucket.
    At 100 TB the bucket column is a partition key -- the scan prunes
    ~2^-planes of the data before any vector math."""
    bucketed = emb.withColumn("bucket", sign_lsh_bucket(F.col(vec_col), planes))
    qb = sign_lsh_bucket(query_vec, planes)
    return (
        bucketed.filter(F.col("bucket") == qb)
        .select(F.col(id_col), cosine(F.col(vec_col), query_vec).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_centroids(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    n_centroids: int = 16,
) -> list[tuple[int, list[float]]]:
    """Deterministic seeded centroids: the n lowest-id vectors.
    (Production IVF would k-means a sample; seeding keeps the operator
    reproducible and oracle-checkable — the cell-probe plumbing is
    identical either way.)"""
    rows = emb.orderBy(id_col).limit(n_centroids).select(id_col, vec_col).collect()
    return [(r[0], list(r[1])) for r in rows]


def ivf_assign(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid cell — entirely
    map-side: the centroids are ONE literal array of (cid, cvec)
    structs scored by a single transform loop, and array_max over
    (sim, -cid) picks (max sim, then min cid). No shuffle, no window;
    at 100 TB the cell id becomes the partition key.

    The centroid DATA lives in the literal array, not in the generated
    code: an earlier revision unrolled one inlined dot product per
    centroid, and the resulting whole-stage Java was so large that
    janino recompiles (after codegen-cache eviction by neighboring
    queries) cost ~4s per run — and would grow linearly with centroid
    count. One loop over an array literal keeps the generated code
    constant-size regardless of n_centroids."""
    entries = ",".join(
        f"named_struct('cid', {cid}L, 'cvec', {_vec_sql(cv)})"
        for cid, cv in centroids
    )
    cmat = F.expr(f"array({entries})")
    with_pre = emb.withColumn("_ev", _d(F.col(vec_col))).withColumn(
        "_vnorm", norm(F.col(vec_col))
    )

    def score(c: Column) -> Column:
        d = F.aggregate(
            F.zip_with(F.col("_ev"), c["cvec"], lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cn = F.sqrt(
            F.aggregate(
                F.zip_with(c["cvec"], c["cvec"], lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        return F.struct(
            (d / (F.col("_vnorm") * cn)).alias("sim"),
            (-c["cid"]).alias("ncid"),
        )

    best = F.array_max(F.transform(cmat, score))
    return (
        with_pre.withColumn("cell", -best["ncid"]).drop("_ev", "_vnorm")
    )


def cosine_topk_ivf(
    emb: DataFrame,
    query_vec: Column,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
    index: DataFrame | None = None,
    probe: tuple[list[int], float] | None = None,
) -> DataFrame:
    """IVF-flat ANN: probe only the nprobe cells whose centroids are
    nearest the query, brute-force inside them. The cell filter prunes
    (1 - nprobe/n_centroids) of the scan before any vector math.

    ``index``: optional pre-built cell assignment (the output of
    ``ivf_assign`` over the same emb/centroids, typically persisted).
    An IVF index's inverted lists are built ONCE at index time and
    reused by every query — per-query serving should pay only the
    probe selection + pruned scan, not a fresh O(n x n_centroids)
    assignment. At 100 TB the index is a table partitioned by cell.

    ``probe``: optional precomputed ``(probe_cells, qnorm)`` from
    ``select_probe_cells`` — for a fixed (query, centroid set) the
    probe ranking is a CONSTANT, and re-running its driver job per
    serving call measured ~1s of the ~1.2s per-query total at sf0.1
    (r12); session-scoped callers cache it next to the centroids."""
    if probe is None:
        probe = select_probe_cells(
            emb.sparkSession, query_vec, centroids, nprobe, id_col
        )
    probe_cells, qnorm = probe
    assigned = (
        index if index is not None
        else ivf_assign(emb, centroids, id_col, vec_col)
    )
    return cosine_topk_bruteforce(
        assigned.filter(F.col("cell").isin(probe_cells)),
        query_vec,
        id_col,
        vec_col,
        k,
        query_norm=qnorm,
    )


def _sql_double_key(x: float):
    """Sort key matching Spark's SQL double ordering:
    -0.0 == 0.0 (a tie, left to the caller's tiebreak), NaN greater
    than every other value."""
    import math

    if math.isnan(x):
        return (1, 0.0)
    return (0, x)


def select_probe_cells_local(
    qvec: list[float],
    centroids: list[tuple[int, list[float]]],
    nprobe: int = 4,
) -> tuple[list[int], float]:
    """Probe selection as pure DRIVER arithmetic — the per-serving-call
    form (r13). Ranking nprobe cells against one query is O(n_centroids
    x dims) float math over constants already held on the driver; at 16
    centroids that is ~1K flops, so running it INSIDE every serving
    call costs microseconds — no Spark job, no session memoisation (the
    r12 probe cache keyed per (session, sf) moved this per-query work
    out of the timed region; this keeps it honest AND cheap).

    Bit-exactness: the engine path evaluates
    ``aggregate(zip_with(c, q, (x,y) -> x*y), 0.0, (acc,x) -> acc+x)``
    — a left-to-right IEEE-754 binary64 multiply/add chain — then
    ``sqrt`` and one divide. CPython floats are the same binary64 with
    correctly-rounded *, +, / and math.sqrt, so replaying the identical
    operation order yields identical BITS for every sim and for qnorm
    (verified against the engine job for both centroid families at
    sf0.001/0.01/0.1 — cells and qnorm repr-identical). Ordering
    replicates Spark's sim DESC, cid ASC including the -0.0 == 0.0
    tie and the NaN corner via ``_sql_double_key``. At 64K+ centroids
    rank on the cluster instead (``select_probe_cells``) — same
    contract."""
    import math

    q = [float(x) for x in qvec]
    acc = 0.0
    for x in q:
        acc = acc + x * x
    qn = math.sqrt(acc)
    scored = []
    for cid, cv in centroids:
        dot = 0.0
        nc = 0.0
        for a, b in zip(cv, q):
            dot = dot + a * b
            nc = nc + a * a
        scored.append((cid, dot / (math.sqrt(nc) * qn)))
    scored.sort(key=lambda t: t[0])  # cid ASC tiebreak (stable sorts)
    scored.sort(key=lambda t: _sql_double_key(t[1]), reverse=True)
    return [cid for cid, _ in scored[:nprobe]], qn


def select_probe_cells(
    spark,
    query_vec: Column,
    centroids: list[tuple[int, list[float]]],
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> tuple[list[int], float]:
    """Rank the centroids against one query and return the ``nprobe``
    nearest cell ids plus the engine-evaluated query norm.

    ONE driver job over the centroid relation; the cosine/norm
    expressions are the same ones the per-row scoring uses, so the
    returned values are bit-identical to inline evaluation.  This is
    the carrier for centroid sets too large to rank on the driver;
    for driver-held centroid lists ``select_probe_cells_local`` gives
    the same bits with no job at all."""
    cent_df = spark.createDataFrame(
        [(cid, cv) for cid, cv in centroids],
        f"{id_col} long, cvec array<double>",
    )
    rows = (
        cent_df.select(
            id_col,
            cosine(F.col("cvec"), query_vec).alias("sim"),
            norm(query_vec).alias("qn"),
        )
        .orderBy(F.desc("sim"), id_col)
        .limit(nprobe)
        .collect()
    )
    return [r[0] for r in rows], rows[0]["qn"]


def kmeans_refine(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
) -> list[tuple[int, list[float]]]:
    """Lloyd refinement of the IVF centroids: assign (map-side argmax,
    no shuffle) then recompute each cell's mean, repeated ``iters``
    times. Deterministic across partition orders AND engines: each
    component is quantized to 1e-9 (round to long) so the per-cell sum
    is exact integer math, and the final division runs in double with
    identical operands everywhere — double SUM would be
    accumulation-order-dependent and unhashable against an oracle.

    Centroid means collect to the driver (n_centroids x dims rows,
    bounded); at 64K-centroid scale the means stay distributed and the
    assignment becomes a broadcast join on the cell id instead of a
    literal argmax -- same dataflow, different carrier."""
    for _ in range(iters):
        assigned = ivf_assign(emb, centroids, id_col, vec_col)
        exploded = assigned.select(
            "cell", F.posexplode(_d(F.col(vec_col))).alias("pos", "val")
        )
        stats = (
            exploded.groupBy("cell", "pos")
            .agg(
                F.sum(F.round(F.col("val") * 1e9).cast("long")).alias("s"),
                F.count(F.lit(1)).alias("c"),
            )
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in stats:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = (
                float(r["s"]) / 1e9
            ) / float(r["c"])
        centroids = [
            (cid, [dims[p] for p in sorted(dims)])
            for cid, dims in sorted(by_cell.items())
        ]
    return centroids


def cosine_range_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Range search: every pair with cosine >= threshold, candidates
    restricted to same-sign-LSH-bucket pairs (the top-k path's bucket
    key reused as an equi-join key, so the pair space is
    sum(bucket^2) not n^2). ``max_bucket`` drops degenerate hot
    buckets before the self-join — same guard as the MinHash band
    join; at 100 TB a hot bucket would otherwise make one task
    quadratic."""
    b = emb.select(
        F.col(id_col),
        F.col(vec_col),
        sign_lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    hot = (
        b.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_bucket)
        .select("bucket")
    )
    capped = b.join(F.broadcast(hot), "bucket", "left_anti")
    left = capped.select(
        "bucket",
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
    )
    right = capped.select(
        "bucket",
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
    )
    return (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine(F.col("va"), F.col("vb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def ivf_assign_via_join(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cell assignment with the centroids as a broadcast DATAFRAME
    instead of a literal array — the carrier for centroid counts too
    large to inline in the plan (64K cells x 64 dims is ~16M literal
    doubles; as a broadcast relation it's one ~32MB exchange).

    Same dataflow as ``ivf_assign`` (score all centroids per vector,
    argmax by (sim, -cid)): broadcast nested-loop scoring then a
    max_by aggregation on the vector id. Verified equivalent to the
    literal path in tests; pick by centroid count."""
    spark = emb.sparkSession
    cent_df = spark.createDataFrame(
        [(cid, cv) for cid, cv in centroids], "cid long, cvec array<double>"
    )
    scored = emb.crossJoin(F.broadcast(cent_df)).select(
        F.col(id_col),
        F.col(vec_col),
        F.struct(
            cosine(F.col(vec_col), F.col("cvec")).alias("sim"),
            (-F.col("cid")).alias("ncid"),
        ).alias("s"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.first(vec_col).alias(vec_col),
            F.max("s").alias("best"),
        )
        .select(id_col, vec_col, (-F.col("best.ncid")).alias("cell"))
    )
