"""Similarity search over embedding columns (array<float>).

Two paths:
- brute-force cosine top-k: exact baseline. The query set is broadcast
  (it's small by construction); candidates stream through one scan —
  no shuffle of the big side, top-k via per-partition heaps
  (TakeOrdered / window row_number per query).
- sign-bucket (LSH/IVF-style) top-k: candidates restricted to the same
  coarse bucket (sign pattern of leading dimensions ≡ axis-aligned
  random-hyperplane LSH). The join becomes an equi-join on bucket id —
  the 100 TB path: per-bucket locality, no n² pairs.

Dot products use F.zip_with + F.aggregate (strictly sequential fold —
deterministic, engine-portable) after casting float → double once.
For very wide vectors a Pandas-UDF BLAS path would win; at 64-dim the
codegen'd fold is competitive and keeps everything JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.functions.literals import literal_df
from cicevse2024_tfm_datapipeline_spark.operators.skew import ensure_min_parallelism


def as_double_array(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("array<double>")


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def sign_bucket_expr(a: Column, n_dims: int = 8) -> Column:
    """Coarse quantizer: bucket = Σ (a[i] ≥ 0) << i over leading dims —
    axis-aligned random-hyperplane LSH (embeddings are already random
    projections; for raw features use a seeded rotation first)."""
    bucket = F.lit(0)
    for i in range(n_dims):
        bucket = bucket + F.when(F.element_at(a, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact cosine top-k per query (self excluded). ``queries`` must be
    small — it is broadcast; the candidate side never shuffles.

    Norms are precomputed per SIDE (one fold per vector) instead of per
    PAIR (r11 optimization): cosine over a |q|x|n| scored frame was
    re-folding ||q|| n times and ||c|| |q| times; dot/(qn*cn) is the
    identical IEEE expression evaluated on identical inputs, so results
    are bit-equal while per-pair array folds drop 3 -> 1."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    ).withColumn("qn", norm_expr(F.col("qv")))
    c = ensure_min_parallelism(embeddings).select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv")
    ).withColumn("cn", norm_expr(F.col("cv")))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot_expr(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
        )
    )
    win = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("__rk", F.row_number().over(win))
        .filter(F.col("__rk") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("__rk").alias("rank"))
    )


def bucketed_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_bucket_dims: int = 8,
) -> DataFrame:
    """Approximate top-k: candidates share the query's sign bucket. The
    bucket equi-join replaces the cross product — the scale path.
    Per-side norm precompute as in brute_force_topk (bit-equal)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("qv"),
    ).withColumn("bucket", sign_bucket_expr(F.col("qv"), n_bucket_dims)).withColumn(
        "qn", norm_expr(F.col("qv"))
    )
    c = ensure_min_parallelism(embeddings).select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("cv"),
    ).withColumn("bucket", sign_bucket_expr(F.col("cv"), n_bucket_dims)).withColumn(
        "cn", norm_expr(F.col("cv"))
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot_expr(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
        )
    )
    win = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("__rk", F.row_number().over(win))
        .filter(F.col("__rk") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("__rk").alias("rank"))
    )


def near_dup_pairs_cosine(
    embeddings: DataFrame, id_col: str, vec_col: str, threshold: float, n_bucket_dims: int = 8
) -> DataFrame:
    """Embedding-cosine near-dup detection, bucketed: only same-bucket
    pairs are scored (sign-LSH recall tradeoff, standard at scale).
    Per-side norm precompute: one fold per row per side instead of two
    folds per PAIR (bucket self-joins emit >= n pairs); bit-equal."""
    e = ensure_min_parallelism(embeddings).select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("v")
    ).withColumn("bucket", sign_bucket_expr(F.col("v"), n_bucket_dims)).withColumn(
        "nv", norm_expr(F.col("v"))
    )
    a = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nv").alias("na"), "bucket")
    b = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nv").alias("nb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def fixed_centroid_rows(
    n_cells: int, dim: int, tag: str = "ivfc"
) -> list[tuple[int, list[float]]]:
    """Deterministic centroid fixture, computed driver-side: cell c, dim d
    → md5-uniform mapped to [−1, 1). Bit-identical to the SQL expression
    ``cast(conv(substr(md5(tag|c|d), 1, 8), 16, 10) as bigint) /
    4294967296.0 * 2.0 - 1.0`` (both are the first 32 md5 bits divided by
    2^32 in IEEE doubles), so IVF built on these stays fully
    SQL-oracle-checkable while the fixture itself costs zero Spark jobs."""
    import hashlib

    return [
        (
            c,
            [
                int(
                    hashlib.md5(f"{tag}|{c}|{d}".encode()).hexdigest()[:8], 16
                )
                / 4294967296.0
                * 2.0
                - 1.0
                for d in range(dim)
            ],
        )
        for c in range(n_cells)
    ]


def fixed_centroids(spark, n_cells: int, dim: int, tag: str = "ivfc") -> DataFrame:
    """DataFrame view of :func:`fixed_centroid_rows` (JVM literal relation
    — no Python-RDD path, no md5 expressions to re-evaluate per use)."""
    return literal_df(
        spark,
        fixed_centroid_rows(n_cells, dim, tag),
        schema="cell int, centroid array<double>",
    )


def _centroid_literal(cent_rows: list[tuple[int, list[float]]]) -> Column:
    """Inline a small centroid table as a literal array<struct<cell,
    centroid>> column. Foldable constant — assignment/probing become a
    pure per-row projection: no centroid subplan, no broadcast exchange,
    no extra jobs. Only for small quantizers (the caller gates on size);
    large centroid tables go through the broadcast-join path.

    Built as ONE SQL expression string (r12, guide §5): the Column-object
    path issued a py4j round trip per double (~1,100 for a 16x64
    quantizer) on every build; the rendered literals are repr() doubles,
    bit-identical after parse."""
    from cicevse2024_tfm_datapipeline_spark.functions.literals import (
        literal_array_expr,
    )

    rows = [(int(c), [float(x) for x in v]) for c, v in cent_rows]
    return F.expr(
        literal_array_expr(rows, [("cell", "int"), ("centroid", "array<double>")])
    )


def _cell_dist_structs(vec: str, cents: str) -> str:
    """SQL: array of (squared-L2 distance, cell) structs, one per centroid —
    ``array_min``/``array_sort`` then give argmin / probe order with the
    (distance, cell) tie-break. Sequential zip-fold → the same doubles in
    any engine."""
    return (
        f"transform({cents}, ct -> named_struct("
        f"'d', aggregate(zip_with({vec}, ct.centroid, (x, y) -> (x - y) * (x - y)), "
        f"cast(0.0 as double), (a, z) -> a + z), "
        f"'cell', ct.cell))"
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_clusters: int = 16,
    nprobe: int = 2,
    seed: int = 7,
    centroids: DataFrame | None = None,
    centroid_rows: list[tuple[int, list[float]]] | None = None,
    fit_frac: float | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse quantizer
    partitions the corpus into cells; each query probes its ``nprobe``
    nearest centroids and scores only those cells.

    The 100-TB shape: the quantizer build is a ONE-TIME offline step —
    pass ``centroids`` (cell int, centroid array<double>) from a prior
    build (or :func:`fixed_centroids`) and NO ML fit runs in the query
    path. When ``centroids`` is None a KMeans fit runs here, on a
    deterministic md5-id-hash sample when ``fit_frac`` is set (an
    iterative fit over the full corpus is the scale bottleneck; a coarse
    quantizer only needs the distribution, not every row).

    Cell assignment is a per-row fold over the broadcast centroid array
    (``array_min`` of (distance, cell) structs): no join blow-up, no
    shuffle, engine-portable arithmetic — identical math to KMeans
    ``transform`` (nearest centroid by L2). Candidate scoring is an
    equi-join on cell id — the LSH-bucket plan with learned cells.
    """
    raw = embeddings.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv")
    )
    cent_rows = list(centroid_rows) if centroid_rows is not None else None
    if cent_rows is None and centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        fit_src = raw
        if fit_frac is not None:
            # deterministic id-hash sample: partitioning-independent,
            # rerun-stable (same property as operators/sampling.py)
            u = (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("neighbor_id").cast("string"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                / F.lit(4294967296.0)
            )
            fit_src = raw.filter(u < F.lit(float(fit_frac)))
        # random init + bounded iterations: a coarse quantizer needs
        # balanced cells, not converged centroids
        model = KMeans(
            k=n_clusters,
            seed=seed,
            featuresCol="__features",
            initMode="random",
            maxIter=8,
        ).fit(fit_src.withColumn("__features", array_to_vector("cv")))
        cent_rows = [
            (int(i), [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
        ]

    if cent_rows is not None and sum(len(v) for _, v in cent_rows) <= 8192:
        # small quantizer → inline literal: zero centroid jobs, zero
        # broadcast exchanges; assignment is a pure per-row projection
        cents_lit = _centroid_literal(cent_rows)

        def with_cents(df: DataFrame) -> DataFrame:
            return df.withColumn("__cents", cents_lit)

    else:
        # large quantizer (real IVF cell counts) → centroid relation,
        # collapsed to one literal-sized array row and broadcast
        if cent_rows is not None:
            cent_df = literal_df(
                embeddings.sparkSession,
                cent_rows,
                schema="cell int, centroid array<double>",
            )
        else:
            cent_df = centroids.select("cell", "centroid")
        cent_arr = cent_df.agg(
            F.collect_list(F.struct("cell", "centroid")).alias("__cents")
        )

        def with_cents(df: DataFrame) -> DataFrame:
            return df.crossJoin(F.broadcast(cent_arr))

    assigned = (
        with_cents(ensure_min_parallelism(raw))
        .withColumn("cell", F.expr(f"array_min({_cell_dist_structs('cv', '__cents')}).cell"))
        # corpus-side norm computed once per vector here rather than once
        # per probe pair in the scored join below (bit-equal, r11)
        .select("neighbor_id", "cv", "cell", norm_expr(F.col("cv")).alias("cn"))
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    ).withColumn("qn", norm_expr(F.col("qv")))
    probes = (
        with_cents(q)
        .withColumn(
            "cell",
            F.explode(
                F.expr(
                    f"transform(slice(array_sort({_cell_dist_structs('qv', '__cents')}), "
                    f"1, {int(nprobe)}), s -> s.cell)"
                )
            ),
        )
        .select("query_id", "qv", "qn", "cell")
    )

    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot_expr(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
        )
    )
    win = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("__rk", F.row_number().over(win))
        .filter(F.col("__rk") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("__rk").alias("rank"))
    )


def semdedup_marks(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    threshold: float,
) -> DataFrame:
    """SemDeDup — cluster-then-threshold semantic deduplication (the
    published recipe for pruning web-scale corpora by embedding
    similarity): assign every vector to its nearest centroid (L2), then
    WITHIN each cell mark a row as duplicate iff some lower-id member has
    cosine >= threshold; the lowest-id member of every semantic group
    survives. Returns (id, cell, is_duplicate).

    Scale shape: ``centroids`` is an offline artifact (a prior KMeans
    build) — collapsed to one literal-sized array row and broadcast, so
    cell assignment is a per-row argmin fold with NO join fan-out and no
    shuffle. The only shuffle is the within-cell self-join on cell id;
    candidate pairs are cell-bounded (the reason SemDeDup clusters first
    — real deployments use k in the tens of thousands, keeping cells ~
    corpus/k). The cosine fold is sequential (zip_with + aggregate), so
    both engines compare bit-identical doubles at the threshold.
    """
    raw = embeddings.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("v")
    )
    cent_arr = centroids.agg(
        F.collect_list(F.struct("cell", "centroid")).alias("__cents")
    )
    assigned = (
        ensure_min_parallelism(raw)
        .crossJoin(F.broadcast(cent_arr))
        .withColumn(
            "cell", F.expr(f"array_min({_cell_dist_structs('v', '__cents')}).cell")
        )
        # per-row norm rides the checkpointed frame: ONE fold per vector
        # total, vs two folds per within-cell PAIR in the dup join (r11;
        # bit-equal — identical IEEE expression on identical inputs)
        .withColumn("nv", norm_expr(F.col("v")))
        .drop("__cents")
        # three consumers (both pair sides + the output join) — pin so the
        # K x D argmin fold evaluates once per row, not once per branch
        .localCheckpoint(eager=False)
    )
    a = assigned.select(
        "cell", F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nv").alias("na")
    )
    b = assigned.select(
        "cell", F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nv").alias("nb")
    )
    dup = (
        a.join(b, "cell")
        .filter(F.col("id_b") < F.col("id_a"))
        .filter(
            dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            >= F.lit(float(threshold))
        )
        .select(F.col("id_a").alias("id"))
        .distinct()
    )
    return (
        assigned.select("id", "cell")
        .join(dup.withColumn("__d", F.lit(1)), "id", "left")
        .select(
            "id",
            "cell",
            F.coalesce(F.col("__d"), F.lit(0)).cast("int").alias("is_duplicate"),
        )
    )
