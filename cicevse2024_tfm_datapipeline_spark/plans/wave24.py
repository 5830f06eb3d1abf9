"""Round-4 wave 24: in-engine statistical learning — logistic
regression by two unrolled IRLS rounds as pure relational algebra,
Neyman (variance-optimal) stratified allocation, and one-vs-rest
mutual-information feature ranking on exact decile bins.

Scale extensions beyond the reference pipeline surface. House rules:
every per-row quantity ticks to an integer before summation, wide
products sum as DECIMAL(38,0) (order-free exact in both engines),
closing solves are identical double expressions on identical operands,
and tiny-frame ranks use the triangle join, never an unpartitioned
window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.plans.common import pround, t
from cicevse2024_tfm_datapipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Logistic regression: two unrolled IRLS (Newton) rounds
# ---------------------------------------------------------------------------

_POS = "('click', 'purchase')"
_MU_LO, _MU_HI = 100, 9900  # 1e-4-tick clamp keeping 1/(mu(1-mu)) bounded


@register(
    "ml_logreg_irls_two_rounds",
    oracle=f"""
    WITH base AS (
        SELECT CASE WHEN event_type IN {_POS} THEN 1 ELSE 0 END AS y,
               CAST(floor(value) AS BIGINT) AS x
        FROM events
    ),
    m1 AS (
        -- round 1: mu=1/2 exactly, so the Newton step is plain OLS of the
        -- working response z = 4y-2 on x — every moment an exact BIGINT
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(4 * y - 2) AS BIGINT) AS sz,
               CAST(sum((4 * y - 2) * x) AS BIGINT) AS sxz,
               CAST(sum(y) AS BIGINT) AS n_pos
        FROM base
    ),
    w1 AS (
        SELECT n, n_pos,
               (n * sxz - sx * sz) * 1.0 / (n * sxx - sx * sx) AS b1,
               (sz - (n * sxz - sx * sz) * 1.0 / (n * sxx - sx * sx) * sx)
                   * 1.0 / n AS b0
        FROM m1
    ),
    r2 AS (
        SELECT b.y, b.x, w1.n, w1.n_pos,
               greatest({_MU_LO}, least({_MU_HI},
                   CAST(floor(1.0 / (1.0 + exp(-(w1.b0 + w1.b1 * b.x)))
                              * 10000 + 0.5) AS BIGINT))) AS m,
               w1.b0 + w1.b1 * b.x AS eta
        FROM base b CROSS JOIN w1
    ),
    r2w AS (
        SELECT n, n_pos, x,
               m * (10000 - m) AS wgt,
               CAST(floor((eta + (y * 10000 - m) * 10000.0 / (m * (10000 - m)))
                          * 10000 + 0.5) AS BIGINT) AS zt
        FROM r2
    ),
    m2 AS (
        SELECT any_value(n) AS n, any_value(n_pos) AS n_pos,
               sum(CAST(wgt AS DECIMAL(38,0))) AS a11,
               sum(CAST(wgt * x AS DECIMAL(38,0))) AS a12,
               sum(CAST(wgt * x * x AS DECIMAL(38,0))) AS a22,
               sum(CAST(wgt AS DECIMAL(38,0)) * CAST(zt AS DECIMAL(38,0)))
                   AS bv1,
               sum(CAST(wgt * x AS DECIMAL(38,0)) * CAST(zt AS DECIMAL(38,0)))
                   AS bv2
        FROM r2w
    )
    SELECT n, n_pos,
           round((CAST(a22 AS DOUBLE) * CAST(bv1 AS DOUBLE)
                  - CAST(a12 AS DOUBLE) * CAST(bv2 AS DOUBLE))
                 / (CAST(a11 AS DOUBLE) * CAST(a22 AS DOUBLE)
                    - CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE))
                 / 10000.0, 4) AS intercept,
           round((CAST(a11 AS DOUBLE) * CAST(bv2 AS DOUBLE)
                  - CAST(a12 AS DOUBLE) * CAST(bv1 AS DOUBLE))
                 / (CAST(a11 AS DOUBLE) * CAST(a22 AS DOUBLE)
                    - CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE))
                 / 10000.0, 6) AS slope
    FROM m2
    """,
    doc="Logistic regression trained IN the engine: two unrolled IRLS "
    "(Newton) rounds as pure relational algebra — the GLM sibling of "
    "ml_kmeans_two_rounds / ml_pca_power_iteration. Round 1 exploits "
    "mu=1/2 exactly (the Newton step degenerates to OLS on z=4y-2, all "
    "BIGINT moments); round 2 ticks the sigmoid to 1e-4 with a "
    "[0.01, 0.99] clamp (keeps the working weights bounded), ticks the "
    "working response, and accumulates the weighted normal equations "
    "as DECIMAL(38,0) — order-free EXACT sums in both engines where "
    "BIGINT would overflow. The 2x2 solve is closed-form arithmetic on "
    "identical operands. Per round: ONE aggregation over the data "
    "(map-side combined) + a broadcast of 2 coefficients — the "
    "classical distributed-GLM shape at any scale.",
    tags=("ml", "glm", "irls"),
)
def ml_logreg_irls_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_type").isin("click", "purchase").cast("int").alias("y"),
        F.floor("value").cast("long").alias("x"),
    )
    m1 = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(4 * F.col("y") - 2).cast("long").alias("sz"),
        F.sum((4 * F.col("y") - 2) * F.col("x")).cast("long").alias("sxz"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sz, sxz = F.col("sz"), F.col("sxz")
    b1 = (n * sxz - sx * sz) * 1.0 / (n * sxx - sx * sx)
    w1 = m1.select(
        "n", "n_pos", b1.alias("b1"), ((sz - b1 * sx) * 1.0 / n).alias("b0")
    )
    eta = F.col("b0") + F.col("b1") * F.col("x")
    m = F.greatest(
        F.lit(_MU_LO),
        F.least(
            F.lit(_MU_HI),
            F.floor(1.0 / (1.0 + F.exp(-eta)) * 10000 + F.lit(0.5)).cast("long"),
        ),
    )
    r2 = base.crossJoin(F.broadcast(w1)).select(
        "y", "x", "n", "n_pos", m.alias("m"), eta.alias("eta")
    )
    wgt = F.col("m") * (10000 - F.col("m"))
    zt = F.floor(
        (
            F.col("eta")
            + (F.col("y") * 10000 - F.col("m")) * 10000.0 / wgt
        )
        * 10000
        + F.lit(0.5)
    ).cast("long")
    r2w = r2.select("n", "n_pos", "x", wgt.alias("wgt"), zt.alias("zt"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m2 = r2w.agg(
        F.any_value("n").alias("n"),
        F.any_value("n_pos").alias("n_pos"),
        F.sum(dec(F.col("wgt"))).alias("a11"),
        F.sum(dec(F.col("wgt") * F.col("x"))).alias("a12"),
        F.sum(dec(F.col("wgt") * F.col("x") * F.col("x"))).alias("a22"),
        F.sum(dec(F.col("wgt")) * dec(F.col("zt"))).alias("bv1"),
        F.sum(dec(F.col("wgt") * F.col("x")) * dec(F.col("zt"))).alias("bv2"),
    )
    a11, a12, a22 = (
        F.col("a11").cast("double"),
        F.col("a12").cast("double"),
        F.col("a22").cast("double"),
    )
    bv1, bv2 = F.col("bv1").cast("double"), F.col("bv2").cast("double")
    det = a11 * a22 - a12 * a12
    return m2.select(
        "n",
        "n_pos",
        pround((a22 * bv1 - a12 * bv2) / det / 10000.0, 4).alias("intercept"),
        pround((a11 * bv2 - a12 * bv1) / det / 10000.0, 6).alias("slope"),
    )


# ---------------------------------------------------------------------------
# Neyman (variance-optimal) stratified allocation
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 1000


@register(
    "sample_neyman_allocation",
    oracle=f"""
    WITH stats AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_h,
               CAST(sum(n_chars) AS BIGINT) AS s1,
               CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
        FROM documents GROUP BY source
    ),
    wts AS (
        SELECT source, n_h,
               n_h * CAST(floor(sqrt((CAST(s2 AS DOUBLE) * n_h - CAST(s1 AS DOUBLE) * s1)
                                     / (CAST(n_h AS DOUBLE) * n_h))
                                * 10000 + 0.5) AS BIGINT) AS weight
        FROM stats
    ),
    tot AS (SELECT sum(weight) AS total FROM wts),
    shares AS (
        SELECT source, n_h, weight,
               (weight * {_NEYMAN_BUDGET}) // total AS floor_share,
               (weight * {_NEYMAN_BUDGET}) % total AS remainder
        FROM wts, tot
    ),
    short AS (SELECT {_NEYMAN_BUDGET} - sum(floor_share) AS leftover FROM shares),
    ranked AS (
        SELECT source, n_h, weight, floor_share,
               row_number() OVER (ORDER BY remainder DESC, source ASC) AS rk
        FROM shares
    )
    SELECT source, n_h, weight,
           CAST(floor_share + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS allocated
    FROM ranked, short
    """,
    doc="Neyman allocation — the variance-OPTIMAL stratified sampling "
    "split (n_h proportional to N_h * S_h), the statistical upgrade of "
    "the proportional Hamilton split in sample_budget_allocation: "
    "strata with more internal variance get more samples, minimizing "
    "the estimator variance at fixed budget. Per-stratum population "
    "std comes from one (n, sum, sum-of-squares) pass, ticks to 1e-4 "
    "so the N_h*S_h weights are exact BIGINTs, and the largest-"
    "remainder rounding makes the parts sum EXACTLY to the 1000-unit "
    "budget. One data-sized aggregation; everything after runs on the "
    "|strata|-row frame (triangle-join rank, no unpartitioned window).",
    tags=("sample", "allocation", "neyman"),
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_h"),
            F.sum("n_chars").cast("long").alias("s1"),
            F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("s2"),
        )
    )
    std = F.sqrt(
        (F.col("s2").cast("double") * F.col("n_h") - F.col("s1").cast("double") * F.col("s1"))
        / (F.col("n_h").cast("double") * F.col("n_h"))
    )
    wts = stats.select(
        "source",
        "n_h",
        (F.col("n_h") * F.floor(std * 10000 + F.lit(0.5)).cast("long")).alias(
            "weight"
        ),
    ).localCheckpoint(eager=False)
    tot = wts.agg(F.sum("weight").alias("total"))
    shares = wts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_h",
        "weight",
        F.expr(f"(weight * {_NEYMAN_BUDGET}) div total").cast("long").alias(
            "floor_share"
        ),
        ((F.col("weight") * _NEYMAN_BUDGET) % F.col("total")).alias("remainder"),
    )
    short = shares.agg((F.lit(_NEYMAN_BUDGET) - F.sum("floor_share")).alias("leftover"))
    shares = shares.localCheckpoint(eager=False)
    ahead = shares.select(
        F.col("remainder").alias("__br"), F.col("source").alias("__bs")
    )
    earlier = (F.col("__br") > F.col("remainder")) | (
        (F.col("__br") == F.col("remainder")) & (F.col("__bs") < F.col("source"))
    )
    ranked = (
        shares.join(ahead, earlier, "left")
        .groupBy("source", "n_h", "weight", "floor_share", "remainder")
        .agg((F.count("__bs") + 1).alias("rk"))
    )
    return ranked.crossJoin(F.broadcast(short)).select(
        "source",
        "n_h",
        "weight",
        (
            F.col("floor_share")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("allocated"),
    )


# ---------------------------------------------------------------------------
# One-vs-rest mutual-information feature ranking
# ---------------------------------------------------------------------------


@register(
    "a_mutual_information_ranking",
    oracle="""
    WITH xs AS (
        SELECT event_id, event_type, CAST(floor(value) AS BIGINT) AS x
        FROM events
    ),
    tiled AS (
        SELECT event_type,
               ntile(10) OVER (ORDER BY x, event_id) AS d
        FROM xs
    ),
    joint AS (
        SELECT event_type, d, CAST(count(*) AS BIGINT) AS n_ed
        FROM tiled GROUP BY 1, 2
    ),
    dt AS (SELECT d, CAST(sum(n_ed) AS BIGINT) AS n_d FROM joint GROUP BY d),
    et AS (
        SELECT event_type, CAST(sum(n_ed) AS BIGINT) AS n_e FROM joint GROUP BY 1
    ),
    nt AS (SELECT CAST(sum(n_ed) AS BIGINT) AS n FROM joint),
    cells AS (
        SELECT j.event_type,
               j.n_ed * CAST(floor(ln((j.n_ed * CAST(nt.n AS DOUBLE))
                                      / (CAST(et.n_e AS DOUBLE) * dt.n_d))
                                   * 1000000 + 0.5) AS BIGINT) AS t_in,
               (dt.n_d - j.n_ed)
                   * CAST(floor(ln(((dt.n_d - j.n_ed) * CAST(nt.n AS DOUBLE))
                                   / (CAST(nt.n - et.n_e AS DOUBLE) * dt.n_d))
                                * 1000000 + 0.5) AS BIGINT) AS t_out
        FROM joint j JOIN dt USING (d) JOIN et USING (event_type)
        CROSS JOIN nt
        WHERE j.n_ed > 0 AND dt.n_d - j.n_ed > 0
    ),
    mi AS (
        SELECT c.event_type,
               round(CAST(sum(t_in) + sum(t_out) AS DOUBLE)
                     / 1000000.0 / any_value(nt.n), 6) AS mi
        FROM cells c CROSS JOIN nt GROUP BY c.event_type
    )
    SELECT a.event_type, a.mi, CAST(count(b.event_type) + 1 AS BIGINT) AS rank
    FROM mi a LEFT JOIN mi b
      ON b.mi > a.mi OR (b.mi = a.mi AND b.event_type < a.event_type)
    GROUP BY a.event_type, a.mi
    """,
    doc="One-vs-rest mutual information between each event_type and the "
    "global value DECILE — the standard filter-style feature-relevance "
    "ranking (pairs with a_chi_square_independence: chi-square tests "
    "dependence, MI measures its strength in nats). Deciles are exact "
    "NTILE(10) on the two-phase global scan; every MI term is an "
    "integer cell count times a 1e-6-ticked log ratio of integer "
    "counts, summed exactly, with one closing division by N. Cell "
    "grids are |types| x 10 — the sums after the one data-sized "
    "aggregation are trivially small; rank via tiny-frame triangle "
    "join (no unpartitioned window).",
    tags=("A", "mutual_information", "feature_ranking"),
)
def a_mutual_information_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_ntile

    ev = t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.floor("value").cast("long").alias("x")
    )
    # r12: fixed-bounds ntile over the footer-bracketed floor(value)
    # grid — direct-scan input, literal grid, no pin (r5 discipline)
    from cicevse2024_tfm_datapipeline_spark.operators.scan import footer_grid

    tiled = global_ntile(
        ev, ["x", "event_id"], 10, out_col="d",
        fixed_bounds=footer_grid(spark, sf_dir, "events", "value"),
    )
    joint = tiled.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).cast("long").alias("n_ed")
    )
    joint = joint.localCheckpoint(eager=False)
    dt = joint.groupBy("d").agg(F.sum("n_ed").cast("long").alias("n_d"))
    et = joint.groupBy("event_type").agg(F.sum("n_ed").cast("long").alias("n_e"))
    nt = joint.agg(F.sum("n_ed").cast("long").alias("n"))
    tick = lambda col: F.floor(F.log(col) * 1000000 + F.lit(0.5)).cast("long")  # noqa: E731
    cells = (
        joint.join(F.broadcast(dt), "d")
        .join(F.broadcast(et), "event_type")
        .crossJoin(F.broadcast(nt))
        .filter((F.col("n_ed") > 0) & (F.col("n_d") - F.col("n_ed") > 0))
        .select(
            "event_type",
            "n",
            (
                F.col("n_ed")
                * tick(
                    (F.col("n_ed") * F.col("n").cast("double"))
                    / (F.col("n_e").cast("double") * F.col("n_d"))
                )
            ).alias("t_in"),
            (
                (F.col("n_d") - F.col("n_ed"))
                * tick(
                    ((F.col("n_d") - F.col("n_ed")) * F.col("n").cast("double"))
                    / ((F.col("n") - F.col("n_e")).cast("double") * F.col("n_d"))
                )
            ).alias("t_out"),
        )
    )
    mi = cells.groupBy("event_type").agg(
        pround(
            (F.sum("t_in") + F.sum("t_out")).cast("double")
            / 1000000.0
            / F.any_value("n"),
            6,
        ).alias("mi")
    )
    mi = mi.localCheckpoint(eager=False)
    b = mi.select(F.col("mi").alias("__bm"), F.col("event_type").alias("__be"))
    earlier = (F.col("__bm") > F.col("mi")) | (
        (F.col("__bm") == F.col("mi")) & (F.col("__be") < F.col("event_type"))
    )
    return (
        mi.join(b, earlier, "left")
        .groupBy("event_type", "mi")
        .agg((F.count("__be") + 1).cast("long").alias("rank"))
    )
