"""Round-3 wave 8: 2-D skyline (Pareto dominance) as a global scan,
sliding-window distinct counting by window explosion, and multiset
EXCEPT ALL.

Scale extensions beyond the reference pipeline surface. The skyline
shows the dominance-query pattern reduced to one ordered prefix-min
scan (operators/scan — no O(n²) dominance join); the sliding distinct
shows the explode-to-windows trick that turns per-window self-joins
into one bounded-fanout aggregation; EXCEPT ALL completes the set-op
family with true bag semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.plans.common import t
from cicevse2024_tfm_datapipeline_spark.plans.registry import register
from cicevse2024_tfm_datapipeline_spark.plans.wave7 import _DAY_US


# ---------------------------------------------------------------------------
# 2-D skyline: cheapest-earliest Pareto frontier of orders
# ---------------------------------------------------------------------------


@register(
    "a_skyline_2d",
    oracle="""
    WITH pts AS (
        SELECT o_orderkey, o_orderdate,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
        FROM orders
    ),
    scanned AS (
        SELECT o_orderkey, o_orderdate, price_cents,
               min(price_cents) OVER (
                   ORDER BY o_orderdate ASC, o_orderkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS best_before
        FROM pts
    )
    SELECT o_orderkey, o_orderdate, price_cents / 100.0 AS price
    FROM scanned
    WHERE best_before IS NULL OR price_cents < best_before
    """,
    doc="2-D skyline (Pareto frontier): orders not dominated in "
    "(earlier-or-equal date, cheaper-or-equal price) by any other "
    "order — the dominance query behind 'best tradeoff' views. In 2-D "
    "the frontier reduces to ONE ordered scan: sort by date, keep rows "
    "that strictly undercut the running price minimum of everything "
    "earlier — the engine runs it as the two-phase range-partitioned "
    "prefix-min (operators/scan.global_cumsum shape, here via "
    "grouped min machinery), never the O(n²) dominance self-join a "
    "naive skyline does. Prices compare as exact half-up cents, and "
    "the orderkey tiebreak makes equal-date runs deterministic.",
    tags=("A", "skyline", "scan"),
)
def a_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from cicevse2024_tfm_datapipeline_spark.operators.scan import (
        PID,
        range_bucketed,
    )

    pts = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias(
            "price_cents"
        ),
    )
    # the two-phase scan's bucketed shape with MIN instead of SUM:
    # cum_min = min(in-bucket prefix min, min over earlier buckets) —
    # min combines associatively, so the offset side is a triangle over
    # the |buckets|-sized totals frame exactly like offsets_from_totals

    order_cols = ["o_orderdate", "o_orderkey"]
    bucketed = range_bucketed(pts, order_cols)
    w = (
        W.partitionBy(PID)
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = bucketed.select("*", F.min("price_cents").over(w).alias("__loc_min"))
    totals = bucketed.groupBy(PID).agg(F.min("price_cents").alias("__tot_min"))
    b = totals.select(F.col(PID).alias("__bpid"), F.col("__tot_min").alias("__bmin"))
    offs = (
        totals.select(PID)
        .join(b, F.col("__bpid") < F.col(PID), "left")
        .groupBy(PID)
        .agg(F.min("__bmin").alias("__off_min"))
    )
    # least() skips nulls: null only when BOTH the in-bucket prefix and
    # the earlier-bucket offset are empty (the global first row)
    scanned = local.join(F.broadcast(offs), PID).select(
        "o_orderkey",
        "o_orderdate",
        "price_cents",
        F.least(F.col("__loc_min"), F.col("__off_min")).alias("__best_before"),
    )
    return scanned.filter(
        F.col("__best_before").isNull()
        | (F.col("price_cents") < F.col("__best_before"))
    ).select(
        "o_orderkey", "o_orderdate", (F.col("price_cents") / F.lit(100.0)).alias("price")
    )


# ---------------------------------------------------------------------------
# Exact weighted median (quantity-weighted price)
# ---------------------------------------------------------------------------


@register(
    "a_weighted_median",
    oracle="""
    WITH pts AS (
        SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(l_quantity AS BIGINT) AS w,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    scanned AS (
        SELECT cents, w,
               sum(w) OVER (ORDER BY cents, l_orderkey, l_linenumber
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_w,
               sum(w) OVER () AS tot_w
        FROM pts
    )
    SELECT min(cents) / 100.0 AS weighted_median_price,
           CAST(min(tot_w) AS BIGINT) AS total_weight
    FROM scanned WHERE 2 * cum_w >= tot_w
    """,
    doc="Exact weighted median: the smallest price at which the running "
    "quantity weight reaches half the total — the inventory-weighted "
    "'typical unit price' that an unweighted median misstates whenever "
    "cheap lines carry big quantities. One two-phase global cumsum over "
    "(price, key) order (operators/scan.global_cumsum with totals "
    "broadcast) and an integer threshold compare 2·cum ≥ total — no "
    "unpartitioned window, no float boundary. The same scan generalizes "
    "to any weighted quantile by changing the integer threshold ratio.",
    tags=("A", "median", "scan"),
)
def a_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_cumsum

    # r11 restructure (guide §2.3 "aggregate before you shuffle"): the
    # selected row is min(cents) among rows where 2·cum ≥ tot, and
    # within one cents group the running sum only grows — so the first
    # ROW crossing the threshold always lies in the first GROUP whose
    # end-of-group cumsum crosses it. Pre-aggregating the weights per
    # distinct cents therefore yields the IDENTICAL median and total
    # (the oracle's (orderkey, linenumber) tiebreaks only order rows
    # INSIDE a group and can never move the crossing across groups),
    # while the two-phase scan now runs over |distinct cents| rows
    # instead of |lineitem| — the map-side partial sum collapses the
    # corpus before the range exchange.
    pts = t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    grp = pts.groupBy("cents").agg(F.sum("w").alias("w"))
    # r12: the range scan flips to fixed-bounds mode — the cents domain
    # is bracketed by the footer statistics of l_extendedprice (an
    # input-table property, the table_column_minmax discipline), so a
    # literal uniform grid replaces the pinned range exchange + its
    # localCheckpoint planning pass + the RangePartitioner sample job
    # over the derived aggregate. Grid values only shift bucket balance
    # (TPC-H prices are near-uniform), never results; both machinery
    # branches re-read the map-side-combined grp aggregate, whose own
    # exchange is shared via ReuseExchange.
    from cicevse2024_tfm_datapipeline_spark.operators.scan import footer_grid

    grid = footer_grid(spark, sf_dir, "lineitem", "l_extendedprice", 100.0)
    scanned = global_cumsum(
        grp, ["cents"], ["w"], with_totals=True, fixed_bounds=grid
    )
    return (
        scanned.filter(2 * F.col("cum_w") >= F.col("tot_w"))
        .agg(
            (F.min("cents") / F.lit(100.0)).alias("weighted_median_price"),
            F.min("tot_w").cast("long").alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Sliding-window distinct users (explode-to-windows)
# ---------------------------------------------------------------------------


@register(
    "a_sliding_distinct_users",
    oracle=f"""
    WITH activity AS (
        SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day
        FROM events
    ),
    bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM activity),
    exploded AS (
        SELECT DISTINCT a.user_id, a.day + o.off AS win_end
        FROM activity a
        CROSS JOIN (SELECT unnest(range(0, 7)) AS off) o
    )
    SELECT e.win_end,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS wau
    FROM exploded e, bounds b
    WHERE e.win_end BETWEEN b.d0 AND b.d1
    GROUP BY e.win_end
    """,
    doc="Exact 7-day rolling distinct users (WAU) per day — computed by "
    "EXPLODING each (user, active-day) into the 7 windows it can "
    "serve, then one distinct-count per window end: a bounded 7x "
    "fanout and a single shuffle, versus the per-day self-join (7 "
    "scans) or a distinct-over-range window (unsupported for "
    "distinct). This is the standard trick for exact sliding "
    "cardinalities at scale; window ends clamp to observed days so "
    "every reported day has a full-period meaning. Days are integer "
    "epoch-days — no calendar functions.",
    tags=("A", "sliding", "distinct"),
)
def a_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.plans.wave5 import _US

    activity = (
        t(spark, sf_dir, "events")
        .select(
            "user_id", (F.expr(_US) / F.lit(_DAY_US)).cast("long").alias("day")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    bounds = activity.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    exploded = activity.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("win_end"),
    ).distinct()
    return (
        exploded.crossJoin(F.broadcast(bounds))
        .filter((F.col("win_end") >= F.col("d0")) & (F.col("win_end") <= F.col("d1")))
        .groupBy("win_end")
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )


# ---------------------------------------------------------------------------
# Multiset EXCEPT ALL (bag difference with surviving multiplicities)
# ---------------------------------------------------------------------------


@register(
    "u_except_all_counts",
    oracle="""
    WITH a AS (
        SELECT event_type, user_id % 10 AS cohort FROM events
        WHERE value >= 50.0
    ),
    b AS (
        SELECT event_type, user_id % 10 AS cohort FROM events
        WHERE value >= 200.0
    ),
    diff AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    SELECT event_type, CAST(cohort AS BIGINT) AS cohort,
           CAST(count(*) AS BIGINT) AS surviving
    FROM diff GROUP BY 1, 2
    """,
    doc="Multiset EXCEPT ALL: bag difference where each duplicate in "
    "the left survives once per unmatched multiplicity "
    "(count_A − count_B clamped at zero) — the semantics audits need "
    "when row COUNTS carry meaning (N occurrences missing = N "
    "discrepancies), where plain EXCEPT's set semantics silently "
    "collapse them. The engine computes it as one grouped count per "
    "side + greatest(cnt_a − cnt_b, 0) — a two-aggregate plan with no "
    "row-level anti-join — and the oracle uses DuckDB's native EXCEPT "
    "ALL, so the clamped-difference identity itself is what's "
    "verified.",
    tags=("U", "setop", "multiset"),
)
def u_except_all_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 10).alias("cohort"), "value"
    )
    a = ev.filter(F.col("value") >= 50.0)
    b = ev.filter(F.col("value") >= 200.0)
    ca = a.groupBy("event_type", "cohort").agg(F.count(F.lit(1)).alias("cnt_a"))
    cb = b.groupBy("event_type", "cohort").agg(F.count(F.lit(1)).alias("cnt_b"))
    return (
        ca.join(cb, ["event_type", "cohort"], "left")
        .select(
            "event_type",
            F.col("cohort").cast("long").alias("cohort"),
            F.greatest(
                F.col("cnt_a") - F.coalesce(F.col("cnt_b"), F.lit(0)), F.lit(0)
            )
            .cast("long")
            .alias("surviving"),
        )
        .filter(F.col("surviving") > 0)
    )
