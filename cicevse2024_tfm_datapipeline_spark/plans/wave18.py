"""Round-3 wave 18: PSI drift monitoring on first-half deciles, split
conformal prediction coverage for the seasonal-naive forecaster, and
golden-record survivorship over fuzzy-dedup clusters.

Scale extensions beyond the reference pipeline surface (no reference
twin; the reference is a single-machine pandas/sklearn TFM pipeline).
Determinism contracts follow the house rules (plans/tpch_suite.py
header): decile edges are exact order statistics on integer ticks,
the conformal quantile index is pure integer arithmetic, PSI bin
contributions tick to exact integers before the sum, and survivorship
rules are integer/lexicographic with explicit tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.plans.common import pround, t
from cicevse2024_tfm_datapipeline_spark.plans.extensions import (
    BANDS,
    NUM_HASHES,
    _band_sql,
    _sig_sql,
)
from cicevse2024_tfm_datapipeline_spark.plans.registry import register
from cicevse2024_tfm_datapipeline_spark.plans.wave5 import _US

_DAY_US = 86_400_000_000


# ---------------------------------------------------------------------------
# Population Stability Index between the two time halves
# ---------------------------------------------------------------------------


@register(
    "a_psi_drift",
    oracle=f"""
    WITH b AS (
        SELECT event_id, epoch_us(ts) // {_DAY_US} AS day,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) AS tick
        FROM events
    ),
    span AS (SELECT (min(day) + max(day)) // 2 AS mid FROM b),
    pre AS (SELECT event_id, tick FROM b CROSS JOIN span WHERE day <= mid),
    post AS (SELECT event_id, tick FROM b CROSS JOIN span WHERE day > mid),
    tiles AS (
        SELECT tick,
               ntile(10) OVER (ORDER BY tick ASC, event_id ASC) AS tile
        FROM pre
    ),
    edges AS (
        SELECT tile, max(tick) AS edge FROM tiles WHERE tile <= 9 GROUP BY 1
    ),
    pre_bin AS (
        SELECT p.event_id,
               1 + sum(CASE WHEN p.tick > e.edge THEN 1 ELSE 0 END) AS bin
        FROM pre p CROSS JOIN edges e GROUP BY 1
    ),
    post_bin AS (
        SELECT p.event_id,
               1 + sum(CASE WHEN p.tick > e.edge THEN 1 ELSE 0 END) AS bin
        FROM post p CROSS JOIN edges e GROUP BY 1
    ),
    pc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM pre_bin GROUP BY 1),
    qc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM post_bin GROUP BY 1),
    tot AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM pre) AS np,
               (SELECT CAST(count(*) AS BIGINT) FROM post) AS nq
    ),
    bins AS (SELECT DISTINCT bin FROM pre_bin
             UNION SELECT DISTINCT bin FROM post_bin),
    contrib AS (
        SELECT CAST(floor(
                 ((coalesce(pc.n, 0) + 0.5) / (np + 5.0)
                  - (coalesce(qc.n, 0) + 0.5) / (nq + 5.0))
                 * ln(((coalesce(pc.n, 0) + 0.5) / (np + 5.0))
                      / ((coalesce(qc.n, 0) + 0.5) / (nq + 5.0)))
                 * 1000000000 + 0.5) AS BIGINT) AS tick
        FROM bins
        LEFT JOIN pc USING (bin)
        LEFT JOIN qc USING (bin)
        CROSS JOIN tot
    )
    SELECT (SELECT np FROM tot) AS n_pre, (SELECT nq FROM tot) AS n_post,
           CAST(count(*) AS BIGINT) AS n_bins,
           round(sum(tick) / 1000000000.0, 6) AS psi
    FROM contrib
    """,
    doc="Population Stability Index between the first and second time "
    "halves of the value distribution — THE production drift monitor "
    "for model inputs (rule of thumb: PSI < 0.1 stable, > 0.25 "
    "retrain). Decile edges are exact order statistics of the FIRST "
    "half — derived from the domain-sized per-tick histogram (groupBy "
    "tick + a tiny two-phase cumsum locating each NTILE boundary rank; "
    "tick values at a given rank are tiebreak-independent), so the "
    "reference population owns the binning without a row-sized range "
    "scan — bin assignment is 9 integer comparisons against the "
    "broadcast edge list, and both halves' bin counts are exact "
    "integers. Each bin's (p-q)·ln(p/q) contribution — Laplace-"
    "smoothed (+0.5/+5) so empty bins stay finite — derives from "
    "identical exact rationals and ticks to a 1e-9 BIGINT before the "
    "sum, so the PSI is order-free and engine-identical. Shapes: a "
    "domain-sized histogram + tiny cumsum for the decile edges (r11); "
    "binning is a per-row size(filter(edges)) "
    "against ONE broadcast 9-element array (round 7 — the earlier "
    "edge cross-join expanded every row 9x and re-aggregated per "
    "event_id before counting; the array form bins in the scan "
    "stage with no expansion), then a 10-row reduce.",
    tags=("A", "drift", "psi"),
)
def a_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_cumsum

    b = t(spark, sf_dir, "events").select(
        "event_id",
        (F.expr(_US) / F.lit(_DAY_US)).cast("long").alias("day"),
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("tick"),
    )
    span = b.agg(
        ((F.min("day") + F.max("day")) / F.lit(2)).cast("long").alias("mid")
    )
    b = b.crossJoin(F.broadcast(span)).localCheckpoint(eager=False)
    pre = b.filter(F.col("day") <= F.col("mid")).select("event_id", "tick")
    post = b.filter(F.col("day") > F.col("mid")).select("event_id", "tick")
    # Decile edges as ORDER STATISTICS of the per-tick histogram (r11,
    # guide §2.3 "aggregate before you shuffle"): the oracle's
    # NTILE(10) OVER (ORDER BY tick, event_id) edge for tile t <= 9 is
    # max(tick) within the tile == the tick of the row at global rank
    #   pos_t = t*floor(n/10) + least(t, n % 10)
    # (ascending sort => the tile's last row carries its max), and the
    # VALUE at a given rank is independent of how ties are ordered
    # (event_id only permutes rows WITHIN equal ticks). So the edges
    # need only per-tick counts: groupBy(tick) partial-aggregates
    # map-side, and the two-phase scan runs over the DOMAIN-sized
    # histogram (|distinct ticks| rows) instead of the row-sized first
    # half — the former global_ntile range exchange + window over every
    # pre row collapses to one tiny shuffle. A tick's rows occupy ranks
    # (cum - cnt, cum], so tick == edge_t iff pos_t lands inside; empty
    # tiles (n < 10, pos_t == pos_{t-1}) emit nothing, exactly like the
    # oracle's max-over-empty-group.
    cnt = pre.groupBy("tick").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    # r12: the histogram cumsum flips to fixed-bounds mode — the tick
    # domain is bracketed by the footer statistics of events.value (the
    # r5/mann-whitney discipline: grid sets balance only, never
    # results), removing the inner pinned range exchange + sampler; the
    # machinery branches re-read the PINNED b frame, not the corpus
    from cicevse2024_tfm_datapipeline_spark.operators.scan import footer_grid

    cum = global_cumsum(
        cnt, ["tick"], ["cnt"], with_totals=True,
        fixed_bounds=footer_grid(spark, sf_dir, "events", "value", 10000.0),
    )
    _n = F.col("tot_cnt")
    _q = F.floor(_n / F.lit(10))
    _r = _n % F.lit(10)

    def _pos(tt: Column) -> Column:
        return tt * _q + F.least(tt, _r)

    edges = cum.select(
        F.explode(
            F.filter(
                F.sequence(F.lit(1), F.lit(9)),
                lambda tt: ((_q > 0) | (tt <= _r))
                & (_pos(tt) > F.col("cum_cnt") - F.col("cnt"))
                & (_pos(tt) <= F.col("cum_cnt")),
            )
        ).alias("tile"),
        F.col("tick").alias("edge"),
    )

    # 9 edges as ONE broadcast array row: binning is then a per-row
    # size(filter(...)) over the array — no 9x row expansion and no
    # per-event_id re-aggregation (the prior cross-join shape tripled
    # this query's shuffle volume; semantics identical: bin = 1 + #edges
    # strictly below the tick). Pinned: both halves consume it, and
    # unpinned the whole ntile/edges subtree executes once per consumer
    # (explain-audited — the duplicate was half this query's wall).
    edge_arr = edges.agg(
        F.sort_array(F.collect_list("edge")).alias("edges")
    ).localCheckpoint(eager=False)

    # BOTH halves binned in ONE pass over the pinned events frame (r11
    # optimization, guide §2.3/§2.4): bin assignment is identical for
    # either half, and half membership is just day<=mid — so one
    # groupBy(bin) with conditional counts replaces the former
    # bins_of(pre)/bins_of(post) pair (two scans of b, two checkpoints)
    # AND the bin-domain union + two left joins that re-assembled them: a
    # bin appears in the grouped frame iff some row (pre or post) landed
    # in it — exactly the old union-of-domains — and an absent half
    # counts 0 where the left join yielded NULL (the +0.5 Laplace smooth
    # consumes both identically via the same arithmetic). One corpus
    # pass instead of two at any scale; 3 fewer shuffles.
    joined = (
        b.crossJoin(F.broadcast(edge_arr))
        .select(
            (
                1 + F.size(F.filter("edges", lambda e: F.col("tick") > e))
            ).alias("bin"),
            (F.col("day") <= F.col("mid")).alias("is_pre"),
        )
        .groupBy("bin")
        .agg(
            F.sum(F.col("is_pre").cast("long")).cast("long").alias("np_bin"),
            F.sum((~F.col("is_pre")).cast("long")).cast("long").alias("nq_bin"),
        )
        .localCheckpoint(eager=False)
    )
    # every row of a half lands in exactly one bin, so the half totals
    # are the sums of its bin counts — no separate count passes over the
    # halves
    tot = joined.agg(
        F.sum("np_bin").cast("long").alias("np"),
        F.sum("nq_bin").cast("long").alias("nq"),
    )
    bins = joined.crossJoin(F.broadcast(tot))
    p = (F.col("np_bin") + 0.5) / (F.col("np") + 5.0)
    q = (F.col("nq_bin") + 0.5) / (F.col("nq") + 5.0)
    contrib = bins.select(
        "np",
        "nq",
        F.floor((p - q) * F.log(p / q) * 1000000000 + F.lit(0.5))
        .cast("long")
        .alias("tick"),
    )
    return contrib.groupBy("np", "nq").agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        pround(F.sum("tick") / F.lit(1000000000.0), 6).alias("psi"),
    ).select(
        F.col("np").alias("n_pre"),
        F.col("nq").alias("n_post"),
        "n_bins",
        "psi",
    )


# ---------------------------------------------------------------------------
# Split conformal coverage for the seasonal-naive forecaster
# ---------------------------------------------------------------------------


@register(
    "a_conformal_naive_coverage",
    oracle=f"""
    WITH d AS (
        SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    r AS (
        SELECT a.event_type, a.day, abs(a.c - p.c) AS ae
        FROM d a JOIN d p
          ON p.event_type = a.event_type AND p.day = a.day - 7
    ),
    cal AS (SELECT event_type, ae FROM r WHERE day % 2 = 0),
    tst AS (SELECT event_type, ae FROM r WHERE day % 2 = 1),
    ranked AS (
        SELECT event_type, ae,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ae ASC) AS rk,
               count(*) OVER (PARTITION BY event_type) AS n_cal
        FROM cal
    ),
    qhat AS (
        SELECT event_type, ae AS q, n_cal FROM ranked
        WHERE rk = least((9 * (n_cal + 1) + 9) // 10, n_cal)
    )
    SELECT t.event_type,
           CAST(q.n_cal AS BIGINT) AS n_cal,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(q.q AS BIGINT) AS q_hat,
           round(sum(CASE WHEN t.ae <= q.q THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS coverage
    FROM tst t JOIN qhat q USING (event_type)
    GROUP BY t.event_type, q.n_cal, q.q
    """,
    doc="Split conformal prediction for the seasonal-naive forecaster: "
    "calibrate on even days (q-hat = the ceil(0.9*(n+1))-th smallest "
    "absolute residual — the finite-sample-valid conformal quantile, "
    "its index PURE integer arithmetic (9*(n+1)+9)//10), then measure "
    "empirical coverage of the interval prediction±q-hat on odd days. "
    "Conformal's guarantee (coverage >= 90% in expectation under "
    "exchangeability, model-free) is the honest way to ship "
    "uncertainty bands around ANY forecaster; this query is the "
    "backtest that validates the band. Residuals are exact integer "
    "count errors from the day-key lag join; the order statistic is a "
    "per-type partitioned rank; coverage is an integer ratio. The "
    "guard least(k, n) keeps tiny calibration sets ANSI-safe (q-hat "
    "degrades to the max residual).",
    tags=("A", "conformal", "forecast"),
)
def a_conformal_naive_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        t(spark, sf_dir, "events")
        .select(
            "event_type",
            (F.expr(_US) / F.lit(_DAY_US)).cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    a = d.select("event_type", "day", F.col("c").alias("actual"))
    p = d.select(
        "event_type", (F.col("day") + 7).alias("day"), F.col("c").alias("pred")
    )
    r = a.join(p, ["event_type", "day"]).select(
        "event_type",
        "day",
        F.abs(F.col("actual") - F.col("pred")).alias("ae"),
    )
    r = r.localCheckpoint(eager=False)
    cal = r.filter(F.col("day") % 2 == 0).select("event_type", "ae")
    tst = r.filter(F.col("day") % 2 == 1).select("event_type", "ae")
    wrank = W.partitionBy("event_type").orderBy(F.asc("ae"))
    wall = W.partitionBy("event_type")
    ranked = cal.select(
        "event_type",
        "ae",
        F.row_number().over(wrank).alias("rk"),
        F.count(F.lit(1)).over(wall).alias("n_cal"),
    )
    k = F.least(
        F.expr("(9 * (n_cal + 1) + 9) div 10"), F.col("n_cal")
    )
    qhat = ranked.filter(F.col("rk") == k).select(
        "event_type", F.col("ae").alias("q"), "n_cal"
    )
    return (
        tst.join(qhat, "event_type")
        .groupBy("event_type", "n_cal", "q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            pround(
                F.sum(F.when(F.col("ae") <= F.col("q"), 1).otherwise(0))
                * F.lit(1.0)
                / F.count(F.lit(1)),
                6,
            ).alias("coverage"),
        )
        .select(
            "event_type",
            F.col("n_cal").cast("long").alias("n_cal"),
            "n_test",
            F.col("q").cast("long").alias("q_hat"),
            "coverage",
        )
    )


# ---------------------------------------------------------------------------
# Golden-record survivorship over fuzzy-dedup clusters
# ---------------------------------------------------------------------------


@register(
    "dedup_golden_record",
    oracle=f"""
    WITH RECURSIVE {_sig_sql()},
    bands AS ({_band_sql()}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        WHERE a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
    ),
    comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
    members AS (
        SELECT c.component, d.doc_id, d.source, d.n_chars
        FROM comp c JOIN documents d ON d.doc_id = c.node
    ),
    src_counts AS (
        SELECT component, source, count(*) AS cnt
        FROM members GROUP BY 1, 2
    ),
    src_mode AS (
        SELECT component, source AS mode_source FROM (
            SELECT *, row_number() OVER (PARTITION BY component
                                         ORDER BY cnt DESC, source ASC) AS rk
            FROM src_counts
        ) q WHERE rk = 1
    )
    SELECT m.component AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(m.doc_id) AS BIGINT) AS canonical_id,
           CAST(max(m.n_chars) AS BIGINT) AS best_n_chars,
           any_value(s.mode_source) AS mode_source
    FROM members m JOIN src_mode s USING (component)
    GROUP BY m.component
    HAVING count(*) >= 2
    """,
    doc="Golden-record survivorship: after min-label connected "
    "components fuses the LSH near-dup graph into clusters, build each "
    "cluster's master record by field-wise survivorship rules — "
    "canonical id = MIN member id (stable), best text length = MAX "
    "n_chars (completeness rule), source = per-cluster MODE with "
    "lexicographic tiebreak (consensus rule) — the master-data-"
    "management step that turns dedup CLUSTERS into one clean row per "
    "entity. Components run the iterative min-label propagation "
    "(rounds = graph diameter, checkpointed lineage); survivorship is "
    "one members join plus a per-cluster aggregate and a partitioned "
    "mode window — every rule is integer/lexicographic, so the golden "
    "rows are engine-identical. Singleton documents pass through "
    "dedup untouched and are excluded here (n_members >= 2).",
    tags=("dedup", "survivorship", "mdm"),
)
def dedup_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
    )

    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, "text", "doc_id", NUM_HASHES, BANDS, 3)
    comp = connected_components(pairs, "doc_a", "doc_b")
    members = comp.join(
        docs.select(F.col("doc_id").alias("node"), "source", "n_chars"),
        "node",
    ).localCheckpoint(eager=False)
    src_counts = members.groupBy("component", "source").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wmode = W.partitionBy("component").orderBy(
        F.desc("cnt"), F.asc("source")
    )
    src_mode = (
        src_counts.withColumn("rk", F.row_number().over(wmode))
        .filter(F.col("rk") == 1)
        .select("component", F.col("source").alias("mode_source"))
    )
    return (
        members.groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("node").cast("long").alias("canonical_id"),
            F.max("n_chars").cast("long").alias("best_n_chars"),
        )
        .filter(F.col("n_members") >= 2)
        .join(src_mode, "component")
        .select(
            F.col("component").alias("cluster_id"),
            "n_members",
            "canonical_id",
            "best_n_chars",
            "mode_source",
        )
    )
