"""Round-3 wave 16: asymmetric containment near-dup pairs (quote /
subset detection), the Kaplan-Meier survival estimator on integer-tick
log-space, and exact 3-channel Shapley conversion attribution.

Scale extensions beyond the reference pipeline surface (no reference
twin; the reference is a single-machine pandas/sklearn TFM pipeline).
Determinism contracts follow the house rules (plans/tpch_suite.py
header): thresholds compare integers (5·|∩| ≥ 4·min for containment
≥ 0.8), the KM product runs as an exact integer cumsum of 1e-9-ticked
log factors, and the Shapley weights are the exact rational
coefficients of the 3-player game folded into one /6 division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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


# ---------------------------------------------------------------------------
# Asymmetric containment pairs (quote / subset detection)
# ---------------------------------------------------------------------------


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {_sig_sql()},
    bands AS ({_band_sql()}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        WHERE a.doc_id < b.doc_id
    ),
    shx AS (
        SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh
    ),
    hx AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS sh60
        FROM shx
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM hx GROUP BY 1),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS ni
        FROM cand c
        JOIN hx fa ON fa.doc_id = c.doc_a
        JOIN hx fb ON fb.doc_id = c.doc_b AND fb.sh60 = fa.sh60
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           CAST(i.ni AS BIGINT) AS n_inter,
           round(i.ni * 1.0 / least(sa.n, sb.n), 6) AS containment,
           round(i.ni * 1.0 / (sa.n + sb.n - i.ni), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE 5 * i.ni >= 4 * least(sa.n, sb.n)
    """,
    doc="Asymmetric containment near-dup pairs: among LSH candidates, "
    "keep pairs where the SMALLER document's shingle set is >= 80% "
    "contained in the intersection (5·|∩| >= 4·min(n_a,n_b), an integer "
    "compare) — the quote/excerpt/subset detector that Jaccard misses "
    "by construction (a 50-shingle quote inside a 5000-shingle article "
    "has J ~= 0.01 but containment 1.0). Jaccard rides along to show "
    "the asymmetry. Candidates and the exact verify reuse the dedup "
    "pipeline's machinery: band-key equi-join, per-pair "
    "array_intersect on 60-bit shingle keys — containment adds ZERO "
    "new scan shapes, it is a different acceptance predicate over the "
    "same candidate statistics. Note the LSH recall caveat inherited "
    "from MinHash: banding targets Jaccard, so very asymmetric "
    "containments can evade candidate generation — the scale-complete "
    "variant bands the SMALL side's prefix shingles (the "
    "prefix-filter query's index), which these statistics also "
    "support.",
    tags=("dedup", "containment", "quote"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
    )
    from cicevse2024_tfm_datapipeline_spark.operators.text import (
        tokens_expr,
        word_shingles_expr,
    )

    from cicevse2024_tfm_datapipeline_spark.operators.dedup import (
        minhash_signature_exprs,
        shingle_digest_expr,
    )

    # wide=True: minhash signatures + shingle verify are CPU-dense
    docs = t(spark, sf_dir, "documents", wide=True)
    # r12 (guide §1.2 / VERDICT r11 #3): the corpus was tokenized TWICE —
    # once for the minhash signatures inside lsh_candidate_pairs, once
    # for the verify shingle sets (explode → md5 → groupBy collect_list).
    # Both derive from the SAME k=3 shingle array, so ONE pinned frame
    # now carries id + 8 signature slices + the sorted 60-bit verify set:
    # one tokenize→shingle pass, one pin (replacing the two pins — the
    # old `sets` pin already carried the ss arrays, so the pinned bytes
    # barely change), and the verify set is a PER-ROW array expression
    # (sort_array∘transform∘array_distinct — no explode, no corpus
    # shuffle; identical multiset → identical sorted list, n = array
    # size = the old per-doc row count). Docs with an empty shingle
    # array are filtered from the verify side (explode emitted no rows
    # for them, so they never reached the old groupBy either); the
    # signature side keeps every doc, exactly as before.
    toks = tokens_expr(F.col("text"))
    base = docs.select(F.col("doc_id"), word_shingles_expr(toks, 3).alias("__sh"))
    hashed = base.select(
        "doc_id", "__sh", shingle_digest_expr(F.col("__sh")).alias("__hashed")
    )
    combined = hashed.select(
        "doc_id",
        *minhash_signature_exprs(F.col("__hashed"), NUM_HASHES),
        F.sort_array(
            F.transform(
                F.array_distinct(F.col("__sh")),
                lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(
                    "long"
                ),
            )
        ).alias("ss"),
    ).localCheckpoint(eager=False)
    sigs = combined.select("doc_id", *[f"mh_{i}" for i in range(NUM_HASHES)])
    cand = lsh_candidate_pairs(
        docs, "text", "doc_id", NUM_HASHES, BANDS, 3, sig_df=sigs
    )
    sets = combined.select(
        "doc_id", "ss", F.size("ss").cast("long").alias("n")
    ).filter(F.col("n") > 0)
    sa = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("ss").alias("ss_a"), F.col("n").alias("na")
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("ss").alias("ss_b"), F.col("n").alias("nb")
    )
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("ni", F.size(F.array_intersect("ss_a", "ss_b")).cast("long"))
        .filter(5 * F.col("ni") >= 4 * F.least("na", "nb"))
    )
    return scored.select(
        "doc_a",
        "doc_b",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("ni").alias("n_inter"),
        pround(F.col("ni") * F.lit(1.0) / F.least("na", "nb"), 6).alias(
            "containment"
        ),
        pround(
            F.col("ni") * F.lit(1.0) / (F.col("na") + F.col("nb") - F.col("ni")), 6
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival estimator (time to first purchase)
# ---------------------------------------------------------------------------


@register(
    "a_kaplan_meier",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               min(epoch_us(ts)) AS t0,
               min(CASE WHEN event_type = 'purchase'
                        THEN epoch_us(ts) END) AS tp,
               max(epoch_us(ts)) AS tl
        FROM events GROUP BY 1
    ),
    obs AS (
        SELECT user_id,
               CASE WHEN tp IS NOT NULL THEN (tp - t0) // 1000
                    ELSE (tl - t0) // 1000 END AS t_ms,
               CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM per_user
    ),
    cells AS (
        SELECT t_ms, CAST(sum(ev) AS BIGINT) AS d,
               CAST(count(*) - sum(ev) AS BIGINT) AS c
        FROM obs GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS big_n FROM obs),
    risk AS (
        SELECT t_ms, d, c, big_n,
               big_n - coalesce(sum(d + c) OVER (ORDER BY t_ms
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_risk
        FROM cells CROSS JOIN tot
    ),
    ev_rows AS (
        SELECT t_ms, d, n_risk,
               CASE WHEN d >= n_risk THEN -50000000000
                    ELSE CAST(floor(ln(1 - d * 1.0 / n_risk) * 1000000000
                                    + 0.5) AS BIGINT)
               END AS lt
        FROM risk WHERE d > 0
    ),
    km AS (
        SELECT t_ms, d, n_risk,
               sum(lt) OVER (ORDER BY t_ms
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_lt,
               row_number() OVER (ORDER BY t_ms) AS rk
        FROM ev_rows
    )
    SELECT t_ms, CAST(n_risk AS BIGINT) AS n_risk, d AS n_events,
           round(exp(cum_lt / 1000000000.0), 6) AS survival
    FROM km WHERE rk <= 30
    """,
    doc="Kaplan-Meier survival estimator for time-to-first-purchase: "
    "converters contribute an event at (first purchase - first event) "
    "ms, non-converters are right-CENSORED at their last observed "
    "offset — the estimator that makes 'median time to convert' honest "
    "when many users simply have not converted YET (dropping them, as "
    "a plain percentile does, biases the curve optimistic). The "
    "product Π(1 - d_i/n_i) runs in LOG space as an exact integer "
    "cumsum of 1e-9-ticked ln factors — no order-dependent float "
    "product. Only the first 30 event times are shown, so they are "
    "taken FIRST (a bounded top-30 heap over the per-offset cells) and "
    "everything after runs on those 30 rows: each risk set is the "
    "cohort total minus the observations strictly before it (one "
    "aggregate over cells x the broadcast 30 times; a user with no "
    "timestamp stays at risk, as in the oracle's NULLS LAST order), and "
    "the log cumsum is a broadcast triangle join — no range exchange, "
    "no window. Both the risk-set denominators and event counts are "
    "exact integers; the exhausted-risk-set edge (d = n) caps the tick "
    "at e^-50 ~ 0.",
    tags=("A", "survival", "kaplan-meier"),
)
def a_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    us = F.expr(_US)
    per_user = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            us.alias("us"),
            F.when(F.col("event_type") == "purchase", us).alias("pus"),
        )
        .groupBy("user_id")
        .agg(
            F.min("us").alias("t0"),
            F.min("pus").alias("tp"),
            F.max("us").alias("tl"),
        )
    )
    obs = per_user.select(
        F.when(
            F.col("tp").isNotNull(),
            F.expr("(tp - t0) div 1000"),
        )
        .otherwise(F.expr("(tl - t0) div 1000"))
        .alias("t_ms"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    # one row per offset (domain-sized) with two consumers: pinned so the
    # per-user aggregate runs once (the consumers prune different columns,
    # so no exchange reuse would apply)
    cells = (
        obs.groupBy("t_ms")
        .agg(
            F.sum("ev").cast("long").alias("d"),
            F.count(F.lit(1)).alias("dc"),
        )
        .localCheckpoint(eager=False)
    )
    # top-30 first: only the 30 smallest event times are ever shown
    first = (
        cells.filter(F.col("d") > 0)
        .orderBy("t_ms")
        .limit(30)
        .select(F.col("t_ms").alias("t"))
    )
    # n_risk(t) = N - (observations before t); N also counts a null-offset
    # user, whom the oracle's NULLS LAST order never subtracts
    risk = (
        cells.crossJoin(F.broadcast(first))
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("t_ms") == F.col("t"), F.col("d"))).alias("d"),
            (
                F.sum("dc")
                - F.sum(F.when(F.col("t_ms") < F.col("t"), F.col("dc")).otherwise(0))
            ).alias("n_risk"),
        )
    )
    # exhausted-risk-set edge (d = n) caps the tick at e^-50
    lt = F.when(F.col("d") >= F.col("n_risk"), F.lit(-50000000000)).otherwise(
        F.floor(
            F.log(F.lit(1.0) - F.col("d") * F.lit(1.0) / F.col("n_risk"))
            * 1000000000
            + F.lit(0.5)
        ).cast("long")
    )
    # cum_lt(t) = sum of lt(u) over u <= t: a triangle over <= 30 rows
    km = (
        risk.join(
            F.broadcast(risk.select(F.col("t").alias("u"), lt.alias("lt_u"))),
            F.col("u") <= F.col("t"),
        )
        .groupBy("t", "n_risk", "d")
        .agg(F.sum("lt_u").alias("cum_lt"))
    )
    return km.select(
        F.col("t").alias("t_ms"),
        "n_risk",
        F.col("d").alias("n_events"),
        pround(F.exp(F.col("cum_lt") / F.lit(1000000000.0)), 6).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Exact 3-channel Shapley conversion attribution
# ---------------------------------------------------------------------------


@register(
    "j_shapley_attribution",
    oracle="""
    WITH flags AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS hc,
               max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS hs,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY 1
    ),
    cells AS (
        SELECT hv * 4 + hc * 2 + hs AS mask,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(conv) AS BIGINT) AS n_conv
        FROM flags GROUP BY 1
    ),
    wide AS (
        SELECT
            coalesce(max(CASE WHEN mask = 0 THEN n_conv * 1.0 / n_users END), 0) AS v0,
            coalesce(max(CASE WHEN mask = 1 THEN n_conv * 1.0 / n_users END), 0) AS v1,
            coalesce(max(CASE WHEN mask = 2 THEN n_conv * 1.0 / n_users END), 0) AS v2,
            coalesce(max(CASE WHEN mask = 3 THEN n_conv * 1.0 / n_users END), 0) AS v3,
            coalesce(max(CASE WHEN mask = 4 THEN n_conv * 1.0 / n_users END), 0) AS v4,
            coalesce(max(CASE WHEN mask = 5 THEN n_conv * 1.0 / n_users END), 0) AS v5,
            coalesce(max(CASE WHEN mask = 6 THEN n_conv * 1.0 / n_users END), 0) AS v6,
            coalesce(max(CASE WHEN mask = 7 THEN n_conv * 1.0 / n_users END), 0) AS v7
        FROM cells
    )
    SELECT 'view' AS channel,
           round((2 * (v4 - v0) + (v6 - v2) + (v5 - v1) + 2 * (v7 - v3))
                 / 6.0, 6) AS shapley,
           round(v7 - v0, 6) AS total_effect
    FROM wide
    UNION ALL
    SELECT 'click',
           round((2 * (v2 - v0) + (v6 - v4) + (v3 - v1) + 2 * (v7 - v5))
                 / 6.0, 6),
           round(v7 - v0, 6)
    FROM wide
    UNION ALL
    SELECT 'signup',
           round((2 * (v1 - v0) + (v5 - v4) + (v3 - v2) + 2 * (v7 - v6))
                 / 6.0, 6),
           round(v7 - v0, 6)
    FROM wide
    """,
    doc="Exact Shapley conversion attribution over the 3 touch channels "
    "(view / click / signup; purchase = conversion): the coalition "
    "value v(S) is the observed conversion rate of users whose touch "
    "set is exactly S, and each channel's credit is the Shapley "
    "average of its marginal contributions over all 3! orderings — "
    "the permutation weights (|S|-1)!(n-|S|)!/n! fold into the exact "
    "rational (2,1,1,2)/6 coefficient pattern. Shapley is the unique "
    "attribution satisfying efficiency/symmetry/dummy, and with n = 3 "
    "the exact computation is ONE grouped aggregation (8 coalition "
    "cells from a per-user flag rollup) plus constant arithmetic — no "
    "sampling, no model. Efficiency holds by construction: the three "
    "credits sum to v(full) - v(empty) (= total_effect, emitted for "
    "the check). Missing coalitions default to rate 0. Per-user flag "
    "extraction is the only data-sized shuffle.",
    tags=("J", "attribution", "shapley"),
)
def j_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    flags = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("hv"),
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("hc"),
            F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias(
                "hs"
            ),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv"),
        )
    )
    cells = (
        flags.withColumn(
            "mask", F.col("hv") * 4 + F.col("hc") * 2 + F.col("hs")
        )
        .groupBy("mask")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("conv").cast("long").alias("n_conv"),
        )
    )
    rate = F.col("n_conv") * F.lit(1.0) / F.col("n_users")
    wide = cells.agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("mask") == m, rate)), F.lit(0.0)
            ).alias(f"v{m}")
            for m in range(8)
        ]
    )
    v = {m: F.col(f"v{m}") for m in range(8)}
    total = pround(v[7] - v[0], 6).alias("total_effect")
    view = wide.select(
        F.lit("view").alias("channel"),
        pround(
            (2 * (v[4] - v[0]) + (v[6] - v[2]) + (v[5] - v[1]) + 2 * (v[7] - v[3]))
            / F.lit(6.0),
            6,
        ).alias("shapley"),
        total,
    )
    click = wide.select(
        F.lit("click").alias("channel"),
        pround(
            (2 * (v[2] - v[0]) + (v[6] - v[4]) + (v[3] - v[1]) + 2 * (v[7] - v[5]))
            / F.lit(6.0),
            6,
        ).alias("shapley"),
        total,
    )
    signup = wide.select(
        F.lit("signup").alias("channel"),
        pround(
            (2 * (v[1] - v[0]) + (v[5] - v[4]) + (v[3] - v[2]) + 2 * (v[7] - v[6]))
            / F.lit(6.0),
            6,
        ).alias("shapley"),
        total,
    )
    return view.unionByName(click).unionByName(signup)
