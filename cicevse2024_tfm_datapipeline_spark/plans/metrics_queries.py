"""Wave C: evaluation-metric query surface (SURVEY §2.5 A8-A15).

Fixture mapping (FIXTURES.md): y_true/score derived deterministically from
the power-like events view —

    y_true = label == 'attack'
    score  = round(value / 400, 3)     (ties on purpose → threshold groups)
    y_pred = score > 0.3
    multiclass pred = value-quartile recode of event_type domain
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.operators.metrics import (
    average_precision,
    binary_confusion_rates,
    clopper_pearson_ci,
    confusion_matrix,
    mean_std_over_runs,
    multiclass_point_metrics,
    roc_auc_trapezoid,
    threshold_at_fpr,
    weighted_log_loss,
)
from cicevse2024_tfm_datapipeline_spark.plans.common import POWER_BASE_SQL, power_view, t, pround
from cicevse2024_tfm_datapipeline_spark.plans.registry import register

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_SCORED_SQL = f"""
    scored AS (
        SELECT *,
               CASE WHEN label = 'attack' THEN 1 ELSE 0 END AS y_true,
               round(value / 400.0, 3) AS score,
               CASE WHEN round(value / 400.0, 3) > 0.3 THEN 1 ELSE 0 END AS y_pred
        FROM base
    )
"""

_MC_PRED_SQL = """
    CASE WHEN value < 50 THEN 'view'
         WHEN value < 100 THEN 'click'
         WHEN value < 150 THEN 'signup'
         WHEN value < 200 THEN 'purchase'
         ELSE 'error' END
"""


#: Literal bucket-boundary grids for the A13/A11 threshold scans
#: (operators.scan fixed_bounds): the scan keys are DOMAIN-bounded by
#: construction — _scored's score = round(value/400, 3) over the bounded
#: power trace (observed [0, 1.401]; 1/16 steps to 1.4375 -> 24 buckets),
#: _ovr_long's score = round(1/(1+|value/80-idx|), 3) in (0, 1] (1/16
#: steps -> 16 buckets). Out-of-range grid tails just leave empty buckets.
_SCORE_GRID = [i / 16.0 for i in range(1, 24)]
_OVR_SCORE_GRID = [i / 16.0 for i in range(1, 16)]


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    pv = power_view(spark, sf_dir)
    score = pround(F.col("value") / 400.0, 3)
    return pv.select(
        "*",
        F.when(F.col("label") == "attack", 1).otherwise(0).alias("y_true"),
        score.alias("score"),
        F.when(score > 0.3, 1).otherwise(0).alias("y_pred"),
    )


def _mc_pred() -> F.Column:
    v = F.col("value")
    return (
        F.when(v < 50, "view")
        .when(v < 100, "click")
        .when(v < 150, "signup")
        .when(v < 200, "purchase")
        .otherwise("error")
    )


@register(
    "a10_confusion_matrix_dense",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    preds AS (
        SELECT attack AS true_label, {_MC_PRED_SQL} AS pred_label FROM base
    ),
    dom AS (SELECT * FROM (VALUES {", ".join(f"('{e}')" for e in EVENT_TYPES)}) AS v(l)),
    grid AS (SELECT a.l AS true_label, b.l AS pred_label FROM dom a CROSS JOIN dom b),
    counts AS (
        SELECT true_label, pred_label, count(*) AS n FROM preds GROUP BY 1, 2
    )
    SELECT g.true_label, g.pred_label, coalesce(c.n, 0) AS n
    FROM grid g LEFT JOIN counts c USING (true_label, pred_label)
    """,
    doc="A10: dense confusion matrix over a fixed label universe "
    "(pipeline_trainingmodels_power.py:200-211) — zero cells materialized "
    "via label-domain crossjoin.",
    tags=("A10",),
)
def a10_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    pv = power_view(spark, sf_dir).select(
        F.col("attack").alias("yt"), _mc_pred().alias("yp")
    )
    return confusion_matrix(pv, "yt", "yp", labels=list(EVENT_TYPES))


@register(
    "a11_multiclass_point_metrics",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    preds AS (SELECT attack AS yt, {_MC_PRED_SQL} AS yp FROM base),
    classes AS (SELECT DISTINCT yt AS c FROM preds UNION SELECT DISTINCT yp FROM preds),
    per_class AS (
        SELECT cl.c,
               coalesce(s.support, 0) AS support,
               coalesce(s.tp, 0) AS tp,
               coalesce(p.pred_n, 0) AS pred_n
        FROM classes cl
        LEFT JOIN (SELECT yt AS c, count(*) AS support,
                          sum(CASE WHEN yp = yt THEN 1 ELSE 0 END) AS tp
                   FROM preds GROUP BY yt) s ON cl.c = s.c
        LEFT JOIN (SELECT yp AS c, count(*) AS pred_n FROM preds GROUP BY yp) p
               ON cl.c = p.c
    ),
    enriched AS (
        SELECT c, support, tp,
               CASE WHEN pred_n > 0 THEN tp * 1.0 / pred_n ELSE 0.0 END AS prec,
               CASE WHEN support > 0 THEN tp * 1.0 / support ELSE 0.0 END AS rec
        FROM per_class
    ),
    f AS (
        SELECT *,
               CASE WHEN prec + rec > 0 THEN 2 * prec * rec / (prec + rec) ELSE 0.0 END AS f1,
               CASE WHEN 4 * prec + rec > 0 THEN 5 * prec * rec / (4 * prec + rec) ELSE 0.0 END AS f2,
               CASE WHEN 0.25 * prec + rec > 0 THEN 1.25 * prec * rec / (0.25 * prec + rec) ELSE 0.0 END AS f05
        FROM enriched
    )
    SELECT round(sum(tp) * 1.0 / sum(support), 6) AS accuracy,
           round(avg(CASE WHEN support > 0 THEN rec END), 6) AS balanced_accuracy,
           round(avg(prec), 6) AS precision_macro,
           round(avg(rec), 6) AS recall_macro,
           round(avg(f1), 6) AS f1_macro,
           round(avg(f2), 6) AS f2_macro,
           round(avg(f05), 6) AS f0_5_macro,
           round(sum(prec * support) / sum(support), 6) AS precision_weighted,
           round(sum(rec * support) / sum(support), 6) AS recall_weighted,
           round(sum(f1 * support) / sum(support), 6) AS f1_weighted
    FROM f
    """,
    doc="A11: multiclass point-metric battery (accuracy, balanced acc, "
    "macro/weighted P/R/F1, F2, F0.5) from one per-class TP/FP/FN pass "
    "(func_aux/func_test.py:61-171; sklearn zero_division=0 semantics).",
    tags=("A11",),
)
def a11_point_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    pv = power_view(spark, sf_dir).select(
        F.col("attack").alias("yt"), _mc_pred().alias("yp")
    )
    m = multiclass_point_metrics(pv, "yt", "yp")
    return m.select(*[pround(F.col(c), 6).alias(c) for c in m.columns])


@register(
    "a12_binary_rates_ci",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    {_SCORED_SQL},
    cells AS (
        SELECT CAST(sum(CASE WHEN y_true = 0 AND y_pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
               CAST(sum(CASE WHEN y_true = 0 AND y_pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN y_true = 1 AND y_pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(sum(CASE WHEN y_true = 1 AND y_pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp
        FROM scored
    )
    SELECT tn, fp, fn, tp,
           round(fp * 1.0 / (tn + fp), 6) AS fpr,
           round(tp / (tp + fn + 1e-12), 6) AS tpr,
           round(tp / (tp + fp + 1e-12), 6) AS precision,
           round(tp / (tp + fn + 1e-12), 6) AS recall,
           round(tn / (tn + fp + 1e-12), 6) AS tnr,
           round(0.5 * (tp / (tp + fn + 1e-12) + tn / (tn + fp + 1e-12)), 6)
               AS balanced_accuracy,
           round(greatest(0.0, fp * 1.0 / (tn + fp)
               - 1.96 * sqrt((fp * 1.0 / (tn + fp)) * (1 - fp * 1.0 / (tn + fp)) / (tn + fp))), 6)
               AS fpr_ci_low_norm,
           round(least(1.0, fp * 1.0 / (tn + fp)
               + 1.96 * sqrt((fp * 1.0 / (tn + fp)) * (1 - fp * 1.0 / (tn + fp)) / (tn + fp))), 6)
               AS fpr_ci_high_norm
    FROM cells
    """,
    doc="A12: binary confusion cells + rates at threshold + normal-approx "
    "FPR CI, with the reference's 1e-12 smoothing "
    "(func_aux/func_test.py:334-373).",
    tags=("A12",),
)
def a12_binary_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _scored(spark, sf_dir)
    out = binary_confusion_rates(sc, "y_true", "y_pred")
    keep = [c for c in out.columns if c in ("tn", "fp", "fn", "tp")]
    rounded = [pround(F.col(c), 6).alias(c) for c in out.columns if c not in keep]
    return out.select(*keep, *rounded)


@register(
    "a13_threshold_at_fpr",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    {_SCORED_SQL},
    per AS (
        SELECT score AS threshold,
               sum(CASE WHEN y_true = 1 THEN 1 ELSE 0 END) AS pos,
               sum(CASE WHEN y_true = 0 THEN 1 ELSE 0 END) AS neg
        FROM scored GROUP BY score
    ),
    cum AS (
        SELECT threshold,
               sum(neg) OVER (ORDER BY threshold DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0
                   / sum(neg) OVER () AS fpr,
               sum(pos) OVER (ORDER BY threshold DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0
                   / sum(pos) OVER () AS tpr
        FROM per
    )
    SELECT round(threshold, 6) AS threshold, round(fpr, 6) AS fpr, round(tpr, 6) AS tpr
    FROM cum
    ORDER BY CASE WHEN fpr <= 0.1 THEN 1 ELSE 0 END DESC,
             CASE WHEN fpr <= 0.1 THEN -fpr ELSE abs(fpr - 0.1) END ASC,
             threshold ASC
    LIMIT 1
    """,
    doc="A13: ROC threshold selection at target FPR — largest FPR ≤ target, "
    "nearest-|fpr−target| fallback (func_aux/func_test.py:252-269) — via "
    "cumulative window sums over the descending-score threshold groups.",
    tags=("A13",),
)
def a13_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _scored(spark, sf_dir)
    # scores are pround(value/400, 3): a rounding of a physically-bounded
    # ratio, so the score DOMAIN is construction-known — the literal
    # 1/16-step grid replaces the scan's quantile pre-pass (the measured
    # ~0.3 s flat driver job; SCALE.md "A13 profile", round 10) while the
    # two-phase combine stays fully distributed and lineage-free
    out = threshold_at_fpr(sc, "y_true", "score", 0.1, domain_bounds=_SCORE_GRID)
    return out.select(
        pround("threshold", 6).alias("threshold"),
        pround("fpr", 6).alias("fpr"),
        pround("tpr", 6).alias("tpr"),
    )


@register(
    "a13_roc_curve_points",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    {_SCORED_SQL},
    per AS (
        SELECT score AS threshold,
               sum(CASE WHEN y_true = 1 THEN 1 ELSE 0 END) AS pos,
               sum(CASE WHEN y_true = 0 THEN 1 ELSE 0 END) AS neg
        FROM scored GROUP BY score
    )
    SELECT round(threshold, 6) AS threshold,
           CAST(sum(pos) OVER (ORDER BY threshold DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tp,
           CAST(sum(neg) OVER (ORDER BY threshold DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_fp,
           round(sum(neg) OVER (ORDER BY threshold DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0
               / sum(neg) OVER (), 6) AS fpr,
           round(sum(pos) OVER (ORDER BY threshold DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0
               / sum(pos) OVER (), 6) AS tpr
    FROM per
    """,
    doc="A13: the FULL ROC curve — one point per distinct threshold with "
    "cumulative TP/FP over the descending-score order "
    "(func_aux/func_test.py:429-458). Window input is |thresholds|, not "
    "|rows| — bounded at any data scale.",
    tags=("A13",),
)
def a13_roc_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.metrics import roc_points

    sc = _scored(spark, sf_dir)
    # scores are pround(value/400, 3): a rounding of a physically-bounded
    # ratio, so the score DOMAIN is construction-known — the literal
    # 1/16-step grid replaces the scan's quantile pre-pass (the measured
    # ~0.3 s flat driver job; SCALE.md "A13 profile", round 10) while the
    # two-phase combine stays fully distributed and lineage-free
    pts = roc_points(sc, "y_true", "score", domain_bounds=_SCORE_GRID)
    return pts.select(
        pround("threshold", 6).alias("threshold"),
        F.col("cum_tp").cast("long").alias("cum_tp"),
        F.col("cum_fp").cast("long").alias("cum_fp"),
        pround("fpr", 6).alias("fpr"),
        pround("tpr", 6).alias("tpr"),
    )


@register(
    "a13_roc_auc",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    {_SCORED_SQL},
    per AS (
        SELECT score AS threshold,
               sum(CASE WHEN y_true = 1 THEN 1 ELSE 0 END) AS pos,
               sum(CASE WHEN y_true = 0 THEN 1 ELSE 0 END) AS neg
        FROM scored GROUP BY score
    ),
    cum AS (
        SELECT pos, neg,
               sum(pos) OVER (ORDER BY threshold DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tp,
               sum(neg) OVER (ORDER BY threshold DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_fp,
               sum(pos) OVER () AS tot_pos,
               sum(neg) OVER () AS tot_neg
        FROM per
    )
    SELECT round(sum(
               (cum_fp * 1.0 / tot_neg - (cum_fp - neg) * 1.0 / tot_neg)
             * (cum_tp * 1.0 / tot_pos + (cum_tp - pos) * 1.0 / tot_pos) / 2.0), 6)
               AS roc_auc
    FROM cum
    """,
    doc="A13: ROC-AUC by trapezoid integration of the cumulative curve "
    "(func_aux/func_test.py:429-458 / roc_auc_score). Lag-free form: the "
    "previous curve point is (cum_fp − neg, cum_tp − pos) — identical "
    "arithmetic to the engine's scan-based plan.",
    tags=("A13",),
)
def a13_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _scored(spark, sf_dir)
    # scores are pround(value/400, 3): a rounding of a physically-bounded
    # ratio, so the score DOMAIN is construction-known — the literal
    # 1/16-step grid replaces the scan's quantile pre-pass (the measured
    # ~0.3 s flat driver job; SCALE.md "A13 profile", round 10) while the
    # two-phase combine stays fully distributed and lineage-free
    return roc_auc_trapezoid(sc, "y_true", "score", domain_bounds=_SCORE_GRID).select(
        pround("roc_auc", 6).alias("roc_auc")
    )


@register(
    "a13_average_precision",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    {_SCORED_SQL},
    per AS (
        SELECT score AS threshold,
               sum(CASE WHEN y_true = 1 THEN 1 ELSE 0 END) AS pos,
               count(*) AS cnt
        FROM scored GROUP BY score
    ),
    cum AS (
        SELECT pos,
               sum(pos) OVER (ORDER BY threshold DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tp,
               sum(cnt) OVER (ORDER BY threshold DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
               sum(pos) OVER () AS tot_pos
        FROM per
    )
    SELECT round(sum((pos * 1.0 / tot_pos) * (cum_tp * 1.0 / cum_n)), 6)
               AS average_precision
    FROM cum
    """,
    doc="A13/PR: average precision Σ Δrecall·precision over descending "
    "thresholds (average_precision_score at func_aux/func_test.py:455). "
    "Lag-free form: Δrecall_i = pos_i / tot_pos — identical arithmetic to "
    "the engine's scan-based plan.",
    tags=("A13",),
)
def a13_ap(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _scored(spark, sf_dir)
    # scores are pround(value/400, 3): a rounding of a physically-bounded
    # ratio, so the score DOMAIN is construction-known — the literal
    # 1/16-step grid replaces the scan's quantile pre-pass (the measured
    # ~0.3 s flat driver job; SCALE.md "A13 profile", round 10) while the
    # two-phase combine stays fully distributed and lineage-free
    return average_precision(sc, "y_true", "score", domain_bounds=_SCORE_GRID).select(
        pround("average_precision", 6).alias("average_precision")
    )


_OVR_CLS_SQL = ", ".join(f"('{e}', {i})" for i, e in enumerate(EVENT_TYPES))

#: long OVR frame: one row per (sample, class) with the class indicator
#: and a deterministic per-class "probability" — a peaked function of
#: value whose mode moves with the class index (ties via 3-dp rounding).
_OVR_PAIRS_SQL = f"""
    cls AS (SELECT * FROM (VALUES {_OVR_CLS_SQL}) AS v(c, idx)),
    pairs AS (
        SELECT cls.c AS c,
               CASE WHEN base.attack = cls.c THEN 1 ELSE 0 END AS y,
               round(1.0 / (1.0 + abs(base.value / 80.0 - cls.idx)), 3) AS score
        FROM base CROSS JOIN cls
    )
"""

_OVR_CUM_SQL = """
    per AS (
        SELECT c, score AS th,
               sum(y) AS pos, sum(1 - y) AS neg, count(*) AS cnt
        FROM pairs GROUP BY 1, 2
    ),
    cum AS (
        SELECT c, pos, neg, cnt,
               sum(pos) OVER (PARTITION BY c ORDER BY th DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
               sum(neg) OVER (PARTITION BY c ORDER BY th DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_neg,
               sum(cnt) OVER (PARTITION BY c ORDER BY th DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt,
               sum(pos) OVER (PARTITION BY c) AS tot_pos,
               sum(neg) OVER (PARTITION BY c) AS tot_neg
        FROM per
    ),
    per_class AS (
        SELECT c,
               sum((cum_neg * 1.0 / tot_neg - (cum_neg - neg) * 1.0 / tot_neg)
                 * (cum_pos * 1.0 / tot_pos + (cum_pos - pos) * 1.0 / tot_pos) / 2.0)
                   AS roc_auc,
               sum((pos * 1.0 / tot_pos) * (cum_pos * 1.0 / cum_cnt))
                   AS average_precision
        FROM cum GROUP BY c
    )
"""


def _ovr_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    pv = power_view(spark, sf_dir)
    from cicevse2024_tfm_datapipeline_spark.functions.literals import literal_df

    cls = literal_df(
        spark, [(e, i) for i, e in enumerate(EVENT_TYPES)], schema="c string, idx int"
    )
    score = pround(
        F.lit(1.0) / (F.lit(1.0) + F.abs(F.col("value") / F.lit(80.0) - F.col("idx"))), 3
    )
    return (
        pv.select("attack", "value")
        .crossJoin(F.broadcast(cls))
        .select(
            "c",
            F.when(F.col("attack") == F.col("c"), 1).otherwise(0).alias("y"),
            score.alias("score"),
        )
    )


@register(
    "a11_ovr_auc_per_class",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    {_OVR_PAIRS_SQL},
    {_OVR_CUM_SQL}
    SELECT c AS class, round(roc_auc, 6) AS roc_auc,
           round(average_precision, 6) AS average_precision
    FROM per_class
    """,
    doc="A11 OVR probability AUCs per class: one-vs-rest ROC-AUC "
    "(trapezoid) and average precision from per-class scores — the "
    "reference's per-class roc_auc_score / average_precision_score loop "
    "(func_aux/func_test.py:120-171) as ONE grouped scan: scores are "
    "rounded to 3 decimals, so each class curve is bounded by the "
    "threshold domain and one class-partitioned window is the scan; "
    "classes evaluate in parallel.",
    tags=("A11", "A13"),
)
def a11_ovr_per_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.metrics import ovr_auc_per_class

    long_df = _ovr_long(spark, sf_dir)
    # scores are rounded to 3 decimals → each class curve is bounded by
    # the threshold domain, so the class-partitioned window is the plan
    return ovr_auc_per_class(long_df, "c", "y", "score").select(
        F.col("c").alias("class"),
        pround("roc_auc", 6).alias("roc_auc"),
        pround("average_precision", 6).alias("average_precision"),
    )


@register(
    "a11_multiclass_auc",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    {_OVR_PAIRS_SQL},
    {_OVR_CUM_SQL},
    mper AS (
        SELECT score AS th, sum(y) AS pos, sum(1 - y) AS neg, count(*) AS cnt
        FROM pairs GROUP BY 1
    ),
    mcum AS (
        SELECT pos, neg, cnt,
               sum(pos) OVER (ORDER BY th DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
               sum(neg) OVER (ORDER BY th DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_neg,
               sum(cnt) OVER (ORDER BY th DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt,
               sum(pos) OVER () AS tot_pos,
               sum(neg) OVER () AS tot_neg
        FROM mper
    ),
    micro AS (
        SELECT sum((cum_neg * 1.0 / tot_neg - (cum_neg - neg) * 1.0 / tot_neg)
                 * (cum_pos * 1.0 / tot_pos + (cum_pos - pos) * 1.0 / tot_pos) / 2.0)
                   AS roc_auc_micro,
               sum((pos * 1.0 / tot_pos) * (cum_pos * 1.0 / cum_cnt)) AS pr_auc_micro
        FROM mcum
    )
    SELECT round(avg(roc_auc), 6) AS roc_auc_macro,
           round(avg(average_precision), 6) AS pr_auc_macro,
           round(max(micro.roc_auc_micro), 6) AS roc_auc_micro,
           round(max(micro.pr_auc_micro), 6) AS pr_auc_micro
    FROM per_class CROSS JOIN micro
    """,
    doc="A11 multiclass probability-AUC battery: macro ROC-AUC / PR-AUC "
    "(mean of OVR per-class values) + micro ROC-AUC / PR-AUC (binary "
    "metrics over the flattened class×sample frame) — the reference's "
    "average='macro'/'micro' AUC block (func_aux/func_test.py:120-171). "
    "Micro reuses the binary two-phase scan unchanged on 5× the rows.",
    tags=("A11", "A13"),
)
def a11_mc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.metrics import ovr_auc_summary

    long_df = _ovr_long(spark, sf_dir)
    return ovr_auc_summary(
        long_df,
        "c",
        "y",
        "score",
        # same construction knowledge on the micro side: the grid kills
        # the quantile pre-pass (round 10; SCALE.md "A13 profile")
        micro_domain_bounds=_OVR_SCORE_GRID,
    ).select(
        pround("roc_auc_macro", 6).alias("roc_auc_macro"),
        pround("pr_auc_macro", 6).alias("pr_auc_macro"),
        pround("roc_auc_micro", 6).alias("roc_auc_micro"),
        pround("pr_auc_micro", 6).alias("pr_auc_micro"),
    )


@register(
    "a15_fph_conversion",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    {_SCORED_SQL},
    cells AS (
        SELECT CAST(sum(CASE WHEN y_true = 0 AND y_pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN y_true = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
               CAST(count(*) AS BIGINT) AS n_total
        FROM scored
    )
    SELECT fp, n_neg,
           round(fp / (n_neg * 1.0 / 3600.0), 6) AS fp_per_hour,
           round(n_neg * 1.0 / 3600.0, 6) AS total_hours_benign,
           round(n_total * 1.0 / 3600.0, 6) AS total_hours_test
    FROM cells
    """,
    doc="A15: FP/hour conversion with hop=1s — FP / (n_neg·hop/3600), "
    "total hours (func_aux/func_test.py:377-403).",
    tags=("A15",),
)
def a15_fph(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _scored(spark, sf_dir)
    hop = 1.0
    cells = sc.agg(
        F.sum(((F.col("y_true") == 0) & (F.col("y_pred") == 1)).cast("long")).alias("fp"),
        F.sum((F.col("y_true") == 0).cast("long")).alias("n_neg"),
        F.count(F.lit(1)).alias("n_total"),
    )
    hours_benign = F.col("n_neg") * F.lit(hop) / 3600.0
    return cells.select(
        "fp",
        "n_neg",
        pround(F.col("fp") / hours_benign, 6).alias("fp_per_hour"),
        pround(hours_benign, 6).alias("total_hours_benign"),
        pround(F.col("n_total") * F.lit(hop) / 3600.0, 6).alias("total_hours_test"),
    )


@register(
    "a8_mean_std_over_runs",
    oracle="""
    WITH runs AS (
        SELECT event_type, user_id, round(sum(value), 2) / count(*) AS run_metric
        FROM events GROUP BY event_type, user_id
    )
    SELECT event_type,
           round(avg(run_metric), 6) AS run_metric_mean,
           round(CASE WHEN count(run_metric) > 1
                      THEN coalesce(stddev_samp(run_metric), 0.0)
                      ELSE 0.0 END, 6) AS run_metric_std
    FROM runs GROUP BY event_type
    """,
    doc="A8: nanmean + nanstd(ddof=1) across runs with the single-run → "
    "std 0.0 guard (func_aux/func_test.py:513-527).",
    tags=("A8", "A18"),
)
def a8_mean_std(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    runs = ev.groupBy("event_type", "user_id").agg(
        (pround(F.sum("value"), 2) / F.count(F.lit(1))).alias("run_metric")
    )
    out = mean_std_over_runs(runs, ["event_type"], "run_metric")
    return out.select(
        "event_type",
        pround("run_metric_mean", 6).alias("run_metric_mean"),
        pround("run_metric_std", 6).alias("run_metric_std"),
    )


@register(
    "a9_weighted_log_loss",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    w AS (
        SELECT 1.0 + (user_id % 3) AS wgt,
               least(greatest(value / 400.0, 1e-7), 1 - 1e-7) AS p_true
        FROM base
    )
    SELECT round(sum(wgt * -ln(p_true)) / sum(wgt), 6) AS weighted_log_loss FROM w
    """,
    doc="A9: weighted log-loss sum(w·−log p)/sum(w) with probability clip "
    "(pipelines_host/pipeline_host_importance.py:128-151).",
    tags=("A9",),
)
def a9_wll(spark: SparkSession, sf_dir: str) -> DataFrame:
    pv = power_view(spark, sf_dir)
    w = pv.select(
        (F.lit(1.0) + (F.col("user_id") % 3)).alias("wgt"),
        (F.col("value") / 400.0).alias("p_true"),
    )
    out = weighted_log_loss(w, "wgt", "p_true")
    return out.select(pround("weighted_log_loss", 6).alias("weighted_log_loss"))


@register(
    "a_per_state_metric_fanout",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    preds AS (
        SELECT state, attack AS yt, {_MC_PRED_SQL} AS yp FROM base
    )
    SELECT coalesce(state, '__all__') AS state_group,
           count(*) AS n_rows,
           round(sum(CASE WHEN yt = yp THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
               AS accuracy
    FROM preds
    GROUP BY GROUPING SETS ((state), ())
    """,
    doc="Per-state × overall metric fan-out as ONE grouping-sets "
    "aggregation — the reference's manual 2-value loop "
    "(pipeline_trainingmodels_power.py:233-311) collapsed into a single "
    "pass (SURVEY §2.5 note).",
    tags=("A11", "fanout"),
)
def a_per_state_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    pv = power_view(spark, sf_dir).select(
        "state", F.col("attack").alias("yt"), _mc_pred().alias("yp")
    )
    grouped = pv.groupingSets([["state"], []], "state")
    return grouped.agg(
        F.count(F.lit(1)).alias("n_rows"),
        pround(
            F.sum((F.col("yt") == F.col("yp")).cast("long")) * 1.0 / F.count(F.lit(1)), 6
        ).alias("accuracy"),
    ).select(
        F.coalesce("state", F.lit("__all__")).alias("state_group"), "n_rows", "accuracy"
    )


@register(
    "a_quantiles_exact",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90
    FROM events GROUP BY event_type
    """,
    doc="Exact interpolated quantiles per group (quality-filtering staple; "
    "Spark percentile ≡ DuckDB quantile_cont, linear interpolation). At "
    "100 TB swap to approx_percentile — same call site, sketch-merged.",
    tags=("quantiles", "text"),
)
def a_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        pround(F.percentile("value", 0.25), 6).alias("p25"),
        pround(F.percentile("value", 0.5), 6).alias("p50"),
        pround(F.percentile("value", 0.9), 6).alias("p90"),
    )


@register(
    "a_approx_sketches",
    # the sketch VALUES are algorithm-specific, but their ERROR BOUNDS are
    # a portable contract: the oracle computes the exact statistics and
    # asserts the same bound flags (TRUE) the Spark side derives — a
    # hash-matched row that fails if any sketch drifts out of tolerance
    oracle="""
    SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS orders_within_5pct,
           TRUE AS parts_within_5pct,
           TRUE AS median_within_p40_p60
    FROM lineitem
    """,
    doc="Approximate sketches — approx_count_distinct (HLL, default rsd "
    "0.05) and approx_percentile (KLL-ish) — the 100 TB forms of "
    "A4/quantiles. The sketch values are engine-specific, so the checked "
    "contract is the ERROR BOUND: HLL estimates within 5% relative error "
    "of the exact distinct counts (also computed Spark-side), and the "
    "approx median inside the exact [p40, p60] band.",
    tags=("sketch", "A4"),
)
def a_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    # two separate 1-row aggregations joined by broadcast: mixing the
    # exact-distinct pair (Expand-planned) with the imperative sketch /
    # percentile buffers in ONE agg makes every expanded row carry every
    # buffer — it OOMs a default-memory session at sf0.1. Split, each
    # aggregate keeps its own memory profile and no Expand touches the
    # percentile maps.
    distincts = li.agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    sketches = li.agg(
        # rsd 0.01: the checked 5% bound is then a 5-sigma contract (the
        # default rsd 0.05 makes 5% a 1-sigma coin flip — it failed at
        # sf0.001), and HLL++ sparse mode is near-exact at small counts
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.approx_percentile("l_extendedprice", 0.5, 10000).alias("approx_median"),
        F.percentile("l_extendedprice", 0.4).alias("p40"),
        F.percentile("l_extendedprice", 0.6).alias("p60"),
    )
    agg = distincts.crossJoin(F.broadcast(sketches))
    rel = lambda a, e: F.abs(F.col(a) - F.col(e)) / F.col(e)  # noqa: E731
    return agg.select(
        F.col("exact_orders").cast("long").alias("exact_orders"),
        F.col("exact_parts").cast("long").alias("exact_parts"),
        (rel("approx_orders", "exact_orders") <= 0.05).alias("orders_within_5pct"),
        (rel("approx_parts", "exact_parts") <= 0.05).alias("parts_within_5pct"),
        ((F.col("approx_median") >= F.col("p40")) & (F.col("approx_median") <= F.col("p60")))
        .alias("median_within_p40_p60"),
    )


@register(
    "a14_normal_approx_ci",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    {_SCORED_SQL},
    cells AS (
        SELECT CAST(sum(CASE WHEN y_true = 0 AND y_pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN y_true = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
        FROM scored
    )
    SELECT fp, n_neg,
           round(fp * 1.0 / n_neg, 6) AS fpr,
           round(greatest(0.0, fp * 1.0 / n_neg
               - 1.96 * sqrt((fp * 1.0 / n_neg) * (1 - fp * 1.0 / n_neg) / n_neg)), 6)
               AS fpr_ci_low_norm,
           round(least(1.0, fp * 1.0 / n_neg
               + 1.96 * sqrt((fp * 1.0 / n_neg) * (1 - fp * 1.0 / n_neg) / n_neg)), 6)
               AS fpr_ci_high_norm
    FROM cells
    """,
    doc="A14 (normal approximation): Wald CI on the FPR, fpr ± "
    "z·sqrt(fpr(1−fpr)/n_neg) clipped to [0,1] — the reference's "
    "closed-form CI (func_aux/func_test.py:366-373), fully "
    "SQL-expressible (the exact Clopper-Pearson twin below is rows-only).",
    tags=("A14",),
)
def a14_normal_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _scored(spark, sf_dir)
    cells = sc.agg(
        F.sum(((F.col("y_true") == 0) & (F.col("y_pred") == 1)).cast("long")).alias("fp"),
        F.sum((F.col("y_true") == 0).cast("long")).alias("n_neg"),
    )
    fpr = F.col("fp") / F.col("n_neg")
    se = F.sqrt(fpr * (1 - fpr) / F.col("n_neg"))
    z = F.lit(1.96)
    return cells.select(
        "fp",
        "n_neg",
        pround(fpr, 6).alias("fpr"),
        pround(F.greatest(F.lit(0.0), fpr - z * se), 6).alias("fpr_ci_low_norm"),
        pround(F.least(F.lit(1.0), fpr + z * se), 6).alias("fpr_ci_high_norm"),
    )


@register(
    "a14_clopper_pearson_ci",
    oracle=None,  # exact beta-quantile numerics — rows-only check
    doc="A14: exact Clopper-Pearson binomial CI on the FPR "
    "(func_aux/func_test.py:179-193) — scalar numerics on one aggregated "
    "row (pure-NumPy beta quantile; scipy optional).",
    tags=("A14",),
)
def a14_clopper_pearson(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _scored(spark, sf_dir)
    row = sc.agg(
        F.sum(((F.col("y_true") == 0) & (F.col("y_pred") == 1)).cast("long")).alias("fp"),
        F.sum((F.col("y_true") == 0).cast("long")).alias("n_neg"),
    ).collect()[0]
    lo, hi = clopper_pearson_ci(int(row["fp"]), int(row["n_neg"]), alpha=0.05)
    from cicevse2024_tfm_datapipeline_spark.functions.literals import literal_df

    return literal_df(
        spark,
        [(int(row["fp"]), int(row["n_neg"]), float(lo), float(hi))],
        "fp long, n_neg long, fpr_ci_low_cp double, fpr_ci_high_cp double",
    )


@register(
    "a_salted_skew_agg",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_quantity), 2) AS qty_sum,
           count(*) AS n_rows,
           round(round(sum(l_quantity), 2) / count(*), 6) AS qty_avg
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Skew-proof aggregation (operators.skew.salted_sum_count): the "
    "3-key l_returnflag domain is the pathological hot-key case — the "
    "salt spreads each key over 16 partial groups (phase 1) before the "
    "tiny combine (phase 2). The salt is random and the result is "
    "salt-invariant, which is exactly what the oracle verifies: algebraic "
    "aggregates compose across phases to the plain groupBy answer.",
    tags=("A1", "skew"),
)
def a_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.skew import salted_sum_count

    li = t(spark, sf_dir, "lineitem")
    agg = salted_sum_count(li, ["l_returnflag"], "l_quantity", n_salts=16)
    return agg.select(
        "l_returnflag",
        pround(F.col("l_quantity_sum"), 2).alias("qty_sum"),
        "n_rows",
        pround(pround(F.col("l_quantity_sum"), 2) / F.col("n_rows"), 6).alias("qty_avg"),
    )


@register(
    "j_salted_skew_join",
    oracle="""
    WITH dim(l_returnflag, flag_name) AS (
        VALUES ('A', 'accepted'), ('N', 'none'), ('R', 'returned')
    )
    SELECT d.flag_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l.l_quantity), 2) AS qty_sum
    FROM lineitem l JOIN dim d USING (l_returnflag)
    GROUP BY d.flag_name
    """,
    doc="Skew-proof join (operators.skew.salted_broadcast_join): the "
    "3-value l_returnflag key is the hot-key pathology — the fact side is "
    "salted 16 ways and the dim replicated per salt, so each hot key "
    "spreads over 16 tasks instead of funneling into one reducer (the "
    "explicit form of what AQE skew-split does for sort-merge joins; "
    "required when the dim must shuffle-join). The salt is random and "
    "the result salt-invariant — exactly what the plain-join oracle "
    "verifies.",
    tags=("J1", "skew"),
)
def j_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.skew import salted_broadcast_join

    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    from cicevse2024_tfm_datapipeline_spark.functions.literals import literal_df

    dim = literal_df(
        spark,
        [("A", "accepted"), ("N", "none"), ("R", "returned")],
        schema="l_returnflag string, flag_name string",
    )
    joined = salted_broadcast_join(li, dim, "l_returnflag", n_salts=16, how="inner")
    return joined.groupBy("flag_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        pround(F.sum("l_quantity"), 2).alias("qty_sum"),
    )


@register(
    "a_cube_pricing_rollup",
    oracle="""
    SELECT coalesce(l_returnflag, '__all__') AS returnflag_group,
           coalesce(l_linestatus, '__all__') AS linestatus_group,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_extendedprice), 2) AS sum_price,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE aggregation: all four grouping levels of "
    "(returnflag, linestatus) — per-cell, each margin, and the grand "
    "total — in ONE pass (the multi-level report the reference computes "
    "with a manual per-state loop, pipeline_trainingmodels_power.py:"
    "233-311, generalized). Spark expands the grouping sets map-side; "
    "one shuffle regardless of level count. Verified against DuckDB's "
    "native GROUP BY CUBE.",
    tags=("A", "cube"),
)
def a_cube_pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice", "l_quantity"
    )
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            pround(F.sum("l_extendedprice"), 2).alias("sum_price"),
            pround(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("__all__")).alias("returnflag_group"),
            F.coalesce("l_linestatus", F.lit("__all__")).alias("linestatus_group"),
            "n_rows",
            "sum_price",
            "sum_qty",
        )
    )


@register(
    "a_ab_test_proportions",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    conv AS (
        SELECT user_id, user_id % 2 AS grp,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS converted
        FROM ranked WHERE rn = 1
    ),
    cells AS (
        SELECT CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(sum(CASE WHEN grp = 0 THEN converted ELSE 0 END) AS BIGINT) AS c_a,
               CAST(sum(CASE WHEN grp = 1 THEN converted ELSE 0 END) AS BIGINT) AS c_b
        FROM conv
    )
    SELECT n_a, n_b, c_a, c_b,
           round(c_a * 1.0 / n_a, 6) AS p_a,
           round(c_b * 1.0 / n_b, 6) AS p_b,
           round((c_a * 1.0 / n_a - c_b * 1.0 / n_b)
                 / sqrt(((c_a + c_b) * 1.0 / (n_a + n_b))
                        * (1 - (c_a + c_b) * 1.0 / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 6) AS z_stat
    FROM cells
    """,
    doc="Two-proportion A/B z-test (pooled): per-user 'activation' "
    "conversion (first event is a purchase — an ANY-event metric "
    "saturates to p=1 on high-volume users and degenerates the pooled "
    "variance) split by a deterministic assignment hash — one user-"
    "grouped first-event reduction + one 4-cell reduction; the whole "
    "experiment readout is two shuffles regardless of event volume. "
    "z_stat against the +-1.96 line is the standard launch gate; the "
    "normal-CDF p-value needs erf, which neither engine exposes in SQL "
    "— consumers threshold z directly.",
    tags=("A", "abtest", "stats"),
)
def a_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = t(spark, sf_dir, "events")
    first_ev = F.min_by("event_type", F.struct(F.col("ts"), F.col("event_id")))
    conv = events.groupBy("user_id", (F.col("user_id") % 2).alias("grp")).agg(
        (first_ev == "purchase").cast("int").alias("converted")
    )
    cells = conv.agg(
        F.sum((F.col("grp") == 0).cast("long")).cast("long").alias("n_a"),
        F.sum((F.col("grp") == 1).cast("long")).cast("long").alias("n_b"),
        F.sum(F.when(F.col("grp") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.sum(F.when(F.col("grp") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    pa = F.col("c_a") / F.col("n_a")
    pb = F.col("c_b") / F.col("n_b")
    pp = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(pp * (1 - pp) * (1 / F.col("n_a") + 1 / F.col("n_b")))
    return cells.select(
        "n_a",
        "n_b",
        "c_a",
        "c_b",
        pround(pa, 6).alias("p_a"),
        pround(pb, 6).alias("p_b"),
        pround((pa - pb) / se, 6).alias("z_stat"),
    )


@register(
    "a_ks_two_sample",
    oracle="""
    WITH s AS (
        SELECT value,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS a,
               CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS b
        FROM events WHERE event_type IN ('view', 'error')
    ),
    per AS (SELECT value, sum(a) AS na, sum(b) AS nb FROM s GROUP BY 1),
    cum AS (
        SELECT value,
               sum(na) OVER (ORDER BY value
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
               sum(nb) OVER (ORDER BY value
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
               sum(na) OVER () AS ta, sum(nb) OVER () AS tb
        FROM per
    )
    SELECT round(max(abs(ca * 1.0 / ta - cb * 1.0 / tb)), 6) AS ks_d,
           CAST(max(ta) AS BIGINT) AS n_a,
           CAST(max(tb) AS BIGINT) AS n_b
    FROM cum
    """,
    doc="Two-sample Kolmogorov-Smirnov statistic (max ECDF gap) between "
    "the value distributions of two event types — the standard drift "
    "detector between data batches. Runs on the two-phase range-"
    "partitioned scan (operators/scan.global_cumsum, both samples' "
    "cumulative counts in ONE pass over the merged distinct-value "
    "frame): no unpartitioned window, no sample ever collected.",
    tags=("A", "ks", "drift", "scan"),
)
def a_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_cumsum

    ev = t(spark, sf_dir, "events").filter(F.col("event_type").isin("view", "error"))
    per = ev.groupBy("value").agg(
        F.sum((F.col("event_type") == "view").cast("long")).alias("na"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("nb"),
    )
    cum = global_cumsum(per, ["value"], ["na", "nb"], with_totals=True)
    gap = F.abs(
        F.col("cum_na") / F.col("tot_na") - F.col("cum_nb") / F.col("tot_nb")
    )
    return cum.agg(
        pround(F.max(gap), 6).alias("ks_d"),
        F.max("tot_na").cast("long").alias("n_a"),
        F.max("tot_nb").cast("long").alias("n_b"),
    )


@register(
    "a_calibration_bins_ece",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    {_SCORED_SQL},
    p AS (
        SELECT least(9, CAST(floor(least(1.0, score) * 10) AS INT)) AS bin,
               least(1.0, score) AS prob, y_true
        FROM scored
    ),
    b AS (
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n_rows,
               round(avg(prob), 6) AS avg_score,
               sum(y_true) * 1.0 / count(*) AS frac_pos
        FROM p GROUP BY bin
    ),
    e AS (
        SELECT sum(n_rows * abs(avg_score - frac_pos)) / sum(n_rows) AS ece
        FROM b
    )
    SELECT bin, n_rows, avg_score, round(frac_pos, 6) AS frac_pos,
           round((SELECT ece FROM e), 6) AS ece
    FROM b
    """,
    doc="Calibration / reliability bins + expected calibration error "
    "(ECE): scores clamped to [0,1], 10 equal-width bins, per-bin mean "
    "predicted probability vs empirical positive rate, ECE = "
    "count-weighted mean absolute gap. The model-evaluation companion "
    "to A13's discrimination metrics (AUC says nothing about "
    "calibration). One bounded aggregation (<= 10 groups) after the "
    "scan; the ECE reduction runs on the 10-row bin frame joined back "
    "as a broadcast scalar — no unpartitioned window. Per-bin gaps "
    "computed from 6-dp-rounded means so both engines difference "
    "identical doubles.",
    tags=("A", "calibration", "metrics"),
)
def a_calibration_bins_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _scored(spark, sf_dir)
    prob = F.least(F.lit(1.0), F.col("score"))
    p = sc.select(
        F.least(F.lit(9), F.floor(prob * 10).cast("int")).alias("bin"),
        prob.alias("prob"),
        "y_true",
    )
    b = p.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        pround(F.avg("prob"), 6).alias("avg_score"),
        (F.sum("y_true") * F.lit(1.0) / F.count(F.lit(1))).alias("frac_pos"),
    )
    e = b.agg(
        (
            F.sum(F.col("n_rows") * F.abs(F.col("avg_score") - F.col("frac_pos")))
            / F.sum("n_rows")
        ).alias("__ece")
    )
    return (
        b.crossJoin(F.broadcast(e))
        .select(
            "bin",
            "n_rows",
            "avg_score",
            pround("frac_pos", 6).alias("frac_pos"),
            pround("__ece", 6).alias("ece"),
        )
    )


@register(
    "f_winsorize_p1_p99",
    oracle="""
    WITH q AS (
        SELECT quantile_cont(value, 0.01) AS p01,
               quantile_cont(value, 0.99) AS p99
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN value < p01 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_low,
           CAST(sum(CASE WHEN value > p99 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_high,
           round(sum(least(p99, greatest(p01, value))), 2) AS sum_winsorized
    FROM events, q
    GROUP BY event_type
    """,
    doc="Winsorization at corpus [p1, p99]: exact interpolated "
    "percentiles (ONE 1-row aggregate, broadcast to every row) feed a "
    "pure clip projection — the outlier-robust scaling step run before "
    "training on heavy-tailed features, composing F13's clip with the "
    "exact-quantile machinery. Same two-phase stats-then-transform "
    "shape as W5/z-order: at 100 TB swap approx_percentile into the "
    "same call site. Clip comparisons run against identical "
    "interpolated doubles in both engines.",
    tags=("F", "winsorize", "quantiles"),
)
def f_winsorize_p1_p99(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type", "value")
    q = ev.agg(
        F.percentile("value", 0.01).alias("p01"),
        F.percentile("value", 0.99).alias("p99"),
    )
    j = ev.crossJoin(F.broadcast(q))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum((F.col("value") < F.col("p01")).cast("long")).cast("long").alias("n_clipped_low"),
        F.sum((F.col("value") > F.col("p99")).cast("long")).cast("long").alias("n_clipped_high"),
        pround(F.sum(F.least("p99", F.greatest("p01", F.col("value")))), 2).alias("sum_winsorized"),
    )


@register(
    "a_robust_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS m
        FROM events GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type, quantile_cont(abs(e.value - med.m), 0.5) AS d
        FROM events e JOIN med USING (event_type)
        GROUP BY e.event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(max(med.m), 6) AS median_value,
           round(max(mad.d), 6) AS mad,
           CAST(sum(CASE WHEN abs(0.6745 * (e.value - med.m) / mad.d) > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
    GROUP BY e.event_type
    """,
    doc="Robust (median/MAD) outlier detection per group: modified "
    "z-score 0.6745·(x − median)/MAD with the standard 3.5 cutoff — "
    "the heavy-tail-safe complement to the rolling mean/std detector "
    "(w_rolling_zscore_anomalies), immune to the outliers it hunts. "
    "Two exact-percentile aggregations (the second over residuals of "
    "the first, broadcast-joined back) then one counting pass — three "
    "uniform shuffles on the group key at any scale; approx_percentile "
    "drops in for the 100 TB form.",
    tags=("A", "robust", "outliers"),
)
def a_robust_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.percentile("value", 0.5).alias("m"))
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.percentile(F.abs(F.col("value") - F.col("m")), 0.5).alias("d"))
    )
    j = ev.join(F.broadcast(med), "event_type").join(F.broadcast(mad), "event_type")
    z = F.abs(F.lit(0.6745) * (F.col("value") - F.col("m")) / F.col("d"))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        pround(F.max("m"), 6).alias("median_value"),
        pround(F.max("d"), 6).alias("mad"),
        F.sum((z > 3.5).cast("long")).cast("long").alias("n_outliers"),
    )
