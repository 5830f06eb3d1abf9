"""A10-A13 metric machinery vs direct reimplementations of the reference
semantics (/root/reference/func_aux/func_test.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def test_binary_confusion_cells(spark):
    from cicevse2024_tfm_datapipeline_spark.operators.metrics import binary_confusion_rates

    rows = [(1, 1)] * 10 + [(1, 0)] * 5 + [(0, 1)] * 3 + [(0, 0)] * 20
    df = spark.createDataFrame(rows, ["yt", "yp"])
    r = binary_confusion_rates(df, "yt", "yp").collect()[0]
    assert (r["tn"], r["fp"], r["fn"], r["tp"]) == (20, 3, 5, 10)
    assert abs(r["fpr"] - 3 / 23) < 1e-12
    assert abs(r["tpr"] - 10 / (15 + 1e-12)) < 1e-12


def test_threshold_at_fpr_reference_pick(spark):
    """Largest-FPR-≤-target pick with fallback (func_test.py:252-269)."""
    from cicevse2024_tfm_datapipeline_spark.operators.metrics import roc_points, threshold_at_fpr

    # scores: negatives at .1/.2/.3/.4, positives at .35/.45/.5
    rows = [(0, 0.1), (0, 0.2), (0, 0.3), (0, 0.4), (1, 0.35), (1, 0.45), (1, 0.5)]
    df = spark.createDataFrame(rows, ["yt", "s"])
    # target 0.25: candidates fpr ≤ 0.25; the reference picks
    # idx_candidates[-1] = the LAST ascending-fpr candidate = highest tpr
    # → threshold 0.35 (fpr 0.25, tpr 1.0), not 0.4 (fpr 0.25, tpr 2/3)
    r = threshold_at_fpr(df, "yt", "s", 0.25).collect()[0]
    assert abs(r["fpr"] - 0.25) < 1e-12
    assert r["threshold"] == 0.35
    assert abs(r["tpr"] - 1.0) < 1e-12
    # impossible target → nearest |fpr - t|
    r2 = threshold_at_fpr(df, "yt", "s", -0.5).collect()[0]
    assert abs(r2["fpr"] - 0.0) < 1e-12

    pts = {p["threshold"]: (p["fpr"], p["tpr"]) for p in roc_points(df, "yt", "s").collect()}
    assert pts[0.5] == (0.0, 1 / 3)
    assert pts[0.1] == (1.0, 1.0)


def test_roc_auc_matches_hand_computation(spark):
    from cicevse2024_tfm_datapipeline_spark.operators.metrics import roc_auc_trapezoid

    # perfect separation → AUC 1; anti-separation → 0
    perfect = spark.createDataFrame([(1, 0.9), (1, 0.8), (0, 0.2), (0, 0.1)], ["yt", "s"])
    assert abs(roc_auc_trapezoid(perfect, "yt", "s").collect()[0]["roc_auc"] - 1.0) < 1e-12
    inverted = spark.createDataFrame([(0, 0.9), (0, 0.8), (1, 0.2), (1, 0.1)], ["yt", "s"])
    assert abs(roc_auc_trapezoid(inverted, "yt", "s").collect()[0]["roc_auc"]) < 1e-12


def test_multiclass_accuracy_and_macro(spark):
    from cicevse2024_tfm_datapipeline_spark.operators.metrics import multiclass_point_metrics

    rows = [("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"), ("c", "a")]
    df = spark.createDataFrame(rows, ["yt", "yp"])
    r = multiclass_point_metrics(df, "yt", "yp").collect()[0]
    assert abs(r["accuracy"] - 3 / 5) < 1e-12
    # recalls: a=1/2, b=1, c=0 → balanced = 0.5
    assert abs(r["balanced_accuracy"] - 0.5) < 1e-12


_A11_FRAMES = {
    "null_y_true": [("a", "a"), (None, "b"), ("b", "b"), ("a", "b")],
    "null_y_pred": [("a", None), ("a", "a"), ("b", "a"), ("c", None)],
    "pred_only_class": [("a", "c"), ("b", "b"), ("a", "a"), ("b", "d")],
    "all_null_y_true": [(None, "a")],
    "all_null_both": [(None, "a"), (None, None), (None, "b")],
}


@pytest.mark.parametrize("case", sorted(_A11_FRAMES))
def test_multiclass_point_metrics_matches_a11_oracle(spark, tmp_path, case):
    """The battery equals the a11 oracle's per-class SQL (its outer joins,
    a null label as a zero-count class, NULL at zero total support) on
    frames with null labels, a class seen only in ``y_pred`` and no
    non-null ``y_true`` at all; the plan has no join."""
    import pandas as pd

    from cicevse2024_tfm_datapipeline_spark.operators.metrics import multiclass_point_metrics
    from cicevse2024_tfm_datapipeline_spark.plans import load_all
    from cicevse2024_tfm_datapipeline_spark.plans.common import pround
    from tools.selfcheck import compare, duck_conn

    rows = _A11_FRAMES[case]
    oracle = load_all()["a11_multiclass_point_metrics"].oracle
    per_class_sql = "WITH " + oracle[oracle.index("classes AS ("):]
    con = duck_conn(str(tmp_path))
    con.register("preds", pd.DataFrame(rows, columns=["yt", "yp"]))
    want = con.execute(per_class_sql).df()

    df = spark.createDataFrame(rows, "yt string, yp string")
    m = multiclass_point_metrics(df, "yt", "yp")
    got = m.select(*[pround(F.col(c), 6).alias(c) for c in m.columns])
    status, detail = compare(got.toPandas(), want)
    assert status == "EXACT", (case, detail, got.collect(), want)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    if case.startswith("all_null_y"):
        r = got.collect()[0]
        assert r["accuracy"] is None and r["f1_weighted"] is None


def test_clopper_pearson_known_values():
    from cicevse2024_tfm_datapipeline_spark.operators.metrics import clopper_pearson_ci

    lo, hi = clopper_pearson_ci(0, 100, alpha=0.05)
    assert lo == 0.0
    assert abs(hi - 0.03621669264) < 1e-6  # 1-(α/2)^(1/n) exact for k=0
    lo2, hi2 = clopper_pearson_ci(5, 100, alpha=0.05)
    assert 0.015 < lo2 < 0.017  # known ≈ 0.0164
    assert 0.112 < hi2 < 0.114  # known ≈ 0.1128
    assert math.isnan(clopper_pearson_ci(0, 0)[0])


def test_sample_size_calculator():
    from cicevse2024_tfm_datapipeline_spark.ml.models import n_required_for_fpr

    # ln(1/0.05)/1e-3 ≈ 2996
    assert n_required_for_fpr(1e-3, 0.05) == 2996


def _np_roc_auc(y, s):
    """Trapezoid AUC over distinct-threshold curve (ties grouped) — the
    reference's roc_auc_score semantics, numpy-only."""
    import numpy as np

    y, s = np.asarray(y), np.asarray(s)
    thr = np.unique(s)[::-1]
    tp = np.array([(y[s >= t] == 1).sum() for t in thr], dtype=float)
    fp = np.array([(y[s >= t] == 0).sum() for t in thr], dtype=float)
    P, N = (y == 1).sum(), (y == 0).sum()
    if P == 0 or N == 0:
        return None
    tpr = np.concatenate(([0.0], tp / P))
    fpr = np.concatenate(([0.0], fp / N))
    return float(np.trapz(tpr, fpr))


def _np_ap(y, s):
    import numpy as np

    y, s = np.asarray(y), np.asarray(s)
    thr = np.unique(s)[::-1]
    P = (y == 1).sum()
    ap, prev_rec = 0.0, 0.0
    for t in thr:
        sel = s >= t
        tp = float((y[sel] == 1).sum())
        rec, prec = tp / P, tp / float(sel.sum())
        ap += (rec - prev_rec) * prec
        prev_rec = rec
    return ap


def test_ovr_auc_per_class_matches_numpy(spark):
    import random

    from cicevse2024_tfm_datapipeline_spark.operators.metrics import (
        ovr_auc_per_class,
        ovr_auc_summary,
    )

    rng = random.Random(11)
    classes = ["a", "b", "c"]
    rows = []
    for c in classes:
        for _ in range(120):
            y = rng.random() < 0.3
            # scores informative per class, rounded to force threshold ties
            s = round(rng.random() * (1.5 if y else 1.0), 2)
            rows.append((c, int(y), s))
    df = spark.createDataFrame(rows, "c string, y int, score double")
    got = {r["c"]: r for r in ovr_auc_per_class(df, "c", "y", "score").collect()}
    by_cls = {c: ([y for cc, y, s in rows if cc == c], [s for cc, y, s in rows if cc == c]) for c in classes}
    for c in classes:
        y, s = by_cls[c]
        assert abs(got[c]["roc_auc"] - _np_roc_auc(y, s)) < 1e-9, c
        assert abs(got[c]["average_precision"] - _np_ap(y, s)) < 1e-9, c

    summ = ovr_auc_summary(df, "c", "y", "score").collect()[0]
    macro_roc = sum(_np_roc_auc(*by_cls[c]) for c in classes) / 3
    macro_ap = sum(_np_ap(*by_cls[c]) for c in classes) / 3
    all_y = [y for _, y, _ in rows]
    all_s = [s for _, _, s in rows]
    assert abs(summ["roc_auc_macro"] - macro_roc) < 1e-9
    assert abs(summ["pr_auc_macro"] - macro_ap) < 1e-9
    assert abs(summ["roc_auc_micro"] - _np_roc_auc(all_y, all_s)) < 1e-9
    assert abs(summ["pr_auc_micro"] - _np_ap(all_y, all_s)) < 1e-9


def test_token_chunks_edges(spark):
    from cicevse2024_tfm_datapipeline_spark.operators.text import (
        token_chunks_expr,
        tokens_expr,
    )

    rows = [
        (0, "a b c d e f g h i j"),   # 10 toks → one chunk of 8, tail dropped
        (1, "a b c"),                  # < 8 → no chunks
        (2, " ".join(str(i) for i in range(16))),  # exactly two chunks
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {
        r["id"]: r["ch"]
        for r in df.select(
            "id", token_chunks_expr(tokens_expr(F.col("text")), 8).alias("ch")
        ).collect()
    }
    assert out[0] == ["a b c d e f g h"]
    assert out[1] == []
    assert out[2] == ["0 1 2 3 4 5 6 7", "8 9 10 11 12 13 14 15"]
