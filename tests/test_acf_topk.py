"""Unit differentials for W7 (ACF) and W8 (top-K) against NumPy/pandas.

Reference semantics: func_aux/func_plot.py:43-54 (full ACF of demeaned
series, normalized by lag-0 energy); pipelines_host/
pipeline_trainingmodels_host.py:57-97 (sort desc, take K).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.operators.acf import acf
from cicevse2024_tfm_datapipeline_spark.operators.topk import (
    group_mode,
    top_k,
    top_k_per_group,
)


def _ref_acf(x: np.ndarray, lags: list[int]) -> dict[int, float]:
    # mirror of func_aux/func_plot.py:43-54: demean, cross products /
    # lag-0 energy
    d = x - x.mean()
    e0 = float(np.sum(d * d))
    out = {}
    for k in lags:
        if k == 0:
            out[k] = 1.0
        else:
            out[k] = float(np.sum(d[k:] * d[:-k])) / e0
    return out


def test_acf_matches_numpy(spark):
    rng = np.random.default_rng(7)
    x = np.cumsum(rng.normal(size=200))  # correlated series
    pdf = pd.DataFrame({"t": np.arange(len(x)), "v": x})
    df = spark.createDataFrame(pdf)
    lags = [0, 1, 2, 5, 10]
    got = {
        r["lag"]: r["acf_value"]
        for r in acf(df, "v", ["t"], lags).collect()
    }
    want = _ref_acf(x, lags)
    assert set(got) == set(want)
    for k in lags:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
    # sanity: ACF of a random walk decays but stays high at small lags
    assert got[1] > 0.9


def test_top_k_matches_pandas(spark):
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "feature": [f"f{i}" for i in range(40)],
            "mean_drop": rng.normal(size=40),
        }
    )
    df = spark.createDataFrame(pdf)
    got = top_k(df, [F.desc("mean_drop")], 7).toPandas()
    want = pdf.sort_values("mean_drop", ascending=False).head(7)
    assert list(got["feature"]) == list(want["feature"])


def test_top_k_per_group_matches_pandas(spark):
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["x", "y", "z"], size=60),
            "id": np.arange(60),
            "score": rng.normal(size=60),
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        top_k_per_group(df, ["g"], [F.desc("score"), F.asc("id")], 3)
        .toPandas()
        .sort_values(["g", "score"], ascending=[True, False])
        .reset_index(drop=True)
    )
    want = (
        pdf.sort_values(["score", "id"], ascending=[False, True])
        .groupby("g", group_keys=False)
        .head(3)
        .sort_values(["g", "score"], ascending=[True, False])
        .reset_index(drop=True)
    )
    assert list(got["id"]) == list(want["id"])


def test_group_mode_tie_breaks_like_pandas(spark):
    # pandas mode()[0] returns the smallest modal value on ties
    pdf = pd.DataFrame(
        {
            "k": ["a", "a", "a", "a", "b", "b"],
            "v": ["z", "z", "m", "m", "q", "q"],
        }
    )
    df = spark.createDataFrame(pdf)
    got = {r["k"]: r["v"] for r in group_mode(df, ["k"], "v").collect()}
    assert got == {"a": "m", "b": "q"}
