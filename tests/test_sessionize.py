"""W6 TTD semantics vs a direct reimplementation of the reference scan
(/root/reference/func_aux/func_test.py:196-249)."""

from __future__ import annotations

import pytest


def ref_ttd(y_true, y_pred, hop, episode_ids=None):
    n = len(y_true)
    total = detected = 0
    delays = []
    i = 0
    while i < n:
        if y_true[i] == 1:
            total += 1
            cur = episode_ids[i] if episode_ids is not None else None
            start, j = i, i + 1
            while j < n and y_true[j] == 1:
                if episode_ids is not None and episode_ids[j] != cur:
                    break
                j += 1
            det = next((t for t in range(start, j) if y_pred[t] == 1), None)
            if det is not None:
                detected += 1
                delays.append((det - start) * hop)
            i = j
        else:
            i += 1
    avg = sum(delays) / len(delays) if delays else None
    return total, detected, avg


CASES = [
    # (y_true, y_pred, episode_ids)
    ([0, 1, 1, 0, 1, 1, 1, 0], [0, 0, 1, 0, 1, 0, 0, 0], None),
    ([1, 1, 1, 1], [0, 0, 0, 0], None),
    ([0, 0, 0], [1, 1, 1], None),
    ([1, 1, 1, 1, 1], [0, 0, 1, 0, 1], ["a", "a", "b", "b", "b"]),  # id change splits run
    ([1, 0, 1], [1, 1, 1], None),
    ([0, 1, 1, 1, 0, 1], [0, 0, 1, 1, 0, 1], ["x", "e1", "e1", "e2", "x", "e3"]),
]


@pytest.mark.parametrize("case", CASES)
def test_ttd_matches_reference_scan(spark, case):
    from cicevse2024_tfm_datapipeline_spark.operators.sessionize import ttd_stats

    y_true, y_pred, eps = case
    rows = [
        (i, int(t), int(p), (eps[i] if eps else "e"))
        for i, (t, p) in enumerate(zip(y_true, y_pred))
    ]
    df = spark.createDataFrame(rows, ["idx", "yt", "yp", "ep"])
    out = ttd_stats(
        df, ["idx"], "yt", "yp", window_hop_seconds=2.0,
        episode_id_col="ep" if eps else None,
    ).collect()[0]
    exp_total, exp_det, exp_avg = ref_ttd(y_true, y_pred, 2.0, eps)
    assert out["episodes_total"] == exp_total
    assert out["episodes_detected"] == exp_det
    if exp_avg is None:
        assert out["avg_ttd_seconds"] is None
    else:
        assert abs(out["avg_ttd_seconds"] - exp_avg) < 1e-9


@pytest.mark.parametrize("seed,n,parts,super_size", [(7, 300, 11, 2), (19, 257, 7, 1), (42, 500, 16, 1024)])
def test_global_ttd_fused_path_randomized(spark, seed, n, parts, super_size, monkeypatch):
    """The fused single-pass global TTD (no per-row global ids) must match
    the sequential reference scan with islands spanning bucket/super
    boundaries: many buckets, tiny SUPER, long runs."""
    import random as _random

    from cicevse2024_tfm_datapipeline_spark.operators import scan
    from cicevse2024_tfm_datapipeline_spark.operators.sessionize import ttd_stats

    monkeypatch.setattr(scan, "SUPER", super_size)
    rng = _random.Random(seed)
    y_true, y_pred, eps = [], [], []
    while len(y_true) < n:
        run = rng.randint(1, 12)
        attack = rng.random() < 0.5
        ep = rng.choice(["a", "b", "c"])
        for _ in range(run):
            y_true.append(1 if attack else 0)
            y_pred.append(1 if rng.random() < 0.3 else 0)
            eps.append(ep if attack else "benign")
    y_true, y_pred, eps = y_true[:n], y_pred[:n], eps[:n]
    rows = [(i, y_true[i], y_pred[i], eps[i]) for i in range(n)]
    df = spark.createDataFrame(rows, ["idx", "yt", "yp", "ep"]).repartition(parts)
    out = ttd_stats(
        df, ["idx"], "yt", "yp", window_hop_seconds=3.0, episode_id_col="ep"
    ).collect()[0]
    exp_total, exp_det, exp_avg = ref_ttd(y_true, y_pred, 3.0, eps)
    assert out["episodes_total"] == exp_total
    assert out["episodes_detected"] == exp_det
    if exp_avg is None:
        assert out["avg_ttd_seconds"] is None
    else:
        assert abs(out["avg_ttd_seconds"] - exp_avg) < 1e-9


@pytest.mark.parametrize("super_size", [2, 1024])
def test_global_ttd_bounds_mode_matches_pinned(
    spark, super_size, monkeypatch, tmp_path
):
    """A literal grid selects the lineage-free bounds bucketing, which
    must reproduce the pinned path exactly (including across the hierarchical super-group
    combine) and keep the plan free of checkpointed RDD scans — the flip
    exists to remove the last localCheckpoint in a timed path."""
    import random as _random

    from cicevse2024_tfm_datapipeline_spark.operators import scan
    from cicevse2024_tfm_datapipeline_spark.operators.sessionize import ttd_stats

    monkeypatch.setattr(scan, "SUPER", super_size)
    grid = scan.uniform_grid(0, 3999, 16)
    rng = _random.Random(417)
    rows = []
    for i in range(4000):
        attack = rng.random() < 0.45
        rows.append(
            (
                i,
                1 if attack else 0,
                1 if rng.random() < 0.25 else 0,
                rng.choice(["a", "b"]) if attack else "benign",
            )
        )
    # parquet round-trip: a createDataFrame input is ITSELF a Scan
    # ExistingRDD leaf, which would false-fail the lineage assertion below
    spark.createDataFrame(rows, ["idx", "yt", "yp", "ep"]).repartition(8).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "t"))
    df = spark.read.parquet(str(tmp_path / "t"))
    kw = dict(window_hop_seconds=2.0, episode_id_col="ep")
    pinned = ttd_stats(df, ["idx"], "yt", "yp", **kw).collect()[0]
    bounds_df = ttd_stats(df, ["idx"], "yt", "yp", fixed_bounds=grid, **kw)
    bounds = bounds_df.collect()[0]
    assert pinned.asDict() == bounds.asDict()
    plan = bounds_df._jdf.queryExecution().toString()
    assert "ExistingRDD" not in plan, "bounds mode must not pin anything"
