"""W6 TTD semantics vs a direct reimplementation of the reference scan
(/root/reference/func_aux/func_test.py:196-249)."""

from __future__ import annotations

import pytest


def ref_episodes(y_true, y_pred, episode_ids=None):
    """Sequential scan: ``(start, first_detected)`` per episode, 0-based
    row positions; ``first_detected`` is None for an undetected episode.
    Episode ids compare with ``!=``, so two None ids are one episode."""
    n = len(y_true)
    episodes = []
    i = 0
    while i < n:
        if y_true[i] == 1:
            cur = episode_ids[i] if episode_ids is not None else None
            start, j = i, i + 1
            while j < n and y_true[j] == 1:
                if episode_ids is not None and episode_ids[j] != cur:
                    break
                j += 1
            det = next((t for t in range(start, j) if y_pred[t] == 1), None)
            episodes.append((start, det))
            i = j
        else:
            i += 1
    return episodes


def ref_ttd(y_true, y_pred, hop, episode_ids=None):
    episodes = ref_episodes(y_true, y_pred, episode_ids)
    delays = [(det - start) * hop for start, det in episodes if det is not None]
    avg = sum(delays) / len(delays) if delays else None
    return len(episodes), len(delays), avg


CASES = [
    # (y_true, y_pred, episode_ids)
    ([0, 1, 1, 0, 1, 1, 1, 0], [0, 0, 1, 0, 1, 0, 0, 0], None),
    ([1, 1, 1, 1], [0, 0, 0, 0], None),
    ([0, 0, 0], [1, 1, 1], None),
    ([1, 1, 1, 1, 1], [0, 0, 1, 0, 1], ["a", "a", "b", "b", "b"]),  # id change splits run
    ([1, 0, 1], [1, 1, 1], None),
    ([0, 1, 1, 1, 0, 1], [0, 0, 1, 1, 0, 1], ["x", "e1", "e1", "e2", "x", "e3"]),
    # null episode ids: a run of None alone is ONE episode (null-safe)
    ([0, 1, 1, 1, 0], [0, 0, 0, 1, 0], ["x", None, None, None, "x"]),
    # None next to a non-null id splits the run on both sides
    ([1, 1, 1, 1, 1, 0, 1], [0, 1, 0, 0, 1, 0, 0], ["a", "a", None, None, "b", None, None]),
]


@pytest.mark.parametrize("case", CASES)
def test_ttd_matches_reference_scan(spark, case):
    from cicevse2024_tfm_datapipeline_spark.operators.sessionize import ttd_stats

    y_true, y_pred, eps = case
    rows = [
        (i, int(t), int(p), (eps[i] if eps else "e"))
        for i, (t, p) in enumerate(zip(y_true, y_pred))
    ]
    # explicit schema: an all-None id column cannot be type-inferred
    df = spark.createDataFrame(rows, "idx long, yt int, yp int, ep string")
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


def _random_labels(seed: int, n: int):
    """Runs of attack/benign rows; attack runs switch episode id now and
    then, and ids include None."""
    import random as _random

    rng = _random.Random(seed)
    ids = ["a", "b", None]
    y_true, y_pred, eps = [], [], []
    while len(y_true) < n:
        attack = rng.random() < 0.5
        ep = rng.choice(ids)
        for _ in range(rng.randint(1, 12)):
            if attack and rng.random() < 0.15:
                ep = rng.choice(ids)
            y_true.append(1 if attack else 0)
            y_pred.append(1 if rng.random() < 0.3 else 0)
            eps.append(ep if attack else rng.choice(ids))
    return y_true[:n], y_pred[:n], eps[:n]


@pytest.mark.parametrize("grid", [False, True], ids=["pinned", "grid"])
@pytest.mark.parametrize("parts,super_size", [(5, 1), (9, 4), (32, 1024)])
def test_global_ttd_episode_set_matches_sequential_scan(
    spark, parts, super_size, grid, monkeypatch
):
    """The fused segment scan's per-episode ``(start_idx, det_idx)`` rows
    must be exactly the sequential reference's episodes, with runs that
    span buckets and super-groups: ``parts`` buckets (shuffle partitions),
    a shrunk ``scan.SUPER`` to force the cross-super boundary fill, on the
    pinned range exchange and on a literal grid."""
    from cicevse2024_tfm_datapipeline_spark.operators import scan
    from cicevse2024_tfm_datapipeline_spark.operators.sessionize import (
        _global_ttd_episodes,
    )

    monkeypatch.setattr(scan, "SUPER", super_size)
    n = 300
    y_true, y_pred, eps = _random_labels(parts * 100 + super_size, n)
    rows = [(i, y_true[i], y_pred[i], eps[i]) for i in range(n)]
    df = spark.createDataFrame(rows, "idx long, yt int, yp int, ep string")
    conf_key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(conf_key)
    spark.conf.set(conf_key, str(parts))
    try:
        bounds = scan.uniform_grid(0, n - 1, parts) if grid else None
        got = [
            (r["start_idx"], r["det_idx"])
            for r in _global_ttd_episodes(
                df.repartition(parts), ["idx"], "yt", "yp", "ep", fixed_bounds=bounds
            ).collect()
        ]
    finally:
        spark.conf.set(conf_key, saved)
    # the scan's indices are 1-based global row numbers
    want = [
        (start + 1, None if det is None else det + 1)
        for start, det in ref_episodes(y_true, y_pred, eps)
    ]
    # a list sorted by start, so a duplicated episode fails too
    assert sorted(got, key=lambda e: e[0]) == want
