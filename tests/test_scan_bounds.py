"""bounds_bucketed (operators/scan.py): the lineage-free twin of the
pinned range-exchange scan, selected by passing a literal grid as
``fixed_bounds``. Must (a) produce a PID monotone in the scan order with
every tie group in one bucket, (b) make global_cumsum return IDENTICAL
results to the pinned path (``fixed_bounds=None``), (c) actually be
lineage-free — no localCheckpoint materialization in the plan."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.operators import scan
from cicevse2024_tfm_datapipeline_spark.operators.scan import (
    PID,
    _bounds_key_expr,
    bounds_bucketed,
    global_cumsum,
    uniform_grid,
)

#: a uniform grid over the [0, 1] score domain of ``_frame``
_GRID16 = uniform_grid(0.0, 1.0, 16)


def _frame(spark, n=5000, seed=11):
    rng = random.Random(seed)
    rows = [
        (i, round(rng.uniform(0, 1), 2), rng.randint(0, 1))  # heavy score ties
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id long, score double, hit int")


def _data_grid(df, key, n_buckets=8):
    """A uniform grid over the data's [min, max] of ``key`` in the units
    ``bounds_bucketed`` compares — what ``footer_grid`` derives from
    parquet statistics."""
    kexpr = _bounds_key_expr(df, key)
    lo, hi = df.agg(F.min(kexpr), F.max(kexpr)).first()
    return uniform_grid(lo, hi, n_buckets)


@pytest.mark.parametrize("descending", [False, True])
def test_pid_monotone_and_ties_colocated(spark, descending):
    df = bounds_bucketed(
        _frame(spark), ["score", "id"], _GRID16, descending=descending
    )
    got = df.select("score", PID).collect()
    got.sort(key=lambda r: r["score"], reverse=descending)
    pids = [r[PID] for r in got]
    assert pids == sorted(pids), "PID must be monotone in the scan order"
    by_score: dict[float, set[int]] = {}
    for r in got:
        by_score.setdefault(r["score"], set()).add(r[PID])
    assert all(len(s) == 1 for s in by_score.values()), (
        "a tie group spanning buckets would corrupt prefix offsets"
    )
    # the 15 grid bounds, thinned to one bucket per shuffle partition,
    # split the [0, 1] scores into that many populated buckets
    n_b = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(set(pids)) == min(16, n_b), "bounds should split the domain"


@pytest.mark.parametrize("descending", [False, True])
def test_global_cumsum_bounds_equals_pinned(spark, descending):
    df = _frame(spark)
    kw = dict(
        order_cols=["score", "id"],
        sum_cols=["hit"],
        descending=descending,
        with_totals=True,
    )
    pinned = {
        r["id"]: (r["cum_hit"], r["tot_hit"])
        for r in global_cumsum(df, **kw).collect()
    }
    bounds = {
        r["id"]: (r["cum_hit"], r["tot_hit"])
        for r in global_cumsum(df, fixed_bounds=_GRID16, **kw).collect()
    }
    assert pinned == bounds


def test_null_keys_take_the_edge_bucket(spark):
    df = spark.createDataFrame(
        [(1, None), (2, 0.5), (3, 0.9)], "id long, score double"
    )
    asc = {r["id"]: r[PID] for r in bounds_bucketed(df, ["score"], [0.7]).collect()}
    # null bucket must be 0, NOT -1: a negative PID falls into super-group
    # -1 and the single-super shortcut of the prefix combine drops its
    # total (the hypothesis differential caught exactly this in round 9)
    assert asc[1] == 0 and asc[1] < asc[2] <= asc[3]
    assert all(p >= 0 for p in asc.values())
    desc = {
        r["id"]: r[PID]
        for r in bounds_bucketed(df, ["score"], [0.7], descending=True).collect()
    }
    assert desc[1] > desc[2] > desc[3]  # nulls LAST under desc


@pytest.mark.parametrize("descending", [False, True])
def test_nan_scores_no_duplicate_nan_bounds(spark, descending):
    """r09 ADVICE (low): NaN bounds are neither deduped by set()
    (NaN != NaN) nor ordered by sorted(), so a NaN-bearing grid could
    embed duplicate NaN bounds — wasted buckets, and under desc every
    non-null PID shifted by the NaN-bound count. Non-finite grid entries
    are filtered before embedding; NaN KEYS still bucket fine without a
    NaN bound (Spark orders NaN above every double, so the strict
    comparison sends them to the correct edge on its own). Equality with
    the pinned path over a NaN-bearing column is the functional pin."""
    nan, inf = float("nan"), float("inf")
    rows = [
        (i, nan if i % 3 == 0 else round((i * 37 % 100) / 100, 2), i % 2)
        for i in range(900)
    ]
    df = spark.createDataFrame(rows, "id long, score double, hit int")
    grid = [nan, 0.25, nan, 0.5, inf, 0.75, -inf, nan]
    kw = dict(order_cols=["score", "id"], sum_cols=["hit"], descending=descending)
    pinned = {r["id"]: r["cum_hit"] for r in global_cumsum(df, **kw).collect()}
    bounds = {
        r["id"]: r["cum_hit"]
        for r in global_cumsum(df, fixed_bounds=grid, **kw).collect()
    }
    assert pinned == bounds
    # and the PID mapping stays monotone with NaN keys at the large edge
    tagged = bounds_bucketed(df, ["score", "id"], grid, descending=descending)
    got = tagged.select("score", PID).collect()
    import math as _m

    def _key(r):
        # Spark order: NaN above every double; desc reverses
        v = r["score"]
        big = _m.inf if _m.isnan(v) else v
        return -big if descending else big

    got.sort(key=_key)
    pids = [r[PID] for r in got]
    assert pids == sorted(pids), "PID must stay monotone with NaN keys"
    # only the three finite bounds split the domain: four buckets, no
    # bucket for a dropped NaN/inf entry (desc PIDs would shift by one)
    assert set(pids) == ({0, 1, 2, 3} if descending else {1, 2, 3, 4})


@pytest.mark.parametrize("descending", [False, True])
def test_fixed_bounds_equals_pinned_and_tolerates_bad_grid(spark, descending):
    """fixed_bounds (round 10): caller-provided DOMAIN grid literals in
    place of the quantile job — results must match the pinned scan
    exactly even when the grid is unsorted, duplicated, out of range, or
    polluted with non-finite entries (those are filtered like quantile
    NaNs; out-of-range bounds only leave empty buckets)."""
    df = _frame(spark, n=3000)
    grid = [0.5, 0.25, 0.75, 0.25, -5.0, 99.0, float("nan"), float("inf")]
    kw = dict(order_cols=["score", "id"], sum_cols=["hit"], descending=descending)
    pinned = {r["id"]: r["cum_hit"] for r in global_cumsum(df, **kw).collect()}
    fixed = {
        r["id"]: r["cum_hit"]
        for r in global_cumsum(df, fixed_bounds=grid, **kw).collect()
    }
    assert pinned == fixed
    # the grid actually buckets (not everything in one partition)
    tagged = bounds_bucketed(df, ["score", "id"], grid, descending=descending)
    n_pids = tagged.select(PID).distinct().count()
    assert n_pids >= 4  # 0.25/0.5/0.75 split the [0,1] domain + edges
    # a grid far longer than the partition count (PIDs past the super-group
    # size would escape the single-super-group prefix combine)
    long_grid = uniform_grid(0.0, 1.0, 2 * scan.SUPER)
    fixed = {
        r["id"]: r["cum_hit"]
        for r in global_cumsum(df, fixed_bounds=long_grid, **kw).collect()
    }
    assert pinned == fixed


def test_bounds_plan_is_lineage_free(spark, tmp_path):
    """The pinned path materializes a localCheckpoint (plan shows a
    'Scan ExistingRDD' leaf where the file scan used to be); the bounds
    path must keep the original parquet lineage — no checkpointed RDD
    scan anywhere."""
    _frame(spark, n=500).write.mode("overwrite").parquet(str(tmp_path / "t"))
    df = spark.read.parquet(str(tmp_path / "t"))
    pinned_plan = global_cumsum(
        df, ["score", "id"], ["hit"]
    )._jdf.queryExecution().toString()
    bounds_plan = global_cumsum(
        df, ["score", "id"], ["hit"], fixed_bounds=_GRID16
    )._jdf.queryExecution().toString()
    assert "ExistingRDD" in pinned_plan
    assert "ExistingRDD" not in bounds_plan


def test_timestamp_first_key_supported(spark):
    """sessionize-style scans order by a timestamp: the double cast must
    give a usable bound domain."""
    rows = [(i, f"2024-01-01 00:{i % 60:02d}:{(i * 7) % 60:02d}") for i in range(600)]
    df = (
        spark.createDataFrame(rows, "id long, ts string")
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = bounds_bucketed(df, ["ts", "id"], _data_grid(df, "ts"))
    got = out.select("ts", PID).collect()
    got.sort(key=lambda r: r["ts"])
    pids = [r[PID] for r in got]
    assert pids == sorted(pids)
    assert len(set(pids)) > 1


def test_timestamp_ntz_key_is_dst_safe(spark):
    """NTZ keys must NOT route through the session zone (r10 ADVICE): in
    a DST zone the nonexistent spring-forward local times (America/
    New_York 2024-03-10 02:xx) resolve PAST 03:00 under an NTZ→timestamp
    cast, so the old session-zone key was non-monotone exactly there
    (02:30 → the 03:30 EDT instant > the 03:00 instant). The
    field-derived key (days×86400 + in-day seconds) is zone-independent
    and strictly monotone across the gap."""
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        rows = [
            (i, f"2024-03-10 {1 + i // 60:02d}:{i % 60:02d}:{(i * 7) % 60:02d}")
            for i in range(180)  # 01:00–03:59 local, spanning the 02:xx gap
        ]
        df = spark.createDataFrame(rows, "id long, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp_ntz")
        )
        keyed = df.select("ts", _bounds_key_expr(df, "ts").alias("k")).collect()
        keyed.sort(key=lambda r: r["ts"])
        ks = [r["k"] for r in keyed]
        assert ks == sorted(ks) and len(set(ks)) == len(ks), (
            "NTZ key must be strictly monotone across the spring-forward gap"
        )
        out = bounds_bucketed(df, ["ts", "id"], _data_grid(df, "ts"))
        got = out.select("ts", PID).collect()
        got.sort(key=lambda r: r["ts"])
        pids = [r[PID] for r in got]
        assert pids == sorted(pids)
        assert len(set(pids)) > 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


@pytest.mark.parametrize("super_size", [1, 4])
def test_bounds_mode_multi_super_group(spark, super_size, monkeypatch):
    """The cross-super level of the hierarchical prefix combine must be
    exercised UNDER BOUNDS BUCKETING too (a cluster with >SUPER shuffle
    partitions runs it; locally it never triggers) — shrink SUPER so the
    within-super window, super-totals triangle, and broadcast stitch all
    execute over grid-derived PIDs, and require exact equality with the
    naive window."""
    import random

    from pyspark.sql import Window as W

    monkeypatch.setattr(scan, "SUPER", super_size)
    rng = random.Random(7)
    rows = [
        (rng.uniform(0, 100), rng.randint(1, 5), rng.choice(["a", "b", "c"]))
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "k double, v int, g string").repartition(13)
    got = {
        round(r["k"], 9): r["cum_v"]
        for r in scan.global_cumsum(
            df, ["k"], ["v"], fixed_bounds=uniform_grid(0, 100, 16)
        ).collect()
    }
    w = W.orderBy(F.asc("k")).rowsBetween(W.unboundedPreceding, 0)
    want = {
        round(r["k"], 9): r["cum"]
        for r in df.select("k", F.sum("v").over(w).alias("cum")).collect()
    }
    assert got == want


def test_a13_tier_is_lineage_free(spark):
    """The ROC tier runs the grid-selected bounds scan: the a13
    quartet's plans must not contain a localCheckpoint scan
    (ExistingRDD) — the lineage cut and its unrecoverable
    executor-storage copy are gone; multi-consumer reuse rides shuffle-
    stage reuse alone (the measured winner — no persist either).
    a11_multiclass_auc is exempt: its per_score frame keeps the blessed
    TINY multi-consumer pin (the rounded score domain bounds it);
    only its scans are bounds-mode."""
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    qs = load_all()
    for name in (
        "a13_roc_auc",
        "a13_roc_curve_points",
        "a13_average_precision",
        "a13_threshold_at_fpr",
    ):
        plan = (
            qs[name]
            .spark(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .toString()
        )
        assert "ExistingRDD" not in plan, f"{name} still pins its buckets"


def test_string_first_key_raises(spark):
    """r08 ADVICE (medium): a string scan key buckets by numeric cast but
    sorts lexicographically within buckets ('10' < '9' lexicographically),
    silently corrupting prefix sums — bounds mode must REFUSE it, and the
    pinned path must keep giving the right answer for the same input."""
    rows = [(str(i), 1) for i in range(1, 40)]  # '1','2',...,'39'
    df = spark.createDataFrame(rows, "key string, one int")
    with pytest.raises(TypeError, match="string"):
        bounds_bucketed(df, ["key"], [10.0, 20.0])
    with pytest.raises(TypeError):
        global_cumsum(df, ["key"], ["one"], fixed_bounds=[10.0, 20.0])
    # pinned path: lexicographic order is the declared order — correct
    got = {
        r["key"]: r["cum_one"]
        for r in global_cumsum(df, ["key"], ["one"]).collect()
    }
    for rank, key in enumerate(sorted(r[0] for r in rows), start=1):
        assert got[key] == rank


def test_date_first_key_supported(spark):
    """Date keys can't cast straight to double (illegal cast) — the key
    expression must route through timestamp; order must match the pinned
    path exactly."""
    import datetime

    rows = [
        (i, datetime.date(2024, 1 + (i * 7) % 12, 1 + (i * 11) % 28), 1)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id long, d date, one int")
    kw = dict(order_cols=["d", "id"], sum_cols=["one"])
    pinned = {r["id"]: r["cum_one"] for r in global_cumsum(df, **kw).collect()}
    bounds = {
        r["id"]: r["cum_one"]
        for r in global_cumsum(df, fixed_bounds=_data_grid(df, "d"), **kw).collect()
    }
    assert pinned == bounds


def test_all_null_keys_and_boolean_keys(spark):
    """Degenerate domains must not corrupt the scan: an all-null key
    column puts every row in the null edge bucket (cumsum still correct
    over the tiebreak order), and a boolean key (allowed dtype:
    false < true survives the double cast) matches the pinned path."""
    allnull = spark.createDataFrame(
        [(i, None, 1) for i in range(50)], "id long, k double, one int"
    )
    got = {
        r["id"]: r["cum_one"]
        for r in global_cumsum(
            allnull, ["k", "id"], ["one"], fixed_bounds=[0.5]
        ).collect()
    }
    assert got == {i: i + 1 for i in range(50)}
    boolean = spark.createDataFrame(
        [(i, i % 2 == 0, 1) for i in range(100)], "id long, k boolean, one int"
    )
    kw = dict(order_cols=["k", "id"], sum_cols=["one"])
    pinned = {r["id"]: r["cum_one"] for r in global_cumsum(boolean, **kw).collect()}
    bounds = {
        r["id"]: r["cum_one"]
        for r in global_cumsum(boolean, fixed_bounds=[0.5], **kw).collect()
    }
    assert pinned == bounds


@pytest.mark.parametrize(
    "table,column,scale",
    [("events", "ts", 1.0), ("events", "value", 10000.0), ("documents", "doc_id", 1.0)],
)
def test_footer_grid_brackets_the_bucketing_key(spark, table, column, scale):
    """footer_grid spans [min, max] of the key bounds_bucketed actually
    compares — timestamps in the epoch seconds _bounds_key_expr derives,
    scaled keys times ``scale`` — one bucket per shuffle partition."""
    from cicevse2024_tfm_datapipeline_spark.operators.scan import footer_grid
    from cicevse2024_tfm_datapipeline_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    df = load_table(spark, sf, table)
    key = _bounds_key_expr(df, column) * F.lit(scale)
    lo, hi = df.agg(F.min(key), F.max(key)).first()
    n_b = int(spark.conf.get("spark.sql.shuffle.partitions"))
    grid = footer_grid(spark, sf, table, column, scale)
    assert len(grid) == n_b - 1
    assert grid == pytest.approx(uniform_grid(lo, hi, n_b), rel=1e-12)
