"""operators/scan: the two-phase global prefix scan must equal the naive
unpartitioned-window computation on ANY input and partitioning — this is
the correctness contract that lets the engine ban unpartitioned windows.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tests.conftest import construction_jobs


def _random_rows(seed: int, n: int):
    rng = random.Random(seed)
    # duplicate-free order key (scan requires a total order), signed values
    keys = rng.sample(range(n * 3), n)
    return [(k, rng.randint(-50, 50), rng.randint(0, 5)) for k in keys]


@pytest.mark.parametrize("seed,n,parts", [(1, 7, 1), (2, 100, 7), (3, 257, 32)])
def test_global_cumsum_matches_window(spark, seed, n, parts):
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_cumsum

    df = spark.createDataFrame(_random_rows(seed, n), ["k", "v", "g"]).repartition(parts)
    for descending in (False, True):
        got = {
            r["k"]: (r["cum_v"], r["tot_v"])
            for r in global_cumsum(
                df, ["k"], ["v"], descending=descending, with_totals=True
            ).collect()
        }
        order = F.col("k").desc() if descending else F.col("k").asc()
        w = W.orderBy(order).rowsBetween(W.unboundedPreceding, 0)
        want = {
            r["k"]: r["cum"]
            for r in df.select("k", F.sum("v").over(w).alias("cum")).collect()
        }
        total = sum(v for _, v, _ in _random_rows(seed, n))
        assert len(got) == n
        for k, (cum, tot) in got.items():
            assert cum == want[k], (descending, k)
            assert tot == total


@pytest.mark.parametrize("seed,n,parts", [(4, 50, 3), (5, 200, 16)])
def test_global_row_number_matches_window(spark, seed, n, parts):
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_row_number

    df = spark.createDataFrame(_random_rows(seed, n), ["k", "v", "g"]).repartition(parts)
    got = {r["k"]: r["rn"] for r in global_row_number(df, ["k"], "rn").collect()}
    want = {
        r["k"]: r["rn"]
        for r in df.select(
            "k", F.row_number().over(W.orderBy(F.asc("k"))).alias("rn")
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize("seed,n,parts", [(5, 40, 3), (6, 300, 17)])
def test_grouped_cumsum_matches_partitioned_window(spark, seed, n, parts):
    from cicevse2024_tfm_datapipeline_spark.operators.scan import grouped_cumsum

    df = spark.createDataFrame(_random_rows(seed, n), ["k", "v", "g"]).repartition(parts)
    for descending in (False, True):
        got = {
            (r["g"], r["k"]): (r["cum_v"], r["tot_v"])
            for r in grouped_cumsum(
                df, ["g"], ["k"], ["v"], descending=descending, with_totals=True
            ).collect()
        }
        order = F.col("k").desc() if descending else F.col("k").asc()
        w = (
            W.partitionBy("g")
            .orderBy(order)
            .rowsBetween(W.unboundedPreceding, 0)
        )
        wt = W.partitionBy("g")
        want = {
            (r["g"], r["k"]): (r["cum"], r["tot"])
            for r in df.select(
                "g",
                "k",
                F.sum("v").over(w).alias("cum"),
                F.sum("v").over(wt).alias("tot"),
            ).collect()
        }
        assert got == want, descending


@pytest.mark.parametrize("total,n", [(23, 10), (30, 10), (7, 10), (100, 7)])
def test_global_ntile_matches_sql_semantics(spark, total, n):
    """Exact NTILE: first (total % n) tiles get ceil(total/n) rows, the
    rest floor(total/n); assignment follows the global order."""
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_ntile

    df = spark.range(total).select(F.col("id").alias("k"))
    out = global_ntile(df.repartition(5), ["k"], n, out_col="tile")
    got = {r["k"]: r["tile"] for r in out.collect()}

    q, r = divmod(total, n)
    want = {}
    pos = 0
    for tile in range(1, n + 1):
        size = q + (1 if tile <= r else 0)
        for _ in range(size):
            if pos < total:
                want[pos] = tile
                pos += 1
    assert got == want


def test_bucketed_frame_is_pinned_and_ranks_are_a_permutation(spark):
    """Regression: the scan's branches must share ONE materialization of
    the bucketed frame. Without the lazy localCheckpoint pin, re-executed
    range exchanges re-sample their partition bounds and the derived
    global ranks corrupt at partition boundaries (seen at sf0.1). The
    checkpoint shows up as an ExistingRDD scan; the rank output must be
    exactly the permutation 1..N on a hash-shaped (string) order key."""
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_row_number

    n = 20000
    df = spark.range(n).select(
        F.col("id").alias("rid"),
        F.md5(F.col("id").cast("string")).alias("k"),
    )
    out = global_row_number(df, ["k", "rid"], "__rn")
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "ExistingRDD" in plan, "bucketed frame no longer pinned (localCheckpoint)"
    got = sorted(r["__rn"] for r in out.collect())
    assert got == list(range(1, n + 1))


@pytest.mark.parametrize("super_size", [1, 4])
def test_hierarchical_combine_multi_super_group(spark, super_size, monkeypatch):
    """The cross-super level of the two-level prefix combine (taken when
    bucket count > scan.SUPER, i.e. on clusters with >1024 shuffle
    partitions) never runs under the 32-partition test conf — force it by
    shrinking SUPER so every code path (within-super window, super totals
    triangle, broadcast stitch) executes, then require exact equality with
    the naive unpartitioned window."""
    from cicevse2024_tfm_datapipeline_spark.operators import scan

    monkeypatch.setattr(scan, "SUPER", super_size)

    df = spark.createDataFrame(_random_rows(11, 300), ["k", "v", "g"]).repartition(13)
    got = {
        r["k"]: r["cum_v"]
        for r in scan.global_cumsum(df, ["k"], ["v"]).collect()
    }
    w = W.orderBy(F.asc("k")).rowsBetween(W.unboundedPreceding, 0)
    want = {
        r["k"]: r["cum"]
        for r in df.select("k", F.sum("v").over(w).alias("cum")).collect()
    }
    assert got == want

    # grouped variant: per-group running sums through the same machinery
    got_g = {
        (r["g"], r["k"]): r["cum_v"]
        for r in scan.grouped_cumsum(df, ["g"], ["k"], ["v"]).collect()
    }
    wg = (
        W.partitionBy("g").orderBy(F.asc("k")).rowsBetween(W.unboundedPreceding, 0)
    )
    want_g = {
        (r["g"], r["k"]): r["cum"]
        for r in df.select("g", "k", F.sum("v").over(wg).alias("cum")).collect()
    }
    assert got_g == want_g


@pytest.mark.parametrize("super_size", [1, 3, 1024])
def test_prev_nonempty_value_with_pid_gaps(spark, super_size, monkeypatch):
    """prev_nonempty_value must return the nearest STRICTLY-earlier PID's
    value across empty-bucket gaps and super-group boundaries, and NULL
    for the first non-empty bucket."""
    from pyspark.sql import functions as F

    from cicevse2024_tfm_datapipeline_spark.operators import scan

    monkeypatch.setattr(scan, "SUPER", super_size)
    # sparse PIDs with gaps (empty range partitions leave holes)
    pids = [0, 2, 3, 7, 11, 12, 20]
    rows = [(p, f"v{p}") for p in pids]
    frame = spark.createDataFrame(rows, [scan.PID, "val"])
    out = {
        r[scan.PID]: r["prev"]
        for r in scan.prev_nonempty_value(frame, "val", "prev").collect()
    }
    want = {0: None, 2: "v0", 3: "v2", 7: "v3", 11: "v7", 12: "v11", 20: "v12"}
    assert out == want


def test_prev_nonempty_value_single_bucket(spark):
    from cicevse2024_tfm_datapipeline_spark.operators import scan

    frame = spark.createDataFrame([(5, "only")], [scan.PID, "val"])
    got = scan.prev_nonempty_value(frame, "val", "prev").collect()
    assert len(got) == 1 and got[0]["prev"] is None


@pytest.mark.parametrize("grid", [False, True], ids=["pinned", "uniform_grid"])
def test_pin_runs_jobs_at_construction(spark, grid):
    """``localCheckpoint(eager=False)`` is not lazy under AQE: building the
    pinned scan already runs the range exchange's jobs, before any action.
    A literal grid pins nothing, so the same scan builds with no job."""
    from cicevse2024_tfm_datapipeline_spark.operators import scan

    df = spark.createDataFrame(_random_rows(31, 200), ["k", "v", "g"]).repartition(3)
    bounds = scan.uniform_grid(0, 600, 8) if grid else None
    jobs = construction_jobs(
        spark, lambda: scan.global_cumsum(df, ["k"], ["v"], fixed_bounds=bounds)
    )
    if grid:
        assert jobs == 0, "the grid path must build without running a job"
    else:
        assert jobs >= 1, "the pinned path's checkpoint ran no job at build"
