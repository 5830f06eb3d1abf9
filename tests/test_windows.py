"""W3/W4/W5 semantics vs the reference behavior
(/root/reference/func_aux/func_preproc.py:206-247): window k covers rows
[k·step, k·step+L), label = last row of the window."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F


def make_series(spark, n=12):
    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("g", base + datetime.timedelta(seconds=i), i, float(i * 10), str(i % 3))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["grp", "ts", "rid", "x", "lab"])


@pytest.mark.parametrize("seq_len,step", [(3, 1), (4, 2), (5, 5), (4, 3)])
def test_window_count_and_label(spark, seq_len, step):
    from cicevse2024_tfm_datapipeline_spark.operators.windows import sliding_windows

    n = 12
    df = make_series(spark, n)
    out = sliding_windows(
        df, ["grp"], "ts", "rid", ["x"], seq_len, step, label_col="lab"
    ).collect()
    starts = list(range(0, n - seq_len + 1, step))
    assert len(out) == len(starts)
    by_id = {r["window_id"]: r for r in out}
    for k, start in enumerate(starts):
        r = by_id[k]
        expected_seq = [float((start + j) * 10) for j in range(seq_len)]
        assert r["x_seq"] == expected_seq, (k, r["x_seq"], expected_seq)
        assert r["window_label"] == str((start + seq_len - 1) % 3)


def _stride_windows(rows, group_cols, order_cols, feature, seq_len, step, label_col):
    """Reference W3/W4 by NumPy striding: per group in ``order_cols``
    order, window ``k`` is rows ``[k·step, k·step + seq_len)`` of
    ``feature`` with the last row's label; a group shorter than
    ``seq_len`` has none. Keyed ``(*group, window_id)``."""
    import numpy as np

    groups = {}
    for r in rows:
        groups.setdefault(tuple(r[c] for c in group_cols), []).append(r)
    out = {}
    for key, g in groups.items():
        if len(g) < seq_len:
            continue
        g.sort(key=lambda r: tuple(r[c] for c in order_cols))
        vals = np.array([r[feature] for r in g], dtype=float)
        for k, win in enumerate(np.lib.stride_tricks.sliding_window_view(vals, seq_len)[::step]):
            out[(*key, k)] = (tuple(win.tolist()), g[k * step + seq_len - 1][label_col])
    return out


def _by_window(out, group_cols, feature):
    return {
        (*(r[c] for c in group_cols), r["window_id"]): (tuple(r[f"{feature}_seq"]), r["window_label"])
        for r in out.collect()
    }


@pytest.mark.parametrize("parts", [1, 3, 7])
def test_sliding_windows_per_partition_count(spark, parts):
    """``sliding_windows`` clusters the groups by range into the shuffle
    partition count; its windows match the reference, and do not depend on
    that count, over several groups, a null group key and tied
    timestamps."""
    from cicevse2024_tfm_datapipeline_spark.operators.windows import sliding_windows

    df = _stats_input(spark).withColumn("v", F.col("y").cast("double"))
    want = _stride_windows(df.collect(), ["g", "h"], ("ts", "rid"), "v", 4, 3, "y")
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(parts))
    try:
        out = sliding_windows(df, ["g", "h"], "ts", "rid", ["v"], 4, 3, label_col="y")
        got = _by_window(out, ["g", "h"], "v")
    finally:
        spark.conf.set(key, saved)
    assert len(want) == 12 + 5 + 6  # the 3-row group has no window
    assert got == want


def test_sliding_windows_short_group_and_nonstring_keys(spark):
    """A group shorter than ``seq_len`` yields no windows, and an integer
    group key and an integer label keep their types."""
    from cicevse2024_tfm_datapipeline_spark.operators.windows import sliding_windows

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (g, base + datetime.timedelta(seconds=i), i, float(i))
        for g in (1, 2)
        for i in range(6 if g == 1 else 2)  # group 2 is shorter than seq_len
    ]
    df = spark.createDataFrame(rows, ["gid", "ts", "rid", "x"])
    out = sliding_windows(df, ["gid"], "ts", "rid", ["x"], seq_len=4, step=1, label_col="rid")
    got = _by_window(out, ["gid"], "x")
    assert got == _stride_windows(df.collect(), ["gid"], ("ts", "rid"), "x", 4, 1, "rid")
    assert {k[0] for k in got} == {1}  # short group contributes nothing
    assert len(got) == 3  # windows [0..3],[1..4],[2..5]
    assert dict(out.dtypes)["gid"] == "bigint"
    assert dict(out.dtypes)["window_label"] == "bigint"


@pytest.mark.parametrize("seq_len,step", [(0, 1), (-1, 1), (3, 0), (3, -1)])
@pytest.mark.parametrize("op", ["sliding_windows", "window_summary_stats"])
def test_bad_window_shape_rejected_at_build(spark, op, seq_len, step):
    """A window of no rows or a hop that does not move forward is an
    error when the plan is built, not an empty, partial or failing run."""
    from cicevse2024_tfm_datapipeline_spark.operators import windows

    build = getattr(windows, op)
    with pytest.raises(ValueError, match="seq_len and step"):
        build(make_series(spark, 10), ["grp"], "ts", "rid", ["x"], seq_len, step, label_col="lab")


def _stats_input(spark):
    """Groups of 37 and 16 rows, a 3-row group shorter than any window, a
    null group key, timestamps tied in pairs (the ``rid`` tiebreak runs
    against insertion order), null features and an integer label with a
    null."""
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for g, h, n in (("a", 1, 37), ("a", 2, 16), ("b", 1, 3), (None, 2, 21)):
        for i in range(n):
            rows.append((
                g,
                h,
                base + datetime.timedelta(seconds=i // 2),
                1000 * h + (n - i),  # ties resolve in reverse insertion order
                None if i % 7 == 3 else i / 3.0 + h / 7.0,
                (i * 5) % 11,
                None if i == 20 else i % 4,
            ))
    schema = "g string, h int, ts timestamp, rid long, x double, y long, lab int"
    return spark.createDataFrame(rows, schema)


@pytest.mark.parametrize(
    "seq_len,step",
    [(L, s) for L in (5, 15) for s in (L, L + 1, L + 7)],
)
def test_window_stats_keyed_matches_frames(spark, seq_len, step):
    """Where windows do not overlap, the keyed aggregate and the trailing
    frames give the same rows, bit for bit (inputs this small never
    spill)."""
    from cicevse2024_tfm_datapipeline_spark.operators.windows import (
        _window_stats_frames,
        _window_stats_keyed,
    )

    args = (_stats_input(spark), ["g", "h"], "ts", "rid", ["x", "y"], seq_len, step, "lab")
    keyed = _window_stats_keyed(*args)
    frames = _window_stats_frames(*args)
    assert keyed.dtypes == frames.dtypes
    assert keyed.exceptAll(frames).count() == 0
    assert frames.exceptAll(keyed).count() == 0
    got = frames.groupBy("g", "h").count().collect()
    assert ("b", 1) not in {(r["g"], r["h"]) for r in got}  # short group
    assert (None, 2) in {(r["g"], r["h"]) for r in got}  # null key windows


@pytest.mark.parametrize("seq_len,step", [(3, 1), (4, 2), (5, 5), (4, 3), (3, 7)])
def test_window_summary_stats_matches_python(spark, seq_len, step):
    from cicevse2024_tfm_datapipeline_spark.operators.windows import window_summary_stats

    n = 12
    out = window_summary_stats(
        make_series(spark, n), ["grp"], "ts", "rid", ["x"], seq_len, step, label_col="lab"
    ).collect()
    starts = list(range(0, n - seq_len + 1, step))
    assert sorted(r["window_id"] for r in out) == list(range(len(starts)))
    for r in out:
        start = starts[r["window_id"]]
        xs = [float((start + j) * 10) for j in range(seq_len)]
        assert (r["x_min"], r["x_max"]) == (xs[0], xs[-1])
        assert r["x_mean"] == pytest.approx(sum(xs) / seq_len)
        assert r["window_label"] == str((start + seq_len - 1) % 3)


@pytest.mark.parametrize("seq_len,step", [(5, 5), (5, 7), (15, 15), (15, 22), (5, 2)])
def test_window_stats_split_position_matches_row_number(spark, seq_len, step):
    """Windows over ``chrono_split``'s position are the windows over the
    function's own ``row_number``, bit for bit, on both paths."""
    from cicevse2024_tfm_datapipeline_spark.operators.split import chrono_split
    from cicevse2024_tfm_datapipeline_spark.operators.windows import window_summary_stats

    tagged = chrono_split(_stats_input(spark), ["g", "h"], "ts", "rid", index_col="pos")
    args = (["split", "g", "h"], "ts", "rid", ["x", "y"], seq_len, step, "lab")
    own = window_summary_stats(tagged, *args)
    reused = window_summary_stats(tagged, *args, index_col="pos")
    assert reused.dtypes == own.dtypes
    assert reused.exceptAll(own).count() == 0
    assert own.exceptAll(reused).count() == 0
    assert own.count() > 0


def _final_plan(df) -> str:
    """The executed physical plan after a run (AQE's final plan only)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize("step", [15, 22])
def test_window_summary_stats_wide_hop_plan(spark, step):
    """At ``step >= seq_len`` no sliding row frame is evaluated and the
    keyed aggregate reuses the ``row_number``'s range exchange on the
    group keys."""
    import re

    from pyspark.sql import Window

    from cicevse2024_tfm_datapipeline_spark.operators.windows import (
        _cluster_groups,
        window_summary_stats,
    )

    df = _stats_input(spark).repartition(3)
    out = window_summary_stats(df, ["g", "h"], "ts", "rid", ["x", "y"], 15, step, "lab")
    plan = _final_plan(out)
    assert not re.search(r"RowFrame, -\d+", plan), plan
    ranked = _cluster_groups(df, ["g", "h"]).withColumn(
        "rn", F.row_number().over(Window.partitionBy("g", "h").orderBy("ts", "rid"))
    )
    exchanges = r"\bExchange\b"
    assert len(re.findall(exchanges, plan)) == len(re.findall(exchanges, _final_plan(ranked))), plan


def test_standardizer_population_std(spark):
    from cicevse2024_tfm_datapipeline_spark.operators.windows import (
        apply_standardizer,
        fit_standardizer,
    )

    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], ["x"])
    stats = fit_standardizer(df, ["x"])
    row = stats.first()
    assert row["__mu_x"] == 2.5
    assert abs(row["__sigma_x"] - 1.118033988749895) < 1e-12  # ddof=0, not 1.2909...
    out = [r["x"] for r in apply_standardizer(df, stats).collect()]
    assert abs(sum(out)) < 1e-9


def test_standardizer_constant_column_passthrough(spark):
    from cicevse2024_tfm_datapipeline_spark.operators.windows import fit_standardizer

    df = spark.createDataFrame([(5.0,), (5.0,)], ["x"])
    assert fit_standardizer(df, ["x"]).first()["__sigma_x"] == 1.0  # sklearn zero-variance convention


@pytest.mark.parametrize("train_split", ["train", "none"])
def test_standardizer_matches_numpy(spark, train_split):
    """fit/apply is ``(v - mean) / std`` with NumPy's population mean and
    std of the train rows per feature, applied to every split; a constant
    column keeps scale 1.0, and an empty train split gives mean 0.0 and
    scale 1.0."""
    import numpy as np

    from cicevse2024_tfm_datapipeline_spark.operators.windows import (
        apply_standardizer,
        fit_standardizer,
    )

    rows = [
        ("train", 1.0, 10.0, "a"),
        ("train", 2.0, 10.0, "b"),
        ("train", 3.5, 10.0, "c"),  # y constant on train → sigma 1.0 passthrough
        ("val", 10.0, 7.0, "d"),
        ("test", -4.0, 11.0, "e"),
    ]
    df = spark.createDataFrame(rows, ["split", "x", "y", "k"])
    stats = fit_standardizer(df.filter(F.col("split") == train_split), ["x", "y"])
    out = apply_standardizer(df, stats)
    assert out.columns == df.columns
    got = {r["k"]: (r["x"], r["y"]) for r in out.collect()}

    def scale(i):
        train = np.array([r[i] for r in rows if r[0] == train_split])
        if len(train) == 0:
            return 0.0, 1.0
        return train.mean(), (train.std() or 1.0)

    (mu_x, sd_x), (mu_y, sd_y) = scale(1), scale(2)
    assert sd_y == 1.0
    for _, x, y, k in rows:
        assert got[k] == (pytest.approx((x - mu_x) / sd_x, rel=1e-12), (y - mu_y) / sd_y), k


def test_ewma_truncated_matches_pandas_adjust_false(spark):
    """While the history fits the K-term window the closed form IS
    pandas ewm(adjust=False): exact to float tolerance on a short
    series, per key."""
    import pandas as pd

    from cicevse2024_tfm_datapipeline_spark.operators.windows import ewma_truncated

    rows = []
    vals = {}
    for key in ["a", "b"]:
        import random

        rng = random.Random(hash(key) & 0xFFFF)
        vals[key] = [round(rng.uniform(-50, 50), 3) for _ in range(20)]
        rows += [(key, i, v) for i, v in enumerate(vals[key])]
    df = spark.createDataFrame(rows, "k string, i long, v double")

    out = ewma_truncated(df, ["k"], ["i"], "v", alpha=0.3, max_terms=32)
    got = {(r["k"], r["i"]): r["ewma"] for r in out.collect()}
    for key, series in vals.items():
        expect = pd.Series(series).ewm(alpha=0.3, adjust=False).mean()
        for i, e in enumerate(expect):
            assert abs(got[(key, i)] - e) < 1e-9, (key, i)


def test_ewma_truncated_bounded_frame_and_validation(spark):
    import pytest

    from cicevse2024_tfm_datapipeline_spark.operators.windows import ewma_truncated

    with pytest.raises(ValueError):
        ewma_truncated(
            spark.range(1), ["id"], ["id"], "id", alpha=0.0
        )

    # past the truncation horizon the smoother still tracks: constant
    # series → ewma == the constant exactly at every row
    df = spark.range(100).select(
        F.lit("k").alias("k"), F.col("id").alias("i"), F.lit(7.5).alias("v")
    )
    out = ewma_truncated(df, ["k"], ["i"], "v", alpha=0.3, max_terms=8)
    assert out.filter(F.abs(F.col("ewma") - 7.5) > 1e-12).count() == 0


def test_udtf_chunks_match_relational(spark):
    """The Python-UDTF chunker (rows-only query) must produce, per doc,
    exactly the chunks the pure-relational stride arithmetic produces:
    starts 0, 150, 300, ... while start < len, chunk = text[start:start+200]."""
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    SF = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]: (r["n_chunks"], r["sum_chunk_chars"], r["last_idx"])
        for r in load_all()["text_udtf_chunks"].spark(spark, SF).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in __import__(
            "cicevse2024_tfm_datapipeline_spark.plans.common", fromlist=["t"]
        ).t(spark, SF, "documents").filter("doc_id < 500").collect()
    }
    for doc_id, text in docs.items():
        chunks = []
        start = 0
        while True:
            chunks.append(text[start : start + 200])
            start += 150
            if start >= len(text):
                break
        assert got[doc_id] == (
            len(chunks),
            sum(len(c) for c in chunks),
            len(chunks) - 1,
        ), doc_id
    assert set(got) == set(docs)
