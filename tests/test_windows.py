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


def test_windows_via_pandas_matches_frame_variant(spark):
    from cicevse2024_tfm_datapipeline_spark.operators.windows import (
        sliding_windows,
        windows_via_pandas,
    )

    df = make_series(spark, 15)
    a = sliding_windows(df, ["grp"], "ts", "rid", ["x"], 4, 2, label_col="lab")
    b = windows_via_pandas(df, ["grp"], "ts", "rid", ["x"], 4, 2, label_col="lab")
    pa = {r["window_id"]: (r["x_seq"], r["window_label"]) for r in a.collect()}
    pb = {r["window_id"]: (r["x_seq"], r["window_label"]) for r in b.collect()}
    assert pa == pb


@pytest.mark.parametrize("parts", [1, 3, 7])
def test_windows_via_pandas_matches_frame_variant_per_partition_count(spark, parts):
    """Both array paths cluster the groups by range into the shuffle
    partition count; their windows agree, and do not depend on it, over
    several groups, a null group key and tied timestamps."""
    from cicevse2024_tfm_datapipeline_spark.operators.windows import (
        sliding_windows,
        windows_via_pandas,
    )

    def windows(fn):
        df = _stats_input(spark).withColumn("v", F.col("y").cast("double"))
        out = fn(df, ["g", "h"], "ts", "rid", ["v"], 4, 3, label_col="y")
        return {
            (r["g"], r["h"], r["window_id"]): (tuple(r["v_seq"]), r["window_label"])
            for r in out.collect()
        }

    want = windows(sliding_windows)
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(parts))
    try:
        frames, pandas = windows(sliding_windows), windows(windows_via_pandas)
    finally:
        spark.conf.set(key, saved)
    assert len(want) == 12 + 5 + 6  # the 3-row group has no window
    assert frames == want
    assert pandas == want


def test_windows_via_pandas_short_group_and_nonstring_keys(spark):
    """Regression (found by tools/w3_tensor_probe.py): a group shorter
    than seq_len returned an empty frame with default float64 columns,
    which Arrow cannot convert to list<double> — crashing the whole job;
    and the output schema hard-coded group cols as string, so integer
    group keys (events.user_id) failed the Arrow type check."""
    import datetime

    from cicevse2024_tfm_datapipeline_spark.operators.windows import (
        windows_via_pandas,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (g, base + datetime.timedelta(seconds=i), i, float(i))
        for g in (1, 2)
        for i in range(6 if g == 1 else 2)  # group 2 is shorter than seq_len
    ]
    df = spark.createDataFrame(rows, ["gid", "ts", "rid", "x"])
    out = windows_via_pandas(
        df, ["gid"], "ts", "rid", ["x"], seq_len=4, step=1, label_col="rid"
    )
    got = out.collect()
    assert {r["gid"] for r in got} == {1}  # short group contributes nothing
    assert len(got) == 3  # windows [0..3],[1..4],[2..5]
    assert dict(out.dtypes)["gid"] == "bigint"  # key type preserved
    # label keeps its input type too (was stringified before)
    assert dict(out.dtypes)["window_label"] == "bigint"
    assert sorted(r["window_label"] for r in got) == [3, 4, 5]


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
    mu, sigma = stats["x"]
    assert mu == 2.5
    assert abs(sigma - 1.118033988749895) < 1e-12  # ddof=0, not 1.2909...
    out = [r["x"] for r in apply_standardizer(df, stats).collect()]
    assert abs(sum(out)) < 1e-9


def test_standardizer_constant_column_passthrough(spark):
    from cicevse2024_tfm_datapipeline_spark.operators.windows import fit_standardizer

    df = spark.createDataFrame([(5.0,), (5.0,)], ["x"])
    mu, sigma = fit_standardizer(df, ["x"])["x"]
    assert sigma == 1.0  # sklearn zero-variance convention


def test_standardize_via_join_matches_fit_apply(spark):
    from pyspark.sql import functions as F

    from cicevse2024_tfm_datapipeline_spark.operators.windows import (
        apply_standardizer,
        fit_standardizer,
        standardize_via_join,
    )

    rows = [
        ("train", 1.0, 10.0),
        ("train", 2.0, 10.0),
        ("train", 3.0, 10.0),  # y constant on train → sigma 1.0 passthrough
        ("val", 10.0, 7.0),
        ("test", -4.0, 11.0),
    ]
    df = spark.createDataFrame(rows, ["split", "x", "y"])
    pred = F.col("split") == "train"

    stats = fit_standardizer(df.filter(pred), ["x", "y"])
    want = {
        (r["split"], r["x"], r["y"])
        for r in apply_standardizer(df, stats).collect()
    }
    got = {
        (r["split"], r["x"], r["y"])
        for r in standardize_via_join(df, ["x", "y"], pred).collect()
    }
    assert got == want


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
