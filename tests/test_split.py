"""Unit tests for W1 chronological split arithmetic (SURVEY §7.4 risk 1).

The split-size arithmetic must reproduce the reference's
``int(frac*n)`` truncation + small-group guard exactly
(/root/reference/func_aux/func_preproc.py:168-181).
"""

from __future__ import annotations

import datetime

import pytest


def ref_sizes(n: int, train_frac: float = 0.7, val_frac: float = 0.15) -> tuple[int, int, int]:
    """Reference split arithmetic, re-derived from its documented behavior."""
    n_train = int(train_frac * n)
    n_val = int(val_frac * n)
    if n_train + n_val >= n:
        n_train = max(1, n_train)
        n_val = max(0, min(n - n_train - 1, n_val))
    return n_train, n_val, n - n_train - n_val


@pytest.mark.parametrize("n", [1, 2, 3, 4, 5, 6, 7, 10, 13, 20, 99, 100, 101])
@pytest.mark.parametrize("fracs", [(0.7, 0.15), (0.8, 0.2), (0.5, 0.5)])
def test_split_sizes_match_reference(spark, n, fracs):
    tf, vf = fracs
    from cicevse2024_tfm_datapipeline_spark.operators.split import chrono_split

    base = datetime.datetime(2024, 1, 1)
    rows = [("g", "s", base + datetime.timedelta(seconds=i), i) for i in range(n)]
    df = spark.createDataFrame(rows, ["attack", "state", "ts", "event_id"])
    out = chrono_split(df, ["attack", "state"], "ts", "event_id", tf, vf)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").count().withColumnRenamed("count", "n").collect()}
    exp_tr, exp_va, exp_te = ref_sizes(n, tf, vf)
    assert counts.get("train", 0) == exp_tr, (n, fracs, counts)
    assert counts.get("val", 0) == exp_va, (n, fracs, counts)
    assert counts.get("test", 0) == exp_te, (n, fracs, counts)


def test_split_is_chronological(spark):
    from pyspark.sql import functions as F

    from cicevse2024_tfm_datapipeline_spark.operators.split import chrono_split

    base = datetime.datetime(2024, 1, 1)
    rows = [("g", "s", base + datetime.timedelta(seconds=i), i) for i in range(20)]
    df = spark.createDataFrame(rows, ["attack", "state", "ts", "event_id"])
    out = chrono_split(df, ["attack", "state"], "ts", "event_id").collect()
    by_split = {}
    for r in out:
        by_split.setdefault(r["split"], []).append(r["event_id"])
    assert max(by_split["train"]) < min(by_split["val"]) < min(by_split["test"])


def test_split_plans_each_window_expression_once(spark):
    """row_number and the group count are computed once as columns, not
    once per mention in the split CASE."""
    import re

    from cicevse2024_tfm_datapipeline_spark.operators.split import chrono_split

    base = datetime.datetime(2024, 1, 1)
    rows = [("g", "s", base + datetime.timedelta(seconds=i), i) for i in range(20)]
    df = spark.createDataFrame(rows, ["attack", "state", "ts", "event_id"])
    out = chrono_split(df, ["attack", "state"], "ts", "event_id")
    assert out.columns == df.columns + ["split"]
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE's final plan only
    assert len(re.findall(r"row_number\(\) windowspecdefinition", plan)) == 1, plan
    assert len(re.findall(r"count\(1\) windowspecdefinition", plan)) == 1, plan


def _position_input(spark):
    """Groups of 1 to 3 rows (the small-group guard) and of 7 and 20,
    timestamps tied in pairs and a null timestamp; the ``event_id``
    tiebreak runs against insertion order."""
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for g, n in (("a", 1), ("b", 2), ("c", 3), ("d", 7), ("e", 20)):
        for i in range(n):
            ts = None if i == 1 else base + datetime.timedelta(seconds=i // 2)
            rows.append((g, "s", ts, 100 - i))
    return spark.createDataFrame(rows, "attack string, state string, ts timestamp, event_id long")


def test_split_position_is_row_number_within_split(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cicevse2024_tfm_datapipeline_spark.operators.split import chrono_split

    out = chrono_split(
        _position_input(spark), ["attack", "state"], "ts", "event_id", index_col="pos"
    )
    assert out.columns == _position_input(spark).columns + ["split", "pos"]
    want = out.withColumn(
        "want",
        F.row_number().over(
            Window.partitionBy("attack", "state", "split").orderBy("ts", "event_id")
        ),
    )
    rows = want.collect()
    assert len(rows) == 33
    assert [r for r in rows if r["pos"] != r["want"]] == []
    # every offset branch is taken: positions restart in val and test
    assert {(r["split"], r["pos"]) for r in rows if r["attack"] == "e"} >= {
        ("train", 1), ("val", 1), ("test", 1)
    }


def test_split_without_position_plan_unchanged(spark):
    """The position is pruned when unused, and without ``index_col`` the
    output is the split alone: both plans match once ids are masked."""
    from cicevse2024_tfm_datapipeline_spark.operators.split import chrono_split
    from tools.dump_plans import mask_ids

    df = _position_input(spark)
    plain = chrono_split(df, ["attack", "state"], "ts", "event_id")
    pruned = chrono_split(df, ["attack", "state"], "ts", "event_id", index_col="pos").drop("pos")
    assert plain.columns == df.columns + ["split"]
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    def masked(frame):
        return mask_ids(frame._jdf.queryExecution().explainString(mode))

    assert masked(plain) == masked(pruned)


def test_split_spreads_whole_groups_over_partitions(spark):
    """The split's window runs on the groups range-clustered into the
    session's shuffle partitions: each (attack, state) sits whole in one
    partition, and more than one partition holds rows (a hash exchange on
    ten keys let AQE fold the stage into one task)."""
    from pyspark.sql import functions as F

    from cicevse2024_tfm_datapipeline_spark.operators.split import chrono_split
    from cicevse2024_tfm_datapipeline_spark.plans.common import power_view
    from tests.conftest import SF_SMOKE

    tagged = chrono_split(power_view(spark, SF_SMOKE), ["attack", "state"], "ts", "event_id")
    rows = (
        tagged.withColumn("pid", F.spark_partition_id())
        .groupBy("attack", "state")
        .agg(F.collect_set("pid").alias("pids"))
        .collect()
    )
    assert len(rows) == 10
    assert [r for r in rows if len(r["pids"]) != 1] == []
    assert len({r["pids"][0] for r in rows}) >= 2, rows


@pytest.mark.parametrize("parts", [1, 3, 7])
def test_split_does_not_depend_on_partition_count(spark, parts):
    """``(split, position)`` per row is the same at any shuffle partition
    count: on the power view and on the tied / null-timestamp groups."""
    from cicevse2024_tfm_datapipeline_spark.operators.split import chrono_split
    from cicevse2024_tfm_datapipeline_spark.plans.common import power_view
    from tests.conftest import SF_SMOKE

    def tagged_rows():
        out = []
        for df in (power_view(spark, SF_SMOKE), _position_input(spark)):
            split = chrono_split(df, ["attack", "state"], "ts", "event_id", index_col="__split_pos")
            out.append(sorted(
                (r["attack"], r["event_id"], r["split"], r["__split_pos"]) for r in split.collect()
            ))
        return out

    want = tagged_rows()
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(parts))
    try:
        got = tagged_rows()
    finally:
        spark.conf.set(key, saved)
    assert got == want
