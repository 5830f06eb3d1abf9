"""Skew-salting and bucketing utilities (SCALE.md operational layer)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_salted_sum_count_matches_plain(spark):
    from cicevse2024_tfm_datapipeline_spark.operators.skew import salted_sum_count

    # one hot key (90% of rows) + tail
    rows = [("hot", float(i % 10)) for i in range(900)] + [
        (f"k{i % 7}", float(i)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["k", "v"])
    salted = {r["k"]: (r["v_sum"], r["n_rows"]) for r in salted_sum_count(df, ["k"], "v").collect()}
    plain = {
        r["k"]: (r["s"], r["n"])
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")).collect()
    }
    assert salted.keys() == plain.keys()
    for k in plain:
        assert salted[k][1] == plain[k][1]
        assert abs(salted[k][0] - plain[k][0]) < 1e-6


def test_salted_broadcast_join_matches_plain(spark):
    from cicevse2024_tfm_datapipeline_spark.operators.skew import salted_broadcast_join

    fact = spark.createDataFrame(
        [(i, "hot" if i % 10 else f"k{i % 3}") for i in range(500)], ["rid", "k"]
    )
    dim = spark.createDataFrame([("hot", "H"), ("k0", "A"), ("k1", "B")], ["k", "grp"])
    out = salted_broadcast_join(fact, dim, "k")
    plain = fact.join(dim, "k", "left")
    assert out.count() == plain.count() == 500
    a = {r["rid"]: r["grp"] for r in out.collect()}
    b = {r["rid"]: r["grp"] for r in plain.collect()}
    assert a == b


def test_bucketed_join_has_no_exchange(spark):
    from cicevse2024_tfm_datapipeline_spark.sources.bucketing import bucketed_join, write_bucketed

    left = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("x"))
    right = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("y"))
    write_bucketed(left, "t_left_bkt", "k", n_buckets=4)
    write_bucketed(right, "t_right_bkt", "k", n_buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a sort-merge join (broadcast would hide the bucketing win)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "t_left_bkt", "t_right_bkt", "k")
        assert joined.count() == 1000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located buckets: no shuffle exchange on either side
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_min_parallelism_memo_evicts_oldest_first(spark, monkeypatch):
    from collections import OrderedDict

    from cicevse2024_tfm_datapipeline_spark.operators import skew

    monkeypatch.setattr(skew, "_EMP_MEMO", OrderedDict())
    frames = [spark.range(1).withColumn("i", F.lit(i)) for i in range(257)]
    for df in frames:
        skew.ensure_min_parallelism(df)
    assert len(skew._EMP_MEMO) == skew._EMP_MEMO_MAX == 256
    assert id(frames[0]) not in skew._EMP_MEMO
    assert all(skew._EMP_MEMO[id(df)][0] is df for df in frames[1:])


def test_min_parallelism_memo_threaded_stress(spark, monkeypatch):
    """Concurrent callers must never see a half-evicted memo: each result
    is the one computed for its own input, and the bound holds."""
    import sys
    import threading
    from collections import OrderedDict

    from cicevse2024_tfm_datapipeline_spark.operators import skew

    monkeypatch.setattr(skew, "_EMP_MEMO", OrderedDict())
    monkeypatch.setattr(skew, "_EMP_MEMO_MAX", 4)
    frames = [spark.range(1).withColumn("i", F.lit(i)) for i in range(12)]
    errors: list[BaseException] = []

    def work(k):
        try:
            for j in range(30):
                df = frames[(k * 7 + j) % len(frames)]
                out = skew.ensure_min_parallelism(df)
                assert out.columns == df.columns
        except Exception as e:  # re-raised below, in the test thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert not errors, errors
    assert len(skew._EMP_MEMO) <= 4
    by_id = {id(f): f for f in frames}
    assert all(v[0] is by_id[k] for k, v in skew._EMP_MEMO.items())
