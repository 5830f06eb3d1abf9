"""Wave-27 operators: Fellegi–Sunter classes on a hand-built block,
leave-one-out target encoding math on tiny categories, and SRP-LSH
recovering planted exact duplicates."""

from __future__ import annotations

import datetime


def _q(name):
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    return load_all()[name]


def test_fellegi_sunter_classes(spark, tmp_path):
    # One nation, one $1000 block (all balances in [0, 1000)).
    # ids 1,2: all three fields agree          -> match
    # ids 1,3: seg+digit agree, band differs    -> possible
    # ids 1,4 / 2,4 / 3,4: <=1 field agrees     -> nonmatch
    cust = [
        (1, "Customer#1", 7, 100.00, "AUTO"),  # band 0, dig '1'
        (2, "Customer#31", 7, 120.00, "AUTO"),  # band 0, dig '1'
        (3, "Customer#41", 7, 900.00, "AUTO"),  # band 1, dig '1'
        (4, "Customer#52", 7, 905.00, "MACH"),  # band 1, dig '2'
    ]
    spark.createDataFrame(
        cust,
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double,"
        " c_mktsegment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    out = {
        r["classification"]: r
        for r in _q("j_fellegi_sunter_linkage").spark(spark, str(tmp_path)).collect()
    }
    assert out["match"]["n_pairs"] == 1
    assert out["match"]["min_w_ticks"] == 2169925 + 3087463 + 3000000
    # possible: (1,3) seg+dig, (2,3) seg+dig, (3,4) band only? band agrees,
    # seg+dig differ -> 3087463 - 3000000 - 2169925 < 0 -> nonmatch.
    assert out["possible"]["n_pairs"] == 2
    assert out["nonmatch"]["n_pairs"] == 3
    assert out["possible"]["min_w_ticks"] >= 0
    assert out["nonmatch"]["max_w_ticks"] < 0


def test_target_encoding_loo_math(spark, tmp_path):
    d = datetime.date(2024, 1, 1)
    # cat A: prices 10, 20, 30 -> LOO for the 10-row = (20+30)/2 = 25
    # cat B: single row 50 -> LOO falls back to global mean 110/4 = 27.5
    orders = [
        (1, 1, "O", 10.0, d, "A"),
        (2, 1, "O", 20.0, d, "A"),
        (3, 1, "O", 30.0, d, "A"),
        (4, 1, "O", 50.0, d, "B"),
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate date, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = {
        r["o_orderkey"]: r
        for r in _q("f_target_encoding_loo").spark(spark, str(tmp_path)).collect()
    }
    assert len(out) == 4
    gm = 110.0 / 4
    assert abs(out[1]["loo_encoding"] - 25.0) < 1e-9
    assert abs(out[2]["loo_encoding"] - 20.0) < 1e-9
    assert abs(out[4]["loo_encoding"] - gm) < 1e-9
    assert abs(out[1]["global_mean"] - gm) < 1e-9
    # smoothed for row 1: ((50) + 10*27.5) / (2 + 10) = 325/12
    assert abs(out[1]["smoothed_encoding"] - 325.0 / 12) < 1e-6


def test_srp_lsh_recovers_exact_duplicates(spark, tmp_path):
    # three planted duplicate groups (identical vectors -> identical
    # signatures -> hamming 0, cosine 1) + lone noise vectors.
    import random

    rng = random.Random(7)
    rows = []
    vid = 0
    planted = []
    for g in range(3):
        base = [rng.uniform(-1, 1) for _ in range(16)]
        ids = []
        for _ in range(2):
            rows.append((vid, list(base), g))
            ids.append(vid)
            vid += 1
        planted.append(tuple(ids))
    for _ in range(10):
        rows.append((vid, [rng.uniform(-1, 1) for _ in range(16)], 99))
        vid += 1
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = _q("sim_srp_lsh_pairs").spark(spark, str(tmp_path)).collect()
    got = {(r["id_a"], r["id_b"]): r for r in out}
    for pair in planted:
        assert pair in got
        assert got[pair]["hamming"] == 0
        assert got[pair]["same_label"] == 1
        assert abs(got[pair]["cosine"] - 1.0) < 1e-6
    for r in out:
        assert r["cosine"] >= 0.35


def test_srp_signature_matches_manual_fold(spark):
    # pin the signature definition: manual python fold over the literal
    # coefficients must reproduce each band's Spark-side signature
    # bit-for-bit (band b's plane j reads coefficient row _plane(b, j) —
    # the frozen-stride layout).
    from cicevse2024_tfm_datapipeline_spark.plans.wave27 import (
        _BAND_PLANES,
        _N_BANDS,
        _SRP,
        _plane,
        srp_band_sig_expr,
    )
    from pyspark.sql import functions as F

    vec = [0.25, -0.5, 0.75, -1.0, 0.1, 0.2, -0.3, 0.4]
    df = spark.createDataFrame([(vec,)], "v array<double>")
    for band in range(_N_BANDS):
        got = df.select(srp_band_sig_expr(F.col("v"), band).alias("s")).collect()[
            0
        ]["s"]
        want = 0
        for j in range(_BAND_PLANES):
            acc = 0.0
            for i, x in enumerate(vec):
                acc = acc + x * float(_SRP[_plane(band, j)][i])
            if acc >= 0:
                want += 1 << j
        assert got == want


def test_srp_width_ladder_matches_oracle_and_bounds_occupancy():
    # the plan-time width must be the SAME integer as the oracle's CASE at
    # every rung (including the exact power-of-two boundaries the float
    # log2 form would have risked), and must bound expected occupancy.
    import duckdb

    from cicevse2024_tfm_datapipeline_spark.plans.wave27 import (
        _MAX_W,
        _MIN_W,
        _TARGET_OCCUPANCY,
        _ladder_width,
        _w_case_sql,
    )

    probe = [1, 500, 2048, 2049, 4096, 4097, 20000, 200000, 262144, 262145,
             524288, 524289, 4194304, 4194305, 67108864, 67108865, 10**9]
    con = duckdb.connect()
    for n in probe:
        (w_duck,) = con.execute(f"SELECT {_w_case_sql(str(n))}").fetchone()
        w = _ladder_width(n)
        assert w == w_duck, n
        assert _MIN_W <= w <= _MAX_W
        # smallest width bounding occupancy (unless capped at _MAX_W)
        if w < _MAX_W:
            assert n <= _TARGET_OCCUPANCY * (1 << w)
            if w > _MIN_W:
                assert n > _TARGET_OCCUPANCY * (1 << (w - 1))


def test_srp_prefix_property_and_random_corpus_differential(spark, tmp_path):
    """Two invariants the oracle parity rests on: (a) the w-bit band
    signature equals the full _BAND_PLANES-bit one masked to w (prefix
    property —
    what lets Spark build only w projections while the static SQL masks);
    (b) the full registered query matches its DuckDB oracle on a RANDOM
    corpus, not just the shipped fixtures."""
    import random

    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from cicevse2024_tfm_datapipeline_spark.plans.wave27 import (
        _BAND_PLANES,
        srp_band_sig_expr,
    )

    rng = random.Random(29)
    # uniform dim 16 (the embedding column's data contract is one fixed
    # dim per table; 16 < _MAX_DIM also exercises the coefficient slice)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)], rng.randint(0, 3))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    # (a) prefix property at several widths, both bands
    for band in range(2):
        for w in (8, 11, 16, 21, 24):
            chk = df.select(
                (
                    srp_band_sig_expr(F.col("embedding"), band, w)
                    == srp_band_sig_expr(F.col("embedding"), band, _BAND_PLANES)
                    .bitwiseAND(F.lit((1 << w) - 1))
                ).alias("eq")
            ).collect()
            assert all(r["eq"] for r in chk), (band, w)
    # (b) random-corpus differential vs the registered oracle
    path = str(tmp_path / "embeddings.parquet")
    df.write.mode("overwrite").parquet(path)
    q = _q("sim_srp_lsh_pairs")
    got = (
        q.spark(spark, str(tmp_path))
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    want = (
        con.execute(q.oracle)
        .fetchdf()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    for c in ("id_a", "id_b", "hamming", "same_label"):
        assert got[c].astype("int64").tolist() == want[c].astype("int64").tolist(), c
    pd.testing.assert_series_equal(
        got["cosine"].astype("float64"),
        want["cosine"].astype("float64"),
        check_names=False,
    )
