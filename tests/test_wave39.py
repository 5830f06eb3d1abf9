"""Wave-39 operators: quarantine split on planted corruption, dynamic
overwrite leaves siblings untouched, bitemporal axes move independently."""

from __future__ import annotations

import datetime


def _q(name):
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    return load_all()[name]


def test_csv_quarantine_split(spark, tmp_path):
    docs = [
        (i, f"text {i}", "en", f"src{i % 3}", 100 + i) for i in range(40)
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = _q("s18_csv_quarantine_permissive").spark(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    # ids 0,10,20,30 malformed
    assert r["n_quarantined"] == 4
    assert r["n_clean"] == 36
    clean_ids = [i for i in range(40) if i % 10 != 0]
    assert r["sum_ids_clean"] == sum(clean_ids)
    assert r["sum_chars_clean"] == sum(100 + i for i in clean_ids)


def test_dynamic_overwrite_touches_only_src1(spark, tmp_path):
    docs = []
    for i in range(40):
        docs.append((i, "t", "en", f"src{i % 4}", 50))
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["source"]: r for r in _q("s19_dynamic_partition_overwrite").spark(spark, str(tmp_path)).collect()}
    assert set(out) == {"src0", "src1", "src2", "src3"}
    for s in ("src0", "src2", "src3"):
        assert out[s]["n_docs"] == 10
        assert out[s]["sum_chars"] == 500
    assert out["src1"]["n_docs"] == 10
    assert out["src1"]["sum_chars"] == 10 * 1050


def test_bitemporal_axes(spark, tmp_path):
    # 14 orders on day 0 and 14 on day 60 (max=60): corrections post at
    # +30 days. early cutoff = day 15: only day-0 facts visible, and
    # their corrections (posted day 30) NOT yet. latest cutoff: all.
    d0 = datetime.date(2024, 1, 1)
    orders = []
    ok = 0
    for day in (0, 60):
        for _ in range(14):
            orders.append(
                (ok, 1, "O", 100.0, d0 + datetime.timedelta(days=day), "P")
            )
            ok += 1
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate date, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = {r["label"]: r for r in _q("w_bitemporal_asof").spark(spark, str(tmp_path)).collect()}
    early, latest = out["early"], out["latest"]
    assert early["n_orders_visible"] == 14
    assert early["n_corrected_effective"] == 0
    assert early["sum_cents"] == 14 * 10000
    assert latest["n_orders_visible"] == 28
    # keys 0,7,14,21 are corrected (k % 7 == 0): 4 of 28
    assert latest["n_corrected_effective"] == 4
    assert latest["sum_cents"] == 28 * 10000 + 4 * 50000


def test_dynamic_overwrite_keeps_session_conf_and_oracle(spark):
    from tools.selfcheck import compare, duck_conn

    from tests.conftest import SF_ORACLE

    key = "spark.sql.sources.partitionOverwriteMode"
    # the effective value, and whether the key is set on the session at all
    before = (spark.conf.get(key), spark.conf.getAll.get(key))
    q = _q("s19_dynamic_partition_overwrite")
    got = q.spark(spark, SF_ORACLE).toPandas()
    assert (spark.conf.get(key), spark.conf.getAll.get(key)) == before
    verdict, detail = compare(got, duck_conn(SF_ORACLE).execute(q.oracle).fetchdf())
    assert verdict == "EXACT", detail
