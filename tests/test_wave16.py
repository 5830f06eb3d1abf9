"""Wave-16 operators: Kaplan-Meier vs a hand-rolled estimator with
censoring, Shapley dummy/efficiency axioms on a constructed game, and
containment detection of a planted excerpt."""

import datetime
import math

SF = "/root/testdata/sf0.001"


def _q(name):
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    return load_all()[name]


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))


def test_kaplan_meier_matches_handrolled(spark, tmp_path):
    # 6 converters at known offsets, 4 censored users interleaved
    t0 = datetime.datetime(2024, 3, 1)
    rows = []
    eid = 0

    def add(user, offsets_types):
        nonlocal eid
        for off_min, et in offsets_types:
            rows.append(
                (eid, t0 + datetime.timedelta(minutes=off_min), user, et, 1.0, "{}")
            )
            eid += 1

    # converters: purchase at 10, 10, 20, 30, 30, 40 minutes after start
    for u, off in [(1, 10), (2, 10), (3, 20), (4, 30), (5, 30), (6, 40)]:
        add(u, [(0, "view"), (off, "purchase")])
    # censored: last event at 15, 25, 25, 50 minutes
    for u, off in [(7, 15), (8, 25), (9, 25), (10, 50)]:
        add(u, [(0, "view"), (off, "click")])
    _write_events(spark, tmp_path, rows)
    out = (
        _q("a_kaplan_meier").spark(spark, str(tmp_path)).orderBy("t_ms").collect()
    )
    # hand-rolled KM over (duration_ms, event) observations
    obs = [(10, 1), (10, 1), (20, 1), (30, 1), (30, 1), (40, 1),
           (15, 0), (25, 0), (25, 0), (50, 0)]
    obs = [(t * 60000, e) for t, e in obs]
    times = sorted({t for t, e in obs if e})
    surv, expect = 1.0, {}
    for ti in times:
        n_risk = sum(1 for t, _ in obs if t >= ti)
        d = sum(1 for t, e in obs if t == ti and e)
        surv *= 1 - d / n_risk
        expect[ti] = (n_risk, d, surv)
    assert [r["t_ms"] for r in out] == times
    for r in out:
        n_risk, d, s = expect[r["t_ms"]]
        assert r["n_risk"] == n_risk
        assert r["n_events"] == d
        assert abs(r["survival"] - s) < 1e-6


def test_kaplan_meier_user_without_timestamp_stays_at_risk(spark, tmp_path):
    """A user whose events all lack a timestamp has a null offset. The
    oracle counts that user in every risk set (DuckDB sorts nulls last, so
    the null cell never precedes an event time); the Spark plan must not
    subtract it either. 44 distinct event times, so the 30-row cut is on."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.selfcheck import compare, duck_conn

    t0 = datetime.datetime(2024, 3, 1)
    rows = []

    def add(user, offsets_types):
        for off_min, et in offsets_types:
            ts = None if off_min is None else t0 + datetime.timedelta(minutes=off_min)
            rows.append((len(rows), ts, user, et, 1.0, "{}"))

    # the hand-rolled fixture above
    for u, off in [(1, 10), (2, 10), (3, 20), (4, 30), (5, 30), (6, 40)]:
        add(u, [(0, "view"), (off, "purchase")])
    for u, off in [(7, 15), (8, 25), (9, 25), (10, 50)]:
        add(u, [(0, "view"), (off, "click")])
    # 40 converters at distinct offsets, a censored user between each pair
    for k in range(40):
        add(100 + k, [(0, "view"), (60 + 2 * k, "purchase")])
        add(200 + k, [(0, "view"), (61 + 2 * k, "click")])
    add(999, [(None, "view"), (None, "purchase")])
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    pq.write_table(
        pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema),
        tmp_path / "events.parquet",
    )
    q = _q("a_kaplan_meier")
    got = q.spark(spark, str(tmp_path)).toPandas()
    want = duck_conn(str(tmp_path)).execute(q.oracle).fetchdf()
    assert len(want) == 30
    assert want["n_risk"].max() == 91  # 90 timed users + the null-offset one
    assert compare(got, want)[0] == "EXACT", (got, want)


def test_shapley_dummy_and_efficiency(spark, tmp_path):
    # construct the game v(S) = 0.5*[view in S] + 0.25*[click in S]:
    # signup is a DUMMY channel -> its Shapley credit must be exactly 0;
    # view and click get their additive effects; efficiency = 0.75
    t0 = datetime.datetime(2024, 3, 1)
    rows = []
    eid = 0
    uid = 0
    for mask in range(8):
        hv, hc, hs = (mask >> 2) & 1, (mask >> 1) & 1, mask & 1
        n_conv = 2 * hv + hc  # of 4 users
        for k in range(4):
            uid += 1
            rows.append((eid, t0, uid, "error", 1.0, "{}"))
            eid += 1
            for flag, et in ((hv, "view"), (hc, "click"), (hs, "signup")):
                if flag:
                    rows.append(
                        (eid, t0 + datetime.timedelta(minutes=1), uid, et, 1.0, "{}")
                    )
                    eid += 1
            if k < n_conv:
                rows.append(
                    (eid, t0 + datetime.timedelta(minutes=2), uid, "purchase", 1.0, "{}")
                )
                eid += 1
    _write_events(spark, tmp_path, rows)
    out = {
        r["channel"]: r
        for r in _q("j_shapley_attribution").spark(spark, str(tmp_path)).collect()
    }
    assert abs(out["view"]["shapley"] - 0.5) < 1e-9
    assert abs(out["click"]["shapley"] - 0.25) < 1e-9
    assert abs(out["signup"]["shapley"] - 0.0) < 1e-9  # dummy axiom
    total = out["view"]["total_effect"]
    assert abs(total - 0.75) < 1e-9
    s = sum(r["shapley"] for r in out.values())
    assert abs(s - total) < 1e-9  # efficiency axiom


def test_shapley_efficiency_on_real_data(spark):
    out = _q("j_shapley_attribution").spark(spark, SF).collect()
    total = out[0]["total_effect"]
    s = sum(r["shapley"] for r in out)
    # credits were rounded at 6dp independently of the total
    assert abs(s - total) < 5e-6


def test_containment_detects_planted_excerpt(spark, tmp_path):
    words = [f"w{i}" for i in range(200)]
    long_doc = " ".join(words)
    excerpt = " ".join(words[:150])  # J ~ 0.75, containment = 1.0
    other = " ".join(f"z{i}" for i in range(100))
    rows = [
        (1, long_doc, "en", "src", len(long_doc)),
        (2, excerpt, "en", "src", len(excerpt)),
        (3, other, "en", "src", len(other)),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = _q("dedup_containment_pairs").spark(spark, str(tmp_path)).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in out}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    assert abs(r["containment"] - 1.0) < 1e-9  # every excerpt shingle in A
    assert r["jaccard"] < r["containment"]  # the asymmetry Jaccard misses
    assert (1, 3) not in pairs and (2, 3) not in pairs
