"""S1-S3 CSV scan shapes (reference ingest parity) + S7 artifact lake."""

from __future__ import annotations

import os

import pytest

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "csv")


def test_s1_power_csv_scan(spark):
    from cicevse2024_tfm_datapipeline_spark.sources.readers import scan_power_csv

    os.makedirs(SCRATCH, exist_ok=True)
    p = os.path.join(SCRATCH, "power.csv")
    with open(p, "w") as fh:
        fh.write("time,current_mA,bus_voltage_V,power_mW,State,Attack\n")
        fh.write("2024-01-01 00:00:02,1.5,5.0,7.5,charging,none\n")
        fh.write("2024-01-01 00:00:01,2.5,5.0,12.5,idle,syn-flood\n")
    df = scan_power_csv(spark, p)
    rows = {r["Attack"]: r for r in df.collect()}
    assert rows["none"]["state_bin"] == 1
    assert rows["syn-flood"]["state_bin"] == 0
    assert str(rows["syn-flood"]["timestamp"]).startswith("2024-01-01 00:00:01")


def test_s2_host_positional_scan(spark):
    """Positional schema: all columns left of State are features; non-
    numeric cells coerce to null (func_preproc.py:537-589)."""
    from cicevse2024_tfm_datapipeline_spark.sources.readers import scan_host_csv

    os.makedirs(SCRATCH, exist_ok=True)
    p = os.path.join(SCRATCH, "host.csv")
    with open(p, "w") as fh:
        fh.write("ev_a,ev_b,time,State,Attack\n")
        fh.write("1,x,9,Charging,none\n")
        fh.write("2,3,9,idle,backdoor\n")
    df = scan_host_csv(spark, p)
    assert "time" not in [c for c in df.columns if c != "timestamp"]
    rows = sorted(df.collect(), key=lambda r: r["timestamp"])
    assert rows[0]["ev_b"] is None  # 'x' coerced to null
    assert rows[1]["ev_b"] == 3.0
    assert [r["timestamp"] for r in rows] == [0.0, 1.0]  # file-order time


def test_s3_network_dir_scan_filename_labels(spark):
    """F9: label from filename stem tokens after the 2nd '-'
    (pipeline_trainingmodels_network.py:158-164)."""
    from cicevse2024_tfm_datapipeline_spark.sources.readers import scan_network_dir

    d = os.path.join(SCRATCH, "net")
    os.makedirs(d, exist_ok=True)
    for name, rows in {
        "EVSE-B-syn-flood.csv": ["10,100"],
        "EVSE-A-benign.csv": ["20,200", "30,300"],
    }.items():
        with open(os.path.join(d, name), "w") as fh:
            fh.write("pkts,bytes\n")
            fh.write("\n".join(rows) + "\n")
    df = scan_network_dir(spark, os.path.join(d, "*.csv"))
    got = {r["source_file"]: (r["label_mul_raw"], r["evse"]) for r in df.collect()}
    assert got["EVSE-B-syn-flood"] == ("syn flood", "B")
    assert got["EVSE-A-benign"] == ("benign", "A")
    assert df.count() == 3


def test_pipeline_end_to_end(spark):
    """§3.1 lifecycle on the synthetic events table (smoke + artifacts)."""
    from cicevse2024_tfm_datapipeline_spark.pipelines import PipelineConfig, run_power_pipeline
    from cicevse2024_tfm_datapipeline_spark.plans.common import power_view

    pv = power_view(spark, "/root/testdata/sf0.001")
    out_dir = os.path.join(SCRATCH, "run_e2e")
    cfg = PipelineConfig(task="binary", seq_len=5, step=2, output_dir=out_dir)
    artifact = run_power_pipeline(spark, pv, cfg)
    # sorted by split name, whatever order the count's rows arrive in
    assert list(artifact["n_windows"]) == ["test", "train", "val"]
    assert artifact["n_windows"]["train"] > artifact["n_windows"]["val"]
    assert "binary" in artifact["metrics"]
    assert os.path.exists(os.path.join(out_dir, "metrics.json"))
    assert os.path.exists(os.path.join(out_dir, "config.json"))
    # windows artifact is re-readable (S5 contract)
    win = spark.read.parquet(os.path.join(out_dir, "windows.parquet"))
    assert win.count() == sum(artifact["n_windows"].values())


def test_m7_permutation_importance_harness(spark):
    from pyspark.sql import functions as F

    from cicevse2024_tfm_datapipeline_spark.ml.harness import permutation_importance

    # p_true correlates with 'signal'; 'noise' is irrelevant
    rows = [(i, 0.9 if i % 2 else 0.1, float(i % 2), float(i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, ["event_id", "p", "signal", "noise"])

    def loss(frame):
        from cicevse2024_tfm_datapipeline_spark.operators.metrics import weighted_log_loss

        scored = frame.withColumn(
            "p_true", F.when(F.col("signal") == 1.0, F.col("p")).otherwise(1 - F.col("p"))
        ).withColumn("w", F.lit(1.0))
        return weighted_log_loss(scored, "w", "p_true").collect()[0]["weighted_log_loss"]

    ranked = permutation_importance(df, ["signal", "noise"], loss, n_repeats=2)
    assert ranked[0]["feature"] == "signal"
    assert ranked[0]["mean_drop"] > ranked[1]["mean_drop"]


def test_m9_leave_one_attack_out_harness(spark):
    from cicevse2024_tfm_datapipeline_spark.ml.harness import leave_one_attack_out
    from cicevse2024_tfm_datapipeline_spark.plans.common import power_view

    pv = power_view(spark, "/root/testdata/sf0.001").limit(300)

    def evaluate(train_val, test, held_out):
        n_tr = train_val.filter(f"attack = '{held_out}'").count()
        return {"train_rows_of_heldout": n_tr, "test_rows": test.count()}

    results = leave_one_attack_out(pv, evaluate, max_attacks=2)
    assert len(results) == 2
    for r in results:
        assert r["train_rows_of_heldout"] == 0  # anti-filter held
        assert r["test_rows"] > 0


def test_load_table_plan_cache_hit_and_invalidation(spark, tmp_path):
    """r11 optimization: load_table caches the RESOLVED PLAN object (not
    data) per (session, dataset fingerprint) — a second call returns the
    same DataFrame, a rewritten table invalidates, and results still
    compute from the current parquet bytes."""
    import shutil

    from pyspark.sql import functions as F

    from cicevse2024_tfm_datapipeline_spark.sources import readers

    src = "/root/testdata/sf0.001/region.parquet"
    p = tmp_path / "region.parquet"
    shutil.copyfile(src, p)

    df1 = readers.load_table(spark, str(tmp_path), "region")
    df2 = readers.load_table(spark, str(tmp_path), "region")
    assert df1 is df2  # plan-object reuse, no re-resolution
    n1 = df1.count()

    # rewrite the table with fewer rows -> fingerprint changes -> fresh plan
    sub = df1.limit(max(1, n1 - 1)).toPandas()
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(sub, preserve_index=False), p)
    df3 = readers.load_table(spark, str(tmp_path), "region")
    assert df3 is not df1
    assert df3.count() == len(sub)

    # wide=True keys separately from the plain scan
    ev1 = readers.load_table(spark, "/root/testdata/sf0.001", "events")
    evw = readers.load_table(spark, "/root/testdata/sf0.001", "events", wide=True)
    assert ev1 is not evw
    # cached plan still self-joins cleanly (shared lineage path)
    a = ev1.select(F.col("event_id").alias("ida"))
    b = ev1.select(F.col("event_id").alias("idb"))
    assert a.join(b, a.ida == b.idb).count() == ev1.count()


def test_table_row_count_matches_spark_count(spark):
    """Footer row count (driver-side, no job) must equal count() exactly —
    it replaces the eager plan-time count in sim_srp_lsh_pairs."""
    from cicevse2024_tfm_datapipeline_spark.sources import readers

    for name in ("region", "events", "embeddings"):
        exact = readers.load_table(spark, "/root/testdata/sf0.001", name).count()
        assert readers.table_row_count("/root/testdata/sf0.001", name) == exact


def test_load_table_sees_nano_to_micro_rewrite(spark, tmp_path):
    """A table rewritten in place from TIMESTAMP(NANOS) to micros must
    load with the NEW layout: the nanosecond-column list belongs to the
    table's fingerprinted metadata, not to its path (a path-keyed list
    kept converting the micros column with ``div 1000`` and failed)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cicevse2024_tfm_datapipeline_spark.sources import readers

    p = tmp_path / "stamps.parquet"
    ts = [datetime.datetime(2024, 1, 1, 0, 0, i, 250000 * i) for i in range(4)]
    epoch = datetime.datetime(1970, 1, 1)
    want = [(t - epoch) // datetime.timedelta(microseconds=1) for t in ts]

    def loaded():
        df = readers.load_table(spark, str(tmp_path), "stamps")
        micros = F.unix_micros(F.col("ts").cast("timestamp"))  # session zone is UTC
        return [r[0] for r in df.orderBy("id").select(micros).collect()]

    pq.write_table(
        pa.table({"id": list(range(4)), "ts": pa.array(ts, pa.timestamp("ns"))}), p
    )
    assert loaded() == want
    before = p.stat().st_mtime_ns
    pq.write_table(
        pa.table({"id": list(range(4)), "ts": pa.array(ts, pa.timestamp("us"))}), p
    )
    os.utime(p, ns=(before + 10**9,) * 2)
    assert loaded() == want


def test_table_meta_evicts_oldest_first(tmp_path, monkeypatch):
    """Past the bound the least recently used path is evicted, one at a
    time — not a wholesale clear of every table's metadata and plans."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cicevse2024_tfm_datapipeline_spark.sources import readers

    monkeypatch.setattr(readers, "_TABLE_META_MAX", 3)
    monkeypatch.setattr(readers, "_TABLE_META", readers.OrderedDict())
    paths = []
    for i in range(5):
        p = str(tmp_path / f"t{i}.parquet")
        pq.write_table(pa.table({"a": [i]}), p)
        paths.append(p)
    for p in paths[:3]:
        readers._table_meta(p)
    kept = readers._table_meta(paths[0])  # touch: t0 is now the newest
    readers._table_meta(paths[3])
    assert list(readers._TABLE_META) == [paths[2], paths[0], paths[3]]
    assert readers._table_meta(paths[0]) is kept
    readers._table_meta(paths[4])
    assert list(readers._TABLE_META) == [paths[3], paths[0], paths[4]]


def test_footer_metadata_read_once_per_table(spark, tmp_path, monkeypatch):
    """load_table, table_row_count and table_column_minmax on one table
    share one footer pass: each part's footer is opened exactly once."""
    import shutil

    import pyarrow.parquet as pq

    from cicevse2024_tfm_datapipeline_spark.sources import readers

    ds = tmp_path / "events.parquet"
    ds.mkdir()
    shutil.copyfile("/root/testdata/sf0.001/events.parquet", ds / "part-00000.parquet")
    shutil.copyfile("/root/testdata/sf0.001/events.parquet", ds / "part-00001.parquet")
    (ds / "_SUCCESS").touch()
    opened = []
    real = pq.ParquetFile

    def counting(path, *a, **k):
        opened.append(os.path.basename(str(path)))
        return real(path, *a, **k)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    sf = str(tmp_path)
    readers.load_table(spark, sf, "events", wide=True)
    n = readers.table_row_count(sf, "events")
    lo, hi = readers.table_column_minmax(sf, "events", "event_id")
    readers.table_column_minmax(sf, "events", "value")
    assert sorted(opened) == ["part-00000.parquet", "part-00001.parquet"]
    one = readers.table_row_count("/root/testdata/sf0.001", "events")
    assert n == 2 * one
    assert (lo, hi) == readers.table_column_minmax("/root/testdata/sf0.001", "events", "event_id")


def test_minmax_none_when_one_part_lacks_statistics(tmp_path):
    """A dataset whose parts disagree (one written with statistics, one
    without) has no usable bracket: table_column_minmax gives None
    instead of raising, while the row count still sums every part."""
    import pyarrow.parquet as pq

    from cicevse2024_tfm_datapipeline_spark.sources import readers

    ds = tmp_path / "documents.parquet"
    ds.mkdir()
    docs = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    pq.write_table(docs, ds / "part-00000.parquet")
    pq.write_table(docs, ds / "part-00001.parquet", write_statistics=False)
    sf = str(tmp_path)
    assert readers.table_column_minmax(sf, "documents", "doc_id") is None
    assert readers.table_row_count(sf, "documents") == 2 * len(docs)
