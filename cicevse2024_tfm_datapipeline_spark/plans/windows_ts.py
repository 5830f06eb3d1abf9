"""Wave B: window-function / time-series query surface (SURVEY §2.6) —
sliding windows, train-only standardization, sessionization/TTD, ACF,
top-K, encodings, per-group modes, class weights.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.functions.encoders import category_codes, label_encode
from cicevse2024_tfm_datapipeline_spark.operators.acf import acf
from cicevse2024_tfm_datapipeline_spark.operators.scan import footer_grid
from cicevse2024_tfm_datapipeline_spark.operators.sessionize import ttd_stats
from cicevse2024_tfm_datapipeline_spark.operators.split import chrono_split
from cicevse2024_tfm_datapipeline_spark.operators.topk import group_mode, top_k
from cicevse2024_tfm_datapipeline_spark.operators.windows import apply_standardizer, fit_standardizer
from cicevse2024_tfm_datapipeline_spark.plans.common import POWER_BASE_SQL, power_view, split_sql, t, pround
from cicevse2024_tfm_datapipeline_spark.plans.registry import register

SEQ_LEN = 5
STEP = 2

_W3_FRAME = "PARTITION BY attack, state ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW"


@register(
    "w3_sliding_window_stats",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    framed AS (
        SELECT attack, state, label,
               row_number() OVER (PARTITION BY attack, state ORDER BY ts, event_id) AS rn,
               round(sum(value) OVER ({_W3_FRAME}), 2)
                   / count(*) OVER ({_W3_FRAME}) AS w_avg,
               min(value)   OVER ({_W3_FRAME}) AS w_min,
               max(value)   OVER ({_W3_FRAME}) AS w_max
        FROM base
    )
    SELECT attack, state,
           CAST((rn - {SEQ_LEN}) / {STEP} AS BIGINT) AS window_id,
           round(w_avg, 6) AS value_mean, w_min AS value_min, w_max AS value_max,
           label AS window_label
    FROM framed
    WHERE rn >= {SEQ_LEN} AND (rn - {SEQ_LEN}) % {STEP} = 0
    """,
    doc="W3/W4: sliding windows of seq_len=5, hop=2 per (attack,state); "
    "summary features over the trailing frame + label at the window end "
    "(func_aux/func_preproc.py:206-247). Window k = rows "
    "[k·step, k·step+L); the end-row predicate rn>=L ∧ (rn-L)%step=0 "
    "reproduces range(0, N-L+1, step).",
    tags=("W3", "W4"),
)
def w3_sliding_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pv = power_view(spark, sf_dir)
    order_win = W.partitionBy("attack", "state").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    frame = order_win.rowsBetween(-(SEQ_LEN - 1), 0)
    out = (
        pv.withColumn("__rn", F.row_number().over(order_win))
        # canonicalized frame mean: round(sum,2) is exact for 2-dp data →
        # both engines divide identical doubles
        .withColumn(
            "w_avg",
            pround(F.sum("value").over(frame), 2) / F.count(F.lit(1)).over(frame),
        )
        .withColumn("w_min", F.min("value").over(frame))
        .withColumn("w_max", F.max("value").over(frame))
    )
    is_end = (F.col("__rn") >= SEQ_LEN) & (((F.col("__rn") - SEQ_LEN) % STEP) == 0)
    return out.filter(is_end).select(
        "attack",
        "state",
        ((F.col("__rn") - F.lit(SEQ_LEN)) / F.lit(STEP)).cast("long").alias("window_id"),
        pround("w_avg", 6).alias("value_mean"),
        F.col("w_min").alias("value_min"),
        F.col("w_max").alias("value_max"),
        F.col("label").alias("window_label"),
    )


@register(
    "w3_full_sequences",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    framed AS (
        SELECT attack, state, label,
               row_number() OVER (PARTITION BY attack, state ORDER BY ts, event_id) AS rn,
               list(value) OVER ({_W3_FRAME}) AS value_seq
        FROM base
    )
    SELECT attack, state,
           CAST((rn - {SEQ_LEN}) / {STEP} AS BIGINT) AS window_id,
           array_to_string(
               list_transform(value_seq,
                              x -> CAST(CAST(floor(x * 100.0 + 0.5) AS BIGINT) AS VARCHAR)),
               '|') AS value_seq_str,
           label AS window_label
    FROM framed
    WHERE rn >= {SEQ_LEN} AND (rn - {SEQ_LEN}) % {STEP} = 0
    """,
    doc="W3 with full per-window SEQUENCE ARRAYS (collect_list over the "
    "trailing frame, order pinned by (ts, event_id)) — the tensor-IR "
    "contract of make_sequences (func_aux/func_preproc.py:206-247), "
    "value-checked element-by-element against the oracle. The sequence is "
    "emitted as a canonical '|'-joined string of exact cent integers (the "
    "data is 2-dp, so the encoding is lossless): array cells are "
    "unhashable for pandas-based result canonicalizers.",
    tags=("W3", "W4", "S5"),
)
def w3_full_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.windows import sliding_windows

    pv = power_view(spark, sf_dir)
    out = sliding_windows(
        pv, ["attack", "state"], "ts", "event_id", ["value"], SEQ_LEN, STEP, label_col="label"
    )
    # element-level parity, hashable row: encode each element as its exact
    # cent integer and join — one-arg lambda (arity-2 binds the array index)
    seq_str = F.array_join(
        F.transform(
            F.col("value_seq"),
            lambda x: F.floor(x * F.lit(100.0) + F.lit(0.5)).cast("bigint").cast("string"),
        ),
        "|",
    )
    return out.select(
        "attack", "state", "window_id", seq_str.alias("value_seq_str"), "window_label"
    )


@register(
    "a6_window_summary_stats",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    framed AS (
        SELECT attack, state,
               row_number() OVER (PARTITION BY attack, state ORDER BY ts, event_id) AS rn,
               round(sum(value) OVER ({_W3_FRAME}), 2)
                   / count(*) OVER ({_W3_FRAME}) AS m,
               stddev_pop(value) OVER ({_W3_FRAME}) AS s,
               min(value)        OVER ({_W3_FRAME}) AS mn,
               max(value)        OVER ({_W3_FRAME}) AS mx
        FROM base
    )
    SELECT attack, state, CAST((rn - {SEQ_LEN}) / {STEP} AS BIGINT) AS window_id,
           round(m, 6) AS value_mean, round(s, 6) AS value_std,
           mn AS value_min, mx AS value_max
    FROM framed
    WHERE rn >= {SEQ_LEN} AND (rn - {SEQ_LEN}) % {STEP} = 0
    """,
    doc="A6: per-window mean/std/min/max surrogate features "
    "(func_aux/func_models.py:351-391; NumPy std = population std).",
    tags=("A6",),
)
def a6_window_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    pv = power_view(spark, sf_dir)
    order_win = W.partitionBy("attack", "state").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    frame = order_win.rowsBetween(-(SEQ_LEN - 1), 0)
    out = (
        pv.withColumn("__rn", F.row_number().over(order_win))
        .withColumn("m", pround(F.sum("value").over(frame), 2) / F.count(F.lit(1)).over(frame))
        .withColumn("s", F.stddev_pop("value").over(frame))
        .withColumn("mn", F.min("value").over(frame))
        .withColumn("mx", F.max("value").over(frame))
    )
    is_end = (F.col("__rn") >= SEQ_LEN) & (((F.col("__rn") - SEQ_LEN) % STEP) == 0)
    return out.filter(is_end).select(
        "attack",
        "state",
        ((F.col("__rn") - F.lit(SEQ_LEN)) / F.lit(STEP)).cast("long").alias("window_id"),
        pround("m", 6).alias("value_mean"),
        pround("s", 6).alias("value_std"),
        F.col("mn").alias("value_min"),
        F.col("mx").alias("value_max"),
    )


@register(
    "ml_surrogate_inputs",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    framed AS (
        SELECT attack, state, label,
               row_number() OVER (PARTITION BY attack, state ORDER BY ts, event_id) AS rn,
               avg(value)        OVER ({_W3_FRAME}) AS m,
               stddev_pop(value) OVER ({_W3_FRAME}) AS s,
               min(value)        OVER ({_W3_FRAME}) AS mn,
               max(value)        OVER ({_W3_FRAME}) AS mx
        FROM base
    )
    SELECT attack, state, CAST((rn - {SEQ_LEN}) / {STEP} AS BIGINT) AS window_id,
           round(m, 6) AS value_mean, round(s, 6) AS value_std,
           mn AS value_min, mx AS value_max,
           label AS window_label
    FROM framed
    WHERE rn >= {SEQ_LEN} AND (rn - {SEQ_LEN}) % {STEP} = 0
    """,
    doc="M5 input contract: the EXACT production featurization the "
    "surrogate tree consumes — operators.windows.window_summary_stats "
    "with the ml_surrogate_tree parameters (seq_len=5, step=2, label at "
    "window end; func_aux/func_models.py:351-391) — under a full SQL "
    "oracle, so only the DecisionTree .fit itself sits outside the "
    "oracle gate (the fit is pinned by the determinism/fidelity pytest "
    "in tests/test_ml_edge.py).",
    tags=("M5", "A6"),
)
def ml_surrogate_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.windows import window_summary_stats

    pv = power_view(spark, sf_dir)
    stats = window_summary_stats(
        pv, ["attack", "state"], "ts", "event_id", ["value"],
        seq_len=SEQ_LEN, step=STEP, label_col="label",
    )
    return stats.select(
        "attack",
        "state",
        "window_id",
        pround("value_mean", 6).alias("value_mean"),
        pround("value_std", 6).alias("value_std"),
        "value_min",
        "value_max",
        "window_label",
    )


@register(
    "w5_train_only_standardize",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    {split_sql(0.7, 0.15)},
    stats AS (
        SELECT avg(value) AS mu,
               CASE WHEN stddev_pop(value) = 0 OR stddev_pop(value) IS NULL
                    THEN 1.0 ELSE stddev_pop(value) END AS sigma
        FROM tagged WHERE split = 'train'
    )
    SELECT split, count(*) AS n_rows,
           round(avg((value - mu) / sigma), 4) AS scaled_mean,
           round(stddev_pop((value - mu) / sigma), 4) AS scaled_std,
           round(min((value - mu) / sigma), 4) AS scaled_min,
           round(max((value - mu) / sigma), 4) AS scaled_max
    FROM tagged, stats
    GROUP BY split
    """,
    doc="W5: StandardScaler fit on TRAIN only (population std, "
    "func_aux/func_preproc.py:391-392), applied to all splits through a "
    "broadcast join of the one-row fit — verified by per-split moments of "
    "the scaled feature.",
    tags=("W5", "W1"),
)
def w5_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    pv = power_view(spark, sf_dir)
    tagged = chrono_split(pv, ["attack", "state"], "ts", "event_id")
    stats = fit_standardizer(tagged.filter(F.col("split") == "train"), ["value"])
    scaled = apply_standardizer(tagged, stats)
    return scaled.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        pround(F.avg("value"), 4).alias("scaled_mean"),
        pround(F.stddev_pop("value"), 4).alias("scaled_std"),
        pround(F.min("value"), 4).alias("scaled_min"),
        pround(F.max("value"), 4).alias("scaled_max"),
    )


@register(
    "w6_sessionize_ttd",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    ord AS (
        SELECT *,
               row_number() OVER (ORDER BY ts, event_id) AS idx,
               CASE WHEN label = 'attack' THEN 1 ELSE 0 END AS y_true,
               CASE WHEN value > 150.0 THEN 1 ELSE 0 END AS y_pred,
               CASE WHEN label = 'attack' THEN attack ELSE 'benign' END AS ep_id
        FROM base
    ),
    b AS (
        SELECT *,
               CASE WHEN y_true = 1 AND (
                        lag(y_true) OVER (ORDER BY ts, event_id) IS NULL
                        OR lag(y_true) OVER (ORDER BY ts, event_id) <> 1
                        OR lag(ep_id) OVER (ORDER BY ts, event_id) IS DISTINCT FROM ep_id)
                    THEN 1 ELSE 0 END AS boundary
        FROM ord
    ),
    isl AS (
        SELECT *, sum(boundary) OVER (ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS episode
        FROM b
    ),
    eps AS (
        SELECT episode, min(idx) AS start_idx,
               min(CASE WHEN y_pred = 1 THEN idx END) AS det_idx
        FROM isl WHERE y_true = 1
        GROUP BY episode
    )
    SELECT CAST(count(*) AS BIGINT) AS episodes_total,
           CAST(sum(CASE WHEN det_idx IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS episodes_detected,
           round(avg((det_idx - start_idx) * 1.0), 4) AS avg_ttd_seconds,
           round(avg((det_idx - start_idx) * 1.0) / 3600.0, 6) AS avg_ttd_hours
    FROM eps
    """,
    doc="W6: gaps-and-islands sessionization + time-to-detect "
    "(func_aux/func_test.py:196-249): episode = contiguous y=1 run split "
    "on episode-id change; detection = first predicted-1 index; "
    "delay = (det − start) · hop (hop = 1s here).",
    tags=("W6", "A13"),
)
def w6_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # project to the 5 columns the scan needs BEFORE the global-islands
    # pass: the two-phase scan pins (localCheckpoint) its whole input,
    # and materializing the unused power_view columns doubled the
    # checkpoint write/read bytes of the dominant stage
    pv = power_view(spark, sf_dir).select(
        "ts",
        "event_id",
        F.when(F.col("label") == "attack", 1).otherwise(0).alias("y_true"),
        F.when(F.col("value") > 150.0, 1).otherwise(0).alias("y_pred"),
        F.when(F.col("label") == "attack", F.col("attack")).otherwise(F.lit("benign")).alias("ep_id"),
    )
    out = ttd_stats(
        pv,
        ["ts", "event_id"],
        "y_true",
        "y_pred",
        window_hop_seconds=1.0,
        episode_id_col="ep_id",
        # the footer grid selects the lineage-free bounds scan: the
        # (ts, event_id) order key is UNIQUE in this view (measured
        # max-tie 1 at sf0.01/0.1), as its no-pin contract requires, and
        # no localCheckpoint stays in a timed path. The NTZ scan key is
        # epoch seconds of the naive timestamp, and the footer ts
        # statistics bracket it — a uniform grid over [key(min),
        # key(max)] only sets bucket balance (events are near-uniform in
        # time), never results. Without statistics the grid is None and
        # the scan pins.
        fixed_bounds=footer_grid(spark, sf_dir, "events", "ts"),
    )
    return out.select(
        F.col("episodes_total").cast("long").alias("episodes_total"),
        F.col("episodes_detected").cast("long").alias("episodes_detected"),
        pround("avg_ttd_seconds", 4).alias("avg_ttd_seconds"),
        pround("avg_ttd_hours", 6).alias("avg_ttd_hours"),
    )


@register(
    "w7_acf_fixed_lags",
    oracle="""
    WITH stats AS (SELECT avg(value) AS mu FROM events),
    d AS (
        SELECT value - mu AS x, ts, event_id FROM events, stats
    ),
    shifted AS (
        SELECT x,
               lag(x, 1)  OVER (ORDER BY ts, event_id) AS x1,
               lag(x, 2)  OVER (ORDER BY ts, event_id) AS x2,
               lag(x, 5)  OVER (ORDER BY ts, event_id) AS x5,
               lag(x, 10) OVER (ORDER BY ts, event_id) AS x10
        FROM d
    ),
    e AS (
        SELECT sum(x * x) AS e0, sum(x * x1) AS e1, sum(x * x2) AS e2,
               sum(x * x5) AS e5, sum(x * x10) AS e10
        FROM shifted
    )
    SELECT lag, round(acf_value, 6) AS acf_value
    FROM (
        SELECT 0 AS lag, 1.0 AS acf_value FROM e
        UNION ALL SELECT 1, e1 / e0 FROM e
        UNION ALL SELECT 2, e2 / e0 FROM e
        UNION ALL SELECT 5, e5 / e0 FROM e
        UNION ALL SELECT 10, e10 / e0 FROM e
    )
    """,
    doc="W7: autocorrelation of the demeaned series at fixed lags via "
    "lag() cross-products — no self-join (func_aux/func_plot.py:43-54).",
    tags=("W7",),
)
def w7_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # the events footer grid on ts: the row index is built on the
    # lineage-free bounds scan, so building the query runs no Spark job
    # (without statistics the grid is None and the scan pins)
    out = acf(
        ev, "value", ["ts", "event_id"], lags=[0, 1, 2, 5, 10],
        fixed_bounds=footer_grid(spark, sf_dir, "events", "ts"),
    )
    return out.select(F.col("lag"), pround("acf_value", 6).alias("acf_value"))


@register(
    "w8_topk_by_score",
    oracle="""
    SELECT p_brand, round(round(sum(p_retailprice), 2) / count(*), 6) AS mean_score
    FROM part
    GROUP BY p_brand
    ORDER BY mean_score DESC, p_brand ASC
    LIMIT 5
    """,
    doc="W8/W9: top-K by mean score with deterministic tiebreak "
    "(pipelines_host/pipeline_trainingmodels_host.py:57-97) — Catalyst "
    "executes orderBy+limit as TakeOrderedAndProject (heap, no global sort).",
    tags=("W8", "W9"),
)
def w8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    scores = part.groupBy("p_brand").agg(
        pround(pround(F.sum("p_retailprice"), 2) / F.count(F.lit(1)), 6).alias("mean_score")
    )
    return top_k(scores, [F.desc("mean_score"), F.asc("p_brand")], 5)


@register(
    "a17_grid_mean",
    oracle="""
    SELECT p_size, count(*) AS n_parts,
           round(round(sum(p_retailprice), 2) / count(*), 6) AS mean_price
    FROM part
    GROUP BY p_size
    """,
    doc="A17: grid mean over a config axis (groupby('seq_len').mean(), "
    "func_aux/func_plot.py:871-876) — canonicalized decimal mean.",
    tags=("A17",),
)
def a17_grid_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    return part.groupBy("p_size").agg(
        F.count(F.lit(1)).alias("n_parts"),
        pround(pround(F.sum("p_retailprice"), 2) / F.count(F.lit(1)), 6).alias("mean_price"),
    )


@register(
    "a5_group_mode",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    counted AS (
        SELECT attack, state, count(*) AS n FROM base GROUP BY attack, state
    ),
    ranked AS (
        SELECT attack, state,
               row_number() OVER (PARTITION BY attack ORDER BY n DESC, state ASC) AS rk
        FROM counted
    )
    SELECT attack, state AS modal_state FROM ranked WHERE rk = 1
    """,
    doc="A5/J4: per-attack modal State (func_aux/func_plot.py:146-153) — "
    "count + row_number instead of a driver-side mode loop.",
    tags=("A5", "J4"),
)
def a5_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    pv = power_view(spark, sf_dir)
    return group_mode(pv, ["attack"], "state").select(
        "attack", F.col("state").alias("modal_state")
    )


@register(
    "a7_class_weights",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    counts AS (SELECT label, count(*) AS n_c FROM base GROUP BY label),
    tot AS (SELECT CAST(sum(n_c) AS BIGINT) AS n, count(*) AS k FROM counts)
    SELECT label, n_c AS n_samples,
           round(least(n / (k * n_c * 1.0), 10.0), 6) AS class_weight
    FROM counts, tot
    """,
    doc="A7: class weights n/(k·count) capped at 10 "
    "(func_aux/func_models.py:55-62, :290-316).",
    tags=("A7", "F13"),
)
def a7_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    pv = power_view(spark, sf_dir)
    counts = pv.groupBy("label").agg(F.count(F.lit(1)).alias("n_c"))
    tot = counts.agg(
        F.sum("n_c").cast("long").alias("n"), F.count(F.lit(1)).alias("k")
    )
    joined = counts.crossJoin(F.broadcast(tot))
    weight = F.least(F.col("n") / (F.col("k") * F.col("n_c") * F.lit(1.0)), F.lit(10.0))
    return joined.select(
        "label", F.col("n_c").alias("n_samples"), pround(weight, 6).alias("class_weight")
    )


@register(
    "f10_category_codes",
    oracle="""
    WITH codes AS (
        SELECT o_orderpriority,
               dense_rank() OVER (ORDER BY o_orderpriority) - 1 AS code
        FROM (SELECT DISTINCT o_orderpriority FROM orders WHERE o_orderpriority IS NOT NULL)
    )
    SELECT o.o_orderpriority, c.code, count(*) AS n_rows
    FROM orders o LEFT JOIN codes c USING (o_orderpriority)
    GROUP BY 1, 2
    """,
    doc="F10: pandas cat.codes ≡ dense_rank over sorted distinct values, "
    "joined back broadcast (pipeline_trainingmodels_network.py:399-401).",
    tags=("F10",),
)
def f10_category_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    coded = category_codes(orders, ["o_orderpriority"], suffix="_code")
    return coded.groupBy(
        "o_orderpriority", F.col("o_orderpriority_code").alias("code")
    ).agg(F.count(F.lit(1)).alias("n_rows"))


@register(
    "f11_label_encode",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    codes AS (
        SELECT attack, dense_rank() OVER (ORDER BY attack) - 1 AS y
        FROM (SELECT DISTINCT attack FROM base WHERE attack IS NOT NULL)
    )
    SELECT b.attack, c.y, count(*) AS n_rows
    FROM base b LEFT JOIN codes c USING (attack)
    GROUP BY 1, 2
    """,
    doc="F11: sklearn LabelEncoder = lexicographic dense rank "
    "(func_aux/func_preproc.py:144-145; SURVEY §7.4 risk 3).",
    tags=("F11",),
)
def f11_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    pv = power_view(spark, sf_dir)
    return label_encode(pv, "attack", "y").groupBy("attack", "y").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@register(
    "f12_monotonic_row_id",
    oracle="""
    SELECT event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS t_idx
    FROM events
    WHERE user_id < 5
    """,
    doc="F12: dense per-group row index as the time axis — the reference's "
    "df.index/np.arange (func_aux/func_preproc.py:584) — row_number, NOT "
    "monotonically_increasing_id (not dense across partitions).",
    tags=("F12",),
)
def f12_row_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    win = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select("event_id", (F.row_number().over(win) - 1).alias("t_idx"))


_ZW = "PARTITION BY attack, state ORDER BY ts, event_id ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING"


@register(
    "w_rolling_zscore_anomalies",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    stats AS (
        SELECT attack, state, value, label,
               row_number() OVER (PARTITION BY attack, state ORDER BY ts, event_id) AS rn,
               round(sum(value) OVER ({_ZW}), 2) / count(*) OVER ({_ZW}) AS mu,
               round(stddev_pop(value) OVER ({_ZW}), 6) AS sigma
        FROM base
    ),
    flagged AS (
        SELECT attack, state, label,
               CASE WHEN rn > 20 AND sigma > 0
                         AND abs(value - mu) / sigma > 3.0
                    THEN 1 ELSE 0 END AS is_anomaly
        FROM stats
    )
    SELECT attack, state,
           CAST(sum(is_anomaly) AS BIGINT) AS n_anomalies,
           CAST(sum(CASE WHEN is_anomaly = 1 AND label = 'attack'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies_in_attack,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM flagged GROUP BY attack, state
    """,
    doc="Rolling z-score anomaly detection per (attack, state) series: "
    "each point scored against the TRAILING 20-row window (1 PRECEDING "
    "excludes the point itself — no self-contamination), flagged at "
    "|z| > 3 once the window is full. The classic online-detection "
    "baseline next to the reference's ML detectors, on the same window "
    "machinery as W3 (one shuffle by the series key, frame aggregates, "
    "never materializes window arrays).",
    tags=("W3", "A6", "anomaly"),
)
def w_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    pv = power_view(spark, sf_dir)
    order_win = W.partitionBy("attack", "state").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    frame = order_win.rowsBetween(-20, -1)
    stats = pv.select(
        "attack",
        "state",
        "value",
        "label",
        F.row_number().over(order_win).alias("rn"),
        (pround(F.sum("value").over(frame), 2) / F.count(F.lit(1)).over(frame)).alias("mu"),
        # 6-dp canonical sigma: stddev_pop leaves engine-specific float
        # dust on near-constant windows, which flips both the sigma>0
        # guard and knife-edge |z|>3 comparisons
        pround(F.stddev_pop("value").over(frame), 6).alias("sigma"),
    )
    is_anom = (
        (F.col("rn") > 20)
        & (F.col("sigma") > 0)
        & (F.abs(F.col("value") - F.col("mu")) / F.col("sigma") > 3.0)
    ).cast("int")
    flagged = stats.select("attack", "state", "label", is_anom.alias("is_anomaly"))
    return flagged.groupBy("attack", "state").agg(
        F.sum("is_anomaly").cast("long").alias("n_anomalies"),
        F.sum(
            ((F.col("is_anomaly") == 1) & (F.col("label") == "attack")).cast("int")
        ).cast("long").alias("n_anomalies_in_attack"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
