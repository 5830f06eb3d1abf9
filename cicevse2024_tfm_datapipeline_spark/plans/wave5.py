"""Round-3 wave 5: order-statistics windows (exact rolling median),
burst debouncing, cross-source quantile normalization, key-skew
profiling with an exact Gini coefficient, and last-touch attribution.

Scale extensions beyond the reference pipeline surface (the reference is
a single-machine pandas/sklearn TFM pipeline) — standard feature-prep /
telemetry / marketing-analytics primitives, each as Spark relational
algebra with a DuckDB oracle twin.

Determinism notes: the rolling median is the DISCRETE lower-middle
element (DuckDB ``quantile_disc(0.5)``) so no interpolation arithmetic
exists to drift; time math uses exact integer microseconds
(``unix_micros`` ↔ ``epoch_us``); Gini and attribution averages divide
exact BIGINT sums once at the end; quantile normalization maps ranks
with pure integer index arithmetic and emits only integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.plans.common import pround, t
from cicevse2024_tfm_datapipeline_spark.plans.registry import register

#: Spark-side exact integer event time (microseconds) — lockstep with
#: DuckDB ``epoch_us(ts)`` (see a_funnel_time_to_convert).
_US = "unix_micros(to_utc_timestamp(ts, 'UTC'))"


# ---------------------------------------------------------------------------
# Exact rolling median per user (order-statistics window)
# ---------------------------------------------------------------------------


@register(
    "w_rolling_median",
    oracle="""
    SELECT event_id, user_id,
           round(quantile_disc(value, 0.5) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 6) AS roll_median
    FROM events
    """,
    doc="Exact rolling median of the last 6 events per user — the "
    "robust-smoothing companion to w_ewma_smoothing (a median window "
    "shrugs off the spikes an EWMA chases). Spark has no native "
    "order-statistic window, so the 6-row frame is materialized with "
    "collect_list + array_sort and indexed at the DISCRETE lower-middle "
    "position floor((n-1)/2)+1 — exactly DuckDB's quantile_disc(0.5), "
    "an ELEMENT of the set, so no interpolation arithmetic can drift "
    "between engines. The window partitions by user (bounded per-user "
    "history; one shuffle); the 6-element sort is O(1) per row.",
    tags=("W", "window", "median"),
)
def w_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-5, 0)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    lower_mid = F.floor((n - 1) / F.lit(2.0)).cast("int") + 1
    return ev.select(
        "event_id",
        "user_id",
        pround(F.element_at(arr, lower_mid), 6).alias("roll_median"),
    )


# ---------------------------------------------------------------------------
# Burst debouncing (throttle) per (user, event_type)
# ---------------------------------------------------------------------------


@register(
    "w_debounce_bursts",
    oracle="""
    WITH g AS (
        SELECT event_type,
               CASE WHEN lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) > 60000000
                    THEN 1 ELSE 0 END AS is_first
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(is_first) AS BIGINT) AS n_bursts,
           round(sum(is_first) * 1.0 / count(*), 6) AS keep_ratio
    FROM g GROUP BY event_type
    """,
    doc="Burst debouncing: within each (user, event_type) stream, an "
    "event opens a new burst iff it is more than 60 s after its "
    "predecessor; keeping only burst openers is the dedup/throttle "
    "pass telemetry pipelines run before counting 'real' actions "
    "(repeated clicks collapse to one). Session-window semantics from "
    "one partitioned lag on exact integer microseconds — one shuffle "
    "on the (user, type) key, then a low-cardinality rollup of "
    "keep-ratios per type.",
    tags=("W", "sessionize", "debounce"),
)
def w_debounce_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", F.expr(_US).alias("us")
    )
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev = F.lag("us").over(w)
    is_first = (
        prev.isNull() | ((F.col("us") - prev) > F.lit(60_000_000))
    ).cast("int")
    return (
        ev.select("event_type", is_first.alias("is_first"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("is_first").cast("long").alias("n_bursts"),
            pround(F.sum("is_first") * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
                "keep_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Cross-source quantile normalization (rank → global quantile value)
# ---------------------------------------------------------------------------


@register(
    "f_quantile_normalize",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS r_s,
               count(*) OVER (PARTITION BY source) AS n_s
        FROM documents
    ),
    tot AS (SELECT count(*) AS n FROM documents),
    mapped AS (
        SELECT doc_id, source, n_chars,
               CAST(floor((r_s * n - 1) * 1.0 / n_s) + 1 AS BIGINT) AS g
        FROM ranked, tot
    ),
    pooled AS (
        SELECT n_chars AS norm_chars,
               row_number() OVER (ORDER BY n_chars, doc_id) AS g
        FROM documents
    )
    SELECT m.doc_id, m.source, m.n_chars, gl.norm_chars
    FROM mapped m JOIN pooled gl USING (g)
    """,
    doc="Quantile normalization of document lengths across sources — "
    "the distribution-alignment transform (each source's length "
    "distribution is mapped onto the pooled corpus distribution) used "
    "to make per-source quality thresholds comparable before mixing. "
    "Per-source ranks come from a partitioned window; the GLOBAL rank "
    "side uses operators/scan.global_row_number (two-phase range scan, "
    "no unpartitioned window); the rank→rank mapping g = "
    "floor((r·N−1)/n_s)+1 is pure integer index arithmetic and the "
    "output is all-integer, so nothing can drift between engines. One "
    "equi-join on the mapped rank.",
    tags=("F", "normalize", "quantile"),
)
def f_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_row_number

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    wsrc = W.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "*",
        F.row_number().over(wsrc).alias("r_s"),
        F.count(F.lit(1)).over(W.partitionBy("source")).alias("n_s"),
    )
    tot = docs.agg(F.count(F.lit(1)).alias("n"))
    mapped = ranked.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "source",
        "n_chars",
        (
            F.floor((F.col("r_s") * F.col("n") - 1) * F.lit(1.0) / F.col("n_s"))
            + 1
        ).cast("long").alias("g"),
    )
    # r12: fixed-bounds scan over the footer-bracketed n_chars grid —
    # direct-scan input, literal grid, no pin (r5 discipline; heavy
    # n_chars ties land whole in one bucket, which only skews balance)
    from cicevse2024_tfm_datapipeline_spark.operators.scan import footer_grid

    glob = global_row_number(
        docs, ["n_chars", "doc_id"], "g",
        fixed_bounds=footer_grid(spark, sf_dir, "documents", "n_chars"),
    ).select(
        F.col("n_chars").alias("norm_chars"), F.col("g").cast("long").alias("g")
    )
    return mapped.join(glob, "g").select("doc_id", "source", "n_chars", "norm_chars")


# ---------------------------------------------------------------------------
# Key-skew profile with exact Gini coefficient
# ---------------------------------------------------------------------------


@register(
    "a_key_skew_gini",
    oracle="""
    WITH counts AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1
    ),
    ranked AS (
        SELECT cnt, row_number() OVER (ORDER BY cnt, l_partkey) AS rk
        FROM counts
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(cnt) AS BIGINT) AS n_rows,
               CAST(sum(rk * cnt) AS BIGINT) AS wsum,
               CAST(max(cnt) AS BIGINT) AS max_cnt
        FROM ranked
    ),
    top AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS top_cnt
        FROM ranked, s
        WHERE rk > n_keys - floor((n_keys + 99) / 100.0)
    )
    SELECT n_keys, n_rows, max_cnt,
           round(2.0 * wsum / (n_keys * 1.0 * n_rows)
                 - (n_keys + 1) * 1.0 / n_keys, 6) AS gini,
           round(top_cnt * 1.0 / n_rows, 6) AS top1pct_share
    FROM s, top
    """,
    doc="Join/aggregation-key skew profile for lineitem's partkey: the "
    "per-key count distribution reduced to the exact Gini coefficient "
    "(G = 2·Σ rank·cnt / (n·Σcnt) − (n+1)/n over ascending counts) plus "
    "the share held by the top 1% of keys — the planning statistic that "
    "decides whether a shuffle needs salting/AQE skew handling BEFORE "
    "running the join. The rank over per-key counts uses the two-phase "
    "global scan (|keys|-sized frame, no unpartitioned window); all "
    "sums are exact BIGINTs divided once at the end.",
    tags=("A", "skew", "quality"),
)
def a_key_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_row_number

    counts = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    ranked = global_row_number(counts, ["cnt", "l_partkey"], "rk").localCheckpoint(
        eager=False
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.sum(F.col("rk") * F.col("cnt")).cast("long").alias("wsum"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    top = (
        ranked.crossJoin(F.broadcast(s))
        .filter(
            F.col("rk")
            > F.col("n_keys") - F.floor((F.col("n_keys") + 99) / F.lit(100.0))
        )
        .agg(F.sum("cnt").cast("long").alias("top_cnt"))
    )
    return (
        s.crossJoin(F.broadcast(top))
        .select(
            "n_keys",
            "n_rows",
            "max_cnt",
            pround(
                F.lit(2.0) * F.col("wsum") / (F.col("n_keys") * F.lit(1.0) * F.col("n_rows"))
                - (F.col("n_keys") + 1) * F.lit(1.0) / F.col("n_keys"),
                6,
            ).alias("gini"),
            pround(F.col("top_cnt") * F.lit(1.0) / F.col("n_rows"), 6).alias(
                "top1pct_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Last-touch attribution (purchase ← latest click within 7 days)
# ---------------------------------------------------------------------------


@register(
    "j_lasttouch_attribution",
    oracle="""
    WITH p AS (
        SELECT user_id, event_id, epoch_us(ts) AS us
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, epoch_us(ts) AS us, max(event_id) AS click_id
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    j AS (
        SELECT p.event_id, p.us, c.click_id, c.us AS c_us
        FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.us >= c.us
    ),
    att AS (
        SELECT CASE WHEN click_id IS NOT NULL
                     AND us - c_us <= 604800000000 THEN 1 ELSE 0 END AS ok,
               CASE WHEN click_id IS NOT NULL
                     AND us - c_us <= 604800000000 THEN us - c_us
                    ELSE 0 END AS lat
        FROM j
    )
    SELECT CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(ok) AS BIGINT) AS n_attributed,
           CAST(sum(lat) AS BIGINT) AS sum_latency_us,
           round(CASE WHEN sum(ok) > 0
                      THEN sum(lat) / (sum(ok) * 3600000000.0) END, 6)
               AS avg_latency_hours
    FROM att
    """,
    doc="Last-touch attribution: each purchase is credited to the "
    "user's most recent click no more than 7 days earlier — the "
    "standard marketing-attribution join, expressed as the keyed "
    "backward as-of join (operators/asof.asof_join_backward: tagged "
    "union + carry-forward window, ONE shuffle by user) with the "
    "lookback window as a post-join integer-microsecond filter; "
    "verified against DuckDB's native ASOF JOIN. Clicks sharing "
    "(user, ts) pre-deduplicate to max event_id for determinism. The "
    "latency average divides one exact BIGINT microsecond sum.",
    tags=("J", "asof", "attribution"),
)
def j_lasttouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.asof import asof_join_backward

    ev = t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.expr(_US).alias("us")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.expr(_US).alias("us"), "event_id")
        .groupBy("user_id", "us")
        .agg(F.max("event_id").alias("click_id"))
        .select("user_id", "us", "click_id", F.col("us").alias("c_us"))
    )
    j = asof_join_backward(
        p, c, key="user_id", left_time="us", right_time="us",
        right_value_cols=["click_id", "c_us"],
    )
    ok = F.col("click_id").isNotNull() & (
        (F.col("us") - F.col("c_us")) <= F.lit(604_800_000_000)
    )
    att = j.select(
        F.when(ok, 1).otherwise(0).alias("ok"),
        F.when(ok, F.col("us") - F.col("c_us")).otherwise(F.lit(0)).alias("lat"),
    )
    return att.agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum("ok").cast("long").alias("n_attributed"),
        F.sum("lat").cast("long").alias("sum_latency_us"),
        pround(
            F.when(
                F.sum("ok") > 0,
                F.sum("lat") / (F.sum("ok") * F.lit(3_600_000_000.0)),
            ),
            6,
        ).alias("avg_latency_hours"),
    )
