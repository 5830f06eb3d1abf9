"""Round-3 wave 7: snapshot table diff, growth accounting, seasonality
heatmap on portable epoch arithmetic, and hash-ring negative sampling.

Scale extensions beyond the reference pipeline surface — lakehouse
reconciliation, product analytics, and contrastive-training data prep as
Spark relational algebra with DuckDB oracle twins. Calendar math never
touches engine-specific date functions: day-of-week and hour derive from
integer epoch microseconds ((days+4) mod 7 — 1970-01-01 was a Thursday),
and "week" is the integer epoch-week, so every bucket boundary is a pure
BIGINT expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.plans.common import pround, t
from cicevse2024_tfm_datapipeline_spark.plans.registry import register
from cicevse2024_tfm_datapipeline_spark.plans.wave5 import _US

_DAY_US = 86_400_000_000
_WEEK_US = 7 * _DAY_US


def _md5_mod(expr_sql: str, m: int) -> str:
    """Portable tiny hash: first 8 md5 hex digits as BIGINT, mod m."""
    return f"CAST(('0x' || substr(md5({expr_sql}), 1, 8)) AS BIGINT) % {m}"


def _md5_mod_col(col, m: int):
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % m


# ---------------------------------------------------------------------------
# Snapshot table diff (lakehouse reconciliation)
# ---------------------------------------------------------------------------


@register(
    "u_table_diff",
    oracle=f"""
    WITH a AS (SELECT event_id, value FROM events),
    b AS (
        SELECT event_id,
               CASE WHEN {_md5_mod("'upd|' || CAST(event_id AS VARCHAR)", 89)} = 0
                    THEN value + 10.0 ELSE value END AS value
        FROM events
        WHERE {_md5_mod("'del|' || CAST(event_id AS VARCHAR)", 97)} <> 0
    ),
    d AS (
        SELECT CASE WHEN b.event_id IS NULL THEN 'removed'
                    WHEN a.event_id IS NULL THEN 'added'
                    WHEN a.value <> b.value THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM a FULL OUTER JOIN b USING (event_id)
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_rows
    FROM d GROUP BY status
    """,
    doc="Snapshot table diff — the reconciliation pass lakehouse "
    "pipelines run between two versions of a table: one full-outer join "
    "on the primary key classifying every row added / removed / changed "
    "/ unchanged. Version B is derived in-query by seeded md5 row "
    "selection (~1% deleted, ~1% value-shifted — the hash-keyed "
    "derivation trick from the degradation oracles), so the diff "
    "verdict is fully hash-checkable. One key-partitioned shuffle "
    "join, then a 4-bucket rollup; at 100 TB the join prunes to "
    "(key, row-hash) columns, never full rows.",
    tags=("U", "diff", "lakehouse"),
)
def u_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_id", "value")
    a = ev
    eid_str = F.col("event_id").cast("string")
    b = (
        ev.filter(_md5_mod_col(F.concat(F.lit("del|"), eid_str), 97) != 0)
        .select(
            "event_id",
            F.when(
                _md5_mod_col(F.concat(F.lit("upd|"), eid_str), 89) == 0,
                F.col("value") + 10.0,
            )
            .otherwise(F.col("value"))
            .alias("value"),
        )
    )
    # classify on the keys, not the values: a null value is not a
    # missing row
    d = a.select(F.col("event_id").alias("ka"), F.col("value").alias("va")).join(
        b.select(F.col("event_id").alias("kb"), F.col("value").alias("vb")),
        F.col("ka") == F.col("kb"),
        "full_outer",
    )
    status = (
        F.when(F.col("kb").isNull(), "removed")
        .when(F.col("ka").isNull(), "added")
        .when(F.col("va") != F.col("vb"), "changed")
        .otherwise("unchanged")
    )
    return (
        d.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# Growth accounting (new / retained / resurrected / churned per week)
# ---------------------------------------------------------------------------


@register(
    "a_growth_accounting",
    oracle=f"""
    WITH active AS (
        SELECT DISTINCT user_id, epoch_us(ts) // {_WEEK_US} AS week
        FROM events
    ),
    seq AS (
        SELECT user_id, week,
               lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_w
        FROM active
    ),
    inflow AS (
        SELECT week,
               CAST(sum(CASE WHEN prev_w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_new,
               CAST(sum(CASE WHEN prev_w = week - 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_retained,
               CAST(sum(CASE WHEN prev_w < week - 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_resurrected
        FROM seq GROUP BY week
    ),
    nxt AS (
        SELECT user_id, week,
               lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next_w
        FROM active
    ),
    mx AS (SELECT max(week) AS max_week FROM active),
    churn AS (
        SELECT week + 1 AS week, CAST(count(*) AS BIGINT) AS n_churned
        FROM nxt, mx
        WHERE (next_w IS NULL AND week < max_week) OR next_w > week + 1
        GROUP BY 1
    )
    SELECT i.week, i.n_new, i.n_retained, i.n_resurrected,
           coalesce(c.n_churned, 0) AS n_churned
    FROM inflow i LEFT JOIN churn c USING (week)
    """,
    doc="Growth accounting — the new/retained/resurrected/churned "
    "decomposition product teams reconcile WAU movement with: per "
    "(user, epoch-week) activity, one lag classifies each active week "
    "as new (first ever), retained (active previous week) or "
    "resurrected (returning after a gap); one lead charges churn to "
    "the week AFTER a user's last activity (open-ended trailing weeks "
    "are not churn — the max-week scalar guards the right edge). "
    "Identity: actives(w) = new+retained+resurrected, and "
    "actives(w−1) − retained(w) = churned(w). Two user-partitioned "
    "window passes over the distinct (user, week) frame — both bounded "
    "by activity, not event volume; weeks are integer epoch-week "
    "buckets so no calendar function can disagree.",
    tags=("A", "growth", "retention"),
)
def a_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    active = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            (F.expr(_US) / F.lit(_WEEK_US)).cast("long").alias("week"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    wuser = W.partitionBy("user_id").orderBy("week")
    seq = active.select("user_id", "week", F.lag("week").over(wuser).alias("prev_w"))
    inflow = seq.groupBy("week").agg(
        F.sum(F.when(F.col("prev_w").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("prev_w") == F.col("week") - 1, 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(F.when(F.col("prev_w") < F.col("week") - 1, 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
    )
    nxt = active.select("user_id", "week", F.lead("week").over(wuser).alias("next_w"))
    mx = active.agg(F.max("week").alias("max_week"))
    churn = (
        nxt.crossJoin(F.broadcast(mx))
        .filter(
            (F.col("next_w").isNull() & (F.col("week") < F.col("max_week")))
            | (F.col("next_w") > F.col("week") + 1)
        )
        .groupBy((F.col("week") + 1).alias("week"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_churned"))
    )
    return inflow.join(churn, "week", "left").select(
        "week",
        "n_new",
        "n_retained",
        "n_resurrected",
        F.coalesce(F.col("n_churned"), F.lit(0).cast("long")).alias("n_churned"),
    )


# ---------------------------------------------------------------------------
# Seasonality heatmap (day-of-week × hour) on portable epoch arithmetic
# ---------------------------------------------------------------------------


@register(
    "a_seasonality_heatmap",
    oracle=f"""
    WITH b AS (
        SELECT (epoch_us(ts) // {_DAY_US} + 4) % 7 AS dow,
               (epoch_us(ts) % {_DAY_US}) // 3600000000 AS hour
        FROM events
    ),
    h AS (
        SELECT dow, hour, CAST(count(*) AS BIGINT) AS n
        FROM b GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n) AS total FROM h)
    SELECT CAST(dow AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour, n,
           round(n * 168.0 / total, 6) AS load_factor
    FROM h, tot
    """,
    doc="Seasonality heatmap: event counts per (day-of-week × "
    "hour-of-day) cell with the load factor vs a uniform calendar "
    "(168 cells) — the capacity-planning / anomaly-baseline view. "
    "Day-of-week derives from integer epoch arithmetic ((epoch-days + "
    "4) mod 7; 1970-01-01 was Thursday) and hour from the "
    "microsecond remainder — engine date functions disagree on "
    "week-start conventions, integer division cannot. One "
    "map-side-combined 168-bucket aggregation; the total joins back "
    "as a broadcast scalar.",
    tags=("A", "seasonality", "calendar"),
)
def a_seasonality_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    us = F.expr(_US)
    b = t(spark, sf_dir, "events").select(
        (((us / F.lit(_DAY_US)).cast("long") + 4) % 7).alias("dow"),
        ((us % F.lit(_DAY_US)) / F.lit(3_600_000_000)).cast("long").alias("hour"),
    )
    h = b.groupBy("dow", "hour").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = h.agg(F.sum("n").alias("total"))
    return h.crossJoin(F.broadcast(tot)).select(
        F.col("dow").cast("long").alias("dow"),
        F.col("hour").cast("long").alias("hour"),
        "n",
        pround(F.col("n") * F.lit(168.0) / F.col("total"), 6).alias("load_factor"),
    )


# ---------------------------------------------------------------------------
# Hash-ring negative sampling (contrastive pair generation)
# ---------------------------------------------------------------------------

_N_BUCKETS = 31


@register(
    "sample_negative_pairs",
    oracle=f"""
    WITH bucketed AS (
        SELECT doc_id, {_md5_mod("CAST(doc_id AS VARCHAR)", _N_BUCKETS)} AS bkt
        FROM documents
    ),
    anchors AS (SELECT doc_id AS anchor_id, bkt FROM bucketed WHERE doc_id < 50),
    cand AS (
        SELECT a.anchor_id, b.doc_id AS neg_id,
               CAST(('0x' || substr(md5(CAST(a.anchor_id AS VARCHAR) || '|'
                                        || CAST(b.doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) AS pair_h
        FROM anchors a
        JOIN bucketed b ON b.bkt = (a.bkt + 1 + (a.anchor_id % 3)) % {_N_BUCKETS}
        WHERE b.doc_id <> a.anchor_id
    ),
    ranked AS (
        SELECT anchor_id, neg_id,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY pair_h, neg_id) AS rk
        FROM cand
    )
    SELECT anchor_id, neg_id, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
    doc="Deterministic negative sampling for contrastive training "
    "pairs: docs hash onto a 31-bucket ring, each anchor draws its "
    "candidates from ONE pseudo-random other bucket (offset keyed by "
    "the anchor id), and the 3 winners per anchor are picked by a "
    "pairwise md5 ranking — reproducible on any partitioning and any "
    "engine. The bucket hop makes candidate generation an EQUI-join "
    "(anchors × corpus/31, never anchors × corpus): the same ring "
    "shape at 100 TB keeps negative mining linear in corpus size with "
    "per-anchor work bounded by bucket occupancy. Per-anchor top-3 is "
    "a partitioned window over that bounded candidate set.",
    tags=("sample", "contrastive", "ring"),
)
def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id")
    bucketed = docs.select(
        "doc_id",
        _md5_mod_col(F.col("doc_id").cast("string"), _N_BUCKETS).alias("bkt"),
    )
    anchors = bucketed.filter(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("anchor_id"),
        (
            (F.col("bkt") + 1 + (F.col("doc_id") % 3)) % _N_BUCKETS
        ).alias("want_bkt"),
    )
    cand = (
        F.broadcast(anchors)
        .join(bucketed, anchors.want_bkt == bucketed.bkt)
        .filter(F.col("doc_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            F.col("doc_id").alias("neg_id"),
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("anchor_id").cast("string"),
                            F.lit("|"),
                            F.col("doc_id").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("pair_h"),
        )
    )
    wrk = W.partitionBy("anchor_id").orderBy(F.col("pair_h").asc(), F.col("neg_id").asc())
    return (
        cand.withColumn("rk", F.row_number().over(wrk))
        .filter(F.col("rk") <= 3)
        .select("anchor_id", "neg_id", F.col("rk").cast("long").alias("rk"))
    )
