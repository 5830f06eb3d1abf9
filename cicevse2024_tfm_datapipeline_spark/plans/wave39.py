"""Round-4 wave 39: PERMISSIVE CSV ingestion with corrupt-record
quarantine accounting, dynamic partition overwrite semantics, and a
bitemporal as-known-at reconstruction over a corrections log.

Scale extensions beyond the reference pipeline surface. House rules:
every sink/ingest query derives its expected answer analytically from
the immutable source tables (the oracle never touches the scratch
files), malformation/correction rules are deterministic id functions,
and all checksums are exact integer sums.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.plans.common import t
from cicevse2024_tfm_datapipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# PERMISSIVE CSV quarantine
# ---------------------------------------------------------------------------

_Q_MAX_ID = 500


@register(
    "s18_csv_quarantine_permissive",
    oracle=f"""
    WITH src AS (SELECT * FROM documents WHERE doc_id < {_Q_MAX_ID}),
    marked AS (
        SELECT doc_id, n_chars, source,
               CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END AS bad
        FROM src
    )
    SELECT CAST(sum(1 - bad) AS BIGINT) AS n_clean,
           CAST(sum(bad) AS BIGINT) AS n_quarantined,
           CAST(sum(CASE WHEN bad = 0 THEN doc_id ELSE 0 END) AS BIGINT)
               AS sum_ids_clean,
           CAST(sum(CASE WHEN bad = 0 THEN n_chars ELSE 0 END) AS BIGINT)
               AS sum_chars_clean
    FROM marked
    """,
    doc="PERMISSIVE-mode CSV ingestion with corrupt-record quarantine: "
    "the query materializes a CSV extract in which every 10th row "
    "carries a non-numeric value in a typed column (a deterministic id "
    "rule), reads it back with an explicit schema + "
    "columnNameOfCorruptRecord, and accounts for the split — clean "
    "rows must reconstruct the exact id/char checksums, quarantined "
    "rows must be exactly the planted ones. The oracle derives the "
    "expected split analytically from the immutable source, so the "
    "whole write-read-quarantine path is hash-verified. This is the "
    "ingestion posture a production lake uses for third-party feeds: "
    "never drop silently, never fail the job — route to quarantine "
    "and count.",
    tags=("S", "source", "quality"),
)
def s18_csv_quarantine_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.plans.rows_only import SCRATCH

    path = os.path.join(SCRATCH, "csv_quarantine")
    src = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _Q_MAX_ID)
        .select("doc_id", "n_chars", "source")
    )
    line = F.concat_ws(
        ",",
        F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.lit("x"), F.col("n_chars").cast("string")),
        ).otherwise(F.col("n_chars").cast("string")),
        F.col("source"),
    )
    src.select(line.alias("value")).repartition(4).write.mode("overwrite").text(
        path
    )
    schema = "doc_id LONG, n_chars LONG, source STRING, _corrupt STRING"
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    is_bad = F.col("_corrupt").isNotNull()
    return back.agg(
        F.sum((~is_bad).cast("int")).cast("long").alias("n_clean"),
        F.sum(is_bad.cast("int")).cast("long").alias("n_quarantined"),
        F.sum(F.when(~is_bad, F.col("doc_id")).otherwise(0))
        .cast("long")
        .alias("sum_ids_clean"),
        F.sum(F.when(~is_bad, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("sum_chars_clean"),
    )


# ---------------------------------------------------------------------------
# Dynamic partition overwrite
# ---------------------------------------------------------------------------


@register(
    "s19_dynamic_partition_overwrite",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN source = 'src1' THEN n_chars + 1000
                         ELSE n_chars END) AS BIGINT) AS sum_chars,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids
    FROM documents
    WHERE source IN ('src0', 'src1', 'src2', 'src3')
    GROUP BY source
    """,
    doc="Dynamic partition overwrite (INSERT OVERWRITE ... PARTITION "
    "semantics): the lake is written partitioned by source, then ONE "
    "partition (src1) is rewritten with transformed rows (n_chars + "
    "1000) under partitionOverwriteMode=dynamic — the write must "
    "replace exactly the partitions present in the incoming frame and "
    "leave every other directory untouched. The read-back per-source "
    "checksums prove both halves: src1 reflects the transform, "
    "src0/2/3 still match the original. This is the idempotent "
    "backfill primitive every partitioned 100 TB lake relies on "
    "(rerun one day/source without touching the rest).",
    tags=("S", "partitioning", "sink"),
)
def s19_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.plans.rows_only import SCRATCH

    lake = os.path.join(SCRATCH, "dyn_overwrite_lake")
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars", "source")
    docs.write.mode("overwrite").partitionBy("source").parquet(lake)
    patched = (
        docs.filter(F.col("source") == "src1")
        .withColumn("n_chars", F.col("n_chars") + 1000)
    )
    # the per-write option beats the session conf, which stays untouched
    (
        patched.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("source")
        .parquet(lake)
    )
    back = spark.read.parquet(lake).filter(
        F.col("source").isin("src0", "src1", "src2", "src3")
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
    )


# ---------------------------------------------------------------------------
# Bitemporal as-known-at reconstruction
# ---------------------------------------------------------------------------


@register(
    "w_bitemporal_asof",
    oracle="""
    WITH facts AS (
        SELECT o_orderkey AS k,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(o_orderdate AS DATE) AS txn
        FROM orders
    ),
    bounds AS (SELECT max(txn) AS mx FROM facts),
    corrections AS (
        SELECT k, cents + 50000 AS cents, txn + 30 AS txn
        FROM facts WHERE k % 7 = 0
    ),
    log_t AS (
        SELECT k, cents, txn, 0 AS is_corr FROM facts
        UNION ALL
        SELECT k, cents, txn, 1 AS is_corr FROM corrections
    ),
    cuts AS (
        SELECT 'early' AS label, mx - 45 AS cut FROM bounds
        UNION ALL
        SELECT 'latest', mx + 30 FROM bounds
    ),
    visible AS (
        SELECT c.label, l.k, l.cents, l.is_corr,
               row_number() OVER (PARTITION BY c.label, l.k
                                  ORDER BY l.txn DESC, l.is_corr DESC) AS rn
        FROM log_t l JOIN cuts c ON l.txn <= c.cut
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_orders_visible,
           CAST(sum(is_corr) AS BIGINT) AS n_corrected_effective,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM visible WHERE rn = 1
    GROUP BY label
    """,
    doc="Bitemporal as-known-at reconstruction: the order log plus a "
    "deterministic corrections stream (every 7th order restated +$500 "
    "thirty days later) queried at two transaction-time cutoffs — "
    "'early' (45 days before the horizon: late orders invisible, most "
    "corrections not yet posted) and 'latest' (everything known). Per "
    "cutoff, each key's effective row is its latest posting with "
    "txn <= cutoff; the output proves both axes move independently "
    "(visible-row count follows the fact axis, corrected count follows "
    "the correction axis). The per-(cutoff, key) latest-posting pick "
    "is a partitioned rank over the keyed log — the same MERGE-free "
    "reconstruction SCD2/CDC consumers run, now with two time axes. "
    "Exact integer cents throughout.",
    tags=("window", "temporal", "cdc"),
)
def w_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    facts = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias(
            "cents"
        ),
        F.col("o_orderdate").cast("date").alias("txn"),
    )
    bounds = facts.agg(F.max("txn").alias("mx"))
    corrections = facts.filter(F.col("k") % 7 == 0).select(
        "k",
        (F.col("cents") + 50000).alias("cents"),
        F.date_add(F.col("txn"), 30).alias("txn"),
    )
    log_t = facts.select("k", "cents", "txn", F.lit(0).alias("is_corr")).unionAll(
        corrections.select("k", "cents", "txn", F.lit(1).alias("is_corr"))
    )
    cuts = bounds.select(
        F.lit("early").alias("label"), F.date_add(F.col("mx"), -45).alias("cut")
    ).unionAll(
        bounds.select(F.lit("latest"), F.date_add(F.col("mx"), 30))
    )
    visible = log_t.join(F.broadcast(cuts), F.col("txn") <= F.col("cut"))
    w = Window.partitionBy("label", "k").orderBy(
        F.desc("txn"), F.desc("is_corr")
    )
    latest = visible.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return latest.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders_visible"),
        F.sum("is_corr").cast("long").alias("n_corrected_effective"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
