"""Round-4 wave 25: multinomial Naive Bayes trained and scored in the
engine, a point-in-time feature-store training matrix (leakage-free
as-of assembly), and deterministic k-means++ (D²-weighted) seeding.

Scale extensions beyond the reference pipeline surface. House rules:
1e-4/1e-6 integer ticks before summation, per-doc windows partitioned by
the document key, global argmaxes via scalar aggregate + equality join
(never an unpartitioned window), md5-derived pseudo-randomness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.plans.common import t
from cicevse2024_tfm_datapipeline_spark.plans.extensions import _TOKS
from cicevse2024_tfm_datapipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Multinomial Naive Bayes language classifier
# ---------------------------------------------------------------------------


@register(
    "ml_naive_bayes_classify",
    oracle=f"""
    WITH toksd AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    inst AS (SELECT doc_id, lang, unnest(toks) AS term FROM toksd),
    train AS (SELECT * FROM inst WHERE doc_id % 3 <> 0),
    lm AS (
        SELECT lang, term, CAST(count(*) AS BIGINT) AS c
        FROM train GROUP BY 1, 2
    ),
    lt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tot FROM lm GROUP BY 1),
    vocab AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM train),
    prior AS (
        SELECT lang,
               CAST(floor(-ln(CAST(count(DISTINCT doc_id) AS DOUBLE)
                              / (SELECT count(DISTINCT doc_id) FROM train))
                          * 10000 + 0.5) AS BIGINT) AS prior_ticks
        FROM train GROUP BY lang
    ),
    test AS (SELECT doc_id, lang AS true_lang, term FROM inst
             WHERE doc_id % 3 = 0),
    scored AS (
        SELECT te.doc_id, te.true_lang, lt.lang AS cand,
               CAST(sum(CAST(floor(-ln((coalesce(lm.c, 0) + 1.0)
                                       / (lt.tot + vocab.v))
                                   * 10000 + 0.5) AS BIGINT)) AS BIGINT)
                   AS nll_sum
        FROM test te
        CROSS JOIN lt CROSS JOIN vocab
        LEFT JOIN lm ON lm.lang = lt.lang AND lm.term = te.term
        GROUP BY te.doc_id, te.true_lang, lt.lang, lt.tot, vocab.v
    ),
    total AS (
        SELECT s.doc_id, s.true_lang, s.cand,
               s.nll_sum + p.prior_ticks AS score
        FROM scored s JOIN prior p ON p.lang = s.cand
    ),
    pred AS (
        SELECT doc_id, true_lang, cand AS pred_lang FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score ASC, cand ASC) AS rn
            FROM total) WHERE rn = 1
    )
    SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
    """,
    doc="Multinomial Naive Bayes trained AND scored in the engine: "
    "per-language Laplace-smoothed unigram likelihoods from the train "
    "slice (doc_id%3<>0), 1e-4-ticked per-token negative log-"
    "likelihoods summed as exact BIGINTs, priors from document counts, "
    "argmin per held-out document via a doc-partitioned window with a "
    "language tiebreak — the generative sibling of the fasttext-style "
    "discriminative filter (text_quality_linear_classifier). Result is "
    "the full confusion matrix on the held-out slice. The model is a "
    "(vocab x languages) count table — a broadcast; scoring is one "
    "token-instance join + per-doc aggregation, linear at any corpus "
    "size.",
    tags=("ml", "naive_bayes", "text"),
)
def ml_naive_bayes_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.text import tokens_expr

    docs = t(spark, sf_dir, "documents")
    inst = docs.select(
        "doc_id", "lang", F.explode(tokens_expr("text")).alias("term")
    )
    train = inst.filter(F.col("doc_id") % 3 != 0)
    lm = train.groupBy("lang", "term").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    lt = lm.groupBy("lang").agg(F.sum("c").cast("long").alias("tot"))
    vocab = train.agg(F.countDistinct("term").cast("long").alias("v"))
    n_train_docs = train.agg(
        F.countDistinct("doc_id").cast("long").alias("nd")
    )
    prior = (
        train.groupBy("lang")
        .agg(F.countDistinct("doc_id").cast("long").alias("nl"))
        .crossJoin(F.broadcast(n_train_docs))
        .select(
            "lang",
            F.floor(
                -F.log(F.col("nl").cast("double") / F.col("nd")) * 10000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("prior_ticks"),
        )
    )
    test = inst.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.col("lang").alias("true_lang"), "term"
    )
    cand = lt.crossJoin(F.broadcast(vocab))  # (lang, tot, v) — 5 rows
    nll = F.floor(
        -F.log((F.coalesce(F.col("c"), F.lit(0)) + 1.0) / (F.col("tot") + F.col("v")))
        * 10000
        + F.lit(0.5)
    ).cast("long")
    lm2 = lm.select(
        F.col("lang").alias("__ml"), F.col("term").alias("__mt"), "c"
    )
    scored = (
        test.crossJoin(F.broadcast(cand))
        .join(
            F.broadcast(lm2),
            (F.col("__ml") == F.col("lang")) & (F.col("__mt") == F.col("term")),
            "left",
        )
        .select("doc_id", "true_lang", F.col("lang").alias("cand"), nll.alias("t"))
        .groupBy("doc_id", "true_lang", "cand")
        .agg(F.sum("t").cast("long").alias("nll_sum"))
    )
    total = scored.join(
        F.broadcast(prior.withColumnRenamed("lang", "cand")), "cand"
    ).select(
        "doc_id",
        "true_lang",
        "cand",
        (F.col("nll_sum") + F.col("prior_ticks")).alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.asc("score"), F.asc("cand"))
    pred = (
        total.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("cand").alias("pred_lang"))
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


# ---------------------------------------------------------------------------
# Point-in-time feature-store training matrix
# ---------------------------------------------------------------------------


@register(
    "j_feature_store_pit_matrix",
    oracle="""
    WITH labels AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ),
    views AS (
        SELECT user_id, ts, max(CAST(floor(value) AS BIGINT)) AS last_view
        FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ),
    clicks0 AS (
        SELECT user_id, ts, count(*) AS c
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    clicks AS (
        SELECT user_id, ts,
               CAST(sum(c) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum_clicks
        FROM clicks0
    ),
    f1 AS (
        SELECT l.event_id, l.user_id, v.last_view
        FROM labels l ASOF LEFT JOIN views v
          ON l.user_id = v.user_id AND l.ts >= v.ts
    ),
    f2 AS (
        SELECT l.event_id, c.cum_clicks
        FROM labels l ASOF LEFT JOIN clicks c
          ON l.user_id = c.user_id AND l.ts >= c.ts
    )
    SELECT f1.user_id,
           CAST(count(*) AS BIGINT) AS n_labels,
           CAST(sum(coalesce(f1.last_view, -1)) AS BIGINT) AS sum_last_view,
           CAST(sum(coalesce(f2.cum_clicks, 0)) AS BIGINT) AS sum_cum_clicks
    FROM f1 JOIN f2 USING (event_id)
    GROUP BY f1.user_id
    """,
    doc="Point-in-time feature-store assembly — the leakage-free "
    "training-matrix join every ML feature platform performs: for each "
    "label event (purchases), attach (a) the last 'view' value at or "
    "before the label time and (b) the user's cumulative click count "
    "up to the label time, both via the keyed backward as-of join "
    "(operators/asof.asof_join_backward: tagged union + carry-forward "
    "window, one shuffle per feature, no per-group Python). Features "
    "computed at any time later than the label CANNOT leak by "
    "construction. Verified against DuckDB's native ASOF JOIN; the "
    "per-user sums make the matrix hash-checkable.",
    tags=("J", "asof", "feature_store"),
)
def j_feature_store_pit_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.asof import asof_join_backward

    ev = t(spark, sf_dir, "events")
    labels = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max(F.floor("value").cast("long")).alias("last_view"))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "user_id",
            "ts",
            F.sum("c")
            .over(
                W.partitionBy("user_id")
                .orderBy("ts")
                .rowsBetween(W.unboundedPreceding, 0)
            )
            .cast("long")
            .alias("cum_clicks"),
        )
    )
    f1 = asof_join_backward(
        labels, views, key="user_id", left_time="ts", right_time="ts",
        right_value_cols=["last_view"],
    ).select("event_id", "user_id", "last_view")
    f2 = asof_join_backward(
        labels, clicks, key="user_id", left_time="ts", right_time="ts",
        right_value_cols=["cum_clicks"],
    ).select(F.col("event_id").alias("eid2"), "cum_clicks")
    return (
        f1.join(f2, f1.event_id == f2.eid2)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_labels"),
            F.sum(F.coalesce("last_view", F.lit(-1))).cast("long").alias(
                "sum_last_view"
            ),
            F.sum(F.coalesce("cum_clicks", F.lit(0))).cast("long").alias(
                "sum_cum_clicks"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic k-means++ (D²-weighted) seeding
# ---------------------------------------------------------------------------

_KPP_ROUNDS = 3  # seeds picked after the md5-argmin start


def _kpp_u_sql(vid: str, r: int) -> str:
    return (
        f"(('0x' || substr(md5('kpp{r}|' || CAST({vid} AS VARCHAR)), 1, 8))"
        f"::BIGINT % 1000000) + 1"
    )


@register(
    "ml_kmeanspp_seeding",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    h AS (
        SELECT vec_id, v,
               ('0x' || substr(md5('kpp0|' || CAST(vec_id AS VARCHAR)), 1, 8))
                   ::BIGINT AS h0
        FROM e
    ),
    s0 AS (SELECT vec_id, v FROM h ORDER BY h0, vec_id LIMIT 1),
    d1 AS (
        SELECT e.vec_id, e.v,
               CAST(floor(list_reduce(list_transform(range(1, len(e.v) + 1),
                       i -> (e.v[i] - s0.v[i]) * (e.v[i] - s0.v[i])),
                       (x, y) -> x + y) * 1000000 + 0.5) AS BIGINT) AS d2t
        FROM e CROSS JOIN s0 WHERE e.vec_id <> s0.vec_id
    ),
    w1 AS (SELECT *, d2t * {_kpp_u_sql("vec_id", 1)} AS wt FROM d1),
    s1 AS (SELECT vec_id, v FROM w1 ORDER BY wt DESC, vec_id ASC LIMIT 1),
    d2 AS (
        SELECT w1.vec_id, w1.v,
               least(w1.d2t,
                   CAST(floor(list_reduce(list_transform(range(1, len(w1.v) + 1),
                           i -> (w1.v[i] - s1.v[i]) * (w1.v[i] - s1.v[i])),
                           (x, y) -> x + y) * 1000000 + 0.5) AS BIGINT)) AS d2t
        FROM w1 CROSS JOIN s1 WHERE w1.vec_id <> s1.vec_id
    ),
    w2 AS (SELECT *, d2t * {_kpp_u_sql("vec_id", 2)} AS wt FROM d2),
    s2 AS (SELECT vec_id, v FROM w2 ORDER BY wt DESC, vec_id ASC LIMIT 1),
    d3 AS (
        SELECT w2.vec_id,
               least(w2.d2t,
                   CAST(floor(list_reduce(list_transform(range(1, len(w2.v) + 1),
                           i -> (w2.v[i] - s2.v[i]) * (w2.v[i] - s2.v[i])),
                           (x, y) -> x + y) * 1000000 + 0.5) AS BIGINT)) AS d2t
        FROM w2 CROSS JOIN s2 WHERE w2.vec_id <> s2.vec_id
    )
    SELECT (SELECT vec_id FROM s0) AS seed0,
           (SELECT vec_id FROM s1) AS seed1,
           (SELECT vec_id FROM s2) AS seed2,
           CAST(count(*) AS BIGINT) AS n_rest,
           CAST(sum(d2t) AS BIGINT) AS potential_ticks
    FROM d3
    """,
    doc="Deterministic k-means++ seeding: the first seed is the md5-"
    "argmin vector; each next seed is the argmax of (min squared "
    "distance to chosen seeds, 1e-6-ticked) x (md5-uniform weight) — "
    "the D^2-weighted sampling of Arthur & Vassilvitskii 2007 with the "
    "random draw replaced by a keyed hash, so the seed set is "
    "reproducible on any partitioning and any engine. Each round is "
    "one broadcast of the chosen seed + one scan computing running "
    "min-D^2 (the standard distributed kmeans|| shape); the global "
    "argmax is a scalar aggregate + equality subquery, never an "
    "unpartitioned window. Output pins the three seeds and the "
    "remaining clustering potential (exact tick sum) — the quantity "
    "kmeans|| oversampling bounds.",
    tags=("ml", "kmeans", "seeding"),
)
def ml_kmeanspp_seeding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.similarity import (
        as_double_array,
    )

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )

    def md5_long(prefix: str) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix), F.col("vec_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")

    def sqdist(a, b) -> F.Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def argopt(df: DataFrame, key_col: str, asc: bool, tie_col: str = "vec_id"):
        """Global arg-min/max with a deterministic tiebreak via scalar
        aggregate + equality join (no unpartitioned window)."""
        if asc:
            best = df.agg(F.min(F.struct(F.col(key_col), F.col(tie_col))).alias("b"))
        else:
            best = df.agg(
                F.max(F.struct(F.col(key_col), (-F.col(tie_col)).alias(tie_col))).alias(
                    "b"
                )
            )
        joined = df.crossJoin(F.broadcast(best))
        if asc:
            cond = (F.col(key_col) == F.col("b").getField(key_col)) & (
                F.col(tie_col) == F.col("b").getField(tie_col)
            )
        else:
            cond = (F.col(key_col) == F.col("b").getField(key_col)) & (
                -F.col(tie_col) == F.col("b").getField(tie_col)
            )
        return joined.filter(cond).drop("b")

    h = emb.select("vec_id", "v", md5_long("kpp0|").alias("h0"))
    s0 = argopt(h, "h0", asc=True).select(
        F.col("vec_id").alias("sid"), F.col("v").alias("sv")
    ).localCheckpoint(eager=False)
    d1 = (
        emb.crossJoin(F.broadcast(s0))
        .filter(F.col("vec_id") != F.col("sid"))
        .select(
            "vec_id",
            "v",
            F.floor(sqdist(F.col("v"), F.col("sv")) * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("d2t"),
        )
    ).localCheckpoint(eager=False)
    seeds = [s0]
    cur = d1
    for r in (1, 2):
        w = cur.withColumn("wt", F.col("d2t") * (md5_long(f"kpp{r}|") % 1000000 + 1))
        sr = argopt(w, "wt", asc=False).select(
            F.col("vec_id").alias("sid"), F.col("v").alias("sv")
        ).localCheckpoint(eager=False)
        seeds.append(sr)
        cur = (
            cur.crossJoin(F.broadcast(sr))
            .filter(F.col("vec_id") != F.col("sid"))
            .select(
                "vec_id",
                "v",
                F.least(
                    F.col("d2t"),
                    F.floor(sqdist(F.col("v"), F.col("sv")) * 1000000 + F.lit(0.5))
                    .cast("long"),
                ).alias("d2t"),
            )
        ).localCheckpoint(eager=False)
    rest = cur.agg(
        F.count(F.lit(1)).cast("long").alias("n_rest"),
        F.sum("d2t").cast("long").alias("potential_ticks"),
    )
    sids = [
        s.select(F.col("sid").alias(f"seed{i}")) for i, s in enumerate(seeds)
    ]
    out = sids[0].crossJoin(F.broadcast(sids[1])).crossJoin(F.broadcast(sids[2]))
    return out.crossJoin(F.broadcast(rest)).select(
        "seed0", "seed1", "seed2", "n_rest", "potential_ticks"
    )
