"""Round-3 wave 13: a deterministic portable HyperLogLog, PMI
collocation extraction, round-robin mixture interleaving, and
mutual-best-match record linkage over LSH candidates.

Scale extensions beyond the reference pipeline surface (no reference
twin; the reference is a single-machine pandas/sklearn TFM pipeline).
The HLL here is NOT Spark's approx_count_distinct (that one is covered
by `a_approx_sketches` with an error-bound contract): it is a from-
scratch md5-register sketch whose every step — bucket choice, leading-
zero rank, register max, harmonic sum — is a deterministic expression
both engines evaluate bit-identically, so the oracle check is an EXACT
hash match on the estimate itself, not a tolerance. The harmonic sum
runs in integer ticks of 2^-49 so summation order cannot perturb it.

Determinism contracts follow the house rules (plans/tpch_suite.py
header): ranks come from integer row numbers or exact-integer division
(a single IEEE division of identical operands is bit-identical across
engines), thresholds compare integers (5·|∩| ≥ |∪| for J ≥ 0.2), and
every emitted float is a ``pround`` of an identically-derived double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.plans.common import pround, t
from cicevse2024_tfm_datapipeline_spark.plans.extensions import (
    BANDS,
    NUM_HASHES,
    _band_sql,
    _sig_sql,
    _TOKS,
)
from cicevse2024_tfm_datapipeline_spark.plans.registry import register


# ---------------------------------------------------------------------------
# Deterministic portable HyperLogLog (m = 256 md5 registers)
# ---------------------------------------------------------------------------

#: 2^49 — the tick scale for the harmonic sum (rho <= 49, so 2^(49-Mj)
#: is an exact BIGINT for every register value)
_TICK = 1 << 49

#: alpha_256 * m^2 * 2^49 folded to ONE double literal so both engines
#: parse the identical bit pattern (repr round-trips exactly)
_HLL_NUM = 0.7213 / (1 + 1.079 / 256.0) * 65536.0 * float(_TICK)


@register(
    "a_hll_deterministic",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS hx FROM events
    ),
    rho AS (
        SELECT substr(hx, 1, 2) AS bucket,
               CASE WHEN regexp_replace(substr(hx, 3, 12), '^0+', '') = ''
                    THEN 49
                    ELSE 4 * (12 - length(regexp_replace(substr(hx, 3, 12), '^0+', '')))
                       + CASE substr(regexp_replace(substr(hx, 3, 12), '^0+', ''), 1, 1)
                             WHEN '1' THEN 3
                             WHEN '2' THEN 2 WHEN '3' THEN 2
                             WHEN '4' THEN 1 WHEN '5' THEN 1
                             WHEN '6' THEN 1 WHEN '7' THEN 1
                             ELSE 0 END
                       + 1
               END AS rho
        FROM h
    ),
    regs AS (SELECT bucket, max(rho) AS mj FROM rho GROUP BY 1),
    sums AS (
        SELECT CAST(sum(CAST(power(2.0, 49 - mj) AS BIGINT)) AS BIGINT)
                   AS ticks_present,
               CAST(count(*) AS BIGINT) AS nb
        FROM regs
    ),
    exact AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events
    ),
    est AS (
        SELECT n_exact, nb,
               CASE WHEN {_HLL_NUM!r} / (ticks_present + (256 - nb) * {_TICK})
                         <= 640.0
                         AND nb < 256
                    THEN 256.0 * ln(256.0 / (256 - nb))
                    ELSE {_HLL_NUM!r} / (ticks_present + (256 - nb) * {_TICK})
               END AS e
        FROM sums, exact
    )
    SELECT n_exact, nb AS n_buckets_hit,
           round(e, 4) AS hll_estimate,
           round(abs(e - n_exact) / n_exact, 4) AS rel_error
    FROM est
    """,
    doc="Deterministic portable HyperLogLog (m = 256) for distinct "
    "user_id: bucket = first md5 byte, rank = leading-zero count of the "
    "next 48 bits + 1 (derived from the HEX STRING — zero-hex-digits x 4 "
    "plus a first-nonzero-nibble case — so no engine-specific bit ops), "
    "register = max rank per bucket, estimate = alpha*m^2 / sum(2^-Mj) "
    "with the standard small-range linear-counting correction. The "
    "harmonic sum runs in exact integer ticks of 2^-49 (2^(49-Mj) is an "
    "exact BIGINT), so summation order cannot perturb it, and the "
    "estimate is ONE division of identical operands — bit-identical "
    "across engines, hence a full hash-matched oracle rather than the "
    "tolerance contract `a_approx_sketches` uses for Spark's native "
    "HLL++. At scale this is one groupBy over 256 register keys after a "
    "map-side distinct — the sketch shape that replaces exact "
    "countDistinct when the key cardinality itself is the data. The "
    "exact count rides along to expose the realized relative error "
    "(theory: ~1.04/sqrt(256) = 6.5%%).",
    tags=("A", "sketch", "hll"),
)
def a_hll_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    h = ev.select(F.md5(F.col("user_id").cast("string")).alias("hx")).distinct()
    hexpart = F.substring(F.col("hx"), 3, 12)
    stripped = F.regexp_replace(hexpart, "^0+", "")
    first = F.substring(stripped, 1, 1)
    extra = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rho = F.when(stripped == "", F.lit(49)).otherwise(
        4 * (F.lit(12) - F.length(stripped)) + extra + 1
    )
    regs = (
        h.select(F.substring("hx", 1, 2).alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("mj"))
    )
    sums = regs.agg(
        F.sum(F.expr("CAST(power(2.0, 49 - mj) AS BIGINT)"))
        .cast("long")
        .alias("ticks_present"),
        F.count(F.lit(1)).cast("long").alias("nb"),
    )
    exact = ev.agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    raw = F.lit(_HLL_NUM) / (
        F.col("ticks_present") + (F.lit(256) - F.col("nb")) * F.lit(_TICK)
    )
    e = F.when(
        (raw <= F.lit(640.0)) & (F.col("nb") < 256),
        F.lit(256.0) * F.log(F.lit(256.0) / (F.lit(256) - F.col("nb"))),
    ).otherwise(raw)
    return (
        sums.crossJoin(F.broadcast(exact))
        .select(
            "n_exact",
            F.col("nb").alias("n_buckets_hit"),
            e.alias("e"),
        )
        .select(
            "n_exact",
            "n_buckets_hit",
            pround(F.col("e"), 4).alias("hll_estimate"),
            pround(F.abs(F.col("e") - F.col("n_exact")) / F.col("n_exact"), 4).alias(
                "rel_error"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PMI collocation extraction (corpus bigram statistics)
# ---------------------------------------------------------------------------

_BIGRAMS_SQL = (
    "CASE WHEN len(toks) >= 2 THEN "
    "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) "
    "ELSE [] END"
)


@register(
    "text_pmi_collocations",
    oracle=f"""
    WITH toksd AS (SELECT {_TOKS} AS toks FROM documents),
    uni AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(toks) AS tok FROM toksd) GROUP BY 1
    ),
    bg AS (
        SELECT bigram, CAST(count(*) AS BIGINT) AS c_ab
        FROM (SELECT unnest({_BIGRAMS_SQL}) AS bigram FROM toksd) GROUP BY 1
    ),
    nt AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uni),
    nbi AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_bigrams FROM bg),
    top AS (
        SELECT bigram, c_ab FROM bg WHERE c_ab >= 5
        ORDER BY c_ab DESC, bigram ASC LIMIT 20
    )
    SELECT t.bigram, t.c_ab,
           ua.c AS c_left, ub.c AS c_right,
           round(log2((t.c_ab * 1.0 / n_bigrams) /
                      ((ua.c * 1.0 / n_tokens) * (ub.c * 1.0 / n_tokens))),
                 4) AS pmi
    FROM top t
    JOIN uni ua ON ua.tok = split_part(t.bigram, ' ', 1)
    JOIN uni ub ON ub.tok = split_part(t.bigram, ' ', 2)
    CROSS JOIN nt CROSS JOIN nbi
    """,
    doc="Pointwise-mutual-information collocation extraction: the 20 "
    "most frequent bigrams (count >= 5, count-then-name ordered so the "
    "cut is exact-integer deterministic) annotated with their PMI "
    "log2(p(ab)/(p(a)p(b))) against the corpus unigram model — the "
    "classic measure separating fixed phrases from chance co-occurrence, "
    "and the collocation signal tokenizer-vocabulary and stop-phrase "
    "decisions use. One tokenize pass feeds both the unigram and bigram "
    "aggregations (the tokenized frame is pinned); the PMI join touches "
    "only the 20 surviving bigrams against the vocabulary-sized unigram "
    "table, and the token totals ride as broadcast scalars. The PMI "
    "double derives from identical integer ratios in both engines; the "
    "4-dp rounding absorbs the engines' log2 last-ulp difference.",
    tags=("text", "pmi", "collocation"),
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.text import (
        tokens_expr,
        word_shingles_expr,
    )
    from cicevse2024_tfm_datapipeline_spark.operators.topk import top_k

    toksd = (
        t(spark, sf_dir, "documents")
        .select(tokens_expr(F.col("text")).alias("toks"))
        .localCheckpoint(eager=False)
    )
    uni = (
        toksd.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    bg = (
        toksd.select(
            F.explode(word_shingles_expr(F.col("toks"), 2)).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    nt = uni.agg(F.sum("c").cast("long").alias("n_tokens"))
    nbi = bg.agg(F.sum("c_ab").cast("long").alias("n_bigrams"))
    top = top_k(
        bg.filter(F.col("c_ab") >= 5),
        [F.desc("c_ab"), F.asc("bigram")],
        20,
    )
    ua = uni.select(F.col("tok").alias("__ta"), F.col("c").alias("c_left"))
    ub = uni.select(F.col("tok").alias("__tb"), F.col("c").alias("c_right"))
    joined = (
        F.broadcast(top)
        .withColumn("__ta", F.split(F.col("bigram"), " ").getItem(0))
        .withColumn("__tb", F.split(F.col("bigram"), " ").getItem(1))
        .join(ua, "__ta")
        .join(ub, "__tb")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nbi))
    )
    pmi = F.log2(
        (F.col("c_ab") * F.lit(1.0) / F.col("n_bigrams"))
        / (
            (F.col("c_left") * F.lit(1.0) / F.col("n_tokens"))
            * (F.col("c_right") * F.lit(1.0) / F.col("n_tokens"))
        )
    )
    return joined.select(
        "bigram", "c_ab", "c_left", "c_right", pround(pmi, 4).alias("pmi")
    )


# ---------------------------------------------------------------------------
# Round-robin mixture interleave (training-order construction)
# ---------------------------------------------------------------------------


@register(
    "sample_interleave_round_robin",
    oracle="""
    WITH r AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents
    ),
    top AS (SELECT * FROM r ORDER BY rn, source LIMIT 100)
    SELECT CAST(row_number() OVER (ORDER BY rn, source) AS BIGINT) AS position,
           doc_id, source, CAST(rn AS BIGINT) AS src_rank
    FROM top
    """,
    doc="Round-robin mixture interleave: rank documents within each "
    "source (ascending doc_id — swap in a quality score in production), "
    "then emit the training order cycle by cycle (rank 1 of every "
    "source, then rank 2, ...) — the deterministic interleave that "
    "spreads every source evenly through a training epoch instead of "
    "concatenating corpora. The per-source rank is a partitioned window; "
    "the first 100 positions come from a TakeOrdered top-k on the total "
    "order (rank, source) — no unpartitioned window — and the global "
    "position is recovered on the 100-row result by the bounded "
    "triangle-join idiom (count of strictly-earlier rows + 1).",
    tags=("sample", "mixture", "interleave"),
)
def sample_interleave_round_robin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.topk import top_k

    r = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.row_number()
        .over(W.partitionBy("source").orderBy("doc_id"))
        .cast("long")
        .alias("rn"),
    )
    top = top_k(r, [F.asc("rn"), F.asc("source")], 100)
    b = top.select(F.col("rn").alias("__brn"), F.col("source").alias("__bs"))
    earlier = (F.col("__brn") < F.col("rn")) | (
        (F.col("__brn") == F.col("rn")) & (F.col("__bs") < F.col("source"))
    )
    return (
        top.join(F.broadcast(b), earlier, "left")
        .groupBy("doc_id", "source", "rn")
        .agg((F.count("__bs") + 1).cast("long").alias("position"))
        .select("position", "doc_id", "source", F.col("rn").alias("src_rank"))
    )


# ---------------------------------------------------------------------------
# Mutual-best-match record linkage across corpus halves
# ---------------------------------------------------------------------------


@register(
    "dedup_mutual_best_match",
    oracle=f"""
    WITH {_sig_sql()},
    bands AS ({_band_sql()}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
    ),
    shx AS (
        SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh
    ),
    hx AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS sh60
        FROM shx
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM hx GROUP BY 1),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS ni
        FROM cand c
        JOIN hx fa ON fa.doc_id = c.doc_a
        JOIN hx fb ON fb.doc_id = c.doc_b AND fb.sh60 = fa.sh60
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT i.doc_a, i.doc_b, i.ni, sa.n AS na, sb.n AS nb,
               i.ni * 1.0 / (sa.n + sb.n - i.ni) AS j
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY doc_a
                                  ORDER BY j DESC, doc_b ASC) AS rk_a,
               row_number() OVER (PARTITION BY doc_b
                                  ORDER BY j DESC, doc_a ASC) AS rk_b
        FROM scored
    )
    SELECT doc_a, doc_b,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(ni AS BIGINT) AS n_inter,
           round(j, 6) AS jaccard
    FROM ranked
    WHERE rk_a = 1 AND rk_b = 1 AND 5 * ni >= na + nb - ni
    """,
    doc="Mutual-best-match record linkage between the even- and odd-id "
    "halves of the corpus (stand-ins for two sources being aligned — "
    "e.g. a raw crawl vs a cleaned republication): MinHash-LSH banding "
    "proposes cross-half candidates (equi-join on band keys, the same "
    "scale shape as the dedup pipeline), exact 3-shingle Jaccard scores "
    "them (per-pair array_intersect on 60-bit shingle keys, no "
    "re-explosion), and a pair survives only if each side is the "
    "other's BEST match (rank 1 in both per-doc orderings — the "
    "stable-marriage-style reciprocity test that kills asymmetric "
    "hub matches) and clears J >= 0.2 as the integer compare "
    "5*|∩| >= |∪|. Both rankings are PARTITIONED windows keyed by "
    "doc id; the Jaccard sort key is one division of exact integers, "
    "bit-identical across engines, with doc-id tiebreaks.",
    tags=("dedup", "linkage", "mutual-best"),
)
def dedup_mutual_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
    )
    from cicevse2024_tfm_datapipeline_spark.operators.text import (
        tokens_expr,
        word_shingles_expr,
    )

    # wide=True: minhash signatures + shingle verify are CPU-dense
    docs = t(spark, sf_dir, "documents", wide=True)
    pairs = lsh_candidate_pairs(docs, "text", "doc_id", NUM_HASHES, BANDS, 3)
    # orient: doc_a = the even-id side, doc_b = the odd-id side; same-
    # parity candidates (within-half duplicates) are out of scope here
    mixed = pairs.filter((F.col("doc_a") % 2) != (F.col("doc_b") % 2))
    cand = mixed.select(
        F.when(F.col("doc_a") % 2 == 0, F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("doc_a"),
        F.when(F.col("doc_a") % 2 == 0, F.col("doc_b"))
        .otherwise(F.col("doc_a"))
        .alias("doc_b"),
    )
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles_expr(tokens_expr(F.col("text")), 3))
        ).alias("s"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("long").alias("sh60"),
    )
    # one sorted-set row per doc; consumed by BOTH join sides — pin it
    sets = (
        sh.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("sh60")).alias("ss"),
            F.count(F.lit(1)).alias("n"),
        )
        .localCheckpoint(eager=False)
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("ss").alias("ss_a"), F.col("n").alias("na")
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("ss").alias("ss_b"), F.col("n").alias("nb")
    )
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("ni", F.size(F.array_intersect("ss_a", "ss_b")).cast("long"))
        # SQL's intersection equi-join never materializes 0-overlap pairs;
        # they cannot win rank 1 over any true overlap and cannot pass the
        # threshold, but dropping them keeps the ranked frames identical
        .filter(F.col("ni") > 0)
        .select("doc_a", "doc_b", "na", "nb", "ni")
        .withColumn(
            "j", F.col("ni") * F.lit(1.0) / (F.col("na") + F.col("nb") - F.col("ni"))
        )
    )
    ranked = scored.withColumn(
        "rk_a",
        F.row_number().over(
            W.partitionBy("doc_a").orderBy(F.desc("j"), F.asc("doc_b"))
        ),
    ).withColumn(
        "rk_b",
        F.row_number().over(
            W.partitionBy("doc_b").orderBy(F.desc("j"), F.asc("doc_a"))
        ),
    )
    return (
        ranked.filter(
            (F.col("rk_a") == 1)
            & (F.col("rk_b") == 1)
            & (5 * F.col("ni") >= F.col("na") + F.col("nb") - F.col("ni"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.col("ni").cast("long").alias("n_inter"),
            pround(F.col("j"), 6).alias("jaccard"),
        )
    )
