"""Wave D: LLM-training-data pipeline extensions (SURVEY §7.1 step 6) —
deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity
search (brute-force + bucketed ANN), text analysis, multimodal metadata.

Oracle-parity notes:
- all content hashing is md5-hex (identical across engines);
- MinHash = lexicographic min of seeded md5 hex strings (portable, no
  int conversion);
- DuckDB ``regexp_replace`` needs the 'g' flag to match Spark's
  replace-all semantics;
- dot products are sequential folds on both sides → bit-identical sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from cicevse2024_tfm_datapipeline_spark.operators.similarity import (
    brute_force_topk,
    bucketed_topk,
    ivf_topk,
    near_dup_pairs_cosine,
)
from cicevse2024_tfm_datapipeline_spark.operators.text import (
    LANG_PROFILES,
    fingerprint_expr,
    langid_expr,
    quality_score_expr,
    token_count_bpe_ish_expr,
    tokens_expr,
)
from cicevse2024_tfm_datapipeline_spark.plans.common import t, pround
from cicevse2024_tfm_datapipeline_spark.plans.registry import register

# shared DuckDB token expression (keep in lockstep with text.tokens_expr)
_TOKS = r"list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"
_SHINGLES3 = (
    "CASE WHEN len(toks) >= 3 THEN "
    "list_transform(range(1, len(toks) - 1), i -> array_to_string(list_slice(toks, i, i + 2), ' ')) "
    "ELSE [] END"
)

NUM_HASHES = 8
BANDS = 4


def _sig_sql(src: str = "documents") -> str:
    """DuckDB CTE chain producing doc_id + mh_0..mh_7 signatures (slices
    of the 64-hex sha-256 digest — keep in lockstep with
    operators.dedup.minhash_signatures). ``src`` lets composed pipelines
    sign a filtered CTE instead of the raw table."""
    sig_cols = ", ".join(
        f"list_min(list_transform(hashed, h -> substr(h, {i * 8 + 1}, 8))) AS mh_{i}"
        for i in range(NUM_HASHES)
    )
    return f"""
    toksd AS (SELECT doc_id, {_TOKS} AS toks FROM {src}),
    sh AS (SELECT doc_id, {_SHINGLES3} AS shingles FROM toksd),
    hd AS (SELECT doc_id, list_transform(shingles, s -> sha256(s)) AS hashed FROM sh),
    sig AS (SELECT doc_id, {sig_cols} FROM hd)
    """


@register(
    "dedup_exact_group_sizes",
    oracle="""
    SELECT group_size, count(*) AS n_groups
    FROM (SELECT md5(text) AS h, count(*) AS group_size FROM documents GROUP BY h)
    GROUP BY group_size
    """,
    doc="Exact dedup: content-digest hash-groupBy histogram — one uniform "
    "shuffle on md5(text), no skew, linear at 100 TB.",
    tags=("dedup",),
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    groups = docs.groupBy(F.md5("text").alias("h")).agg(F.count(F.lit(1)).alias("group_size"))
    return groups.groupBy("group_size").agg(F.count(F.lit(1)).alias("n_groups"))


@register(
    "dedup_exact_survivors",
    oracle="""
    WITH keep AS (SELECT md5(text) AS h, min(doc_id) AS doc_id FROM documents GROUP BY 1)
    SELECT count(*) AS n_kept, CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
    FROM documents d JOIN keep k ON d.doc_id = k.doc_id
    """,
    doc="Exact dedup survivors: smallest doc_id per digest via "
    "groupBy + left-semi join (deterministic survivor pick).",
    tags=("dedup",),
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    kept = exact_dedup(docs, "text", "doc_id")
    return kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@register(
    "dedup_minhash_signature_stats",
    oracle=f"""
    WITH {_sig_sql()},
    stacked AS (
        {" UNION ALL ".join(f"SELECT {i} AS seed, mh_{i} AS sig FROM sig" for i in range(NUM_HASHES))}
    )
    SELECT seed, count(DISTINCT sig) AS n_distinct, min(sig) AS min_sig, max(sig) AS max_sig
    FROM stacked GROUP BY seed
    """,
    doc="MinHash signatures (H=8, 3-word shingles): per-seed distinct/min/"
    "max over all docs. Signature = lexicographic min of 32-bit slices of "
    "the per-shingle sha-256 hex digest — per-row array expressions, zero "
    "shuffle, ONE hash call per shingle.",
    tags=("dedup", "minhash"),
)
def dedup_minhash_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "text", "doc_id", NUM_HASHES, 3)
    stacked = sigs.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("seed"), F.col(f"mh_{i}").alias("sig"))
                    for i in range(NUM_HASHES)
                ]
            )
        ).alias("s")
    ).select("s.seed", "s.sig")
    return stacked.groupBy("seed").agg(
        F.countDistinct("sig").alias("n_distinct"),
        F.min("sig").alias("min_sig"),
        F.max("sig").alias("max_sig"),
    )


def _band_sql() -> str:
    r = NUM_HASHES // BANDS
    selects = []
    for b in range(BANDS):
        parts = " || '|' || ".join(f"mh_{b * r + j}" for j in range(r))
        selects.append(f"SELECT doc_id, {b} AS band_idx, md5({parts}) AS band_key FROM sig")
    return " UNION ALL ".join(selects)


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH {_sig_sql()},
    bands AS ({_band_sql()})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
    WHERE a.doc_id < b.doc_id
    """,
    doc="MinHash-LSH banding (4 bands × 2 rows): candidate near-dup pairs "
    "via self-equi-join on (band_idx, band_key) — the only shuffle; "
    "uniform md5 band keys, candidates ≪ n².",
    tags=("dedup", "minhash", "lsh"),
)
def dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # wide=True: the minhash signature computation (shingle + 8 hash
    # folds per doc) is the CPU-dense narrow stage
    docs = t(spark, sf_dir, "documents", wide=True)
    return lsh_candidate_pairs(docs, "text", "doc_id", NUM_HASHES, BANDS, 3)


@register(
    "dedup_lsh_components",
    oracle=f"""
    WITH RECURSIVE {_sig_sql()},
    bands AS ({_band_sql()}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        WHERE a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
    )
    SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
    """,
    doc="Fuzzy-dedup CLUSTERS: transitive closure of the LSH candidate "
    "pairs via Pregel-style min-label propagation (component label = "
    "smallest member id). The last mile of near-dup dedup — duplicates "
    "chain (A~B~C without A~C), so survivor selection needs components, "
    "not pairs. Each round = one edge⋈label shuffle join + min-groupBy; "
    "rounds = graph diameter (2-4 for near-dup quasi-cliques). Oracle = "
    "DuckDB recursive CTE over the same band-key pair SQL.",
    tags=("dedup", "lsh", "graph"),
)
def dedup_lsh_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.dedup import connected_components

    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, "text", "doc_id", NUM_HASHES, BANDS, 3)
    return connected_components(pairs, "doc_a", "doc_b")


@register(
    "dedup_fuzzy_survivors",
    oracle=f"""
    WITH RECURSIVE {_sig_sql()},
    bands AS ({_band_sql()}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        WHERE a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
    ),
    comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
    removed AS (SELECT node FROM comp WHERE node != component)
    SELECT d.source, count(*) AS n_docs,
           CAST(sum(d.doc_id) AS BIGINT) AS sum_ids,
           CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM removed)
    GROUP BY d.source
    """,
    doc="END-TO-END fuzzy dedup: LSH candidate pairs → connected "
    "components → one survivor per cluster (min-id member) + all "
    "singletons, as a corpus anti-join against the edge-bounded removed "
    "set (duplicate members only — AQE broadcasts it when small). The "
    "full corpus-dedup pipeline a training run actually executes; "
    "per-source survivor aggregates prove the composition end to end.",
    tags=("dedup", "lsh", "graph", "anti-join"),
)
def dedup_fuzzy_survivors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.dedup import (
        fuzzy_dedup_survivors,
    )

    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, "text", "doc_id", NUM_HASHES, BANDS, 3)
    kept = fuzzy_dedup_survivors(docs, pairs, "doc_id")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@register(
    "sample_weighted_by_length",
    oracle="""
    WITH keyed AS (
        SELECT source, doc_id, n_chars,
               ln((('0x' || substr(md5('11|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   + 0.5) / 4294967296.0) / n_chars AS k
        FROM documents
    ),
    ranked AS (
        SELECT source, doc_id, n_chars,
               row_number() OVER (ORDER BY k DESC, doc_id ASC) AS rn
        FROM keyed
    )
    SELECT source, count(*) AS n_rows,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM ranked WHERE rn <= 120
    GROUP BY source
    """,
    doc="Weighted sampling without replacement (Efraimidis–Spirakis "
    "A-Res): key = ln(u)/weight with md5-derived deterministic uniforms, "
    "top-n keys kept — inclusion probability ∝ document length, i.e. "
    "uniform over TOKENS (the token-budget corpus subsample). Selection "
    "is TakeOrderedAndProject (per-partition heaps, no global sort, no "
    "unpartitioned window); the draw is a pure function of (seed, id), "
    "partitioning-independent and fully SQL-reproducible.",
    tags=("sampling", "weighted"),
)
def sample_weighted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.sampling import (
        weighted_sample_n,
    )

    docs = t(spark, sf_dir, "documents")
    kept = weighted_sample_n(docs, "n_chars", "doc_id", 120, seed=11)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@register(
    "text_repetition_signals",
    oracle=f"""
    WITH toksd AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    grams AS (
        SELECT doc_id, toks,
               CASE WHEN len(toks) >= 2 THEN
                 list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
               ELSE [] END AS bigrams
        FROM toksd
    ),
    word_counts AS (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS tok FROM grams) GROUP BY doc_id, tok
    ),
    bigram_counts AS (
        SELECT doc_id, bg, count(*) AS c
        FROM (SELECT doc_id, unnest(bigrams) AS bg FROM grams) GROUP BY doc_id, bg
    ),
    word_stats AS (
        SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_types, max(c) AS top_word
        FROM word_counts GROUP BY doc_id
    ),
    bigram_stats AS (
        SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bigram
        FROM bigram_counts GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(w.n_tokens AS BIGINT) AS n_tokens,
           round(w.n_types * 1.0 / w.n_tokens, 6) AS type_token_ratio,
           round(w.top_word * 1.0 / w.n_tokens, 6) AS top_word_frac,
           round(coalesce(b.top_bigram * 1.0 / b.n_bigrams, 0.0), 6) AS top_bigram_frac
    FROM word_stats w LEFT JOIN bigram_stats b ON w.doc_id = b.doc_id
    """,
    doc="Gopher-style repetition/quality signals per document: type-token "
    "ratio, most-frequent-word fraction, most-frequent-bigram fraction — "
    "the repetition rules LLM corpus cleaning applies before training. "
    "One explode + two-level groupBy per signal family; all counting is "
    "map-side combinable, keys are (doc_id, gram) — uniform, no skew.",
    tags=("text", "quality", "repetition"),
)
def text_repetition_signals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(F.col("doc_id"), tokens_expr("text").alias("toks"))
    from cicevse2024_tfm_datapipeline_spark.operators.text import word_shingles_expr

    grams = toks.select(
        "doc_id", "toks", word_shingles_expr(F.col("toks"), 2).alias("bigrams")
    )
    word_counts = (
        grams.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bigram_counts = (
        grams.select("doc_id", F.explode("bigrams").alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    word_stats = word_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.max("c").alias("top_word"),
    )
    bigram_stats = bigram_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram")
    )
    joined = word_stats.join(bigram_stats, "doc_id", "left")
    return joined.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        pround(F.col("n_types") / F.col("n_tokens"), 6).alias("type_token_ratio"),
        pround(F.col("top_word") / F.col("n_tokens"), 6).alias("top_word_frac"),
        pround(
            F.coalesce(F.col("top_bigram") / F.col("n_bigrams"), F.lit(0.0)), 6
        ).alias("top_bigram_frac"),
    )


@register(
    "text_boilerplate_chunks",
    oracle=f"""
    WITH toksd AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    chunks AS (
        SELECT doc_id, source,
               array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' ') AS chunk
        FROM toksd, UNNEST(range(0, CAST(floor(len(toks) / 8) AS BIGINT))) AS t(i)
    ),
    dfreq AS (SELECT chunk, count(DISTINCT doc_id) AS df FROM chunks GROUP BY chunk)
    SELECT c.source, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN d.df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           round(sum(CASE WHEN d.df >= 3 THEN 1.0 ELSE 0.0 END) / count(*), 6)
               AS boiler_frac
    FROM chunks c JOIN dfreq d USING (chunk)
    GROUP BY c.source
    """,
    doc="CCNet-style cross-document boilerplate detection on fixed "
    "8-token chunks (the line-dedup unit when the corpus has no line "
    "structure): chunk in the scan stage (operators.text."
    "token_chunks_expr), count document frequency per chunk hash, flag "
    "chunks appearing in ≥3 docs, report the per-source boilerplate "
    "fraction. Distinct from Gopher repetition (within-doc): this finds "
    "CROSS-document template text. Scale: one chunk-key aggregation + "
    "one equi-join — both shuffle on the uniform chunk hash.",
    tags=("text", "dedup", "boilerplate"),
)
def text_boilerplate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.text import (
        token_chunks_expr,
        tokens_expr,
    )

    docs = t(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id",
        "source",
        F.explode(token_chunks_expr(tokens_expr(F.col("text")), 8)).alias("chunk"),
    )
    dfreq = chunks.groupBy("chunk").agg(F.countDistinct("doc_id").alias("df"))
    return (
        chunks.join(dfreq, "chunk")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("df") >= 3).cast("long")).alias("n_boiler"),
            pround(
                F.sum((F.col("df") >= 3).cast("double")) / F.count(F.lit(1)), 6
            ).alias("boiler_frac"),
        )
    )


def _simhash_sql(limit_id: int) -> str:
    n_nibbles = 8
    nib_cols = ", ".join(
        f"CAST(('0x' || substr(hh, {j + 1}, 1)) AS INTEGER) AS nib_{j}" for j in range(n_nibbles)
    )
    sum_cols = ", ".join(
        f"sum(((nib_{j} >> {b}) & 1) * 2 - 1) AS s_{j}_{b}"
        for j in range(n_nibbles)
        for b in range(4)
    )
    value = " + ".join(
        f"CASE WHEN s_{j}_{b} >= 0 THEN {1 << (j * 4 + b)} ELSE 0 END"
        for j in range(n_nibbles)
        for b in range(4)
    )
    return f"""
    toksd AS (
        SELECT doc_id, unnest({_TOKS}) AS tok
        FROM documents WHERE doc_id < {limit_id}
    ),
    h AS (SELECT doc_id, md5(tok) AS hh FROM toksd),
    nibs AS (SELECT doc_id, {nib_cols} FROM h),
    sums AS (SELECT doc_id, {sum_cols} FROM nibs GROUP BY doc_id)
    SELECT doc_id, CAST({value} AS BIGINT) AS simhash FROM sums
    """


@register(
    "dedup_simhash",
    oracle=f"WITH {_simhash_sql(200)}",
    doc="SimHash-32 per doc (doc_id < 200): per-bit weighted majority over "
    "token md5 nibbles — one explode + one groupBy(doc_id); bucketing the "
    "hash prefix yields the LSH-style join key at scale.",
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return simhash(docs, "text", "doc_id", bits=32)


@register(
    "dedup_ngram_jaccard_topk",
    oracle=f"""
    WITH toksd AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 60
    ),
    grams AS (
        SELECT doc_id, list_distinct({_SHINGLES3}) AS g FROM toksd
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_filter(a.g, x -> list_contains(b.g, x))) AS inter,
               len(a.g) + len(b.g) - len(list_filter(a.g, x -> list_contains(b.g, x))) AS un
        FROM grams a, grams b WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CASE WHEN un > 0 THEN inter * 1.0 / un ELSE 0.0 END AS jaccard
    FROM pairs
    ORDER BY jaccard DESC, doc_a ASC, doc_b ASC
    LIMIT 20
    """,
    doc="n-gram Jaccard near-dup scoring on a bounded candidate set "
    "(doc_id < 60 — in production: LSH candidates, never the n² grid). "
    "Integer set algebra → exact IEEE division, engine-portable.",
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    pairs = ngram_jaccard_pairs(docs, docs, "doc_id", "text", k=3)
    return pairs.orderBy(F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b")).limit(20)


# --- similarity search ---------------------------------------------------

_DOT = "list_reduce(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i]), (x, y) -> x + y)"
_NQ = "sqrt(list_reduce(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i]), (x, y) -> x + y))"
_NV = "sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]), (x, y) -> x + y))"


@register(
    "sim_bruteforce_cosine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               {_DOT} / ({_NQ} * {_NV}) AS cosine
        FROM e c, q WHERE c.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
    doc="Brute-force cosine top-5 for 10 query vectors: broadcast the query "
    "set, stream candidates through one scan (no shuffle of the big side), "
    "per-query heap via row_number. Sequential-fold dot products.",
    tags=("similarity",),
)
def sim_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        pround("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _bucket_sql(var: str) -> str:
    return " + ".join(f"(CASE WHEN {var}[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)" for i in range(8))


@register(
    "sim_bucketed_ann_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id, v, {_bucket_sql("v")} AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM c WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               {_DOT} / ({_NQ} * {_NV}) AS cosine
        FROM c JOIN q USING (bucket)
        WHERE c.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3
    """,
    doc="Bucketed ANN top-3: sign-pattern coarse quantizer over the leading "
    "8 dims (axis-aligned hyperplane LSH) → candidates restricted by "
    "equi-join on bucket — the 100 TB path (no n² pairs).",
    tags=("similarity", "ann"),
)
def sim_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = bucketed_topk(emb, queries, "vec_id", "embedding", k=3, n_bucket_dims=8)
    return out.select(
        "query_id",
        "neighbor_id",
        pround("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


@register(
    "sim_embedding_near_dup",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300),
    c AS (SELECT vec_id, v, {_bucket_sql("v")} AS bucket FROM e),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]),
                           (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i]),
                                   (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i]),
                                     (x, y) -> x + y))) AS cosine
        FROM c a JOIN c b USING (bucket)
        WHERE a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, round(cosine, 6) AS cosine
    FROM pairs WHERE cosine >= 0.35
    """,
    doc="Embedding-cosine near-dup pairs (threshold 0.35) within sign "
    "buckets — LSH recall tradeoff, standard at scale.",
    tags=("similarity", "dedup"),
)
def sim_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    out = near_dup_pairs_cosine(emb, "vec_id", "embedding", threshold=0.35, n_bucket_dims=8)
    return out.select("id_a", "id_b", pround("cosine", 6).alias("cosine"))


# --- text analysis --------------------------------------------------------

_PIECES = r"list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), x -> x <> '')"


@register(
    "text_token_stats",
    oracle=f"""
    WITH toksd AS (
        SELECT lang, n_chars, {_TOKS} AS toks, {_PIECES} AS pieces FROM documents
    ),
    bpe AS (
        SELECT lang, n_chars, len(toks) AS n_tokens,
               CASE WHEN len(pieces) = 0 THEN 0
                    ELSE list_reduce(list_transform(pieces,
                         x -> CAST(ceil(length(x) / 4.0) AS INTEGER)), (a, b) -> a + b)
               END AS bpe_tokens
        FROM toksd
    )
    SELECT lang, count(*) AS n_docs,
           round(avg(n_tokens), 6) AS avg_tokens,
           round(avg(n_chars), 6) AS avg_chars,
           CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe_tokens
    FROM bpe GROUP BY lang
    """,
    doc="Token counting per language: whitespace tokens + BPE-ish subword "
    "count (⌈len/4⌉ per alnum piece) — all codegen'd expressions inside "
    "the scan stage.",
    tags=("text",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    enriched = docs.select(
        "lang",
        "n_chars",
        F.size(tokens_expr("text")).alias("n_tokens"),
        token_count_bpe_ish_expr("text").alias("bpe_tokens"),
    )
    return enriched.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        pround(F.avg("n_tokens"), 6).alias("avg_tokens"),
        pround(F.avg("n_chars"), 6).alias("avg_chars"),
        F.sum("bpe_tokens").cast("long").alias("total_bpe_tokens"),
    )


@register(
    "text_quality_by_source",
    oracle=f"""
    WITH toksd AS (
        SELECT source, text, length(text) AS n_chars, {_TOKS} AS toks FROM documents
    ),
    scored AS (
        SELECT source,
               0.4 * least(1.0, len(toks) / 100.0)
             + 0.3 * (1.0 - CASE WHEN n_chars > 0
                   THEN length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) * 1.0 / n_chars
                   ELSE 0.0 END)
             + 0.3 * CASE WHEN len(toks) > 0
                   THEN len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and'))) * 1.0 / len(toks)
                   ELSE 0.0 END AS quality
        FROM toksd
    )
    SELECT source, count(*) AS n_docs, round(avg(quality), 6) AS avg_quality
    FROM scored GROUP BY source
    """,
    doc="Quality scoring: length / punctuation / stopword-ratio composite "
    "per doc, aggregated by source (reference-style heuristic battery).",
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = tokens_expr("text")
    scored = docs.select(
        "source", quality_score_expr(F.col("text"), toks).alias("quality")
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), pround(F.avg("quality"), 6).alias("avg_quality")
    )


@register(
    "text_langid_confusion",
    oracle=f"""
    WITH toksd AS (SELECT lang, {_TOKS} AS toks FROM documents),
    hits AS (
        SELECT lang,
               len(list_filter(toks, x -> x IN ('the', 'a'))) AS h_en,
               len(list_filter(toks, x -> x IN ('data', 'row'))) AS h_es,
               len(list_filter(toks, x -> x IN ('join', 'merge'))) AS h_fr
        FROM toksd
    ),
    pred AS (
        SELECT lang,
               CASE WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
                    WHEN h_es >= h_fr THEN 'es'
                    ELSE 'fr' END AS predicted
        FROM hits
    )
    SELECT lang, predicted, count(*) AS n_docs FROM pred GROUP BY lang, predicted
    """,
    doc="Language-ID heuristic: keyword-profile hit counts, argmax with "
    "lexicographic tiebreak, vs. the labeled lang (confusion counts).",
    tags=("text",),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    pred = docs.select(
        "lang", langid_expr(tokens_expr("text"), LANG_PROFILES).alias("predicted")
    )
    return pred.groupBy("lang", "predicted").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "text_fingerprint_stats",
    oracle=f"""
    WITH toksd AS (SELECT {_TOKS} AS toks FROM documents),
    fp AS (
        SELECT md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS f FROM toksd
    ),
    groups AS (SELECT f, count(*) AS cnt FROM fp GROUP BY f)
    SELECT CAST(sum(cnt) AS BIGINT) AS n_docs,
           count(*) AS n_fingerprints,
           CAST(max(cnt) AS BIGINT) AS max_group_size
    FROM groups
    """,
    doc="Document fingerprinting: md5 over the sorted distinct token set "
    "(order/duplication-insensitive canonical form) → dup-cluster stats.",
    tags=("text", "dedup"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    fp = docs.select(fingerprint_expr(tokens_expr("text")).alias("f"))
    groups = fp.groupBy("f").agg(F.count(F.lit(1)).alias("cnt"))
    return groups.agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.max("cnt").cast("long").alias("max_group_size"),
    )


@register(
    "mm_binary_metadata",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           length(text) AS n_chars_utf,
           md5(text) AS content_hash
    FROM documents WHERE doc_id < 100
    """,
    doc="Multimodal plumbing: opaque payload treated as binary with typed "
    "metadata (byte length, char length, content digest) — the schema/"
    "column layer under the stubbed decoders (operators.multimodal).",
    tags=("multimodal",),
)
def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.length("text").cast("long").alias("n_chars_utf"),
        F.md5("text").alias("content_hash"),
    )


@register(
    "dedup_latest_per_key",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    )
    SELECT user_id, event_id, event_type, value
    FROM ranked WHERE rn = 1
    """,
    doc="Keep-latest-record-per-key compaction (SCD-1 / training-data "
    "snapshot dedup): row_number over (key, ts desc, unique tiebreak) — "
    "ONE shuffle by key; at 100 TB this is the standard log-compaction "
    "shape and AQE splits hot keys. Deterministic under ts ties via "
    "event_id tiebreak.",
    tags=("dedup", "W"),
)
def dedup_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    win = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


_IVF_SQDIST = (
    "list_reduce(list_transform(range(1, len({v}) + 1), "
    "i -> ({v}[i] - centroid[i]) * ({v}[i] - centroid[i])), (x, y) -> x + y)"
)


@register(
    "sim_ivf_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (
        SELECT CAST(r.range AS INT) AS cell,
               list_transform(range(0, 64), d ->
                   (('0x' || substr(md5('ivfc|' || CAST(r.range AS VARCHAR)
                        || '|' || CAST(d AS VARCHAR)), 1, 8))::BIGINT
                    / CAST(4294967296.0 AS DOUBLE)) * 2.0 - 1.0) AS centroid
        FROM range(0, 8) r
    ),
    adist AS (
        SELECT e.vec_id, e.v, c.cell, {_IVF_SQDIST.format(v="e.v")} AS d
        FROM e CROSS JOIN cents c
    ),
    assigned AS (
        SELECT vec_id AS neighbor_id, v, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d ASC, cell ASC) AS rn
            FROM adist) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    qdist AS (
        SELECT q.query_id, q.qv, c.cell, {_IVF_SQDIST.format(v="q.qv")} AS d
        FROM q CROSS JOIN cents c
    ),
    probes AS (
        SELECT query_id, qv, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY d ASC, cell ASC) AS rn
            FROM qdist) WHERE rn <= 2
    ),
    scored0 AS (
        SELECT p.query_id, p.qv, a.neighbor_id, a.v
        FROM assigned a JOIN probes p USING (cell)
        WHERE a.neighbor_id <> p.query_id
    ),
    scored AS (
        SELECT query_id, neighbor_id, {_DOT} / ({_NQ} * {_NV}) AS cosine
        FROM scored0
    ),
    ivf AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored) WHERE rank <= 3
    ),
    bf0 AS (
        SELECT q.query_id, q.qv, c.vec_id AS neighbor_id, c.v
        FROM e c, q WHERE c.vec_id <> q.query_id
    ),
    bf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY {_DOT} / ({_NQ} * {_NV}) DESC, neighbor_id ASC) AS rk
            FROM bf0) WHERE rk <= 3
    )
    SELECT i.query_id, i.neighbor_id, round(i.cosine, 6) AS cosine,
           CAST(i.rank AS BIGINT) AS rank,
           CAST(CASE WHEN b.neighbor_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
               AS in_exact_topk
    FROM ivf i LEFT JOIN bf b USING (query_id, neighbor_id)
    """,
    doc="IVF ANN top-3 with PRECOMPUTED centroids, ORACLE-CHECKED end to "
    "end: the quantizer build is an offline step (here the deterministic "
    "md5 centroid fixture — operators.similarity.fixed_centroids), so the "
    "query path is pure relational algebra: per-row argmin fold assigns "
    "cells (no join blow-up, no ML fit), probes = 2 nearest centroids, "
    "scoring = equi-join on cell. in_exact_topk flags each IVF hit "
    "against the brute-force top-3 — the recall@k contract is IN the "
    "checked result.",
    tags=("similarity", "ann"),
)
def sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.similarity import (
        fixed_centroid_rows,
    )

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = ivf_topk(
        emb,
        queries,
        "vec_id",
        "embedding",
        k=3,
        nprobe=2,
        centroid_rows=fixed_centroid_rows(8, 64),
    )
    exact = brute_force_topk(emb, queries, "vec_id", "embedding", k=3).select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    return (
        out.join(exact, ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            "neighbor_id",
            pround("cosine", 6).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
            F.coalesce(F.col("__hit"), F.lit(0)).cast("long").alias("in_exact_topk"),
        )
    )


@register(
    "sample_stratified_per_class",
    oracle="""
    WITH ranked AS (
        SELECT event_type, event_id, value,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY md5('7|' || CAST(event_id AS VARCHAR)) ASC,
                            event_id ASC
               ) AS rn
        FROM events
    )
    SELECT event_type, count(*) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS sum_ids,
           round(avg(value), 6) AS avg_value
    FROM ranked WHERE rn <= 500
    GROUP BY event_type
    """,
    doc="Deterministic stratified downsample (≤500/class): hash-rank of "
    "(seed,id) within class — partitioning-independent (md5, not seeded "
    "rand), identical on any cluster layout, the data-side counterpart of "
    "A7 class weights. One shuffle by class.",
    tags=("sampling", "A7"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.sampling import (
        stratified_sample_n,
    )

    ev = t(spark, sf_dir, "events")
    kept = stratified_sample_n(ev, ["event_type"], "event_id", 500, seed=7)
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").cast("long").alias("sum_ids"),
        pround(F.avg("value"), 6).alias("avg_value"),
    )


_MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
_MIX_TOTAL = 40


def _mix_quota_sql() -> str:
    rows = ", ".join(
        f"('{s}', {int(_MIX_TOTAL * w)})" for s, w in _MIX_WEIGHTS.items()
    )
    return f"(VALUES {rows}) AS quota(source, q)"


@register(
    "sample_mixture_by_source",
    oracle=f"""
    WITH ranked AS (
        SELECT d.source, d.doc_id, d.n_chars, quota.q,
               row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY md5('7|' || CAST(d.doc_id AS VARCHAR)) ASC,
                            d.doc_id ASC
               ) AS rn
        FROM documents d JOIN {_mix_quota_sql()} ON d.source = quota.source
    )
    SELECT source, count(*) AS n_rows,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM ranked WHERE rn <= q
    GROUP BY source
    """,
    doc="Dataset mixture sampling: per-source quotas floor(total*w_s) "
    "drawn by deterministic hash-rank (broadcast quota join + one window "
    "shuffle by source) — the dataset-mixing step of a training-data "
    "pipeline, upweighting curated sources over crawl.",
    tags=("sampling", "mixture"),
)
def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.sampling import mixture_sample

    docs = t(spark, sf_dir, "documents")
    kept = mixture_sample(docs, "source", "doc_id", _MIX_WEIGHTS, _MIX_TOTAL, seed=7)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# --- corpus n-gram statistics (training-data analysis staple) ------------


@register(
    "text_top_ngrams",
    oracle=f"""
    WITH toksd AS (SELECT {_TOKS} AS toks FROM documents),
    gramlists AS (
        SELECT list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i + 1]) AS grams
        FROM toksd WHERE len(toks) >= 2
    ),
    grams AS (SELECT unnest(grams) AS bigram FROM gramlists)
    SELECT bigram, count(*) AS n
    FROM grams GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 20
    """,
    doc="Corpus-wide top-20 word bigrams: per-row gram arrays (codegen'd "
    "element_at chain, zero shuffle) → explode → ONE hash aggregation "
    "(map-side combined; bigram keys are near-uniform) → "
    "TakeOrderedAndProject heap. The n-gram frequency pass of a "
    "training-data analysis pipeline — never materializes a sorted "
    "global result.",
    tags=("text", "ngrams"),
)
def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(tokens_expr("text").alias("toks")).filter(F.size("toks") >= 2)
    grams = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat(
                    F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
                ),
            )
        ).alias("bigram")
    )
    counts = grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.desc("n"), F.asc("bigram")).limit(20)


@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH toksd AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    terms AS (
        SELECT doc_id, unnest(toks) AS term FROM toksd
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term,
           round(tf.tf * ln(n_docs * 1.0 / df.df), 6) AS tfidf
    FROM tf JOIN df USING (term), n
    ORDER BY tfidf DESC, tf.doc_id ASC, tf.term ASC
    LIMIT 20
    """,
    doc="TF-IDF scoring (top-20 doc/term pairs): term frequencies and "
    "document frequencies are two hash aggregations off ONE token "
    "explode; idf joins back on term (near-uniform keys, AQE-replannable) "
    "and the 1-row corpus count broadcasts. The relevance/keyword-"
    "extraction pass of a text pipeline.",
    tags=("text", "tfidf"),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(tokens_expr("text")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    # r11 (guide §2.4): df = "how many docs carry this term" = the row
    # count of tf's term partition — an unbounded-frame window count over
    # term replaces the former separate df groupBy + join-back, which
    # re-executed the explode+tf chain once per consumer (tf was not
    # pinned). Identical df values by definition; one exchange on term
    # either way, one pass over the corpus instead of two.
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("term")))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            pround(F.col("tf") * F.log(F.col("n_docs") * F.lit(1.0) / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )
    return scored.orderBy(F.desc("tfidf"), F.asc("doc_id"), F.asc("term")).limit(20)


# --- sequence packing (training-batch construction) ----------------------

PACK_CAPACITY = 512


@register(
    "pack_concat_chunks",
    oracle=f"""
    WITH toksd AS (
        SELECT doc_id, len({_TOKS}) AS n_tok FROM documents
    ),
    cum AS (
        SELECT doc_id, n_tok,
               sum(n_tok) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_tok
        FROM toksd
    ),
    binned AS (
        SELECT doc_id, n_tok,
               CAST(floor((cum_tok - n_tok) / {PACK_CAPACITY}.0) AS BIGINT) AS chunk_id
        FROM cum
    )
    SELECT chunk_id, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS chunk_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM binned GROUP BY chunk_id
    """,
    doc="Sequence packing for training batches (concat-and-chunk, the GPT "
    "pretraining layout): documents concatenated in doc_id order and cut "
    "into fixed 512-token context windows; each doc is assigned the chunk "
    "containing its first token. The running token offset comes from "
    "operators.scan.global_cumsum — range-partitioned two-phase prefix "
    "sum, no unpartitioned window, any corpus size.",
    tags=("text", "packing"),
)
def pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_cumsum

    docs = t(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id", F.size(tokens_expr("text")).alias("n_tok")
    )
    # r12: fixed-bounds scan over a footer-bracketed doc_id grid (the r5
    # / weighted-median discipline) — no pinned range exchange, no
    # sampler job, no localCheckpoint planning pass; grid values shift
    # bucket balance only (synthetic doc_ids are contiguous)
    from cicevse2024_tfm_datapipeline_spark.operators.scan import footer_grid

    grid = footer_grid(spark, sf_dir, "documents", "doc_id")
    cum = global_cumsum(per_doc, ["doc_id"], ["n_tok"], fixed_bounds=grid)
    chunk = F.floor(
        (F.col("cum_n_tok") - F.col("n_tok")) / F.lit(float(PACK_CAPACITY))
    ).cast("long")
    return (
        cum.select("doc_id", "n_tok", chunk.alias("chunk_id"))
        .groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("chunk_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# --- train/eval decontamination (benchmark-leakage filter) ---------------


@register(
    "dedup_decontaminate_train",
    oracle=f"""
    WITH toksd AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    sh AS (
        SELECT doc_id, source,
               list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS shingles
        FROM toksd WHERE len(toks) >= 3
    ),
    eval_sh AS (
        SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 10 = 0
    ),
    train_sh AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id % 10 <> 0
    ),
    contaminated AS (
        SELECT DISTINCT doc_id FROM train_sh WHERE s IN (SELECT s FROM eval_sh)
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           CAST(sum(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clean
    FROM (SELECT doc_id, source FROM toksd WHERE doc_id % 10 <> 0) t
    LEFT JOIN contaminated c USING (doc_id)
    GROUP BY t.source
    """,
    doc="Train/eval DECONTAMINATION (operators.dedup.contaminated_ids): "
    "eval docs (doc_id % 10 = 0) contribute a broadcast distinct 3-word-"
    "shingle set; training docs sharing any shingle are flagged via a "
    "broadcast semi-join (corpus never shuffles). Per-source "
    "contamination counts — the benchmark-leakage filter of an LLM "
    "training-data pipeline, hash-checked end to end.",
    tags=("dedup", "decontamination"),
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.dedup import contaminated_ids

    docs = t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    eval_df = docs.filter(F.col("doc_id") % 10 == 0)
    bad = contaminated_ids(train, eval_df, "doc_id", "text", k=3).withColumn(
        "__bad", F.lit(1)
    )
    tagged = train.select("doc_id", "source").join(bad, "doc_id", "left")
    return tagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_train"),
        F.sum(F.coalesce("__bad", F.lit(0))).cast("long").alias("n_contaminated"),
        F.sum((F.col("__bad").isNull()).cast("int")).cast("long").alias("n_clean"),
    )


# --- corpus-percentile quality filtering ---------------------------------

_QUALITY_SQL = """
               0.4 * least(1.0, len(toks) / 100.0)
             + 0.3 * (1.0 - CASE WHEN n_chars > 0
                   THEN length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) * 1.0 / n_chars
                   ELSE 0.0 END)
             + 0.3 * CASE WHEN len(toks) > 0
                   THEN len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and'))) * 1.0 / len(toks)
                   ELSE 0.0 END
"""


@register(
    "text_quality_filter_p25",
    oracle=f"""
    WITH toksd AS (
        SELECT source, text, length(text) AS n_chars, {_TOKS} AS toks FROM documents
    ),
    scored AS (SELECT source, round({_QUALITY_SQL}, 6) AS q FROM toksd),
    thr AS (SELECT round(quantile_cont(q, 0.25), 6) AS t FROM scored)
    SELECT source,
           CAST(sum(CASE WHEN q >= t THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN q < t THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           round(avg(CASE WHEN q >= t THEN q END), 6) AS avg_kept_quality
    FROM scored, thr
    GROUP BY source
    """,
    doc="Corpus-percentile quality filtering: drop the bottom quartile of "
    "the quality distribution. The p25 threshold is a 1-row aggregate "
    "broadcast back as a cross-join — filter-by-global-statistic with no "
    "driver round-trip (at 100 TB swap percentile → approx_percentile at "
    "the same call site). Scores and threshold are canonicalized to 6 dp "
    "so the boundary is engine-stable.",
    tags=("text", "quality", "filter"),
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = tokens_expr("text")
    scored = docs.select(
        "source", pround(quality_score_expr(F.col("text"), toks), 6).alias("q")
    )
    thr = scored.agg(pround(F.percentile("q", 0.25), 6).alias("t"))
    tagged = scored.crossJoin(F.broadcast(thr))
    keep = F.col("q") >= F.col("t")
    return tagged.groupBy("source").agg(
        F.sum(keep.cast("int")).cast("long").alias("n_kept"),
        F.sum((~keep).cast("int")).cast("long").alias("n_dropped"),
        pround(F.avg(F.when(keep, F.col("q"))), 6).alias("avg_kept_quality"),
    )


@register(
    "pipeline_corpus_prep",
    oracle=f"""
    WITH toksd AS (
        SELECT doc_id, source, text, n_chars, {_TOKS} AS toks FROM documents
    ),
    scored AS (SELECT *, round({_QUALITY_SQL}, 6) AS q FROM toksd),
    thr AS (SELECT round(quantile_cont(q, 0.25), 6) AS t FROM scored),
    kept AS (SELECT s.* FROM scored s, thr WHERE s.q >= thr.t),
    surv AS (
        SELECT k.* FROM kept k
        JOIN (SELECT md5(text) AS h, min(doc_id) AS m FROM kept GROUP BY 1) g
          ON md5(k.text) = g.h AND k.doc_id = g.m
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY source
            ORDER BY md5('5|' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        FROM surv
    ),
    final AS (SELECT * FROM ranked WHERE rn <= 40)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(len(toks)) AS BIGINT) AS sum_tokens,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids
    FROM final GROUP BY source
    """,
    doc="END-TO-END corpus preparation, ORACLE-CHECKED as one composed "
    "plan: percentile quality filter (bottom quartile dropped, broadcast "
    "threshold) → exact-dedup survivors (md5 digest groupBy, min-id "
    "survivor, semi-join) → deterministic stratified sample (40/source "
    "by md5-hash rank) → per-source size/token accounting. The chain a "
    "training-data run actually executes, stacked from the individually "
    "verified operators — one broadcast, two uniform-key shuffles, one "
    "per-source window; every stage the same shape at 100 TB.",
    tags=("pipeline", "text", "dedup", "sampling"),
)
def pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.sampling import (
        stratified_sample_n,
    )

    # wide=True: quality scoring tokenizes the full corpus pre-shuffle
    docs = t(spark, sf_dir, "documents", wide=True)
    toks = tokens_expr("text")
    # r11 restructure (guide §2.3 "shuffle keys and metadata instead of
    # payloads" / §1.2): the old shape re-tokenized the corpus THREE
    # times — once for the percentile threshold, once inside
    # exact_dedup's digest groupBy, once on its semi-join probe — and
    # carried the full text through every stage just to md5 it and count
    # tokens at the end. Everything downstream needs only derived
    # scalars, so compute them ONCE per doc (score, md5 digest, token
    # count) into a narrow pinned frame; text never leaves the scan
    # stage. Same md5/score/size expressions on the same rows —
    # identical results at every stage.
    feat = docs.select(
        "doc_id",
        "source",
        "n_chars",
        pround(quality_score_expr(F.col("text"), toks), 6).alias("q"),
        F.md5("text").alias("__h"),
        F.size(toks).alias("__ntoks"),
    ).localCheckpoint(eager=False)
    thr = feat.agg(pround(F.percentile("q", 0.25), 6).alias("t"))
    kept = feat.crossJoin(F.broadcast(thr)).filter(F.col("q") >= F.col("t"))
    # exact_dedup inlined on the precomputed digest (same min-id survivor
    # semantics as operators/dedup.exact_dedup over md5(text))
    keep_ids = kept.groupBy("__h").agg(F.min("doc_id").alias("doc_id"))
    surv = kept.join(keep_ids, "doc_id", "left_semi")
    final = stratified_sample_n(surv, ["source"], "doc_id", 40, seed=5)
    return final.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum("__ntoks").cast("long").alias("sum_tokens"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
    )


# --- PII detection / redaction (corpus-cleaning staple) ------------------

def _pii_oracle() -> str:
    from cicevse2024_tfm_datapipeline_spark.operators.text import PII_PATTERNS

    pats = dict(PII_PATTERNS)
    sql = """
    WITH seeded AS (
        SELECT doc_id, source,
               text
               || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
                    || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
               || CASE WHEN doc_id % 5 = 0 THEN ' call 555-'
                    || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199' ELSE '' END
               || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR) || '.77' ELSE '' END
               AS text
        FROM documents
    ),
    enr AS (
        SELECT source,
               len(regexp_extract_all(text, '@EMAIL@')) AS e,
               len(regexp_extract_all(text, '@PHONE@')) AS p,
               len(regexp_extract_all(text, '@IPV4@')) AS i,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '@EMAIL@', '<PII>', 'g'),
                   '@PHONE@', '<PII>', 'g'),
                   '@IPV4@', '<PII>', 'g') AS red
        FROM seeded
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN e + p + i > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_with_pii,
           CAST(sum(e) AS BIGINT) AS n_emails,
           CAST(sum(p) AS BIGINT) AS n_phones,
           CAST(sum(i) AS BIGINT) AS n_ipv4,
           CAST(sum(len(regexp_extract_all(red, '@EMAIL@'))
                  + len(regexp_extract_all(red, '@PHONE@'))
                  + len(regexp_extract_all(red, '@IPV4@'))) AS BIGINT)
               AS residual_after_redact,
           CAST(sum(len(red)) AS BIGINT) AS redacted_chars
    FROM enr GROUP BY source
    """
    return (
        sql.replace("@EMAIL@", pats["email"])
        .replace("@PHONE@", pats["phone"])
        .replace("@IPV4@", pats["ipv4"])
    )


@register(
    "text_pii_redaction",
    oracle=_pii_oracle(),
    doc="PII detection + redaction over the corpus, ORACLE-CHECKED: "
    "email/phone/IPv4 patterns (RE2-safe, identical under Java regex and "
    "RE2) counted with regexp_count and stripped with chained "
    "regexp_replace (operators.text.redact_pii_expr). Deterministic "
    "synthetic PII is spliced into the documents as a function of doc_id "
    "so both engines score the same planted set; residual_after_redact "
    "proves the redacted text is clean. Pure scan-stage Column "
    "expressions — zero shuffles before the per-source rollup.",
    tags=("text", "pii"),
)
def text_pii_redaction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.text import (
        pii_count_exprs,
        redact_pii_expr,
    )

    docs = t(spark, sf_dir, "documents")
    sid = F.col("doc_id")
    seeded_text = F.concat(
        F.col("text"),
        F.when(
            sid % 3 == 0,
            F.concat(
                F.lit(" contact user"), sid.cast("string"), F.lit("@example.com now")
            ),
        ).otherwise(F.lit("")),
        F.when(
            sid % 5 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((sid % 1000).cast("string"), 3, "0"),
                F.lit("-0199"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            sid % 7 == 0,
            F.concat(F.lit(" from 10.0."), (sid % 256).cast("string"), F.lit(".77")),
        ).otherwise(F.lit("")),
    )
    seeded = docs.select("doc_id", "source", seeded_text.alias("text"))
    counts = pii_count_exprs("text")
    enr = seeded.select(
        "source",
        counts["email"].alias("e"),
        counts["phone"].alias("p"),
        counts["ipv4"].alias("i"),
        redact_pii_expr("text").alias("red"),
    )
    rcounts = pii_count_exprs("red")
    residual = rcounts["email"] + rcounts["phone"] + rcounts["ipv4"]
    return (
        enr.select(
            "source", "e", "p", "i",
            residual.alias("resid"),
            F.length("red").alias("rlen"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(((F.col("e") + F.col("p") + F.col("i")) > 0).cast("long"))
            .cast("long")
            .alias("docs_with_pii"),
            F.sum("e").cast("long").alias("n_emails"),
            F.sum("p").cast("long").alias("n_phones"),
            F.sum("i").cast("long").alias("n_ipv4"),
            F.sum("resid").cast("long").alias("residual_after_redact"),
            F.sum("rlen").cast("long").alias("redacted_chars"),
        )
    )


@register(
    "w_quality_decile_curriculum",
    oracle=f"""
    WITH toksd AS (SELECT doc_id, text, n_chars, {_TOKS} AS toks FROM documents),
    scored AS (
        SELECT doc_id, len(toks) AS n_toks, round({_QUALITY_SQL}, 6) AS q
        FROM toksd
    ),
    tiled AS (
        SELECT *, ntile(10) OVER (ORDER BY q DESC, doc_id ASC) AS decile
        FROM scored
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(q), 6) AS avg_quality,
           CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids
    FROM tiled GROUP BY decile
    """,
    doc="Curriculum / quality-decile binning: rank the corpus by quality "
    "score and cut into 10 equal-population bins with EXACT SQL NTILE "
    "semantics — via operators.scan.global_ntile (two-phase row number + "
    "grand total; arithmetic tile assignment), so no unpartitioned "
    "window at any corpus size. The per-decile token/identity sums pin "
    "exact bin membership against DuckDB's native ntile(10). This is "
    "the data-ordering step of curriculum training and the scalable "
    "form of quantile-bucketed quality analysis.",
    tags=("text", "quality", "curriculum", "scan"),
)
def w_quality_decile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_ntile

    docs = t(spark, sf_dir, "documents")
    toks = tokens_expr("text")
    scored = docs.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        pround(quality_score_expr(F.col("text"), toks), 6).alias("q"),
    ).withColumn("__negq", -F.col("q"))
    tiled = global_ntile(scored, ["__negq", "doc_id"], 10, out_col="decile")
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        pround(F.avg("q"), 6).alias("avg_quality"),
        F.sum("n_toks").cast("long").alias("sum_tokens"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
    )


@register(
    "text_unigram_lm_scores",
    oracle=f"""
    WITH toksd AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, source, unnest(toks) AS w FROM toksd),
    vocab AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT sum(c) AS n FROM vocab),
    doc_scores AS (
        SELECT t.doc_id, t.source, avg(ln(v.c * 1.0 / tot.n)) AS lp
        FROM tok t JOIN vocab v USING (w) CROSS JOIN tot
        GROUP BY t.doc_id, t.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(-lp), 6) AS avg_doc_nll,
           round(min(-lp), 6) AS min_doc_nll,
           round(max(-lp), 6) AS max_doc_nll
    FROM doc_scores GROUP BY source
    """,
    doc="Unigram corpus LM scoring (the CCNet-style perplexity-proxy "
    "quality signal): token frequencies over the whole corpus define "
    "P(w); each document scores avg -ln P(w), rolled up per source. "
    "Shape at 100 TB: one token-count groupBy (map-side combined), one "
    "token equi-join — the Zipf-skewed key join AQE's skew splitting "
    "exists for (or broadcast the vocab under a top-V cap), then "
    "uniform per-doc aggregation. Grand total rides a 1-row broadcast.",
    tags=("text", "quality", "lm"),
)
def text_unigram_lm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(tokens_expr("text")).alias("w")
    )
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").alias("n"))
    lp = (
        tok.join(vocab, "w")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", "source", F.log(F.col("c") / F.col("n")).alias("lp"))
    )
    doc_scores = lp.groupBy("doc_id", "source").agg(F.avg("lp").alias("lp"))
    return doc_scores.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        pround(F.avg(-F.col("lp")), 6).alias("avg_doc_nll"),
        pround(F.min(-F.col("lp")), 6).alias("min_doc_nll"),
        pround(F.max(-F.col("lp")), 6).alias("max_doc_nll"),
    )


@register(
    "text_vocab_oov_rate",
    oracle=f"""
    WITH toksd AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, source, unnest(toks) AS w FROM toksd),
    vocab AS (
        SELECT w FROM (
            SELECT w, count(*) AS c FROM tok GROUP BY w
            ORDER BY c DESC, w ASC LIMIT 500
        )
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
               AS oov_rate
    FROM tok t LEFT JOIN vocab v ON t.w = v.w
    GROUP BY t.source
    """,
    doc="Tokenizer-vocabulary coverage: build the top-500 corpus "
    "vocabulary (frequency desc, token asc tiebreak — deterministic) "
    "and measure each source's out-of-vocabulary token rate — the "
    "coverage check run before committing to a tokenizer. The vocab is "
    "a TakeOrderedAndProject (bounded V), broadcast into a left join "
    "against the token stream; the only data-sized shuffle is the "
    "map-side-combined token count.",
    tags=("text", "vocab"),
)
def text_vocab_oov_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "source", F.explode(tokens_expr("text")).alias("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(500)
        .select("w", F.lit(True).alias("__in_vocab"))
    )
    joined = tok.join(F.broadcast(vocab), "w", "left")
    oov = F.col("__in_vocab").isNull().cast("long")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(oov).cast("long").alias("n_oov"),
        pround(F.sum(oov) / F.count(F.lit(1)), 6).alias("oov_rate"),
    )


@register(
    "w_topk_per_group",
    oracle="""
    SELECT source, doc_id, n_chars
    FROM (
        SELECT source, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
               ) AS rn
        FROM documents
    ) WHERE rn <= 3
    """,
    doc="Per-group top-K (3 longest documents per source): the "
    "partitioned row_number rank — one shuffle on the group key, "
    "deterministic doc_id tiebreak. The grouped counterpart of W8's "
    "global TakeOrderedAndProject top-K.",
    tags=("W8", "topk"),
)
def w_topk_per_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    win = W.partitionBy("source").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    return (
        docs.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") <= 3)
        .drop("__rn")
    )


@register(
    "dedup_bloom_novelty",
    oracle="""
    WITH c AS (
        SELECT md5(text) AS dg FROM documents WHERE doc_id % 5 <> 0
    ),
    n AS (
        SELECT doc_id, source, md5(text) AS dg
        FROM documents WHERE doc_id % 5 = 0
    ),
    cpos AS (
        SELECT DISTINCT
               CAST(p.pos >> 5 AS INT) AS word_idx,
               (CAST(1 AS BIGINT) << CAST(p.pos & 31 AS INT)) AS bit
        FROM c CROSS JOIN range(0, 4) i
        CROSS JOIN LATERAL (
            SELECT ('0x' || substr(md5('bloomnov|' || CAST(i.range AS VARCHAR)
                        || '|' || c.dg), 1, 8))::BIGINT % 65536 AS pos
        ) p
    ),
    bitmap AS (SELECT word_idx, bit_or(bit) AS word FROM cpos GROUP BY 1),
    npos AS (
        SELECT n.doc_id,
               ('0x' || substr(md5('bloomnov|' || CAST(i.range AS VARCHAR)
                    || '|' || n.dg), 1, 8))::BIGINT % 65536 AS pos
        FROM n CROSS JOIN range(0, 4) i
    ),
    flags AS (
        SELECT p.doc_id,
               min(CASE WHEN coalesce(b.word, 0)
                             & (CAST(1 AS BIGINT) << CAST(p.pos & 31 AS INT)) <> 0
                        THEN 1 ELSE 0 END) AS hit
        FROM npos p
        LEFT JOIN bitmap b ON CAST(p.pos >> 5 AS INT) = b.word_idx
        GROUP BY 1
    ),
    exact AS (SELECT DISTINCT n.doc_id FROM n JOIN c ON n.dg = c.dg)
    SELECT n.source,
           CAST(count(*) AS BIGINT) AS n_new,
           CAST(sum(f.hit) AS BIGINT) AS n_flagged,
           CAST(sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_dup,
           CAST(sum(CASE WHEN f.hit = 1 AND e.doc_id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(sum(CASE WHEN f.hit = 0 AND e.doc_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
    FROM n
    LEFT JOIN flags f USING (doc_id)
    LEFT JOIN exact e USING (doc_id)
    GROUP BY 1
    """,
    doc="Bloom-filter novelty check (incremental dedup against a "
    "historical corpus): the corpus collapses to a <=2048-row 32-bit-word "
    "bitmap in ONE aggregation; each new document then needs only a "
    "broadcast join against the bitmap — the 100 TB membership pattern "
    "that replaces a corpus-sized shuffle per ingest batch. Hash "
    "functions are md5(tag|i|digest) mod m, so the ENTIRE filter — bit "
    "positions, bitmap words, per-document flags, even which documents "
    "false-positive — is engine-portable and hash-checked, and the "
    "n_false_neg column is the structural no-false-negative proof "
    "(operators/dedup.bloom_bitmap / bloom_might_contain).",
    tags=("dedup", "bloom"),
)
def dedup_bloom_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.dedup import (
        bloom_bitmap,
        bloom_might_contain,
    )

    # digest once, drop text immediately: both corpus branches (bloom
    # build + exact-dup audit) read the pinned DISTINCT digest frame —
    # idempotent insertion makes the bloom over distinct digests the
    # identical bitmap, and the pin stops the corpus text scan + distinct
    # from running once per branch. The new side stays unpinned: its two
    # consumers re-run only a projected scan of the (small) new slice,
    # cheaper than a checkpoint at any scale where the new batch is the
    # minority side.
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("__dg")
    )
    corp_dg = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select("__dg")
        .distinct()
        .localCheckpoint(eager=False)
    )
    newb = docs.filter(F.col("doc_id") % 5 == 0)

    bitmap = bloom_bitmap(
        corp_dg, F.col("__dg"), m_bits=1 << 16, k=4, tag="bloomnov"
    )
    flagged = bloom_might_contain(
        newb, bitmap, "doc_id", F.col("__dg"), m_bits=1 << 16, k=4, tag="bloomnov"
    )
    exact = (
        newb.join(corp_dg, "__dg", "left_semi")
        .select("doc_id")
        .withColumn("__exact", F.lit(1))
    )
    mc = F.col("__might_contain").cast("int")
    ex = F.coalesce(F.col("__exact"), F.lit(0))
    return (
        flagged.join(exact, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_new"),
            F.sum(mc).cast("long").alias("n_flagged"),
            F.sum(ex).cast("long").alias("n_exact_dup"),
            F.sum(mc * (1 - ex)).cast("long").alias("n_false_pos"),
            F.sum((1 - mc) * ex).cast("long").alias("n_false_neg"),
        )
    )


@register(
    "a_regr_trend_per_user",
    oracle="""
    WITH e AS (
        SELECT user_id, value,
               (epoch_us(ts) - 1704067200000000) / 86400000000.0 AS xd
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_obs,
           round(regr_slope(value, xd), 6) AS slope_per_day,
           round(regr_intercept(value, xd), 6) AS intercept,
           round(regr_r2(value, xd), 6) AS r2
    FROM e
    GROUP BY user_id
    """,
    doc="Per-key OLS trend (drift detection over time series): "
    "regr_slope/intercept/r2 of value against days-since-anchor, grouped "
    "by user — closed-form regression as a plain aggregation (sufficient "
    "statistics combine associatively), so it is ONE shuffle at any "
    "scale and AQE handles key skew; no per-key model fitting loop. The "
    "x axis is exact integer microsecond arithmetic before one double "
    "division, so both engines regress on identical abscissae.",
    tags=("A", "regression", "trend"),
)
def a_regr_trend_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    xd = (
        (F.expr("unix_micros(to_utc_timestamp(ts, 'UTC'))") - F.lit(1704067200000000))
        / F.lit(86400000000.0)
    ).alias("xd")
    return (
        ev.select("user_id", "value", xd)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            pround(F.regr_slope("value", "xd"), 6).alias("slope_per_day"),
            pround(F.regr_intercept("value", "xd"), 6).alias("intercept"),
            pround(F.regr_r2("value", "xd"), 6).alias("r2"),
        )
    )


@register(
    "a_corr_matrix",
    oracle="""
    WITH s AS (
        SELECT corr(l_quantity, l_extendedprice) AS c_qty_price,
               corr(l_quantity, l_discount)      AS c_qty_disc,
               corr(l_quantity, l_tax)           AS c_qty_tax,
               corr(l_extendedprice, l_discount) AS c_price_disc,
               corr(l_extendedprice, l_tax)      AS c_price_tax,
               corr(l_discount, l_tax)           AS c_disc_tax
        FROM lineitem
    )
    SELECT 'l_quantity|l_extendedprice' AS pair, round(c_qty_price, 6) AS corr FROM s
    UNION ALL SELECT 'l_quantity|l_discount', round(c_qty_disc, 6) FROM s
    UNION ALL SELECT 'l_quantity|l_tax', round(c_qty_tax, 6) FROM s
    UNION ALL SELECT 'l_extendedprice|l_discount', round(c_price_disc, 6) FROM s
    UNION ALL SELECT 'l_extendedprice|l_tax', round(c_price_tax, 6) FROM s
    UNION ALL SELECT 'l_discount|l_tax', round(c_disc_tax, 6) FROM s
    """,
    doc="Pairwise correlation matrix over a fixed feature set in ONE "
    "aggregation pass (the feature-screening step before model "
    "training): all pairs' sufficient statistics accumulate in a single "
    "scan — no per-pair jobs, no driver-side loop over columns — then "
    "unpivot to rows. At 100 TB this is one map-side-combined shuffle of "
    "p*(p-1)/2 running sums.",
    tags=("A", "correlation"),
)
def a_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    one = li.agg(
        *[
            pround(F.corr(a, b), 6).alias(f"__c_{i}")
            for i, (a, b) in enumerate(pairs)
        ]
    )
    stacked = ", ".join(
        f"'{a}|{b}', __c_{i}" for i, (a, b) in enumerate(pairs)
    )
    return one.select(
        F.expr(f"stack({len(pairs)}, {stacked})").alias("pair", "corr")
    )


@register(
    "w_ewma_smoothing",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, ts, value,
               list_reduce(
                   list_transform(l, (x, j) -> CASE WHEN j = 1
                       THEN x * power(0.7, len(l) - 1)
                       ELSE x * 0.3 * power(0.7, len(l) - j) END),
                   (a, b) -> a + b) AS ewma
        FROM (
            SELECT user_id, event_id, ts, value,
                   list(CAST(value AS DOUBLE)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 31 PRECEDING AND CURRENT ROW) AS l
            FROM events) q
    ),
    last AS (
        SELECT user_id, ewma AS ewma_last FROM (
            SELECT user_id, ewma, row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM e) r WHERE rn = 1
    )
    SELECT e.user_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN e.value > e.ewma THEN 1 ELSE 0 END) AS BIGINT)
               AS n_above,
           round(max(l.ewma_last), 6) AS ewma_last
    FROM e JOIN last l USING (user_id)
    GROUP BY e.user_id
    """,
    doc="Per-key truncated EWMA (operators/windows.ewma_truncated): "
    "pandas ewm(adjust=False) semantics distributed as a bounded "
    "trailing collect_list frame + one sequential weighted fold — "
    "recursive smoothing resists distribution, the K-term closed form "
    "does not (truncation error <= (1-alpha)^(K-1) of dropped mass, "
    "~1e-5 here). One shuffle by key, per-row state bounded at K "
    "doubles; the fold order is pinned so both engines produce "
    "identical smoothed values, checked via last-EWMA per key and the "
    "above-smoother count.",
    tags=("W", "ewma", "timeseries"),
)
def w_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.windows import ewma_truncated

    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    sm = ewma_truncated(ev, ["user_id"], ["ts", "event_id"], "value", 0.3, 32)
    ordstruct = F.struct(F.col("ts"), F.col("event_id"))
    return sm.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum((F.col("value") > F.col("ewma")).cast("long"))
        .cast("long")
        .alias("n_above"),
        pround(F.max_by("ewma", ordstruct), 6).alias("ewma_last"),
    )


@register(
    "pipeline_fuzzy_corpus",
    oracle=f"""
    WITH RECURSIVE
    base AS (
        SELECT doc_id, source, text, n_chars FROM documents
        WHERE n_chars >= 150
    ),
    train AS (SELECT * FROM base WHERE doc_id % 10 <> 0),
    evalb AS (SELECT * FROM base WHERE doc_id % 10 = 0),
    {_sig_sql("train")},
    bands AS ({_band_sql()}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        WHERE a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
    ),
    comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
    removed AS (SELECT node FROM comp WHERE node != component),
    surv AS (
        SELECT t.* FROM train t
        WHERE t.doc_id NOT IN (SELECT node FROM removed)
    ),
    stoks AS (SELECT doc_id, {_TOKS} AS toks FROM surv),
    ssh AS (
        SELECT doc_id,
               list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS shingles
        FROM stoks WHERE len(toks) >= 3
    ),
    etoks AS (SELECT doc_id, {_TOKS} AS toks FROM evalb),
    esh AS (
        SELECT DISTINCT unnest(list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS s
        FROM etoks WHERE len(toks) >= 3
    ),
    contaminated AS (
        SELECT DISTINCT doc_id
        FROM (SELECT doc_id, unnest(shingles) AS s FROM ssh) t
        WHERE s IN (SELECT s FROM esh)
    ),
    clean AS (
        SELECT * FROM surv
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM clean
    GROUP BY source
    """,
    doc="THE full fuzzy corpus-prep chain in one composed, hash-checked "
    "plan: quality filter (n_chars floor) -> train/eval split -> "
    "MinHash-LSH candidate pairs within train -> connected components "
    "-> one survivor per near-dup cluster -> eval-shingle "
    "decontamination of the survivors -> per-source aggregates. Every "
    "stage keeps its standalone scale shape (band-key equi-join, "
    "edge-bounded label propagation, broadcast eval shingles, anti-joins "
    "against bounded removed/contaminated sets); the composition adds no "
    "new shuffle beyond its parts. This is the end-to-end pipeline an "
    "LLM training run executes between raw corpus and tokenization.",
    tags=("pipeline", "dedup", "lsh", "decontamination"),
)
def pipeline_fuzzy_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.dedup import (
        contaminated_ids,
        fuzzy_dedup_survivors,
    )

    # wide=True: every stage below (minhash signatures, shingle explode,
    # containment check) is CPU-dense pre-shuffle work (4.5 → 2.2 s)
    docs = t(spark, sf_dir, "documents", wide=True).select(
        "doc_id", "source", "text", "n_chars"
    )
    base = docs.filter(F.col("n_chars") >= 150)
    train = base.filter(F.col("doc_id") % 10 != 0)
    evalb = base.filter(F.col("doc_id") % 10 == 0)

    pairs = lsh_candidate_pairs(train, "text", "doc_id", NUM_HASHES, BANDS, 3)
    surv = fuzzy_dedup_survivors(train, pairs, "doc_id")
    bad = contaminated_ids(surv, evalb, "doc_id", "text", 3)
    clean = surv.join(bad, "doc_id", "left_anti")
    return clean.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@register(
    "text_overlap_chunks",
    oracle="""
    WITH c AS (
        SELECT doc_id, source,
               unnest(list_transform(
                   range(0, greatest(1, CAST(ceil((length(text) - 50) / 150.0)
                                         AS INT))),
                   i -> substr(text, CAST(i AS INT) * 150 + 1, 200))) AS chunk
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN length(chunk) = 200 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_full,
           CAST(sum(('0x' || substr(md5(chunk), 1, 8))::BIGINT) AS BIGINT)
               AS content_checksum
    FROM c
    GROUP BY source
    """,
    doc="RAG-style overlapping chunker (operators/text."
    "overlap_char_chunks_expr): 200-char windows every 150 chars (50 "
    "overlap), pure codegen array expression — the chunking step of a "
    "retrieval-index build. One explode, no shuffle until the per-source "
    "rollup; the md5-derived integer checksum pins every chunk's exact "
    "content and boundary, both engines computing the identical value.",
    tags=("text", "chunking", "rag"),
)
def text_overlap_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.text import (
        overlap_char_chunks_expr,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    chunks = docs.select(
        "source",
        F.explode(overlap_char_chunks_expr(F.col("text"), 200, 50)).alias("chunk"),
    )
    checksum = F.conv(F.substring(F.md5("chunk"), 1, 8), 16, 10).cast("long")
    return chunks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum((F.length("chunk") == 200).cast("long")).cast("long").alias("n_full"),
        F.sum(checksum).cast("long").alias("content_checksum"),
    )


@register(
    "text_char_entropy",
    oracle="""
    WITH ch AS (
        SELECT doc_id, source,
               unnest(string_split_regex(lower(text), '')) AS c
        FROM documents
    ),
    filt AS (SELECT * FROM ch WHERE c BETWEEN 'a' AND 'z'),
    freq AS (
        SELECT doc_id, source, c, count(*) AS n
        FROM filt GROUP BY 1, 2, 3
    ),
    tot AS (SELECT doc_id, sum(n) AS tn FROM freq GROUP BY 1),
    ent AS (
        SELECT f.doc_id, f.source,
               -sum((f.n * 1.0 / t.tn) * ln(f.n * 1.0 / t.tn) / ln(2.0))
                   AS entropy
        FROM freq f JOIN tot t USING (doc_id)
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(entropy), 6) AS avg_entropy,
           round(min(entropy), 6) AS min_entropy,
           round(max(entropy), 6) AS max_entropy
    FROM ent
    GROUP BY source
    """,
    doc="Character-entropy quality signal: Shannon entropy (bits) of the "
    "per-document lowercase-letter distribution — low entropy flags "
    "repetitive/degenerate text (keyboard mash, template spam), high "
    "entropy flags random noise; the classic cheap complement to the "
    "Gopher repetition signals. Shape: one explode to (doc, char) "
    "letters, two grouped aggregations — linear, uniformly keyed. "
    "Summation runs over <= 26 well-separated terms per doc, so the "
    "6-dp rounding absorbs engine-side FP association differences.",
    tags=("text", "quality", "entropy"),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    chars = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower("text"), "")).alias("c"),
    ).filter(F.col("c").between("a", "z"))
    freq = chars.groupBy("doc_id", "source", "c").agg(F.count(F.lit(1)).alias("n"))
    tot = freq.groupBy("doc_id").agg(F.sum("n").alias("tn"))
    p = F.col("n") / F.col("tn")
    ent = (
        freq.join(tot, "doc_id")
        .groupBy("doc_id", "source")
        .agg((-F.sum(p * F.log(p) / F.log(F.lit(2.0)))).alias("entropy"))
    )
    return ent.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        pround(F.avg("entropy"), 6).alias("avg_entropy"),
        pround(F.min("entropy"), 6).alias("min_entropy"),
        pround(F.max("entropy"), 6).alias("max_entropy"),
    )


@register(
    "dedup_duplicate_spans",
    oracle=r"""
    WITH toksd AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        FROM documents
    ),
    pos AS (
        SELECT doc_id, u.pos AS pos, u.s AS s FROM (
            SELECT doc_id, unnest(CASE WHEN len(toks) >= 5 THEN
                list_transform(range(1, len(toks) - 3),
                    i -> struct_pack(pos := i,
                                     s := array_to_string(list_slice(toks, i, i + 4), ' ')))
                ELSE [] END) AS u
            FROM toksd) q
    ),
    dup AS (SELECT s FROM pos GROUP BY s HAVING count(*) >= 2),
    hits AS (SELECT doc_id, pos FROM pos JOIN dup USING (s)),
    isl AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 5
                    THEN 1 ELSE 0 END AS ni
        FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    isl2 AS (
        SELECT doc_id, pos,
               sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM isl
    ),
    spans AS (
        SELECT doc_id, island, min(pos) AS s, max(pos) + 4 AS e
        FROM isl2 GROUP BY 1, 2
    )
    SELECT CAST(e - s + 1 AS BIGINT) AS span_tokens,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM spans GROUP BY 1
    """,
    doc="Exact duplicate-SPAN detection (substring dedup, Lee et al. "
    "2021 semantics at 5-token granularity): corpus-duplicated 5-gram "
    "occurrences merged into maximal per-document token ranges via a "
    "per-document gaps-and-islands window, reported as a span-length "
    "histogram. The only corpus-scale shuffle is the uniformly-keyed "
    "shingle-digest groupBy; the merge window is partitioned by "
    "document (bounded by doc length). Scale extension - no reference "
    "twin.",
    tags=("dedup", "substring"),
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.dedup import duplicate_spans

    # wide=True: the k-token rolling-shingle explode is CPU-dense
    docs = t(spark, sf_dir, "documents", wide=True).select("doc_id", "text")
    spans = duplicate_spans(docs, "text", "doc_id", k=5, min_occurrences=2)
    return spans.groupBy(F.col("span_tokens").cast("long").alias("span_tokens")).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )


@register(
    "a_funnel_view_click_purchase",
    oracle="""
    WITH pos AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS p
        FROM events
    ),
    v AS (
        SELECT user_id, min(p) AS vp FROM pos
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT pos.user_id, min(p) AS cp
        FROM pos JOIN v ON pos.user_id = v.user_id
        WHERE event_type = 'click' AND p > vp
        GROUP BY pos.user_id
    ),
    pu AS (
        SELECT pos.user_id, min(p) AS pp
        FROM pos JOIN c ON pos.user_id = c.user_id
        WHERE event_type = 'purchase' AND p > cp
        GROUP BY pos.user_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_view_click,
           (SELECT CAST(count(*) AS BIGINT) FROM pu) AS n_view_click_purchase,
           round((SELECT count(*) FROM pu) * 1.0
                 / nullif((SELECT count(*) FROM v), 0), 6) AS conversion
    """,
    doc="Ordered funnel (view -> click -> purchase): stage k = users "
    "with a strictly later stage-k event than their stage-(k-1) entry, "
    "via per-user event ranks and min-position joins — NO per-user "
    "event-array materialization (collect_list funnels assume bounded "
    "per-user history; this shape is join/agg all the way down, so a "
    "power user with millions of events costs the same as anyone). One "
    "rank shuffle + per-stage |users|-sized joins that AQE broadcasts.",
    tags=("A", "funnel", "events"),
)
def a_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pos = ev.withColumn("p", F.row_number().over(w))
    v = (
        pos.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("p").alias("vp"))
    )
    c = (
        pos.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("p") > F.col("vp"))
        .groupBy("user_id")
        .agg(F.min("p").alias("cp"))
    )
    pu = (
        pos.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("p") > F.col("cp"))
        .groupBy("user_id")
        .agg(F.min("p").alias("pp"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_view_click"))
    np_ = pu.agg(F.count(F.lit(1)).alias("n_view_click_purchase"))
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            F.col("n_view").cast("long").alias("n_view"),
            F.col("n_view_click").cast("long").alias("n_view_click"),
            F.col("n_view_click_purchase").cast("long").alias("n_view_click_purchase"),
            pround(
                F.col("n_view_click_purchase")
                / F.nullif(F.col("n_view").cast("double"), F.lit(0.0)),
                6,
            ).alias("conversion"),
        )
    )


@register(
    "a_cohort_weekly_retention",
    oracle="""
    WITH wk AS (
        SELECT user_id,
               CAST((epoch_us(ts) - 1704067200000000)
                    // 604800000000 AS BIGINT) AS week
        FROM events
    ),
    cohort AS (SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY 1),
    active AS (SELECT DISTINCT user_id, week FROM wk)
    SELECT c.cohort_week,
           a.week - c.cohort_week AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM active a JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Cohort retention matrix: users grouped by first-seen week, "
    "counted as active per week offset — the standard growth-analytics "
    "rollup. Exact integer week arithmetic on epoch microseconds (both "
    "engines derive identical weeks); two grouped aggregations plus one "
    "|users|-sized broadcast join. The matrix is (weeks x weeks) tiny "
    "regardless of corpus size.",
    tags=("A", "cohort", "retention"),
)
def a_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "ts")
    # exact integer week arithmetic (`div`, not `/`): long / long is
    # DOUBLE division in Spark and can flip a floor at week boundaries
    week = F.expr(
        "(unix_micros(to_utc_timestamp(ts, 'UTC')) - 1704067200000000)"
        " div 604800000000"
    ).cast("long")
    wk = ev.select("user_id", week.alias("week"))
    cohort = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = wk.distinct()
    return (
        active.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
    )


_PR_EDGES = """
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        WHERE a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    )
"""


def _pr_iter_sql(k: int) -> str:
    prev = f"r{k - 1}"
    return f"""
    c{k} AS (
        SELECT e.dst AS node, sum({prev}.rank / deg.deg) AS v
        FROM edges e
        JOIN {prev} ON e.src = {prev}.node
        JOIN deg ON e.src = deg.src
        GROUP BY 1
    ),
    r{k} AS (
        SELECT n2.node,
               (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nt.n
               + CAST(0.85 AS DOUBLE) * coalesce(c{k}.v, CAST(0 AS DOUBLE)) AS rank
        FROM nodes n2 CROSS JOIN nt
        LEFT JOIN c{k} ON n2.node = c{k}.node
    )"""


@register(
    "g_pagerank_lsh",
    oracle=f"""
    WITH {_sig_sql()},
    bands AS ({_band_sql()}),
    {_PR_EDGES},
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nt AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT node, CAST(1 AS DOUBLE) / nt.n AS rank FROM nodes, nt),
    {_pr_iter_sql(1)},
    {_pr_iter_sql(2)},
    {_pr_iter_sql(3)}
    SELECT node, rank_rounded, rk FROM (
        SELECT node, round(rank, 6) AS rank_rounded,
               row_number() OVER (ORDER BY round(rank, 6) DESC, node ASC) AS rk
        FROM r3) q
    WHERE rk <= 10
    """,
    doc="PageRank over the LSH candidate graph, 3 UNROLLED power "
    "iterations (operators/graph.pagerank_fixed): fixing the iteration "
    "count makes an iterative graph algorithm pure deterministic "
    "arithmetic — hence fully SQL-oracle-checkable, unlike "
    "convergence-probed variants. Per step: edge⋈rank join + groupBy "
    "dst, the standard distributed shape; the dedup graph is "
    "edge-bounded so each step shuffles near-dup edges, not the corpus. "
    "Top-10 selected on ROUNDED ranks with a node tiebreak so both "
    "engines cut the same boundary.",
    tags=("graph", "pagerank", "dedup"),
)
def g_pagerank_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.graph import (
        pagerank_fixed,
        undirect,
    )
    from cicevse2024_tfm_datapipeline_spark.operators.topk import top_k

    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, "text", "doc_id", NUM_HASHES, BANDS, 3)
    rank = pagerank_fixed(undirect(pairs), iters=3, damping=0.85)
    scored = rank.select("node", pround("rank", 6).alias("rank_rounded"))
    # top-10 via per-partition heap (TakeOrderedAndProject), then the
    # rank index from a triangle join over the 10-row result — no
    # unpartitioned window anywhere
    top = top_k(scored, [F.desc("rank_rounded"), F.asc("node")], 10)
    b = top.select(
        F.col("node").alias("__bn"), F.col("rank_rounded").alias("__br")
    )
    earlier = (F.col("__br") > F.col("rank_rounded")) | (
        (F.col("__br") == F.col("rank_rounded")) & (F.col("__bn") < F.col("node"))
    )
    return (
        top.join(b, earlier, "left")
        .groupBy("node", "rank_rounded")
        .agg((F.count("__bn") + 1).cast("long").alias("rk"))
    )


@register(
    "g_triangle_count_lsh",
    oracle=f"""
    WITH {_sig_sql()},
    bands AS ({_band_sql()}),
    {_PR_EDGES},
    ab AS (SELECT src AS a, dst AS b FROM edges WHERE src < dst)
    SELECT CAST(count(*) AS BIGINT) AS n_triangles,
           (SELECT CAST(count(*) AS BIGINT) FROM ab) AS n_edges
    FROM ab x
    JOIN ab y ON x.b = y.a
    JOIN ab z ON x.a = z.a AND y.b = z.b
    """,
    doc="Triangle count over the LSH candidate graph (operators/graph."
    "triangle_count): ordered 3-clique join a<b<c, each triangle counted "
    "once — the motif baseline for near-dup cluster density (triangle-"
    "rich components are true duplicate clusters, triangle-free stars "
    "are often banding artifacts). Join fan-out bounded by per-node "
    "degree on the edge-bounded dedup graph.",
    tags=("graph", "triangles", "dedup"),
)
def g_triangle_count_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # r12 (guide §2.4): triangle_count immediately re-orients its
    # symmetric input with filter(src < dst), and undirect(pairs) of a
    # distinct a<b pair set filtered back to src<dst is the IDENTITY —
    # so the union+distinct round trip (which executed the unpinned band
    # join once per consumer) is gone: the pinned pair frame feeds the
    # 3-clique join and the edge count directly.
    pairs = lsh_candidate_pairs(
        docs, "text", "doc_id", NUM_HASHES, BANDS, 3
    ).localCheckpoint(eager=False)
    ab = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    bc = ab.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = ab.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    tri = (
        ab.join(bc, "b")
        .join(ac, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")))
        .filter(F.col("b") < F.col("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    n_edges = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return tri.crossJoin(F.broadcast(n_edges))


@register(
    "w_range_frame_rolling",
    oracle="""
    WITH r AS (
        SELECT user_id,
               sum(CAST(floor(value) AS BIGINT)) OVER w AS roll_sum,
               count(*) OVER w AS roll_n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(max(roll_sum) AS BIGINT) AS max_roll_sum,
           CAST(sum(roll_sum) AS BIGINT) AS checksum_roll_sum,
           CAST(max(roll_n) AS BIGINT) AS max_roll_n
    FROM r GROUP BY user_id
    """,
    doc="Time-RANGE window frame (trailing 1 hour per user): the frame "
    "is bounded by event-time distance, not row count — the rolling-"
    "metric shape row-frame windows (W3/A6) cannot express when events "
    "are irregularly spaced. Partitioned by user (bounded state, no "
    "global window); the order key is exact integer microseconds and "
    "the rolled value is floor(value) as a long, so every per-row "
    "frame sum is identical integer arithmetic in both engines and the "
    "checksum pins all of them. RANGE frames include order-key ties on "
    "both sides by definition, making the result partitioning- and "
    "sort-stability-independent.",
    tags=("W", "window", "range-frame"),
)
def w_range_frame_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select("user_id", "ts", "value")
    base = ev.select(
        "user_id",
        F.expr("unix_micros(to_utc_timestamp(ts, 'UTC'))").alias("__us"),
        F.floor("value").cast("long").alias("__iv"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("__us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    r = base.select(
        "user_id",
        F.sum("__iv").over(w).alias("roll_sum"),
        F.count(F.lit(1)).over(w).alias("roll_n"),
    )
    return r.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.max("roll_sum").cast("long").alias("max_roll_sum"),
        F.sum("roll_sum").cast("long").alias("checksum_roll_sum"),
        F.max("roll_n").cast("long").alias("max_roll_n"),
    )


@register(
    "sample_temperature_weights",
    oracle="""
    WITH s AS (
        SELECT source, CAST(sum(n_chars) AS BIGINT) AS toks FROM documents
        GROUP BY source
    ),
    w AS (
        SELECT source, toks,
               toks * 1.0 / (SELECT sum(toks) FROM s) AS p_raw,
               pow(toks * 1.0 / (SELECT sum(toks) FROM s), 0.3) AS w_alpha
        FROM s
    )
    SELECT source, toks AS n_tokens,
           round(p_raw, 6) AS p_raw,
           round(w_alpha / (SELECT sum(w_alpha) FROM w), 6) AS p_mix,
           round((w_alpha / (SELECT sum(w_alpha) FROM w)) / p_raw, 6)
               AS epoch_boost
    FROM w
    """,
    doc="Temperature-scaled mixture weights (alpha = 0.3, the "
    "multilingual/multi-source rebalancing rule from mT5/PaLM-style "
    "training): per-source token mass -> natural proportion p_raw -> "
    "p_mix proportional to p_raw^alpha -> epoch_boost = how many times "
    "over/under its natural rate each source is sampled. The sizing "
    "step every multi-source LLM training mix runs before sampling "
    "(operators/sampling then executes the mix via "
    "deterministic-mixture quotas). One tiny aggregation; the "
    "normalization constants are 1-row broadcast scalars.",
    tags=("sampling", "mixture", "temperature"),
)
def sample_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("source", "n_chars")
    s = docs.groupBy("source").agg(F.sum("n_chars").cast("long").alias("toks"))
    tot = s.agg(F.sum("toks").alias("__tot"))
    w = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "toks",
        (F.col("toks") * F.lit(1.0) / F.col("__tot")).alias("p_raw"),
        F.pow(F.col("toks") * F.lit(1.0) / F.col("__tot"), F.lit(0.3)).alias("w_alpha"),
    )
    z = w.agg(F.sum("w_alpha").alias("__z"))
    return w.crossJoin(F.broadcast(z)).select(
        "source",
        F.col("toks").alias("n_tokens"),
        pround("p_raw", 6).alias("p_raw"),
        pround(F.col("w_alpha") / F.col("__z"), 6).alias("p_mix"),
        pround((F.col("w_alpha") / F.col("__z")) / F.col("p_raw"), 6).alias("epoch_boost"),
    )


@register(
    "dedup_edit_distance_verify",
    oracle=f"""
    WITH {_sig_sql()},
    bands AS ({_band_sql()}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        WHERE a.doc_id < b.doc_id
    ),
    lev AS (
        SELECT p.doc_a, p.doc_b, levenshtein(da.text, db.text) AS d
        FROM pairs p
        JOIN documents da ON p.doc_a = da.doc_id
        JOIN documents db ON p.doc_b = db.doc_id
    )
    SELECT least(9, d // 25) AS bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(d) AS BIGINT) AS min_d,
           CAST(max(d) AS BIGINT) AS max_d,
           CAST(sum(d) AS BIGINT) AS sum_d
    FROM lev GROUP BY 1
    """,
    doc="Edit-distance verification of LSH candidates: exact character "
    "Levenshtein distance (built-in, identical integer DP in both "
    "engines) computed ONLY for the candidate pairs LSH banding "
    "produced — the strict-verify stage of fuzzy dedup when "
    "char-level fidelity matters more than n-gram Jaccard (ocr noise, "
    "whitespace-mangled scrapes). Candidate-bounded by construction "
    "(never n²); the text fetch is two id equi-joins against the "
    "corpus, each AQE-broadcast when the pair set is small. O(len²) "
    "per pair is the price of exactness — at 100 TB you run it on the "
    "LSH survivors only, exactly as staged here.",
    tags=("dedup", "verify", "levenshtein"),
)
def dedup_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.dedup import lsh_candidate_pairs

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = lsh_candidate_pairs(docs, "text", "doc_id", NUM_HASHES, BANDS, 3)
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("__ta"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("__tb"))
    lev = (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(F.levenshtein("__ta", "__tb").alias("d"))
    )
    return lev.groupBy(
        F.least(F.lit(9), (F.col("d") / 25).cast("long")).alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("d").cast("long").alias("min_d"),
        F.max("d").cast("long").alias("max_d"),
        F.sum("d").cast("long").alias("sum_d"),
    )


@register(
    "w_cdc_apply_changelog",
    oracle="""
    WITH base AS (
        SELECT user_id, CAST(floor(value) AS BIGINT) AS v
        FROM (
            SELECT user_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
        ) WHERE rn = 1
    ),
    chg AS (
        SELECT user_id,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               CAST(floor(value) AS BIGINT) AS v
        FROM (
            SELECT user_id, event_type, value, ts, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        ) WHERE rn = 1
    ),
    merged AS (
        SELECT coalesce(c.user_id, b.user_id) AS user_id,
               CASE WHEN c.user_id IS NULL THEN 'kept'
                    WHEN c.op = 'D' THEN 'deleted'
                    WHEN b.user_id IS NULL THEN 'inserted'
                    ELSE 'updated' END AS outcome,
               CASE WHEN c.user_id IS NULL THEN b.v
                    WHEN c.op = 'D' THEN NULL
                    ELSE c.v END AS v
        FROM base b FULL OUTER JOIN chg c ON b.user_id = c.user_id
    )
    SELECT outcome,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(v) AS BIGINT) AS sum_final_value,
           CAST(sum(user_id) AS BIGINT) AS sum_user_ids
    FROM merged GROUP BY outcome
    """,
    doc="CDC changelog apply (batch MERGE semantics without a table "
    "format): a keyed base snapshot full-outer-joined with the "
    "latest-per-key change event, where 'error' events act as DELETEs "
    "and anything else UPSERTs — the kept/updated/inserted/deleted "
    "outcome accounting plus value+key checksums pin the entire merged "
    "state. Latest-per-key on both sides is the one shuffle each "
    "(row_number partitioned by key, deterministic (ts, event_id) "
    "tiebreak); the merge itself is a key equi-join, AQE-broadcast "
    "when the changelog is small — exactly Delta/Iceberg MERGE INTO "
    "re-expressed in plain relational algebra.",
    tags=("W", "cdc", "merge"),
)
def w_cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type", "value")
    cut = F.lit("2024-01-15 00:00:00").cast(ev.schema["ts"].dataType)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())

    def latest(df: DataFrame) -> DataFrame:
        return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)

    base = latest(ev.filter(F.col("ts") < cut)).select(
        "user_id", F.floor("value").cast("long").alias("bv")
    )
    chg = latest(ev.filter(F.col("ts") >= cut)).select(
        "user_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.floor("value").cast("long").alias("cv"),
    )
    b = base.alias("b")
    c = chg.alias("c")
    merged = b.join(c, "user_id", "full_outer").select(
        "user_id",
        F.when(F.col("c.op").isNull(), "kept")
        .when(F.col("c.op") == "D", "deleted")
        .when(F.col("b.bv").isNull(), "inserted")
        .otherwise("updated")
        .alias("outcome"),
        F.when(F.col("c.op").isNull(), F.col("b.bv"))
        .when(F.col("c.op") == "D", F.lit(None).cast("long"))
        .otherwise(F.col("c.cv"))
        .alias("v"),
    )
    return merged.groupBy("outcome").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("v").cast("long").alias("sum_final_value"),
        F.sum("user_id").cast("long").alias("sum_user_ids"),
    )


@register(
    "pack_length_bucketing",
    oracle=r"""
    WITH n AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(text, '\s+'),
                               x -> x <> '')) AS n_tok
        FROM documents
    ),
    b AS (SELECT doc_id, n_tok, least(15, n_tok // 32) AS bucket FROM n),
    agg AS (
        SELECT bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
               CAST(max(n_tok) AS BIGINT) AS bucket_max
        FROM b GROUP BY bucket
    )
    SELECT bucket, n_docs, sum_tokens,
           CAST(n_docs * bucket_max - sum_tokens AS BIGINT) AS padding_waste,
           round((n_docs * bucket_max - sum_tokens) * 1.0
                 / nullif(n_docs * bucket_max, 0), 6) AS waste_frac
    FROM agg
    """,
    doc="Sequence-length bucketing for training-batch efficiency: docs "
    "bucketed by token length (32-token strides, capped), per-bucket "
    "padding waste = pad-to-bucket-max minus real tokens — the standard "
    "accounting that motivates length-bucketed batching / packing over "
    "naive global padding (compare pack_concat_chunks, which removes "
    "the waste entirely). One scan, one tiny aggregation; the token "
    "count is the same whitespace tokenizer the rest of the text stack "
    "uses, so bucket boundaries are engine-identical integers.",
    tags=("packing", "bucketing", "efficiency"),
)
def pack_length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.select(F.size(tokens_expr(F.col("text"))).alias("n_tok"))
    b = n.select("n_tok", F.least(F.lit(15), (F.col("n_tok") / 32).cast("long")).alias("bucket"))
    agg = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("sum_tokens"),
        F.max("n_tok").cast("long").alias("bucket_max"),
    )
    waste = F.col("n_docs") * F.col("bucket_max") - F.col("sum_tokens")
    return agg.select(
        "bucket",
        "n_docs",
        "sum_tokens",
        waste.cast("long").alias("padding_waste"),
        pround(
            waste * F.lit(1.0)
            / F.when(F.col("n_docs") * F.col("bucket_max") > 0, F.col("n_docs") * F.col("bucket_max")),
            6,
        ).alias("waste_frac"),
    )


@register(
    "a_time_rollup_hierarchy",
    oracle="""
    SELECT CAST(coalesce(y, -1) AS BIGINT) AS y,
           CAST(coalesce(m, -1) AS BIGINT) AS m,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM (
        SELECT EXTRACT(year FROM o_orderdate) AS y,
               EXTRACT(month FROM o_orderdate) AS m,
               o_totalprice
        FROM orders
    )
    GROUP BY ROLLUP (y, m)
    """,
    doc="Time-hierarchy ROLLUP (year → month → grand total in ONE "
    "pass): the drill-down report shape, planned as a single Expand + "
    "aggregation instead of three scans — at 100 TB that is one "
    "shuffle carrying all hierarchy levels, with map-side partials per "
    "level. NULL grouping slots are recoded to -1 so both engines "
    "aggregate and hash identical keys (complements "
    "a_cube_pricing_rollup, which checks the full CUBE lattice).",
    tags=("A", "rollup", "olap"),
)
def a_time_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        "o_totalprice",
    )
    return o.rollup("y", "m").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        pround(F.sum("o_totalprice"), 2).alias("revenue"),
    ).select(
        F.coalesce(F.col("y").cast("long"), F.lit(-1)).alias("y"),
        F.coalesce(F.col("m").cast("long"), F.lit(-1)).alias("m"),
        "n_orders",
        "revenue",
    )


@register(
    "w_window_rank_battery",
    oracle="""
    WITH r AS (
        SELECT event_type,
               CAST(floor(value) AS BIGINT) AS v,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd,
               dense_rank() OVER w AS dr,
               first_value(event_id) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND UNBOUNDED FOLLOWING) AS first_id,
               nth_value(event_id, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND UNBOUNDED FOLLOWING) AS third_id
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY floor(value), event_id)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(pr), 6) AS sum_percent_rank,
           round(sum(cd), 6) AS sum_cume_dist,
           CAST(max(dr) AS BIGINT) AS max_dense_rank,
           CAST(max(first_id) AS BIGINT) AS first_id,
           CAST(max(third_id) AS BIGINT) AS third_id
    FROM r GROUP BY event_type
    """,
    doc="Analytic-rank battery over one partitioned window spec: "
    "percent_rank, cume_dist, dense_rank, first_value and nth_value "
    "share a single (event_type, floor(value), event_id) sort — Spark "
    "fuses same-spec window functions into one Window exec, so the "
    "whole battery costs exactly one shuffle+sort. Order key is "
    "integer (floor(value)) with the event_id tiebreak, making every "
    "rank deterministic under any partitioning; the checksums pin each "
    "function's full column. percent_rank/cume_dist sums are exact "
    "small-denominator rationals summed in-order — 6-dp rounding "
    "absorbs the association difference.",
    tags=("W", "window", "rank"),
)
def w_window_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "event_type", "event_id", F.floor("value").cast("long").alias("v")
    )
    w = Window.partitionBy("event_type").orderBy("v", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    r = ev.select(
        "event_type",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.dense_rank().over(w).alias("dr"),
        F.first("event_id").over(wf).alias("first_id"),
        F.nth_value("event_id", 3).over(wf).alias("third_id"),
    )
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        pround(F.sum("pr"), 6).alias("sum_percent_rank"),
        pround(F.sum("cd"), 6).alias("sum_cume_dist"),
        F.max("dr").cast("long").alias("max_dense_rank"),
        F.max("first_id").cast("long").alias("first_id"),
        F.max("third_id").cast("long").alias("third_id"),
    )


_SD_SQDIST = (
    "list_reduce(list_transform(range(1, len({v}) + 1), "
    "i -> ({v}[i] - c.centroid[i]) * ({v}[i] - c.centroid[i])), (x, y) -> x + y)"
)

_SD_COS = (
    "list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]),"
    " (x, y) -> x + y)"
    " / (sqrt(list_reduce(list_transform(range(1, len(a.v) + 1),"
    " i -> a.v[i] * a.v[i]), (x, y) -> x + y))"
    " * sqrt(list_reduce(list_transform(range(1, len(b.v) + 1),"
    " i -> b.v[i] * b.v[i]), (x, y) -> x + y)))"
)


@register(
    "dedup_semdedup_cells",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (
        SELECT CAST(vec_id AS INT) AS cell, v AS centroid FROM e WHERE vec_id < 8
    ),
    adist AS (
        SELECT e.vec_id, e.v, c.cell, {_SD_SQDIST.format(v="e.v")} AS d
        FROM e CROSS JOIN cents c
    ),
    assigned AS (
        SELECT vec_id, v, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d ASC, cell ASC) AS rn
            FROM adist) WHERE rn = 1
    ),
    dup AS (
        SELECT DISTINCT a.vec_id
        FROM assigned a JOIN assigned b USING (cell)
        WHERE b.vec_id < a.vec_id AND {_SD_COS} >= 0.35
    )
    SELECT a.cell,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           CAST(sum(CASE WHEN d.vec_id IS NULL THEN a.vec_id ELSE 0 END) AS BIGINT)
               AS survivor_id_sum
    FROM assigned a LEFT JOIN dup d ON a.vec_id = d.vec_id
    GROUP BY a.cell
    """,
    doc="SemDeDup — cluster-then-threshold semantic dedup of an embedding "
    "corpus (operators/similarity.semdedup_marks): nearest-centroid cell "
    "assignment via a broadcast argmin fold (centroids are an OFFLINE "
    "artifact; here the deterministic first-8-vectors fixture so the whole "
    "chain stays SQL-checkable), then within-cell cosine>=0.35 against any "
    "lower-id member marks duplicates; lowest id per semantic group "
    "survives. Candidate pairs are cell-bounded — the clustering exists "
    "precisely so the quadratic stays inside cells (~corpus/k rows each) "
    "at 100 TB. Checked per cell: member/removed counts + survivor id-sum.",
    tags=("dedup", "semdedup", "similarity"),
)
def dedup_semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.similarity import (
        as_double_array,
        semdedup_marks,
    )

    emb = t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cell"),
        as_double_array("embedding").alias("centroid"),
    )
    marks = semdedup_marks(emb, "vec_id", "embedding", cents, threshold=0.35)
    return marks.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("is_duplicate").cast("long").alias("n_removed"),
        F.sum(F.when(F.col("is_duplicate") == 0, F.col("id")).otherwise(F.lit(0)))
        .cast("long")
        .alias("survivor_id_sum"),
    )


#: fasttext-style linear model weights — an OFFLINE artifact in a real
#: pipeline (trained classifier); integer weights keep score arithmetic
#: exact in any engine. (word, weight)
_QCLF_WEIGHTS = [
    ("fast", 2), ("spark", 2), ("vector", 1), ("query", 1), ("data", 1),
    ("slow", -2), ("the", -1), ("a", -1), ("small", -1),
]
_QCLF_BIAS = -2


@register(
    "text_quality_linear_classifier",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(list_filter(regexp_split_to_array(lower(text),
                      '[^a-z0-9]+'), x -> x <> '')) AS w
        FROM documents
    ),
    wt (w, wt) AS (VALUES {", ".join(f"('{w}', {x})" for w, x in _QCLF_WEIGHTS)}),
    scores AS (
        SELECT t.doc_id, any_value(t.source) AS source,
               coalesce(sum(wt.wt), 0) + {_QCLF_BIAS} AS score
        FROM toks t LEFT JOIN wt ON t.w = wt.w
        GROUP BY t.doc_id
    )
    SELECT source,
           CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS INT) AS pred_keep,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(score) AS BIGINT) AS sum_score,
           CAST(min(score) AS BIGINT) AS min_score,
           CAST(max(score) AS BIGINT) AS max_score
    FROM scores
    GROUP BY source, pred_keep
    """,
    doc="Model-based quality filtering, the fasttext-classifier stage of "
    "LLM corpus prep, as pure relational algebra: a fixed integer weight "
    "table (the trained model is an offline artifact — literal relation, "
    "broadcast) joins the exploded unigram stream, one groupBy sums "
    "weight*count per doc plus bias, sign of the score is the keep/drop "
    "decision. Integer weights x integer counts -> the score is exact in "
    "any engine; no sigmoid needed for a threshold decision (monotone). "
    "Scale: explode -> broadcast join -> doc_id groupBy is one shuffle of "
    "(doc_id, partial-sum) pairs, map-side combined.",
    tags=("text", "quality", "classifier"),
)
def text_quality_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11 restructure (guide §2.3 "aggregate before you shuffle", taken
    # to its limit): the per-doc score is a SUM over the doc's own token
    # array of a 9-entry weight lookup — a per-row array fold, not a
    # corpus-wide join. The old shape exploded every token, broadcast-
    # joined the weight table and shuffled (doc_id, partial-sum) pairs;
    # now the score is computed inside the scan stage and the only
    # shuffle left is the final tiny (source, pred_keep) aggregate.
    # Semantics preserved exactly: the CASE ladder returns the same
    # integer the left join's coalesce(sum, 0) produced, and docs whose
    # token array is EMPTY are dropped (unnest/explode emitted no rows
    # for them, so they never reached the old groupBy either).
    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    tok_arr = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )

    def _weight(x):
        expr = F.lit(0)
        for w, wt in reversed(_QCLF_WEIGHTS):
            expr = F.when(x == F.lit(w), F.lit(wt)).otherwise(expr)
        return expr

    scores = (
        docs.select(
            "doc_id",
            "source",
            tok_arr.alias("__toks"),
        )
        .filter(F.size("__toks") > 0)
        .select(
            "source",
            (
                F.aggregate(
                    "__toks", F.lit(0), lambda acc, x: acc + _weight(x)
                )
                + F.lit(_QCLF_BIAS)
            ).alias("score"),
        )
    )
    return scores.groupBy(
        "source", (F.col("score") > 0).cast("int").alias("pred_keep")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("score").cast("long").alias("sum_score"),
        F.min("score").cast("long").alias("min_score"),
        F.max("score").cast("long").alias("max_score"),
    )


#: count-min sketch geometry: d hash rows x w columns. Counters are plain
#: sums -> the sketch is MERGEABLE (partition sketches add cell-wise),
#: which is the whole point at scale: one map-side-combined groupBy builds
#: it, unions of corpora add their sketches.
_CMS_D, _CMS_W = 4, 256

#: probe tokens: frequent + mid + absent, fixed so both engines query the
#: same cells
_CMS_PROBES = ["table", "fast", "spark", "vector", "customer", "zebra"]


def _cms_cell_sql(row: int, tok: str) -> str:
    return (
        f"(('0x' || substr(md5(CAST({row} AS VARCHAR) || '|' || {tok}), 1, 8))::BIGINT"
        f" % {_CMS_W})"
    )


@register(
    "a_countmin_heavy_hitters",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_TOKS}) AS w FROM documents
    ),
    cells AS (
        SELECT r.range AS r, {_cms_cell_sql("r.range", "t.w")} AS c,
               count(*) AS cnt
        FROM toks t CROSS JOIN range(0, {_CMS_D}) r
        GROUP BY 1, 2
    ),
    probes AS (SELECT unnest(ARRAY{_CMS_PROBES!r}) AS w),
    probe_cells AS (
        SELECT p.w, r.range AS r, {_cms_cell_sql("r.range", "p.w")} AS c
        FROM probes p CROSS JOIN range(0, {_CMS_D}) r
    ),
    est AS (
        SELECT pc.w, min(coalesce(cl.cnt, 0)) AS cms_estimate
        FROM probe_cells pc LEFT JOIN cells cl ON pc.r = cl.r AND pc.c = cl.c
        GROUP BY pc.w
    ),
    exact AS (
        SELECT t.w, count(*) AS exact_count FROM toks t
        WHERE t.w IN (SELECT w FROM probes) GROUP BY 1
    )
    SELECT e.w AS token,
           CAST(coalesce(x.exact_count, 0) AS BIGINT) AS exact_count,
           CAST(e.cms_estimate AS BIGINT) AS cms_estimate,
           CAST(e.cms_estimate - coalesce(x.exact_count, 0) AS BIGINT)
               AS overcount
    FROM est e LEFT JOIN exact x ON e.w = x.w
    """,
    doc="Count-min sketch heavy-hitter counting over the corpus token "
    "stream: d=4 md5 hash rows x w=256 counters built by ONE map-side-"
    "combined groupBy over the exploded (row, cell) pairs — counters are "
    "sums, so partition sketches MERGE cell-wise (the reason CMS works "
    "on streams and unions at 100 TB; the sketch is O(d*w), never "
    "data-sized). Probes read min over rows; the checked result carries "
    "exact count, estimate, and the (always >= 0) overcount — the CMS "
    "guarantee itself is part of the oracle contract.",
    tags=("A", "sketch", "cms"),
)
def a_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.functions.literals import literal_df

    docs = t(spark, sf_dir, "documents").select("text")
    toks = docs.select(
        F.explode(
            F.filter(F.split("text", r"\s+"), lambda x: x != F.lit(""))
        ).alias("w")
    )

    def cell(row: int, tok) -> "F.Column":
        return (
            F.conv(F.substring(F.md5(F.concat(F.lit(f"{row}|"), tok)), 1, 8), 16, 10)
            .cast("long")
            % _CMS_W
        )

    pairs = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("long").alias("r"),
                        cell(r, F.col("w")).alias("c"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("rc")
    )
    cms = pairs.groupBy(F.col("rc.r").alias("r"), F.col("rc.c").alias("c")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    probes = literal_df(
        spark, [(w,) for w in _CMS_PROBES], schema="w string"
    )
    probe_cells = probes.select(
        "w",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("long").alias("r"),
                        cell(r, F.col("w")).alias("c"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("rc"),
    ).select("w", F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
    est = (
        probe_cells.join(F.broadcast(cms), ["r", "c"], "left")
        .groupBy("w")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate"))
    )
    exact = (
        toks.join(F.broadcast(probes), "w", "left_semi")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return (
        est.join(exact, "w", "left")
        .select(
            F.col("w").alias("token"),
            F.coalesce("exact_count", F.lit(0)).cast("long").alias("exact_count"),
            F.col("cms_estimate").cast("long").alias("cms_estimate"),
            (F.col("cms_estimate") - F.coalesce("exact_count", F.lit(0)))
            .cast("long")
            .alias("overcount"),
        )
    )


@register(
    "w_gap_fill_interpolate",
    oracle="""
    WITH b AS (
        SELECT user_id, epoch_us(ts) // 3600000000 AS hr,
               floor(sum(value) * 100 + 0.5) / 100.0 AS s,
               count(*) AS c
        FROM events WHERE user_id < 10
        GROUP BY 1, 2
    ),
    bounds AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM b GROUP BY 1),
    grid AS (
        SELECT user_id, unnest(generate_series(h0, h1)) AS hr FROM bounds
    ),
    j AS (
        SELECT g.user_id, g.hr, b.s / b.c AS v
        FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.hr = b.hr
    ),
    f AS (
        SELECT user_id, hr, v,
               last_value(v IGNORE NULLS) OVER w_prev AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
                   OVER w_prev AS ph,
               first_value(v IGNORE NULLS) OVER w_next AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
                   OVER w_next AS nh
        FROM j
        WINDOW
          w_prev AS (PARTITION BY user_id ORDER BY hr
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_next AS (PARTITION BY user_id ORDER BY hr
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    interp AS (
        SELECT user_id, hr, v,
               CASE WHEN v IS NOT NULL THEN v
                    WHEN pv IS NULL THEN nv
                    WHEN nv IS NULL THEN pv
                    ELSE pv + (nv - pv) * (hr - ph) / (nh - ph)
               END AS iv
        FROM f
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_slots,
           CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_filled,
           CAST(sum(CAST(floor(iv * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS interp_checksum_micro
    FROM interp
    GROUP BY user_id
    """,
    doc="Time-series gap filling with linear interpolation — the "
    "resample-and-fill primitive of warehouse timeseries work: hourly "
    "buckets per user, the missing grid slots materialized via "
    "sequence()/explode from per-user bounds (no calendar table, no "
    "driver loop), previous/next known points found with "
    "last/first(ignorenulls) over partitioned frames, then the standard "
    "two-point interpolation with edge carry. Windows partition by user "
    "— parallel at any scale; the grid is bounded by span/granularity "
    "per key, not data size. Exact-integer checksum (micro-scaled) so "
    "the oracle compare is float-order-proof; the bucket mean divides a "
    "canonicalized 2-dp sum (exact) by an integer count.",
    tags=("W", "timeseries", "interpolation"),
)
def w_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    b = (
        ev.select(
            "user_id",
            (
                F.expr("unix_micros(to_utc_timestamp(ts, 'UTC'))")
                / F.lit(3600000000)
            )
            .cast("long")
            .alias("hr"),
            "value",
        )
        .groupBy("user_id", "hr")
        .agg(
            (pround(F.sum("value"), 2) / F.count(F.lit(1))).alias("v"),
        )
    )
    bounds = b.groupBy("user_id").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("hr")
    )
    j = grid.join(b, ["user_id", "hr"], "left")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    known_hr = F.when(F.col("v").isNotNull(), F.col("hr"))
    f = j.select(
        "user_id",
        "hr",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(known_hr, ignorenulls=True).over(w_prev).alias("ph"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(known_hr, ignorenulls=True).over(w_next).alias("nh"),
    )
    iv = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("hr") - F.col("ph"))
            / (F.col("nh") - F.col("ph"))
        )
    )
    return (
        f.withColumn("iv", iv)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_slots"),
            F.sum(F.col("v").isNull().cast("long")).cast("long").alias("n_filled"),
            F.sum(F.floor(F.col("iv") * 1000000 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("interp_checksum_micro"),
        )
    )


@register(
    "ml_knn_classify",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, label AS true_label
          FROM e WHERE vec_id < 50),
    scored AS (
        SELECT q.query_id, q.true_label, e.vec_id AS neighbor_id,
               e.label AS nbr_label,
               {_DOT} / ({_NQ} * {_NV}) AS cosine
        FROM q JOIN e ON e.vec_id <> q.query_id
    ),
    topk AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rk
            FROM scored) WHERE rk <= 5
    ),
    votes AS (
        SELECT query_id, true_label, nbr_label, count(*) AS n
        FROM topk GROUP BY 1, 2, 3
    ),
    pred AS (
        SELECT query_id, true_label, nbr_label AS pred_label FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY n DESC, nbr_label ASC) AS pr
            FROM votes) WHERE pr = 1
    )
    SELECT CAST(true_label AS INT) AS true_label,
           CAST(pred_label AS INT) AS pred_label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM pred
    GROUP BY 1, 2
    """,
    doc="kNN classification over the embedding corpus (the standard "
    "embedding-quality eval harness): 5 nearest neighbors by cosine per "
    "query, majority vote with deterministic (count desc, label asc) "
    "tie-break, confusion cells of predicted vs true label — fully "
    "relational, ORACLE-CHECKED. The query side broadcasts (eval sets "
    "are small); the corpus never shuffles; per-query heaps via "
    "partitioned row_number. Swap the brute-force scorer for the "
    "bucketed/IVF candidate generator at 100 TB — same vote/confusion "
    "tail.",
    tags=("ml", "knn", "similarity"),
)
def ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cicevse2024_tfm_datapipeline_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    labels = F.broadcast(
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nbr_label"))
    )
    qlabels = F.broadcast(
        emb.filter(F.col("vec_id") < 50).select(
            F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
        )
    )
    topk = brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "nbr_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("n"), F.asc("nbr_label"))
    pred = (
        votes.withColumn("pr", F.row_number().over(wv))
        .filter(F.col("pr") == 1)
        .select("query_id", F.col("nbr_label").alias("pred_label"))
        .join(qlabels, "query_id")
    )
    return pred.groupBy(
        F.col("true_label").cast("int").alias("true_label"),
        F.col("pred_label").cast("int").alias("pred_label"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum((F.col("true_label") == F.col("pred_label")).cast("long"))
        .cast("long")
        .alias("n_correct"),
    )


@register(
    "a_grouping_sets_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT)
               AS gid,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    doc="Explicit GROUPING SETS with grouping() disambiguation — the "
    "general multi-level aggregate (ROLLUP and CUBE are its two fixed "
    "specializations, both already covered): detail, per-returnflag, "
    "and grand-total levels in ONE pass via Expand (each input row "
    "fans to its set combinations before a single hash aggregate — no "
    "re-scan per level), with grouping() encoding which NULLs are "
    "structural. Cent-scaled exact sums.",
    tags=("A", "grouping-sets"),
)
def a_grouping_sets_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    li.select(
        "l_returnflag", "l_linestatus",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    ).createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT)
                   AS gid,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(cents) AS BIGINT) AS price_cents
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "a_group_median_quartiles",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(quantile_cont(l_quantity, 0.25), 6) AS q1,
           round(quantile_cont(l_quantity, 0.50), 6) AS median,
           round(quantile_cont(l_quantity, 0.75), 6) AS q3
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="EXACT per-group quantiles (median + quartiles) via percentile() "
    "— linear-interpolated type-7 semantics, matching DuckDB "
    "quantile_cont bit-for-bit on integer-valued quantities (rank "
    "arithmetic on exact doubles). Spark plans this as a sort-based "
    "aggregate per group; for data-sized groups at 100 TB the "
    "approx_percentile sketch (already covered in a_approx_sketches) is "
    "the constant-memory path — this is the exact small-cardinality "
    "complement.",
    tags=("A", "quantiles"),
)
def a_group_median_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        pround(F.expr("percentile(l_quantity, 0.25)"), 6).alias("q1"),
        pround(F.expr("percentile(l_quantity, 0.50)"), 6).alias("median"),
        pround(F.expr("percentile(l_quantity, 0.75)"), 6).alias("q3"),
    )


@register(
    "ml_kfold_assignments",
    oracle="""
    WITH f AS (
        SELECT doc_id, source,
               CAST(('0x' || substr(md5('fold|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    % 5 AS INT) AS fold
        FROM documents
    )
    SELECT fold, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM f
    GROUP BY fold, source
    """,
    doc="Deterministic k-fold cross-validation assignment (k=5) by "
    "md5(id) — the fold of a row is a pure function of its identity, so "
    "the split reproduces on any partitioning, any engine, any rerun "
    "(the same property as operators/sampling's hash-rank sampling; a "
    "seeded rand() would be partitioning-dependent). Fold x source "
    "counts + id checksums pin the exact membership. Harnesses "
    "(ml/harness.py LOAO) iterate folds by filtering fold != i for "
    "train, fold = i for eval.",
    tags=("ml", "kfold", "split"),
)
def ml_kfold_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    fold = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("fold|"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 5
    ).cast("int")
    return (
        docs.withColumn("fold", fold)
        .groupBy("fold", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
    )


@register(
    "u_unpivot_measures",
    oracle="""
    WITH long AS (
        SELECT l_returnflag, 'quantity' AS measure,
               CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'price',
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'discount',
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'tax',
               CAST(floor(l_tax * 100 + 0.5) AS BIGINT)
        FROM lineitem
    )
    SELECT l_returnflag, measure,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM long
    GROUP BY l_returnflag, measure
    """,
    doc="UNPIVOT / melt (wide->long), the inverse of the pivot already "
    "covered in a10_confusion_pivot: four measure columns rotate into "
    "(measure, value) rows via the DataFrame unpivot API — planned as a "
    "single Expand over one scan (each input row fans to its measure "
    "rows), NOT four unioned re-scans; the oracle spells the UNION ALL "
    "semantics explicitly. Cent-scaled exact sums per (flag, measure).",
    tags=("U", "unpivot"),
)
def u_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long").alias("quantity"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("price"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long").alias("discount"),
        F.floor(F.col("l_tax") * 100 + F.lit(0.5)).cast("long").alias("tax"),
    )
    long = li.unpivot(
        ids=["l_returnflag"],
        values=["quantity", "price", "discount", "tax"],
        variableColumnName="measure",
        valueColumnName="cents",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


_BPE_WORDS = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')"
)


def _bpe_pairs_sql(sym: str, out: str) -> str:
    """DuckDB CTE body: weighted adjacent-pair counts over symbol seqs."""
    return f"""
    {out} AS (
        SELECT a || ' ' || b AS pair, sum(f) AS cnt FROM (
            SELECT parts[i] AS a, parts[i + 1] AS b, t.f
            FROM (SELECT list_filter(regexp_split_to_array(trim(s), ' '),
                                     x -> x <> '') AS parts, f
                  FROM {sym}) t,
                 unnest(range(1, len(parts))) AS u(i)
        ) GROUP BY 1
    )"""


@register(
    "text_bpe_vocab_induction",
    oracle=f"""
    WITH words AS (
        SELECT w, count(*) AS f FROM (
            SELECT unnest({_BPE_WORDS}) AS w FROM documents) GROUP BY 1
    ),
    sym0 AS (
        SELECT ' ' || array_to_string(list_transform(range(1, len(w) + 1),
                   i -> w[i]), ' ') || ' ' AS s, f
        FROM words
    ),
    {_bpe_pairs_sql("sym0", "p1")},
    best1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair ASC LIMIT 1),
    sym1 AS (
        SELECT replace(s, ' ' || (SELECT pair FROM best1) || ' ',
                       ' ' || replace((SELECT pair FROM best1), ' ', '') || ' ') AS s,
               f
        FROM sym0
    ),
    {_bpe_pairs_sql("sym1", "p2")},
    best2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair ASC LIMIT 1),
    sym2 AS (
        SELECT replace(s, ' ' || (SELECT pair FROM best2) || ' ',
                       ' ' || replace((SELECT pair FROM best2), ' ', '') || ' ') AS s,
               f
        FROM sym1
    ),
    stats AS (
        SELECT CAST(sum(f * len(list_filter(regexp_split_to_array(trim(s), ' '),
                                            x -> x <> ''))) AS BIGINT) AS total_symbols
        FROM sym2
    )
    SELECT 1 AS round, (SELECT pair FROM best1) AS merged_pair,
           CAST((SELECT cnt FROM best1) AS BIGINT) AS pair_count,
           (SELECT total_symbols FROM stats) AS total_symbols_after
    UNION ALL
    SELECT 2, (SELECT pair FROM best2),
           CAST((SELECT cnt FROM best2) AS BIGINT),
           (SELECT total_symbols FROM stats)
    """,
    doc="Distributed BPE vocabulary induction, two merge rounds — the "
    "tokenizer-TRAINING step of an LLM pipeline as relational algebra. "
    "The classic scale trick: merges operate on the WORD-FREQUENCY "
    "DICTIONARY (vocabulary-sized, bounded), never the corpus — one "
    "corpus pass builds (word, freq), then each round is a pair-count "
    "aggregate weighted by freq, a 1-row argmax broadcast "
    "(deterministic count-desc / pair-asc tie-break), and a left-to-"
    "right non-overlapping merge via replace() on the sentinel-spaced "
    "symbol sequence (identical sequential-replace semantics in both "
    "engines). Emits each round's merged pair + count and the post-"
    "merge symbol total as the corpus checksum.",
    tags=("text", "bpe", "tokenizer"),
)
def text_bpe_vocab_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("text")
    words = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower("text"), "[^a-z]+"), lambda x: x != F.lit("")
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    sym = words.select(
        F.concat(
            F.lit(" "),
            F.concat_ws(" ", F.filter(F.split("w", ""), lambda x: x != F.lit(""))),
            F.lit(" "),
        ).alias("s"),
        "f",
    ).localCheckpoint(eager=False)

    def pair_counts(symdf: DataFrame) -> DataFrame:
        parts = F.filter(F.split(F.trim("s"), " "), lambda x: x != F.lit(""))
        idx = F.when(
            F.size(parts) >= 2, F.sequence(F.lit(0), F.size(parts) - 2)
        ).otherwise(F.array().cast("array<int>"))
        return (
            symdf.select(parts.alias("p"), "f", F.explode(idx).alias("i"))
            .select(
                F.concat(
                    F.element_at("p", F.col("i") + 1),
                    F.lit(" "),
                    F.element_at("p", F.col("i") + 2),
                ).alias("pair"),
                "f",
            )
            .groupBy("pair")
            .agg(F.sum("f").alias("cnt"))
        )

    def best_of(pairs: DataFrame) -> DataFrame:
        return pairs.orderBy(F.desc("cnt"), F.asc("pair")).limit(1)

    rows = []
    for rnd in (1, 2):
        best = F.broadcast(best_of(pair_counts(sym)))
        rows.append(
            best.select(
                F.lit(rnd).alias("round"),
                F.col("pair").alias("merged_pair"),
                F.col("cnt").cast("long").alias("pair_count"),
            )
        )
        sym = sym.crossJoin(best.select(F.col("pair").alias("__bp"))).select(
            F.replace(
                F.col("s"),
                F.concat(F.lit(" "), F.col("__bp"), F.lit(" ")),
                F.concat(
                    F.lit(" "), F.replace(F.col("__bp"), F.lit(" "), F.lit("")), F.lit(" ")
                ),
            ).alias("s"),
            "f",
        ).localCheckpoint(eager=False)
    parts = F.filter(F.split(F.trim("s"), " "), lambda x: x != F.lit(""))
    stats = sym.agg(
        F.sum(F.col("f") * F.size(parts)).cast("long").alias("total_symbols_after")
    )
    out = rows[0].unionByName(rows[1])
    return out.crossJoin(F.broadcast(stats))


@register(
    "text_bpe_fertility",
    oracle=f"""
    WITH words AS (
        SELECT w, count(*) AS f FROM (
            SELECT unnest({_BPE_WORDS}) AS w FROM documents) GROUP BY 1
    ),
    sym0 AS (
        SELECT w, ' ' || array_to_string(list_transform(range(1, len(w) + 1),
                   i -> w[i]), ' ') || ' ' AS s, f
        FROM words
    ),
    {_bpe_pairs_sql("sym0", "p1")},
    best1 AS (SELECT pair FROM p1 ORDER BY cnt DESC, pair ASC LIMIT 1),
    sym1 AS (
        SELECT w, replace(s, ' ' || (SELECT pair FROM best1) || ' ',
                   ' ' || replace((SELECT pair FROM best1), ' ', '') || ' ') AS s, f
        FROM sym0
    ),
    {_bpe_pairs_sql("sym1", "p2")},
    best2 AS (SELECT pair FROM p2 ORDER BY cnt DESC, pair ASC LIMIT 1),
    dict AS (
        SELECT w,
               len(list_filter(regexp_split_to_array(trim(replace(s,
                   ' ' || (SELECT pair FROM best2) || ' ',
                   ' ' || replace((SELECT pair FROM best2), ' ', '') || ' ')), ' '),
                   x -> x <> '')) AS n_sym,
               len(w) AS n_chars
        FROM sym1
    ),
    docw AS (
        SELECT source, unnest({_BPE_WORDS}) AS w FROM documents
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(k.n_chars) AS BIGINT) AS n_chars,
           CAST(sum(k.n_sym) AS BIGINT) AS n_tokens,
           round(sum(k.n_sym) * 1.0 / count(*), 6) AS fertility
    FROM docw d JOIN dict k ON d.w = k.w
    GROUP BY d.source
    """,
    doc="BPE fertility evaluation — the train->apply loop closed: the two "
    "merges induced by text_bpe_vocab_induction are applied back to the "
    "word dictionary (vocab-sized, so the per-word symbol count is "
    "computed once), then the corpus word stream joins the dict "
    "(broadcast at real vocab/corpus ratios) to yield per-source token "
    "counts and fertility (tokens per word) — THE metric tokenizer "
    "training optimizes. Exact integer counts; the ratio divides exact "
    "integers.",
    tags=("text", "bpe", "tokenizer", "fertility"),
)
def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("source", "text")
    wexpr = F.explode(
        F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda x: x != F.lit(""))
    )
    words = (
        docs.select(wexpr.alias("w")).groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    )
    sym = words.select(
        "w",
        F.concat(
            F.lit(" "),
            F.concat_ws(" ", F.filter(F.split("w", ""), lambda x: x != F.lit(""))),
            F.lit(" "),
        ).alias("s"),
        "f",
    ).localCheckpoint(eager=False)

    def pair_counts(symdf: DataFrame) -> DataFrame:
        parts = F.filter(F.split(F.trim("s"), " "), lambda x: x != F.lit(""))
        idx = F.when(
            F.size(parts) >= 2, F.sequence(F.lit(0), F.size(parts) - 2)
        ).otherwise(F.array().cast("array<int>"))
        return (
            symdf.select(parts.alias("p"), "f", F.explode(idx).alias("i"))
            .select(
                F.concat(
                    F.element_at("p", F.col("i") + 1),
                    F.lit(" "),
                    F.element_at("p", F.col("i") + 2),
                ).alias("pair"),
                "f",
            )
            .groupBy("pair")
            .agg(F.sum("f").alias("cnt"))
        )

    for _ in range(2):
        best = F.broadcast(
            pair_counts(sym).orderBy(F.desc("cnt"), F.asc("pair")).limit(1)
        )
        sym = sym.crossJoin(best.select(F.col("pair").alias("__bp"))).select(
            "w",
            F.replace(
                F.col("s"),
                F.concat(F.lit(" "), F.col("__bp"), F.lit(" ")),
                F.concat(
                    F.lit(" "),
                    F.replace(F.col("__bp"), F.lit(" "), F.lit("")),
                    F.lit(" "),
                ),
            ).alias("s"),
            "f",
        ).localCheckpoint(eager=False)
    parts = F.filter(F.split(F.trim("s"), " "), lambda x: x != F.lit(""))
    dct = F.broadcast(
        sym.select("w", F.size(parts).alias("n_sym"), F.length("w").alias("n_chars"))
    )
    docw = docs.select("source", wexpr.alias("w"))
    return (
        docw.join(dct, "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("n_sym").cast("long").alias("n_tokens"),
            pround(F.sum("n_sym") * F.lit(1.0) / F.count(F.lit(1)), 6).alias("fertility"),
        )
    )


_KM_SQDIST = (
    "list_reduce(list_transform(range(1, len(v) + 1), "
    "i -> (v[i] - c.centroid[i]) * (v[i] - c.centroid[i])), (x, y) -> x + y)"
)

_KM_ASSIGN = """
    {out} AS (
        SELECT vec_id, v, cell FROM (
            SELECT e.vec_id, e.v, c.cell, {dist} AS d,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {dist} ASC, c.cell ASC) AS rn
            FROM e CROSS JOIN {cents} c) WHERE rn = 1
    )"""

_KM_RECOMPUTE = """
    {out} AS (
        SELECT cell,
               list(sum_scaled * 1.0 / (n * 1000000.0) ORDER BY dim) AS centroid
        FROM (
            SELECT a.cell, u.i AS dim,
                   sum(CAST(floor(a.v[u.i] * 1000000 + 0.5) AS BIGINT)) AS sum_scaled,
                   count(*) AS n
            FROM {assigned} a, unnest(range(1, len(a.v) + 1)) AS u(i)
            GROUP BY 1, 2)
        GROUP BY cell
    )"""


@register(
    "ml_kmeans_two_rounds",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS centroid FROM e WHERE vec_id < 8),
    {_KM_ASSIGN.format(out="a1", cents="cents0", dist=_KM_SQDIST)},
    {_KM_RECOMPUTE.format(out="cents1", assigned="a1")},
    {_KM_ASSIGN.format(out="a2", cents="cents1", dist=_KM_SQDIST)},
    {_KM_RECOMPUTE.format(out="cents2", assigned="a2")}
    SELECT c.cell,
           CAST((SELECT count(*) FROM a2 WHERE a2.cell = c.cell) AS BIGINT)
               AS n_members,
           CAST(list_reduce(list_transform(range(1, len(c.centroid) + 1),
                    i -> CAST(floor(c.centroid[i] * 1000000 + 0.5) AS BIGINT)),
                (x, y) -> x + y) AS BIGINT) AS centroid_checksum_micro
    FROM cents2 c
    """,
    doc="KMeans (Lloyd) as PURE relational algebra, two rounds with "
    "deterministic first-8 init — the offline quantizer-build step that "
    "feeds sim_ivf_topk / dedup_semdedup_cells, expressed without Spark-ML "
    "so the whole iteration is oracle-checkable: assignment = broadcast "
    "argmin fold per row, recompute = per-(cell, dim) EXACT scaled-integer "
    "sums (accumulation order cannot perturb the centroid, so assignments "
    "can never flip at a ulp boundary between engines) rebuilt into arrays "
    "by ordered aggregation. Each round is one shuffle (the cell/dim "
    "groupBy); centroids stay a broadcast-sized side. Checked: per-cell "
    "membership counts + micro-scaled centroid checksums after round 2.",
    tags=("ml", "kmeans", "iterative"),
)
def ml_kmeans_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.similarity import (
        _cell_dist_structs,
        as_double_array,
    )

    emb = t(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", as_double_array("embedding").alias("v")).localCheckpoint(
        eager=False
    )
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("v").alias("centroid")
    )
    assigned = None
    for _ in range(2):
        cent_arr = cents.agg(
            F.collect_list(F.struct("cell", "centroid")).alias("__cents")
        )
        assigned = (
            e.crossJoin(F.broadcast(cent_arr))
            .withColumn(
                "cell",
                F.expr(f"array_min({_cell_dist_structs('v', '__cents')}).cell"),
            )
            .select("vec_id", "v", "cell")
        )
        dims = assigned.select(
            "cell", F.posexplode("v").alias("dim0", "x")
        ).groupBy("cell", "dim0").agg(
            F.sum(F.floor(F.col("x") * 1000000 + F.lit(0.5)).cast("long")).alias(
                "sum_scaled"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        cents = dims.groupBy("cell").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("dim0").alias("d"),
                            (
                                F.col("sum_scaled")
                                * F.lit(1.0)
                                / (F.col("n") * F.lit(1000000.0))
                            ).alias("x"),
                        )
                    )
                ),
                lambda s: s.getField("x"),
            ).alias("centroid")
        )
        cents = cents.localCheckpoint(eager=False)
    members = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    checksum = F.aggregate(
        F.transform(
            F.col("centroid"),
            lambda x: F.floor(x * 1000000 + F.lit(0.5)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        cents.select("cell", checksum.alias("centroid_checksum_micro"))
        .join(members, "cell")
        .select("cell", "n_members", "centroid_checksum_micro")
    )


@register(
    "text_bigram_lm_scores",
    oracle=f"""
    WITH toksd AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    tok AS (
        SELECT doc_id, source, i AS pos, toks[i] AS w,
               CASE WHEN i > 1 THEN toks[i - 1] END AS prev
        FROM toksd, unnest(range(1, len(toks) + 1)) AS u(i)
    ),
    uni AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT sum(c) AS n FROM uni),
    bi AS (
        SELECT prev, w, count(*) AS cb FROM tok WHERE prev IS NOT NULL
        GROUP BY prev, w
    ),
    ctx AS (SELECT prev, sum(cb) AS cc FROM bi GROUP BY prev),
    scored AS (
        SELECT t.doc_id, t.source,
               avg(ln(0.7 * (b.cb * 1.0 / x.cc)
                      + 0.3 * (u.c * 1.0 / tot.n))) AS lp
        FROM tok t
        JOIN uni u USING (w) CROSS JOIN tot
        JOIN bi b ON t.prev = b.prev AND t.w = b.w
        JOIN ctx x ON t.prev = x.prev
        WHERE t.prev IS NOT NULL
        GROUP BY t.doc_id, t.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(-lp), 6) AS avg_doc_nll,
           round(min(-lp), 6) AS min_doc_nll,
           round(max(-lp), 6) AS max_doc_nll
    FROM scored GROUP BY source
    """,
    doc="Interpolated BIGRAM LM scoring — the conditional-probability "
    "upgrade of the unigram perplexity proxy: P(w|prev) = c(prev,w)/"
    "c(prev) interpolated 0.7/0.3 with the unigram P(w); each document "
    "averages -ln of the mixture over its bigram positions. Plan shape: "
    "position-indexed explode carries (prev, w) pairs, one groupBy each "
    "for unigram/bigram/context counts, then equi-joins back on the "
    "token keys (Zipf-skewed — AQE skew splitting or a top-V broadcast "
    "cap at 100 TB), one per-doc aggregate. In-corpus scoring means no "
    "unseen bigram (smoothing is the interpolation).",
    tags=("text", "quality", "lm", "bigram"),
)
def text_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = docs.select(
        "doc_id",
        "source",
        F.posexplode(
            F.filter(F.split("text", r"\s+"), lambda x: x != F.lit(""))
        ).alias("pos", "w"),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    tok = toks.withColumn("prev", F.lag("w").over(wdoc)).localCheckpoint(eager=False)
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = uni.agg(F.sum("c").alias("n"))
    bi = (
        tok.filter(F.col("prev").isNotNull())
        .groupBy("prev", "w")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    ctx = bi.groupBy("prev").agg(F.sum("cb").alias("cc"))
    mix = F.lit(0.7) * (F.col("cb") * F.lit(1.0) / F.col("cc")) + F.lit(0.3) * (
        F.col("c") * F.lit(1.0) / F.col("n")
    )
    scored = (
        tok.filter(F.col("prev").isNotNull())
        .join(uni, "w")
        .crossJoin(F.broadcast(tot))
        .join(bi, ["prev", "w"])
        .join(ctx, "prev")
        .groupBy("doc_id", "source")
        .agg(F.avg(F.log(mix)).alias("lp"))
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        pround(F.avg(-F.col("lp")), 6).alias("avg_doc_nll"),
        pround(F.min(-F.col("lp")), 6).alias("min_doc_nll"),
        pround(F.max(-F.col("lp")), 6).alias("max_doc_nll"),
    )


@register(
    "a_dp_noisy_counts",
    oracle="""
    WITH c AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS exact_n FROM events
        GROUP BY event_type
    ),
    n AS (
        SELECT event_type, exact_n,
               (('0x' || substr(md5('dp|31|' || event_type), 1, 8))::BIGINT + 0.5)
                   / 4294967296.0 AS u
        FROM c
    )
    SELECT event_type, exact_n,
           round(exact_n + (-2.0) * CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END
                 * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy_n,
           0.5 AS epsilon
    FROM n
    """,
    doc="Differentially-private count release (Laplace mechanism, "
    "sensitivity 1, epsilon 0.5 -> scale b = 2): the noise draw is the "
    "inverse-CDF transform of an md5-keyed uniform ((u32 + 0.5)/2^32 — "
    "never exactly 0 or 0.5-adjacent ln(0), the same hash-RNG discipline "
    "as the degradation twins), keyed by (seed, group) so the release is "
    "reproducible on any partitioning AND exactly oracle-checkable — "
    "deterministic 'randomness' for test parity; production rotates the "
    "seed per release. Plan: one map-combined count plus a per-group "
    "scalar transform, nothing data-sized after the aggregate.",
    tags=("A", "privacy", "dp"),
)
def a_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type")
    c = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dp|31|"), F.col("event_type"))), 1, 8),
            16,
            10,
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    lap = (
        F.lit(-2.0)
        * F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
    )
    return c.select(
        "event_type",
        "exact_n",
        pround(F.col("exact_n") + lap, 6).alias("noisy_n"),
        F.lit(0.5).alias("epsilon"),
    )


@register(
    "a_hierarchy_rollup",
    oracle="""
    WITH RECURSIVE vals AS (
        SELECT user_id AS node,
               sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
        FROM events GROUP BY 1
    ),
    reach(node, anc) AS (
        SELECT node, node FROM vals
        UNION
        SELECT r.node, r.anc // 2 FROM reach r WHERE r.anc >= 1
    )
    SELECT r.anc AS node,
           CAST(count(*) AS BIGINT) AS n_subtree_nodes,
           CAST(sum(v.cents) AS BIGINT) AS subtree_cents
    FROM reach r JOIN vals v ON r.node = v.node
    WHERE r.anc < 16 AND r.anc >= 1
    GROUP BY r.anc
    """,
    doc="Hierarchical (BOM/org-chart) rollup: aggregate every node's "
    "value up its ancestor chain. The tree is the implicit binary "
    "hierarchy parent = node div 2 over event users; the engine builds "
    "the ancestor closure by POINTER DOUBLING — each round joins the "
    "closure with itself so reachable distance doubles, giving "
    "log2(depth) rounds instead of depth (the textbook parallel "
    "transitive-closure technique; 4 rounds cover depth 16, and at a "
    "billion-node hierarchy 30 rounds still suffice) — then one "
    "join+groupBy rolls values up. DuckDB verifies with its native "
    "recursive CTE; cent-scaled exact sums.",
    tags=("A", "hierarchy", "closure"),
)
def a_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "value")
    vals = (
        ev.groupBy(F.col("user_id").alias("node"))
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "cents"
            )
        )
        .localCheckpoint(eager=False)
    )
    # closure seeded with (node, node) and (node, parent); each doubling
    # round composes closure o closure, doubling reachable distance
    closure = vals.select(
        "node", F.col("node").alias("anc")
    ).unionByName(
        vals.filter(F.col("node") >= 2).select(
            "node", (F.col("node") / 2).cast("long").alias("anc")
        )
    ).distinct()
    rounds = 4  # doubling: covers depth 2^4 = 16 > max tree depth here
    for _ in range(rounds):
        hop = closure.select(F.col("node").alias("mid"), F.col("anc").alias("anc2"))
        closure = (
            closure.unionByName(
                closure.join(hop, closure.anc == hop.mid)
                .select("node", F.col("anc2").alias("anc"))
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
    return (
        closure.filter((F.col("anc") < 16) & (F.col("anc") >= 1))
        .join(vals, "node")
        .groupBy(F.col("anc").alias("node"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_subtree_nodes"),
            F.sum("cents").cast("long").alias("subtree_cents"),
        )
    )


@register(
    "a_poisson_bootstrap_ci",
    oracle="""
    WITH reps AS (SELECT CAST(r.range AS INT) AS rep FROM range(0, 50) r),
    w AS (
        SELECT e.event_id, reps.rep,
               CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS cents,
               (('0x' || substr(md5('boot|' || CAST(reps.rep AS VARCHAR)
                     || '|' || CAST(e.event_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
                   / 4294967296.0 AS u
        FROM events e CROSS JOIN reps
    ),
    pw AS (
        SELECT rep, cents,
               CASE WHEN u < 0.367879441171442322 THEN 0
                    WHEN u < 0.735758882342884644 THEN 1
                    WHEN u < 0.919698602928605805 THEN 2
                    WHEN u < 0.981011843123846192 THEN 3
                    WHEN u < 0.996340153172656721 THEN 4
                    WHEN u < 0.999405815182418852 THEN 5
                    ELSE 6 END AS k
        FROM w
    ),
    means AS (
        SELECT rep,
               sum(k * cents) * 1.0 / (100.0 * sum(k)) AS boot_mean
        FROM pw GROUP BY rep HAVING sum(k) > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_replicates,
           round(quantile_cont(boot_mean, 0.025), 6) AS ci_lo,
           round(quantile_cont(boot_mean, 0.5), 6) AS ci_mid,
           round(quantile_cont(boot_mean, 0.975), 6) AS ci_hi
    FROM means
    """,
    doc="POISSON BOOTSTRAP confidence interval for the mean — the "
    "distributed resampling technique (each replicate weights every row "
    "by an independent Poisson(1) draw, so no replicate ever needs a "
    "global sample-with-replacement pass): 50 replicates materialize as "
    "a row x replicate cross join with md5-keyed inverse-CDF Poisson "
    "weights (CASE over the cumulative e^-1 * 1/k! ladder — "
    "deterministic, partitioning-independent, oracle-exact), one "
    "groupBy per replicate for the weighted means, and exact "
    "percentile CIs over the 50-value replicate frame. At 100 TB the "
    "cross join is a flatMap-style expand of the scan (x B), each "
    "replicate mean map-side combines; B stays constant.",
    tags=("A", "bootstrap", "statistics"),
)
def a_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    # wide=True: the x50 replicate expand + md5 per (rep, row) is the
    # CPU-dense narrow stage (|events| x 50 hashes before the first
    # shuffle) — the value-keyed hash makes the result partitioning-
    # independent by construction
    ev = t(spark, sf_dir, "events", wide=True).select(
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    reps = F.explode(F.sequence(F.lit(0), F.lit(49))).alias("rep")
    w = ev.select("event_id", "cents", reps)
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot|"),
                        F.col("rep").cast("string"),
                        F.lit("|"),
                        F.col("event_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    # inverse-CDF ladder of Poisson(1): cumulative e^-1 / k!
    k = (
        F.when(u < 0.367879441171442322, 0)
        .when(u < 0.735758882342884644, 1)
        .when(u < 0.919698602928605805, 2)
        .when(u < 0.981011843123846192, 3)
        .when(u < 0.996340153172656721, 4)
        .when(u < 0.999405815182418852, 5)
        .otherwise(6)
    )
    means = (
        w.withColumn("k", k)
        .groupBy("rep")
        .agg(
            (
                F.sum(F.col("k") * F.col("cents"))
                * F.lit(1.0)
                / (F.lit(100.0) * F.sum("k"))
            ).alias("boot_mean")
        )
        .filter(F.col("boot_mean").isNotNull())
    )
    return means.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        pround(F.expr("percentile(boot_mean, 0.025)"), 6).alias("ci_lo"),
        pround(F.expr("percentile(boot_mean, 0.5)"), 6).alias("ci_mid"),
        pround(F.expr("percentile(boot_mean, 0.975)"), 6).alias("ci_hi"),
    )


_PCA_V0 = "list_transform(range(1, 65), i -> 1.0 / 8.0)"


def _pca_round_sql(vin: str, out: str) -> str:
    """One power-iteration round in DuckDB: y = X^T X v via per-row
    scalar dot then exact scaled-int elementwise sums; normalize. The
    iterate joins in as a 1-row relation (DuckDB lambdas cannot hold
    subqueries, but joined columns are fine)."""
    return f"""
    {out}_contrib AS (
        SELECT u.i AS dim,
               sum(CAST(floor(e.v[u.i]
                       * list_reduce(list_transform(range(1, 65),
                             j -> e.v[j] * w.v[j]), (x, y) -> x + y)
                       * 1000000 + 0.5) AS BIGINT)) AS s
        FROM e CROSS JOIN {vin} w, unnest(range(1, 65)) AS u(i)
        GROUP BY 1
    ),
    {out}_raw AS (
        SELECT list(s * 1.0 / 1000000.0 ORDER BY dim) AS y FROM {out}_contrib
    ),
    {out} AS (
        SELECT list_transform(y, x -> x / sqrt(list_reduce(
                   list_transform(y, z -> z * z), (a, b) -> a + b))) AS v
        FROM {out}_raw
    )"""


@register(
    "ml_pca_power_iteration",
    oracle=f"""
    WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
    v0 AS (SELECT {_PCA_V0} AS v),
    {_pca_round_sql("v0", "v1")},
    {_pca_round_sql("v1", "v2")},
    rq AS (
        SELECT sum(CAST(floor(
                   list_reduce(list_transform(range(1, 65),
                       j -> e.v[j] * w.v[j]), (x, y) -> x + y)
                   * list_reduce(list_transform(range(1, 65),
                       j -> e.v[j] * w.v[j]), (x, y) -> x + y)
                   * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS lam
        FROM e CROSS JOIN v2 w
    )
    SELECT CAST(64 AS INT) AS dim,
           round((SELECT lam FROM rq), 4) AS rayleigh_eigenvalue,
           (SELECT round(list_reduce(list_transform(w.v, x -> abs(x)),
                             (a, b) -> a + b), 6) FROM v2 w) AS eigvec_l1,
           (SELECT round(abs(w.v[1]), 6) FROM v2 w) AS abs_first_component
    """,
    doc="PCA dominant eigenvector by POWER ITERATION, two rounds, as "
    "pure aggregation — distributed linear algebra without any matrix "
    "library: y = X^T X v computes as one pass (per-row scalar dot "
    "x.v, scale x by it, elementwise-sum the scaled vectors); the "
    "64-dim result is broadcast back for the next round. Elementwise "
    "sums run on micro-scaled BIGINTs so accumulation order cannot "
    "perturb the iterate — both engines normalize bit-identical "
    "vectors and the Rayleigh quotient is exact-summed too. This is "
    "the 100 TB PCA shape: O(rounds) corpus passes, state = one "
    "d-vector, never a d x d covariance materialization per row.",
    tags=("ml", "pca", "linear-algebra"),
)
def ml_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.similarity import (
        as_double_array,
        dot_expr,
    )

    emb = t(spark, sf_dir, "embeddings")
    e = emb.select(as_double_array("embedding").alias("v")).localCheckpoint(
        eager=False
    )
    def _vlit(vals: list[float]) -> Column:
        # one parsed expression, not 64 py4j literals (r12, guide §5)
        return F.expr(
            "array(" + ", ".join(f"{float(x)!r}D" for x in vals) + ")"
        )

    v = [1.0 / 8.0] * 64
    for _ in range(2):
        # r12 (the r11 similarity-family lesson): the per-row dot
        # product sat INSIDE the transform lambda, where it was
        # re-folded once PER ELEMENT (64x per row — lambda bodies get no
        # CSE and HOF folds are interpreted). One projection computes it
        # once per row; the lambda multiplies by the scalar column.
        # Identical IEEE expression on identical inputs — bit-equal.
        scaled = e.select(
            "v", dot_expr(F.col("v"), _vlit(v)).alias("__d")
        ).select(
            F.posexplode(
                F.transform(
                    F.col("v"),
                    lambda x: F.floor(
                        x * F.col("__d") * 1000000 + F.lit(0.5)
                    ).cast("long"),
                )
            ).alias("dim0", "c")
        )
        sums = (
            scaled.groupBy("dim0")
            .agg(F.sum("c").alias("s"))
            .orderBy("dim0")
            .collect()
        )
        y = [r["s"] / 1000000.0 for r in sums]
        norm = sum(z * z for z in y) ** 0.5
        v = [z / norm for z in y]
    # the Rayleigh step folded the dot TWICE per row (d * d); once here
    rq = (
        e.select(dot_expr(F.col("v"), _vlit(v)).alias("__d"))
        .agg(
            (
                F.sum(
                    F.floor(F.col("__d") * F.col("__d") * 1000000 + F.lit(0.5)).cast(
                        "long"
                    )
                )
                / F.lit(1000000.0)
            ).alias("lam")
        )
    )
    l1 = sum(abs(x) for x in v)
    return rq.select(
        F.lit(64).cast("int").alias("dim"),
        pround(F.col("lam"), 4).alias("rayleigh_eigenvalue"),
        pround(F.lit(float(l1)), 6).alias("eigvec_l1"),
        pround(F.lit(float(abs(v[0]))), 6).alias("abs_first_component"),
    )


@register(
    "a_chi_square_independence",
    oracle="""
    WITH cells AS (
        SELECT event_type, user_id % 5 AS ubucket,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    rows_t AS (SELECT event_type, sum(o) AS rn FROM cells GROUP BY 1),
    cols_t AS (SELECT ubucket, sum(o) AS cn FROM cells GROUP BY 1),
    tot AS (SELECT sum(o) AS n FROM cells)
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST((SELECT count(*) - 1 FROM rows_t)
                * (SELECT count(*) - 1 FROM cols_t) AS BIGINT) AS dof,
           round(sum((c.o - r.rn * l.cn * 1.0 / t.n)
                     * (c.o - r.rn * l.cn * 1.0 / t.n)
                     / (r.rn * l.cn * 1.0 / t.n)), 6) AS chi2
    FROM cells c
    JOIN rows_t r USING (event_type)
    JOIN cols_t l USING (ubucket)
    CROSS JOIN tot t
    """,
    doc="Chi-square test of independence over the event_type x "
    "user-bucket contingency table: observed counts are one "
    "map-combined groupBy; row/column marginals and the grand total are "
    "broadcast-sized re-aggregations of the CELL table (never a second "
    "corpus pass); expected counts and the statistic are exact-integer-"
    "derived doubles, summed over the bounded cell frame (6-dp rounding "
    "absorbs association order). The contingency-table shape is the "
    "basis of feature-independence screening and drift tests.",
    tags=("A", "statistics", "chi2"),
)
def a_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 5).alias("ubucket")
    )
    cells = ev.groupBy("event_type", "ubucket").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    ).localCheckpoint(eager=False)
    rows_t = cells.groupBy("event_type").agg(F.sum("o").alias("rn"))
    cols_t = cells.groupBy("ubucket").agg(F.sum("o").alias("cn"))
    tot = cells.agg(F.sum("o").alias("n"))
    # dof folded into the final aggregate (r11 optimization, guide §5):
    # the join carries every (event_type, ubucket) cell, so the marginal
    # cardinalities ARE countDistinct over the joined frame — the two
    # eager .count() jobs this replaces scheduled two extra corpus-free
    # passes per build just to embed a literal
    e_exp = F.col("rn") * F.col("cn") * F.lit(1.0) / F.col("n")
    return (
        cells.join(F.broadcast(rows_t), "event_type")
        .join(F.broadcast(cols_t), "ubucket")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            (
                (F.countDistinct("event_type") - F.lit(1))
                * (F.countDistinct("ubucket") - F.lit(1))
            )
            .cast("long")
            .alias("dof"),
            pround(
                F.sum((F.col("o") - e_exp) * (F.col("o") - e_exp) / e_exp), 6
            ).alias("chi2"),
        )
    )


@register(
    "dedup_minhash_jaccard_estimate",
    oracle=f"""
    WITH docs60 AS (SELECT doc_id, text FROM documents WHERE doc_id < 60),
    {_sig_sql("docs60")},
    toksd2 AS (SELECT doc_id, {_TOKS} AS toks FROM docs60),
    grams AS (SELECT doc_id, list_distinct({_SHINGLES3}) AS g FROM toksd2),
    est AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               ({" + ".join(f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END" for i in range(NUM_HASHES))})
                   * 1.0 / {NUM_HASHES} AS jaccard_est
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    ),
    ex AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_filter(a.g, x -> list_contains(b.g, x))) * 1.0
               / (len(a.g) + len(b.g)
                  - len(list_filter(a.g, x -> list_contains(b.g, x)))) AS jaccard
        FROM grams a JOIN grams b ON a.doc_id < b.doc_id
    )
    SELECT e.doc_a, e.doc_b,
           round(e.jaccard_est, 6) AS jaccard_est,
           round(x.jaccard, 6) AS jaccard_exact,
           round(e.jaccard_est - x.jaccard, 6) AS est_error
    FROM est e JOIN ex x ON e.doc_a = x.doc_a AND e.doc_b = x.doc_b
    WHERE e.jaccard_est > 0 OR x.jaccard >= 0.2
    """,
    doc="MinHash THEORY closed: the signature-agreement fraction "
    "(matching components / 8) IS the unbiased Jaccard estimator the "
    "whole LSH pipeline rests on — computed side by side with the exact "
    "3-gram Jaccard on a bounded candidate set (doc_id < 60; in "
    "production: LSH candidates), emitting estimate, exact, and "
    "estimation error per pair. Integer set algebra and component "
    "equality only -> engine-exact. The per-pair error column is the "
    "empirical variance the band/row tuning tables assume.",
    tags=("dedup", "minhash", "jaccard"),
)
def dedup_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.dedup import (
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    sig = minhash_signatures(docs, "text", "doc_id", NUM_HASHES, 3)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(NUM_HASHES)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(NUM_HASHES)],
    )
    agree = sum(
        (F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int") for i in range(NUM_HASHES)
    )
    est = a.join(b, F.col("doc_a") < F.col("doc_b")).select(
        "doc_a",
        "doc_b",
        (agree * F.lit(1.0) / F.lit(NUM_HASHES)).alias("jaccard_est"),
    )
    exact = ngram_jaccard_pairs(docs, docs, "doc_id", "text", k=3).select(
        "doc_a", "doc_b", F.col("jaccard").alias("jaccard_exact")
    )
    return (
        est.join(exact, ["doc_a", "doc_b"])
        .filter((F.col("jaccard_est") > 0) | (F.col("jaccard_exact") >= 0.2))
        .select(
            "doc_a",
            "doc_b",
            pround("jaccard_est", 6).alias("jaccard_est"),
            pround("jaccard_exact", 6).alias("jaccard_exact"),
            pround(F.col("jaccard_est") - F.col("jaccard_exact"), 6).alias("est_error"),
        )
    )


@register(
    "a_funnel_time_to_convert",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v_us,
               min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT user_id, (p_us - v_us) // 3600000000 AS hours_bucket
        FROM firsts WHERE v_us IS NOT NULL AND p_us IS NOT NULL AND p_us >= v_us
    )
    SELECT CAST(least(hours_bucket // 24, 7) AS BIGINT) AS days_to_convert_capped,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(hours_bucket) AS BIGINT) AS min_hours,
           CAST(max(hours_bucket) AS BIGINT) AS max_hours
    FROM conv
    GROUP BY 1
    """,
    doc="Funnel TIME-TO-CONVERT distribution: first view -> first "
    "purchase latency per user, bucketed into capped day bins — the "
    "conversion-latency histogram product analytics runs next to the "
    "ordered funnel (a_funnel_view_click_purchase covers the ordering; "
    "this covers the latency). One conditional-min groupBy per user (no "
    "join between the stage streams), exact integer microsecond "
    "arithmetic end to end.",
    tags=("A", "funnel", "latency"),
)
def a_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    us = F.expr("unix_micros(to_utc_timestamp(ts, 'UTC'))")
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", us.alias("us"))
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias("v_us"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("us"))).alias("p_us"),
    )
    conv = firsts.filter(
        F.col("v_us").isNotNull()
        & F.col("p_us").isNotNull()
        & (F.col("p_us") >= F.col("v_us"))
    ).select(
        "user_id",
        ((F.col("p_us") - F.col("v_us")) / F.lit(3600000000)).cast("long").alias("hb"),
    )
    return conv.groupBy(
        F.least((F.col("hb") / 24).cast("long"), F.lit(7).cast("long")).alias(
            "days_to_convert_capped"
        )
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.min("hb").cast("long").alias("min_hours"),
        F.max("hb").cast("long").alias("max_hours"),
    )


@register(
    "w_clamped_running_balance",
    oracle="""
    WITH d AS (
        SELECT user_id, epoch_us(ts) AS us, event_id,
               CASE WHEN event_type IN ('purchase', 'error')
                    THEN -CAST(floor(value) AS BIGINT)
                    ELSE CAST(floor(value) AS BIGINT) END AS delta
        FROM events
    ),
    s0 AS (
        SELECT user_id, us, event_id,
               sum(delta) OVER w AS run_sum
        FROM d
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    s AS (
        SELECT user_id, us, event_id, run_sum,
               min(run_sum) OVER w AS run_min
        FROM s0
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    c AS (
        SELECT user_id,
               run_sum - least(CAST(0 AS BIGINT), run_min) AS bal,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY us DESC, event_id DESC) AS rn
        FROM s
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(bal) AS BIGINT) AS peak_balance,
           CAST(sum(CASE WHEN bal = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_floor_hits,
           CAST(max(CASE WHEN rn = 1 THEN bal END) AS BIGINT) AS final_balance
    FROM c
    GROUP BY user_id
    """,
    doc="Running balance CLAMPED at zero (inventory / wallet semantics: "
    "withdrawals cannot take the balance negative). The naive form is a "
    "sequential per-row fold max(0, prev + delta) — but the one-sided "
    "clamp has a closed form via the reflection identity: clamped_i = "
    "run_sum_i - min(0, running_min(run_sum)), so the whole computation "
    "is TWO stacked partitioned windows (cumsum, then running min of "
    "it), no per-key Python, no recursion, parallel over users at any "
    "scale. Exact integer deltas; checked per user: peak, floor-hit "
    "count, final balance.",
    tags=("W", "window", "clamped-cumsum"),
)
def w_clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    us = F.expr("unix_micros(to_utc_timestamp(ts, 'UTC'))")
    delta = F.when(
        F.col("event_type").isin("purchase", "error"),
        -F.floor("value").cast("long"),
    ).otherwise(F.floor("value").cast("long"))
    d = t(spark, sf_dir, "events").select(
        "user_id", us.alias("us"), "event_id", delta.alias("delta")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = d.withColumn("run_sum", F.sum("delta").over(w)).withColumn(
        "run_min", F.min("run_sum").over(w)
    )
    bal = F.col("run_sum") - F.least(F.lit(0).cast("long"), F.col("run_min"))
    c = s.select("user_id", "us", "event_id", bal.alias("bal"))
    wlast = Window.partitionBy("user_id").orderBy(F.desc("us"), F.desc("event_id"))
    return (
        c.withColumn("__rn", F.row_number().over(wlast))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("bal").cast("long").alias("peak_balance"),
            F.sum((F.col("bal") == 0).cast("long")).cast("long").alias("n_floor_hits"),
            F.max(F.when(F.col("__rn") == 1, F.col("bal"))).cast("long").alias(
                "final_balance"
            ),
        )
    )


@register(
    "a_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type AS from_state, event_type AS to_state,
               CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ),
    totals AS (SELECT from_state, sum(n) AS tn FROM trans GROUP BY 1)
    SELECT t.from_state, t.to_state, t.n,
           round(t.n * 1.0 / x.tn, 6) AS p
    FROM trans t JOIN totals x USING (from_state)
    """,
    doc="First-order Markov transition-matrix estimation over per-user "
    "event sequences: lag over (user, time) yields (from, to) pairs, "
    "one groupBy counts transitions, row totals re-aggregate the "
    "|states|^2-bounded transition frame (never a second corpus pass), "
    "and probabilities divide exact integers. The behavioral-model "
    "estimator session analytics and next-event prediction start from; "
    "at 100 TB the lag window partitions by user and the transition "
    "frame stays tiny.",
    tags=("A", "markov", "sequence"),
)
def a_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    us = F.expr("unix_micros(to_utc_timestamp(ts, 'UTC'))")
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", us.alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w))
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_state"),
            F.col("event_type").alias("to_state"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    totals = trans.groupBy("from_state").agg(F.sum("n").alias("tn"))
    return (
        trans.join(F.broadcast(totals), "from_state")
        .select(
            "from_state",
            "to_state",
            "n",
            pround(F.col("n") * F.lit(1.0) / F.col("tn"), 6).alias("p"),
        )
    )


@register(
    "a_basket_pair_cooccurrence",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               event_type
        FROM events
    ),
    pairs AS (
        SELECT a.event_type AS item_a, b.event_type AS item_b,
               CAST(count(*) AS BIGINT) AS n_baskets
        FROM baskets a
        JOIN baskets b
          ON a.user_id = b.user_id AND a.day = b.day
         AND a.event_type < b.event_type
        GROUP BY 1, 2
    ),
    nb AS (
        SELECT CAST(count(*) AS BIGINT) AS total_baskets
        FROM (SELECT DISTINCT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT)
              FROM events)
    )
    SELECT p.item_a, p.item_b, p.n_baskets,
           round(p.n_baskets * 1.0 / nb.total_baskets, 6) AS support
    FROM pairs p CROSS JOIN nb
    """,
    doc="Market-basket pair co-occurrence (frequent-itemset mining, "
    "pairwise stage): baskets = distinct (user, day, item) triples, "
    "pairs form by self-join WITHIN a basket key (fanout bounded by "
    "basket size squared — the item domain here, never corpus-sized), "
    "support divides by the exact basket count. The a-priori pruning "
    "loop stacks more of the same shape on top; the basket self-join "
    "shuffles once on the (user, day) key.",
    tags=("A", "basket", "itemset"),
)
def a_basket_pair_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = (F.expr("unix_micros(to_utc_timestamp(ts, 'UTC'))") / F.lit(86400000000)).cast(
        "long"
    )
    baskets = (
        t(spark, sf_dir, "events")
        .select("user_id", day.alias("day"), "event_type")
        .distinct()
        .localCheckpoint(eager=False)
    )
    b2 = baskets.select(
        F.col("user_id").alias("u2"),
        F.col("day").alias("d2"),
        F.col("event_type").alias("item_b"),
    )
    pairs = (
        baskets.join(
            b2,
            (baskets.user_id == b2.u2)
            & (baskets.day == b2.d2)
            & (baskets.event_type < b2.item_b),
        )
        .groupBy(F.col("event_type").alias("item_a"), "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
    )
    nb = baskets.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("total_baskets")
    )
    return pairs.crossJoin(F.broadcast(nb)).select(
        "item_a",
        "item_b",
        "n_baskets",
        pround(F.col("n_baskets") * F.lit(1.0) / F.col("total_baskets"), 6).alias(
            "support"
        ),
    )
