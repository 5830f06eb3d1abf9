"""Round-11 wave 43: URL canonicalization with host-level aggregation,
and the suffix-array adjacent-LCP histogram.

The two families the r10 verdict named as the last genuinely-missing
ones (item 6): web-corpus prep (CCNet/RefinedWeb-style URL keying — a
crawl dedupes by CANONICAL url before any content pass, and reads
host-level stats to set per-domain caps) and the suffix-array
substring-dedup complement to `dedup_duplicate_spans` (that query finds
spans duplicated at a FIXED 5-token shingle width; the suffix-LCP
histogram measures HOW LONG the duplicated runs actually are — the Lee
et al. 2021 "ExactSubstr" adjacency core: sort all suffixes, LCP of
neighbors). House rules: every literal shared verbatim between engines,
no unpartitioned window (the global suffix adjacency rides the
two-phase pinned range scan + nearest-earlier-bucket boundary fill),
map-side work stays in JVM built-ins.

The documents fixture carries no URL column, so `text_url_canonicalize_
hosts` synthesizes one messy URL per doc from (doc_id, source) with
CASE arms both engines build character-identically — same pattern as
the degrade/hash-twin queries (deterministic construction feeding a
REAL operator; the canonicalizer never sees the construction rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.plans.common import pround, t
from cicevse2024_tfm_datapipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# URL canonicalization + host-level aggregation
# ---------------------------------------------------------------------------

#: tracking params stripped by the canonicalizer (shared literal; the
#: regex-safe forms — LIKE 'utm_%' would wildcard the underscore)
_TRACKING_RE = "^(utm_|fbclid=|gclid=)"

_URL_SQL = """
        CASE doc_id % 5
            WHEN 0 THEN 'https://www.' || source || '.example.com'
            WHEN 1 THEN 'HTTPS://' || source || '.Example.COM:443'
            WHEN 2 THEN 'http://' || source || '.example.com:80'
            WHEN 3 THEN 'https://' || source || '.example.com'
            ELSE 'https://WWW.' || source || '.EXAMPLE.com'
        END ||
        CASE doc_id % 4
            WHEN 0 THEN '/articles/' || (doc_id % 100)
            WHEN 1 THEN '/articles/' || (doc_id % 100) || '/'
            WHEN 2 THEN '/articles//' || (doc_id % 100)
            ELSE '/articles/' || (doc_id % 100) || '/index.html'
        END ||
        CASE doc_id % 3
            WHEN 0 THEN ''
            WHEN 1 THEN '?utm_source=feed&utm_campaign=x'
            ELSE '?ref=r' || (doc_id % 7) || '&utm_medium=email'
        END ||
        CASE doc_id % 2 WHEN 1 THEN '#section-2' ELSE '' END
"""


def _url_col() -> F.Column:
    """The Spark twin of _URL_SQL — character-identical by construction."""
    d = F.col("doc_id")
    src = F.col("source")
    hostport = (
        F.when(d % 5 == 0, F.concat(F.lit("https://www."), src, F.lit(".example.com")))
        .when(d % 5 == 1, F.concat(F.lit("HTTPS://"), src, F.lit(".Example.COM:443")))
        .when(d % 5 == 2, F.concat(F.lit("http://"), src, F.lit(".example.com:80")))
        .when(d % 5 == 3, F.concat(F.lit("https://"), src, F.lit(".example.com")))
        .otherwise(F.concat(F.lit("https://WWW."), src, F.lit(".EXAMPLE.com")))
    )
    pid = (d % 100).cast("string")
    path = (
        F.when(d % 4 == 0, F.concat(F.lit("/articles/"), pid))
        .when(d % 4 == 1, F.concat(F.lit("/articles/"), pid, F.lit("/")))
        .when(d % 4 == 2, F.concat(F.lit("/articles//"), pid))
        .otherwise(F.concat(F.lit("/articles/"), pid, F.lit("/index.html")))
    )
    query = (
        F.when(d % 3 == 0, F.lit(""))
        .when(d % 3 == 1, F.lit("?utm_source=feed&utm_campaign=x"))
        .otherwise(
            F.concat(F.lit("?ref=r"), (d % 7).cast("string"), F.lit("&utm_medium=email"))
        )
    )
    frag = F.when(d % 2 == 1, F.lit("#section-2")).otherwise(F.lit(""))
    return F.concat(hostport, path, query, frag)


def canonicalize_url(url: F.Column) -> tuple[F.Column, F.Column]:
    """(canonical_url, canonical_host) for an arbitrary http(s) URL —
    the standard web-corpus key normalization (CCNet / RefinedWeb /
    Common Crawl dedup): lowercase scheme+host, strip a leading 'www.',
    strip the scheme's default port, collapse duplicate slashes, strip
    a trailing '/index.html' then a trailing slash (empty path → '/'),
    drop the fragment, drop tracking params (utm_*/fbclid/gclid) and
    SORT the survivors so param order never splits a key. Pure JVM
    column expressions — regexp + array built-ins, no UDF.

    Scope boundary (same on both engines, so oracle parity is
    unaffected): userinfo (user@host), IPv6 bracket literals, and IDN
    hosts pass through verbatim inside the host token — crawl frontiers
    normalize those upstream; percent-encoding is NOT decoded (decoding
    can change path semantics and is lossy for %2F)."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    hostport = F.lower(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    )
    nowww = F.regexp_replace(hostport, r"^www\.", "")
    host = (
        F.when(scheme == "https", F.regexp_replace(nowww, ":443$", ""))
        .when(scheme == "http", F.regexp_replace(nowww, ":80$", ""))
        .otherwise(nowww)
    )
    rawpath = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    p1 = F.regexp_replace(rawpath, "/{2,}", "/")
    p2 = F.regexp_replace(p1, r"/index\.html$", "")
    p3 = F.regexp_replace(p2, "/$", "")
    path = F.when(p3 == "", F.lit("/")).otherwise(p3)
    rawq = F.regexp_extract(url, r"\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(rawq, "&"),
            lambda x: (x != F.lit("")) & (~x.rlike(_TRACKING_RE)),
        )
    )
    canq = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, path, canq), host


@register(
    "text_url_canonicalize_hosts",
    oracle=f"""
    WITH u AS (
        SELECT doc_id, {_URL_SQL} AS url
        FROM documents
    ),
    parts AS (
        SELECT doc_id, url,
               lower(coalesce(regexp_extract(url,
                   '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1), '')) AS scheme,
               lower(coalesce(regexp_extract(url,
                   '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1), '')) AS hostport,
               coalesce(regexp_extract(url,
                   '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1), '') AS rawpath,
               coalesce(regexp_extract(url, '\\?([^#]*)', 1), '') AS rawq
        FROM u
    ),
    canon AS (
        SELECT doc_id, url, scheme,
               CASE WHEN scheme = 'https'
                    THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''),
                                        ':443$', '')
                    WHEN scheme = 'http'
                    THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''),
                                        ':80$', '')
                    ELSE regexp_replace(hostport, '^www\\.', '')
               END AS host,
               CASE WHEN regexp_replace(regexp_replace(regexp_replace(
                             rawpath, '/{{2,}}', '/'),
                             '/index\\.html$', ''),
                             '/$', '') = ''
                    THEN '/'
                    ELSE regexp_replace(regexp_replace(regexp_replace(
                             rawpath, '/{{2,}}', '/'),
                             '/index\\.html$', ''),
                             '/$', '')
               END AS path,
               list_sort(list_filter(str_split(rawq, '&'),
                   x -> x <> '' AND NOT regexp_matches(x, '{_TRACKING_RE}')))
                   AS params
        FROM parts
    ),
    keyed AS (
        SELECT host, url,
               scheme || '://' || host || path ||
               CASE WHEN len(params) > 0
                    THEN '?' || array_to_string(params, '&') ELSE '' END
                   AS canonical_url
        FROM canon
    )
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT url) AS BIGINT) AS n_raw,
           CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_canonical,
           round(1.0 - count(DISTINCT canonical_url) * 1.0
                 / count(DISTINCT url), 6) AS dedup_ratio
    FROM keyed GROUP BY host
    """,
    doc="URL canonicalization + host-level aggregation — the web-corpus "
    "prep front door (a crawl dedupes on the CANONICAL url before any "
    "content pass, then reads per-host stats to set domain caps): "
    "lowercase scheme/host, strip www. and default ports, collapse "
    "duplicate slashes, strip /index.html and trailing slashes, drop "
    "fragments, drop utm_*/fbclid/gclid tracking params and SORT the "
    "survivors. The fixture has no URL column, so one messy URL per doc "
    "is synthesized from (doc_id, source) by shared CASE literals (the "
    "hash-twin pattern); the canonicalizer itself is generic. Scale "
    "shape: the whole normalization is one stateless JVM projection "
    "(regexp + array built-ins, no UDF, no shuffle), followed by a "
    "single groupBy(host) whose distinct-counts partial-aggregate "
    "map-side; output is |hosts| rows. At 100 TB the projection "
    "pipelines inside the scan stage and the only exchange is the "
    "host-keyed aggregate.",
    tags=("text", "web", "dedup"),
)
def text_url_canonicalize_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    u = docs.select("doc_id", _url_col().alias("url"))
    canonical_url, host = canonicalize_url(F.col("url"))
    keyed = u.select(
        host.alias("host"),
        "url",
        canonical_url.alias("canonical_url"),
    )
    return keyed.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("url").cast("long").alias("n_raw"),
        F.countDistinct("canonical_url").cast("long").alias("n_canonical"),
        pround(
            F.lit(1.0)
            - F.countDistinct("canonical_url") / F.countDistinct("url"),
            6,
        ).alias("dedup_ratio"),
    )


# ---------------------------------------------------------------------------
# Suffix-array adjacent-LCP histogram (substring dedup, exact)
# ---------------------------------------------------------------------------

_SFX_CAP = 30  # suffixes truncated to 30 tokens (shared literal): dedup
#               only acts on spans up to the cap, and the cap bounds the
#               sort-key width — the standard ExactSubstr practicality
_MIN_LCP = 5  # report runs >= the 5-token granularity dedup_duplicate_
#               spans shingles at, so the two queries read together


def _prefix56(s: F.Column) -> F.Column:
    """Big-endian integer of a string's first 7 UTF-8 BYTES (shorter
    strings zero-pad on the right, so a prefix sorts at-or-before its
    extensions). Monotone — non-strictly — in the engines' string sort
    order for ARBITRARY text: both Spark (UTF8_BINARY) and DuckDB
    compare VARCHARs by unsigned UTF-8 bytes, and UTF-8 is
    order-preserving, so byte-prefix order IS string order. 7 bytes
    (56 bits) keeps the value inside a signed long; the lost precision
    vs an 8-byte key only COARSENS the tie groups bounds_bucketed must
    colocate anyway — the (k, s, doc_id, pos) sort key re-sharpens them.

    A first cut packed per-CHARACTER code points (F.ascii) at x256 per
    slot — an inversion trap for any char above U+00FF ('Ā' U+0100
    packed as 256, yet the two-char '\\x01\\xff' packed as 511, flipping
    their true byte order), silently changing the suffix adjacency on
    non-ASCII corpora. Byte derivation closes it; the ASCII fixture is
    hash-unchanged (single-byte code points == bytes)."""
    first7 = F.substring(F.encode(s, "UTF-8"), 1, 7)
    return F.conv(F.rpad(F.hex(first7), 14, "0"), 16, 10).cast("long")


@register(
    "dedup_suffix_lcp_histogram",
    oracle=rf"""
    WITH toksd AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        FROM documents
    ),
    pos AS (
        SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks FROM toksd
    ),
    sfx AS (
        SELECT doc_id, pos,
               array_to_string(list_slice(toks, pos, pos + {_SFX_CAP - 1}), ' ') AS s
        FROM pos
    ),
    adj AS (
        SELECT s, lag(s) OVER (ORDER BY s, doc_id, pos) AS prev FROM sfx
    ),
    pairs AS (
        SELECT str_split(prev, ' ') AS a, str_split(s, ' ') AS b
        FROM adj WHERE prev IS NOT NULL
    ),
    firsts AS (
        -- list_position returns 0 when no element mismatches (NOT NULL —
        -- same convention as Spark's array_position)
        SELECT list_position(
                   list_transform(range(1, greatest(len(a), len(b)) + 1),
                                  i -> coalesce(a[i] = b[i], false)),
                   false) AS p,
               a, b
        FROM pairs
    ),
    lcps AS (
        SELECT CASE WHEN p > 0 THEN p - 1
                    ELSE least(len(a), len(b)) END AS lcp
        FROM firsts
    )
    SELECT CAST(lcp AS BIGINT) AS lcp_tokens,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM lcps WHERE lcp >= {_MIN_LCP} GROUP BY 1
    """,
    doc="Suffix-array adjacent-LCP histogram — the ExactSubstr core "
    "(Lee et al. 2021 'Deduplicating Training Data Makes Language "
    "Models Better'): every token suffix of every document (truncated "
    "to the 30-token cap), sorted corpus-wide; the LCP of each adjacent "
    "suffix pair measures exactly how long each duplicated token run "
    "is. Complements dedup_duplicate_spans (which finds WHERE "
    "fixed-5-token shingles repeat) with the LENGTH distribution the "
    "span-cut threshold is tuned on. Max LCP = the corpus's longest "
    "repeated substring. Scale shape: the global suffix adjacency is "
    "the LINEAGE-FREE two-phase bounds scan (scan.bounds_bucketed) on a "
    "NUMERIC surrogate — the suffix's first 7 UTF-8 bytes as a "
    "big-endian integer, monotone (non-strictly) in the string order "
    "for arbitrary text (byte order IS both engines' comparison order), "
    "so prefix-tie groups colocate and the within-bucket window "
    "completes the (s, doc_id, pos) total order. That numeric key is "
    "what keeps the corpus-sized suffix frame UNPINNED (the first cut "
    "pinned the range exchange via localCheckpoint and paid a "
    "data-sized second copy — 15x the wall at 100x corpus, the classic "
    "corpus-pin anti-pattern): PID is a pure expression, the bounds "
    "path's uniqueness contract holds ((s,doc_id,pos) is a total "
    "order), the per-bucket summary shrinks map-side to |buckets| rows, "
    "and the ONE cross-bucket dependency — each bucket's first row "
    "needs its true predecessor — is scan.prev_nonempty_value. LCP "
    "itself is per-row zip_with/array_position map work. No "
    "unpartitioned window; histogram output is <= CAP rows.",
    tags=("dedup", "substring", "scan"),
)
def dedup_suffix_lcp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.scan import (
        PID,
        bounds_bucketed,
        prev_nonempty_value,
    )
    from cicevse2024_tfm_datapipeline_spark.operators.text import tokens_expr

    # wide=True: the per-position suffix explode is CPU-dense
    docs = t(spark, sf_dir, "documents", wide=True).select("doc_id", "text")
    toks = docs.select("doc_id", tokens_expr("text").alias("toks"))
    # sequence(1, 0) DESCENDS in Spark (word_shingles_expr lesson) —
    # guard empty docs explicitly
    positions = F.when(
        F.size("toks") > 0, F.sequence(F.lit(1), F.size("toks"))
    ).otherwise(F.array().cast("array<int>"))
    sfx = toks.select(
        "doc_id",
        F.explode(positions).alias("pos"),
        F.col("toks"),
    ).select(
        "doc_id",
        "pos",
        F.array_join(F.slice("toks", F.col("pos"), _SFX_CAP), " ").alias("s"),
    ).withColumn("k", _prefix56(F.col("s")))
    # lineage-free bounds scan on the numeric prefix key: NO pin of the
    # corpus-sized suffix frame (bounds-mode contract: (k,s,doc_id,pos)
    # is a total order, so the two consumers below recompute
    # bit-identically); the summary consumer reduces map-side to
    # |buckets| rows before its shuffle. No footer brackets a derived
    # key, so one driver-side quantile job gives the grid, one bucket per
    # shuffle partition. relative_error 1e-2: the grid only balances
    # bucket SIZES (correctness never depends on where the bounds fall),
    # so a 1e-4 GK sketch is wasted precision on a 10^8-suffix frame
    n_b = int(spark.conf.get("spark.sql.shuffle.partitions"))
    grid = sfx.approxQuantile("k", [i / n_b for i in range(1, n_b)], 1e-2)
    bucketed = bounds_bucketed(sfx, ["k", "s", "doc_id", "pos"], grid)
    w = W.partitionBy(PID).orderBy("k", "s", "doc_id", "pos")
    local = bucketed.select(PID, "s", F.lag("s").over(w).alias("__prev_in"))
    summ = bucketed.groupBy(PID).agg(
        F.max_by("s", F.struct("k", "s", "doc_id", "pos")).alias("__edge")
    )
    fills = prev_nonempty_value(summ, "__edge", "__pp")
    adj = (
        local.join(F.broadcast(fills), PID, "left")
        .select("s", F.coalesce("__prev_in", "__pp").alias("prev"))
        .filter(F.col("prev").isNotNull())
    )
    a, b = F.split(F.col("prev"), " "), F.split(F.col("s"), " ")
    eqs = F.zip_with(a, b, lambda x, y: x.eqNullSafe(y))
    p = F.array_position(eqs, F.lit(False))
    lcp = F.when(p > 0, p - 1).otherwise(F.least(F.size(a), F.size(b)))
    return (
        adj.select(lcp.cast("long").alias("lcp_tokens"))
        .filter(F.col("lcp_tokens") >= _MIN_LCP)
        .groupBy("lcp_tokens")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
