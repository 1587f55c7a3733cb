"""Driver-contract query suite: every operator from SURVEY.md §2 plus
the training-data-pipeline extensions, each as a (spark, sf_dir) →
DataFrame callable with a DuckDB-runnable ANSI-SQL oracle.

Engine-portability rules that keep Spark and DuckDB value-hash-equal:

* hash family: md5 (lowercase hex in both engines)
* float outputs rounded (2-6 dp) in BOTH engines
* integer outputs cast to BIGINT on the Spark side (DuckDB count/len
  return BIGINT; Spark size()/row_number() return INT)
* regexes restricted to the Java∩RE2 common subset (no lookbehind)
* arrays never emitted — joined to '|' / ',' strings
* no timestamps emitted — formatted to strings

The web-pipeline queries operate on a derived ``pages`` view over the
driver's ``documents`` table (url synthesized deterministically from
source/doc_id, exercising the www/port/:8080 extraction quirks).
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fineweb_domain_analyzer_spark.functions.domains import (
    extract_tld_sql,
    with_domain_sql,
)
from fineweb_domain_analyzer_spark.functions.scrub import (
    EMAIL_RE,
    EMAIL_TOKEN,
    IP_TOKEN,
    IPV4_RE,
    PHONE_RE,
    PHONE_TOKEN,
)
from fineweb_domain_analyzer_spark.functions.textfns import (
    BPE_ISH_PATTERN,
    content_fingerprint,
    ws_token_count,
)
from fineweb_domain_analyzer_spark.operators.dedup import (
    exact_dedup_groups,
    jaccard_on_pairs,
    lsh_candidate_pairs,
    simhash16_from_hex,
    token_hex4,
    word_shingles_from_tokens,
)
from fineweb_domain_analyzer_spark.operators.quality import (
    STOPWORDS_EN,
    unigram_perplexity,
)
from fineweb_domain_analyzer_spark.operators.similarity import (
    brute_force_topk,
    lsh_bucketed_topk,
)
from fineweb_domain_analyzer_spark.operators.skew import salted_count

# ---------------------------------------------------------------------------
# shared derivations
# ---------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def pages_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → pages with deterministic synthetic urls that exercise
    the www-prefix / port / :8080-quirk paths of domain extraction."""
    docs = _t(spark, sf_dir, "documents")
    port = (
        F.when(F.col("doc_id") % 13 == 0, F.lit(":8080"))
        .when(F.col("doc_id") % 17 == 0, F.lit(":9090"))
        .otherwise(F.lit(""))
    )
    prefix = F.when(F.col("doc_id") % 3 == 0, F.lit("https://www.")).otherwise(
        F.lit("https://")
    )
    url = F.concat(
        prefix,
        F.col("source"),
        F.lit(".example.com"),
        port,
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
    )
    return docs.withColumn("url", url)


# SQL mirror of pages_view (DuckDB dialect)
PAGES_CTE = """
pages AS (
  SELECT doc_id, text, lang, source, n_chars,
         (CASE WHEN doc_id % 3 = 0 THEN 'https://www.' ELSE 'https://' END)
         || source || '.example.com'
         || (CASE WHEN doc_id % 13 = 0 THEN ':8080'
                  WHEN doc_id % 17 = 0 THEN ':9090' ELSE '' END)
         || '/doc/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
)
"""

# SQL mirror of the reference domain-extraction semantics
# (netloc → lower → port-strip-unless-:8080 → www-strip)
DOMAIN_SQL = """
  regexp_replace(
    CASE WHEN lower(regexp_extract(url, '^[a-z]+://([^/]+)', 1)) LIKE '%:%'
          AND lower(regexp_extract(url, '^[a-z]+://([^/]+)', 1)) NOT LIKE '%:8080'
         THEN split_part(lower(regexp_extract(url, '^[a-z]+://([^/]+)', 1)), ':', 1)
         ELSE lower(regexp_extract(url, '^[a-z]+://([^/]+)', 1)) END,
    '^www\\.', '')
"""

DOMAINS_CTE = f"""
domains AS (
  SELECT *, {DOMAIN_SQL} AS domain FROM pages
)
"""


def domains_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_domain_sql(pages_view(spark, sf_dir))


def policy_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-policy dimension derived from documents:
    covers even source indices only (odd → default-allow path);
    every 6th covered index is denied."""
    docs = _t(spark, sf_dir, "documents")
    idx = F.regexp_extract(F.col("source"), r"([0-9]+)", 1).cast("int")
    return (
        docs.select(F.col("source"), idx.alias("_idx"))
        .distinct()
        .filter(F.col("_idx") % 2 == 0)
        .select(
            F.concat(F.col("source"), F.lit(".example.com")).alias("domain"),
            (F.col("_idx") % 6 != 0).alias("crawl_allowed"),
        )
    )


POLICY_CTE = """
policy AS (
  SELECT source || '.example.com' AS domain,
         (TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) % 6 <> 0) AS crawl_allowed
  FROM (SELECT DISTINCT source FROM documents)
  WHERE TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) % 2 = 0
)
"""

# DuckDB-side whitespace tokens of lowered text
TOKS_SQL = "string_split_regex(trim(lower(text)), '\\s+')"

# DuckDB-side word 3-gram shingles with the short-doc fallback
SHINGLES_SQL = f"""
  CASE WHEN len({TOKS_SQL}) >= 3
       THEN list_transform(range(1, len({TOKS_SQL}) - 1),
                           i -> {TOKS_SQL}[i] || ' ' || {TOKS_SQL}[i+1] || ' ' || {TOKS_SQL}[i+2])
       ELSE [array_to_string({TOKS_SQL}, ' ')] END
"""


# ---------------------------------------------------------------------------
# relational suite (TPC-H-flavored: scan/filter/agg/join/window/limit)
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: predicate-pushdown scan + hash agg + sort.

    Reference parity: generalizes the reference's single global
    aggregate (fineweb_analyzer.py:480-485) to grouped aggregates."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q02_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: multi-way join; small dims broadcast."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    na = _t(spark, sf_dir, "nation")
    re_ = _t(spark, sf_dir, "region")
    return (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .join(cu, od["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
        .join(F.broadcast(re_), na["n_regionkey"] == re_["r_regionkey"])
        .filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("line_cnt"),
        )
        .orderBy("r_name", "n_name")
    )


Q02_SQL = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS line_cnt
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q03_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + deterministic top-k (O2/limit)."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders")
    return (
        od.join(cu, od["o_custkey"] == cu["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("order_cnt"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


Q03_SQL = """
SELECT c_custkey, c_name,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS order_cnt
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q04_window_top_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function (W1): top-3 events per user by value."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select(
            "user_id", "event_id", "event_type", F.round("value", 2).alias("value"), "rn"
        )
    )


Q04_SQL = """
SELECT user_id, event_id, event_type, round(value, 2) AS value, rn
FROM (SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
      FROM events)
WHERE rn <= 3
"""


def q05_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time-bucket aggregation over the events table."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


Q05_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour, event_type,
       count(*) AS cnt, round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
"""


def q06_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag window + conditional sum)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap: casting ts to long truncates sub-second
    # precision while DuckDB's epoch() keeps it — unix_micros/epoch_us
    # agree exactly in both engines. (Parquet naive timestamps load as
    # TIMESTAMP_NTZ; unix_micros needs TIMESTAMP — UTC session makes
    # the cast value-preserving.)
    ts = F.col("ts").cast("timestamp")
    gap = F.unix_micros(ts) - F.unix_micros(F.lag(ts).over(w))
    is_new = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    return (
        ev.withColumn("is_new", is_new)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.sum("is_new").cast("bigint").alias("sessions"),
        )
    )


Q06_SQL = """
SELECT user_id, count(*) AS events, sum(is_new)::BIGINT AS sessions
FROM (
  SELECT user_id,
         CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM (SELECT user_id, event_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events))
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# web-corpus suite
# ---------------------------------------------------------------------------

def q10_domain_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 + A1-count: domain/tld extraction with the reference's
    port-strip/:8080/www semantics, grouped."""
    d = domains_view(spark, sf_dir)
    return (
        d.withColumn("tld", extract_tld_sql(F.col("domain")))
        .groupBy("domain", "tld")
        .agg(F.count(F.lit(1)).alias("page_cnt"))
    )


Q10_SQL = f"""
WITH {PAGES_CTE}, {DOMAINS_CTE}
SELECT domain,
       CASE WHEN domain NOT LIKE '%.%' THEN ''
            ELSE regexp_extract(domain, '([^.]*)$', 1) END AS tld,
       count(*) AS page_cnt
FROM domains
GROUP BY 1, 2
"""


def q11_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 full shape: count + deterministic top-5 sample urls +
    first/last seen (doc_id stands in for warc_ts in this corpus).

    Bounded-state shape (mirrors operators/domain_stats.py): the top-5
    comes from a spillable row_number window, so no aggregation buffer
    ever holds more than 5 rows per domain; the groupBy reuses the
    window's hash exchange — one shuffle total."""
    from pyspark.sql.window import Window

    d = domains_view(spark, sf_dir)
    w_ord = Window.partitionBy("domain").orderBy("doc_id", "url")
    w_all = Window.partitionBy("domain")
    ranked = (
        d.withColumn("_rn", F.row_number().over(w_ord))
        .withColumn("_cnt", F.count(F.lit(1)).over(w_all))
        .withColumn("_first", F.min("doc_id").over(w_all))
        .withColumn("_last", F.max("doc_id").over(w_all))
        .filter(F.col("_rn") <= 5)
    )
    agg = ranked.groupBy("domain").agg(
        F.first("_cnt").alias("page_cnt"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("doc_id"), F.col("url")))
                ),
                lambda s: s["url"],
            ),
        ).alias("sample_urls"),
        F.first("_first").alias("first_doc"),
        F.first("_last").alias("last_doc"),
    )
    return agg


Q11_SQL = f"""
WITH {PAGES_CTE}, {DOMAINS_CTE},
ranked AS (
  SELECT domain, url, doc_id,
         row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
  FROM domains
),
agg AS (
  SELECT domain, count(*) AS page_cnt, min(doc_id) AS first_doc, max(doc_id) AS last_doc
  FROM domains GROUP BY domain
),
top5 AS (
  SELECT domain, string_agg(url, ',' ORDER BY doc_id) AS sample_urls
  FROM ranked WHERE rn <= 5 GROUP BY domain
)
SELECT a.domain, a.page_cnt, t.sample_urls, a.first_doc, a.last_doc
FROM agg a JOIN top5 t USING (domain)
"""


def q12_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP — the reference's stage-4 filter (J1 + F5): broadcast
    left join to the policy dimension, default-allow keep predicate,
    drop_reason labels. Uses the exact urlparse pandas UDF."""
    from fineweb_domain_analyzer_spark.operators.filtering import label_pages

    pages = pages_view(spark, sf_dir)
    policy = policy_view(spark, sf_dir)
    labeled = label_pages(pages, policy, exact_domain=True)
    return labeled.select("doc_id", "domain", "keep", "drop_reason")


Q12_SQL = f"""
WITH {PAGES_CTE}, {DOMAINS_CTE}, {POLICY_CTE}
SELECT d.doc_id, d.domain,
       coalesce(p.crawl_allowed, TRUE) AS keep,
       CASE WHEN NOT coalesce(p.crawl_allowed, TRUE) THEN 'robots_disallowed'
            ELSE 'kept' END AS drop_reason
FROM domains d LEFT JOIN policy p ON d.domain = p.domain
"""


def q13_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 heuristic features per document (staged projections —
    see with_quality_features for the codegen-compile rationale)."""
    from fineweb_domain_analyzer_spark.operators.quality import (
        with_quality_features,
    )

    docs = _t(spark, sf_dir, "documents")
    return with_quality_features(docs).select(
        "doc_id",
        F.col("word_count").cast("bigint").alias("word_count"),
        "mean_word_len",
        "symbol_ratio",
        "stopword_density",
        "max_word_repeat_ratio",
    )


_STOPLIST_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS_EN) + "]"

Q13_SQL = f"""
SELECT doc_id,
  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({TOKS_SQL}) END AS word_count,
  round(length(regexp_replace(trim(text), '\\s+', '', 'g'))::DOUBLE
        / greatest(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({TOKS_SQL}) END, 1), 4) AS mean_word_len,
  round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
        / greatest(length(text), 1), 4) AS symbol_ratio,
  round(len(list_filter({TOKS_SQL}, t -> list_contains({_STOPLIST_SQL}, t)))::DOUBLE
        / greatest(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({TOKS_SQL}) END, 1), 4) AS stopword_density,
  CASE WHEN length(trim(text)) = 0 OR len({TOKS_SQL}) = 0 THEN 0.0
       ELSE round(list_max(list_transform(list_distinct({TOKS_SQL}),
                                          t -> len(list_filter({TOKS_SQL}, x -> x = t))))::DOUBLE
                  / len({TOKS_SQL}), 4) END AS max_word_repeat_ratio
FROM documents
"""


def q14_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-hit argmax + CJK ratio)."""
    from fineweb_domain_analyzer_spark.functions.textfns import langid_heuristic

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", langid_heuristic(F.col("text")).alias("langid_pred"))


def _langid_sql() -> str:
    from fineweb_domain_analyzer_spark.functions.textfns import LANG_STOPWORDS

    hit_cols = []
    for lang, words in LANG_STOPWORDS.items():
        lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        hit_cols.append(
            f"len(list_filter({TOKS_SQL}, t -> list_contains({lst}, t))) AS h_{lang}"
        )
    return f"""
WITH hits AS (
  SELECT doc_id,
         {', '.join(hit_cols)},
         (length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')))::DOUBLE
           / greatest(length(text), 1) AS cjk_ratio
  FROM documents
)
SELECT doc_id,
  CASE WHEN cjk_ratio > 0.15 THEN 'zh'
       WHEN greatest(h_en, h_de, h_fr, h_es) <= 0 THEN 'unk'
       WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
       WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
       WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
       ELSE 'es' END AS langid_pred
FROM hits
"""


def q15_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized PII scrub over text with injected deterministic PII;
    output hashes prove byte-equality of the scrubbed strings."""
    docs = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".7 call (860) 649-7922"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(injected, EMAIL_RE, EMAIL_TOKEN), PHONE_RE, PHONE_TOKEN
        ),
        IPV4_RE,
        IP_TOKEN,
    )
    return docs.select(
        "doc_id",
        F.md5(scrubbed).alias("scrub_hash"),
        F.length(scrubbed).cast("bigint").alias("scrub_len"),
    )


Q15_SQL = f"""
WITH injected AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 10.0.' || CAST(doc_id % 200 AS VARCHAR)
              || '.7 call (860) 649-7922' AS t
  FROM documents
),
scrubbed AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '{EMAIL_RE}', '{EMAIL_TOKEN}', 'g'),
             '{PHONE_RE}', '{PHONE_TOKEN}', 'g'),
           '{IPV4_RE}', '{IP_TOKEN}', 'g') AS t
  FROM injected
)
SELECT doc_id, md5(t) AS scrub_hash, length(t) AS scrub_len FROM scrubbed
"""


def q16_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex), rolled up by lang."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            ws_token_count(F.col("text")).cast("bigint").alias("ws_t"),
            F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0))
            .cast("bigint")
            .alias("bpe_t"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("ws_t").alias("ws_tokens_total"),
            F.sum("bpe_t").alias("bpe_tokens_total"),
        )
    )


Q16_SQL = f"""
SELECT lang, count(*) AS docs,
       sum(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({TOKS_SQL}) END)::BIGINT AS ws_tokens_total,
       sum(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')))::BIGINT AS bpe_tokens_total
FROM documents
GROUP BY lang
"""


def q17_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive bag-of-words fingerprint + canonical doc per
    fingerprint group."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("fp")
    return (
        docs.select("doc_id", content_fingerprint(F.col("text")).alias("fp"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
    )


Q17_SQL = f"""
SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS canonical_id
FROM (SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct({TOKS_SQL})), ' ')) AS fp
      FROM documents)
"""


def q18_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical (min) doc id per byte-identical text."""
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup_groups(docs)


Q18_SQL = """
SELECT doc_id, md5(text) AS text_hash,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
FROM documents
"""


def q19_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=8, word-3-gram shingles, md5 hash family)."""
    from fineweb_domain_analyzer_spark.operators.dedup import (
        minhash_signature_from_shingles,
    )

    from fineweb_domain_analyzer_spark.functions.textfns import ws_tokens

    docs = _t(spark, sf_dir, "documents")
    # tokens staged separately: HOFs get no CSE (word_shingles_from_tokens)
    shingled = docs.select(
        "doc_id", ws_tokens(F.lower(F.col("text"))).alias("_tk")
    ).select("doc_id", word_shingles_from_tokens(F.col("_tk")).alias("_sh"))
    return shingled.select(
        "doc_id",
        F.concat_ws("|", minhash_signature_from_shingles(F.col("_sh"), k=8)).alias(
            "sig"
        ),
    )


Q19_SQL = f"""
WITH shingled AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents)
SELECT doc_id,
       array_to_string(
         list_transform(range(0, 8),
           i -> list_aggregate(
                  list_transform(sh, s -> md5(CAST(i AS VARCHAR) || ':' || s)),
                  'min')),
         '|') AS sig
FROM shingled
"""


def q20_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs over head docs ∪ mutated copies
    (deterministic near-dups guaranteed to collide)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    mutated = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" mutated tail")).alias("text"),
    )
    aug = docs.select("doc_id", "text").unionAll(mutated)
    return lsh_candidate_pairs(aug, k=16, bands=4)


Q20_SQL = f"""
WITH aug AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' mutated tail' AS text
  FROM documents WHERE doc_id < 200
),
shingled AS (
  SELECT doc_id, {SHINGLES_SQL} AS sh FROM aug
),
sigs AS (
  SELECT doc_id,
         list_transform(range(0, 16),
           i -> list_aggregate(
                  list_transform(sh, s -> md5(CAST(i AS VARCHAR) || ':' || s)),
                  'min')) AS sig
  FROM shingled
),
banded AS (
  SELECT doc_id, b.band_id,
         md5(array_to_string(sig[b.band_id * 4 + 1 : b.band_id * 4 + 4], '|')) AS band_key
  FROM sigs, (SELECT unnest(range(0, 4)) AS band_id) b(band_id)
)
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
FROM banded l JOIN banded r
  ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.doc_id < r.doc_id
"""


def q21_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-shingle Jaccard on a deterministic pair list."""
    docs = _t(spark, sf_dir, "documents")
    pairs = (
        docs.filter((F.col("doc_id") % 25 == 0) & (F.col("doc_id") < 500))
        .select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b"))
    )
    return jaccard_on_pairs(pairs, docs)


Q21_SQL = f"""
WITH sh AS (
  SELECT doc_id, list_distinct({SHINGLES_SQL}) AS s FROM documents
),
pairs AS (
  SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
  WHERE doc_id % 25 = 0 AND doc_id < 500
)
SELECT p.id_a, p.id_b,
       round(len(list_filter(a.s, x -> list_contains(b.s, x)))::DOUBLE
             / greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) AS jaccard
FROM pairs p JOIN sh a ON p.id_a = a.doc_id JOIN sh b ON p.id_b = b.doc_id
"""


def q22_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (engine-portable md5 bit votes)."""
    docs = _t(spark, sf_dir, "documents")
    # hash array staged: the 16 bit-aggregates get no CSE under HOFs
    return docs.select("doc_id", token_hex4(F.col("text")).alias("_hx")).select(
        "doc_id", simhash16_from_hex(F.col("_hx")).alias("simhash")
    )


def _simhash_expr_sql() -> str:
    """DuckDB expression for the 16-bit md5-vote SimHash of column
    `text` (mirrors operators/dedup.py simhash16 bit-for-bit)."""
    votes = []
    for j in range(16):
        pos = j // 4 + 1
        shift = 3 - j % 4
        votes.append(
            f"CASE WHEN list_sum(list_transform({TOKS_SQL}, t -> "
            f"CASE WHEN (((strpos('0123456789abcdef', substr(md5(t), {pos}, 1)) - 1) >> {shift}) & 1) = 1 "
            f"THEN 1 ELSE -1 END)) > 0 THEN {1 << (15 - j)} ELSE 0 END"
        )
    return f"CAST({' + '.join(votes)} AS INT)"


def _simhash_sql() -> str:
    return f"SELECT doc_id, {_simhash_expr_sql()} AS simhash FROM documents"


def q23_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM perplexity (broadcast LM join, no model file)."""
    docs = _t(spark, sf_dir, "documents")
    return unigram_perplexity(docs)


Q23_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents
),
tot AS (SELECT count(*)::DOUBLE AS total FROM toks),
lm AS (SELECT token, count(*) AS tok_cnt FROM toks GROUP BY token)
SELECT t.doc_id,
       round(pow(2.0, avg(-log2(l.tok_cnt / tot.total))), 4) AS perplexity
FROM toks t JOIN lm l USING (token) CROSS JOIN tot
GROUP BY t.doc_id
"""


def q24_ann_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-3 neighbors for the first 5 query vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(
        emb.filter(F.col("vec_id") < 5), emb, k=3
    ).withColumn("rk", F.col("rk").cast("bigint"))


_COS_SQL = """
round(
  list_sum(list_transform(range(1, len(q.qv) + 1),
                          i -> q.qv[i]::DOUBLE * c.cv[i]::DOUBLE))
  / (sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform(c.cv, x -> x::DOUBLE * x::DOUBLE)))), 6)
"""

Q24_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id, {_COS_SQL} AS cos
  FROM q, c WHERE q.query_id <> c.neighbor_id
)
SELECT query_id, neighbor_id, cos, rk
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored)
WHERE rk <= 3
"""


def q25_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN top-3 (the scale path; approximate)."""
    emb = _t(spark, sf_dir, "embeddings")
    return lsh_bucketed_topk(
        emb.filter(F.col("vec_id") < 10), emb, k=3, n_planes=8
    ).withColumn("rk", F.col("rk").cast("bigint"))


_BUCKET_SQL = (
    "("
    + " + ".join(
        f"(CASE WHEN {{v}}[{p + 1}]::DOUBLE >= {{v}}[{p + 9}]::DOUBLE THEN {1 << p} ELSE 0 END)"
        for p in range(8)
    )
    + ")"
)

Q25_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                  {_BUCKET_SQL.format(v='embedding')} AS bucket
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
             {_BUCKET_SQL.format(v='embedding')} AS bucket
      FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id, {_COS_SQL} AS cos
  FROM q JOIN c ON q.bucket = c.bucket AND q.query_id <> c.neighbor_id
)
SELECT query_id, neighbor_id, cos, rk
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored)
WHERE rk <= 3
"""


def q30_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (LSH-bucketed + exact verify).
    Threshold 0.3: the synthetic embeddings are near-orthogonal (max
    pairwise cos ≈ 0.37), so 0.3 yields a real, nonempty result set."""
    from fineweb_domain_analyzer_spark.operators.similarity import (
        embedding_near_dups,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dups(emb, threshold=0.3, n_planes=8)


Q30_SQL = f"""
WITH v AS (SELECT vec_id, embedding, {_BUCKET_SQL.format(v='embedding')} AS bucket
           FROM embeddings)
SELECT l.vec_id AS id_a, r.vec_id AS id_b,
       round(
         list_sum(list_transform(range(1, len(l.embedding) + 1),
                                 i -> l.embedding[i]::DOUBLE * r.embedding[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(l.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(r.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cos
FROM v l JOIN v r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
WHERE round(
         list_sum(list_transform(range(1, len(l.embedding) + 1),
                                 i -> l.embedding[i]::DOUBLE * r.embedding[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(l.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(r.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) >= 0.3
"""


def q31_c4_line_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning + Gopher duplicate-line fraction over
    deterministically injected multi-line text (the documents corpus is
    single-line, so boilerplate/dup lines are synthesized per doc)."""
    from fineweb_domain_analyzer_spark.operators.textclean import with_line_clean

    docs = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit("\nBuy now click here"),
        F.lit("\nThis site uses cookie consent and javascript tracking."),
        F.lit("\n"),
        F.col("text"),
        F.lit(" end of story."),
        F.lit("\nOk."),
        F.lit("\nBuy now click here"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("\nBuy now click here")).otherwise(
            F.lit("")
        ),
    )
    cleaned = with_line_clean(docs.withColumn("text", injected))
    return cleaned.select(
        "doc_id",
        "lines_total",
        "lines_kept",
        "dup_line_fraction",
        F.md5(F.col("cleaned_text")).alias("clean_hash"),
    )


_BANNED_SQL = " AND ".join(
    f"strpos(lower(l), '{p}') = 0"
    for p in ("javascript", "cookie", "lorem ipsum", "privacy policy", "terms of use")
)

Q31_SQL = f"""
WITH injected AS (
  SELECT doc_id,
         text || chr(10) || 'Buy now click here'
              || chr(10) || 'This site uses cookie consent and javascript tracking.'
              || chr(10) || text || ' end of story.'
              || chr(10) || 'Ok.'
              || chr(10) || 'Buy now click here'
              || (CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'Buy now click here' ELSE '' END) AS t
  FROM documents
),
lined AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(t, chr(10)), l -> trim(l)),
                     l -> length(l) > 0) AS lines
  FROM injected
),
kept AS (
  SELECT doc_id, lines,
         list_filter(lines,
                     l -> substring(l, length(l), 1) IN ('.', '!', '?', '"')
                          AND len(string_split_regex(l, '\\s+')) >= 3
                          AND {_BANNED_SQL}) AS keep_lines
  FROM lined
)
SELECT doc_id,
       len(lines) AS lines_total,
       len(keep_lines) AS lines_kept,
       CASE WHEN len(lines) = 0 THEN 0.0
            ELSE round(1.0 - len(list_distinct(lines))::DOUBLE / len(lines), 4)
       END AS dup_line_fraction,
       md5(array_to_string(keep_lines, chr(10))) AS clean_hash
FROM kept
"""


def q32_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-3 (nprobe=1, deterministic centroid set): the
    partition-pruned scale path complementing q25's sign-LSH variant."""
    from fineweb_domain_analyzer_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb.filter(F.col("vec_id") < 10), emb, k=3, n_centroids=8
    ).withColumn("rk", F.col("rk").cast("bigint"))


def _cos_sql(a: str, b: str) -> str:
    return f"""
round(
  list_sum(list_transform(range(1, len({a}) + 1),
                          i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))
  / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE)))), 6)
"""


Q32_SQL = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 8
),
assign AS (
  SELECT vec_id, embedding, centroid_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosc DESC, centroid_id) AS rn
  FROM (SELECT e.vec_id, e.embedding, c.centroid_id,
               {_cos_sql('e.embedding', 'c.cvec')} AS cosc
        FROM embeddings e CROSS JOIN cent c)
),
clustered AS (
  SELECT vec_id, embedding, centroid_id AS cluster_id FROM assign WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv, cluster_id
      FROM clustered WHERE vec_id < 10),
c2 AS (SELECT vec_id AS neighbor_id, embedding AS cv, cluster_id FROM clustered),
scored AS (
  SELECT q.query_id, c2.neighbor_id, {_cos_sql('q.qv', 'c2.cv')} AS cos
  FROM q JOIN c2 USING (cluster_id)
  WHERE q.query_id <> c2.neighbor_id
)
SELECT query_id, neighbor_id, cos, rk
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored)
WHERE rk <= 3
"""


def q33_domain_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 + A4: exact count-distinct of page domains joined with the
    policy dimension's crawlable/denied counts (the reference's
    save_domain_analysis metadata + check_domains_batch summary log,
    fineweb_analyzer.py:199/215/405)."""
    d = domains_view(spark, sf_dir)
    p = policy_view(spark, sf_dir)
    totals = d.agg(F.countDistinct("domain").alias("total_domains"))
    pol = p.agg(
        F.count(F.lit(1)).alias("policy_domains"),
        F.sum(F.col("crawl_allowed").cast("bigint")).alias("crawlable_domains"),
        F.sum((~F.col("crawl_allowed")).cast("bigint")).alias("denied_domains"),
    )
    return totals.crossJoin(pol)


Q33_SQL = f"""
WITH {PAGES_CTE}, {DOMAINS_CTE}, {POLICY_CTE}
SELECT (SELECT count(DISTINCT domain) FROM domains) AS total_domains,
       count(*) AS policy_domains,
       sum(CASE WHEN crawl_allowed THEN 1 ELSE 0 END)::BIGINT AS crawlable_domains,
       sum(CASE WHEN crawl_allowed THEN 0 ELSE 1 END)::BIGINT AS denied_domains
FROM policy
"""


def q34_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: top-100 tokens by frequency
    (tokenizer-training prep). Explode → partial-agg count → top-k;
    the shuffle key is the token (near-uniform), the top-k is a single
    final sort of O(vocab) grouped rows."""
    from fineweb_domain_analyzer_spark.functions.textfns import ws_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(ws_tokens(F.lower(F.col("text")))).alias("token")
    ).filter(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(100)
    )


Q34_SQL = f"""
SELECT token, count(*) AS cnt
FROM (SELECT unnest({TOKS_SQL}) AS token FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY cnt DESC, token
LIMIT 100
"""


def q35_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (100-char buckets) with corpus share —
    the distribution report a curation pipeline emits per snapshot."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.floor(F.length("text") / 100).cast("bigint")
    agg = docs.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("cnt"))
    total = docs.count()
    return agg.select(
        "bucket", "cnt", F.round(F.col("cnt") / F.lit(total), 6).alias("share")
    )


Q35_SQL = """
SELECT floor(length(text) / 100)::BIGINT AS bucket,
       count(*) AS cnt,
       round(count(*)::DOUBLE / (SELECT count(*) FROM documents), 6) AS share
FROM documents
GROUP BY 1
"""


def q36_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup path as one query: MinHash-LSH candidates → exact
    shingle-Jaccard verify ≥ 0.5, over head docs ∪ mutated copies."""
    from fineweb_domain_analyzer_spark.operators.dedup import near_dedup_minhash

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    mutated = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" mutated tail")).alias("text"),
    )
    aug = docs.select("doc_id", "text").unionAll(mutated)
    return near_dedup_minhash(aug, threshold=0.5, k=16, bands=4).select(
        "id_a", "id_b", "jaccard"
    )


# CTE chain shared between Q36 (verified near-dup pairs) and Q37 (its
# transitive closure) so the two oracles cannot drift apart.
_Q36_CTES = f"""aug AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' mutated tail' AS text
  FROM documents WHERE doc_id < 200
),
grp AS (
  SELECT doc_id, text,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
  FROM aug
),
reps AS (SELECT doc_id, text FROM grp WHERE doc_id = canonical_id),
exact_pairs AS (
  SELECT canonical_id AS id_a, doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
  FROM grp WHERE doc_id <> canonical_id
),
shingled AS (
  SELECT doc_id, {SHINGLES_SQL} AS sh FROM reps
),
sigs AS (
  SELECT doc_id,
         list_transform(range(0, 16),
           i -> list_aggregate(
                  list_transform(sh, s -> md5(CAST(i AS VARCHAR) || ':' || s)),
                  'min')) AS sig
  FROM shingled
),
banded AS (
  SELECT doc_id, b.band_id,
         md5(array_to_string(sig[b.band_id * 4 + 1 : b.band_id * 4 + 4], '|')) AS band_key
  FROM sigs, (SELECT unnest(range(0, 4)) AS band_id) b(band_id)
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.doc_id < r.doc_id
),
sets AS (
  SELECT doc_id, list_distinct(sh) AS s FROM shingled
)"""

_Q36_SELECT = """
SELECT c.id_a, c.id_b,
       round(len(list_filter(a.s, x -> list_contains(b.s, x)))::DOUBLE
             / greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) AS jaccard
FROM cand c JOIN sets a ON c.id_a = a.doc_id JOIN sets b ON c.id_b = b.doc_id
WHERE round(len(list_filter(a.s, x -> list_contains(b.s, x)))::DOUBLE
            / greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) >= 0.5
UNION ALL
SELECT id_a, id_b, jaccard FROM exact_pairs
"""

Q36_SQL = f"WITH {_Q36_CTES}\n{_Q36_SELECT}"

# Transitive closure of the Q36 pair graph with min-label per component
# — the DuckDB mirror of connected_components() (operators/dedup.py).
# The recursive CTE enumerates every (node, reachable-node) pair; fine
# at the oracle's few-hundred-node scale, while the Spark side uses
# converging label propagation that scales to web-size graphs.
_CLOSURE_CTES = f"""pairs AS ({_Q36_SELECT}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, rc.r FROM edges e JOIN reach rc ON e.dst = rc.node
)"""

Q37_SQL = f"""
WITH RECURSIVE {_Q36_CTES},
{_CLOSURE_CTES}
SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
"""


def q37_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters via iterative min-label connected components
    over the q36 pair graph. Oracle: Q37_SQL — a DuckDB recursive-CTE
    transitive closure + min() over the reachable set, tractable at the
    oracle's few-hundred-node scale (the Spark side's label propagation
    is the web-scale path)."""
    from fineweb_domain_analyzer_spark.operators.dedup import connected_components

    pairs = q36_near_dedup(spark, sf_dir)
    return connected_components(pairs).orderBy("node")


def _synthetic_robots_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic robots bodies per document source — shared input
    of q38 (parser/fetch semantics) and q79 (recrawl budgeting)."""
    docs = _t(spark, sf_dir, "documents")
    raw_idx = F.regexp_extract(F.col("source"), r"([0-9]+)", 1).cast("int")
    # _i is computed ONCE and reused as an attribute ref — inlining the
    # regexp into every CASE branch would evaluate it ~9× per row
    idx = F.col("_i")
    body = (
        F.when(idx % 5 == 0, F.lit("User-agent: *\nDisallow: /"))
        .when(
            idx % 5 == 1,
            F.lit("User-agent: *\nDisallow: /private/\nCrawl-delay: 2.5"),
        )
        .when(idx % 5 == 2, F.lit("# comments only\n"))
        .when(idx % 5 == 3, F.lit("User-agent: googlebot\nDisallow: /"))
        .otherwise(F.lit(None).cast("string"))
    )
    err = F.when(idx % 10 == 9, F.lit("connection refused")).otherwise(
        F.lit(None).cast("string")
    )
    return (
        docs.select(F.col("source"), raw_idx.alias("_i"))
        .distinct()
        .select(
            F.concat(F.col("source"), F.lit(".example.com")).alias("domain"),
            body.alias("robots_content"),
            err.alias("error"),
        )
    )


def q38_robots_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robots-parser + fetch-semantics tail of the policy pre-fetch
    job (S8/§2.3), oracle-checked: deterministic robots bodies per
    document source, parsed with the exact-reference pandas UDF;
    the DuckDB oracle re-implements the line-state machine with window
    functions (last preceding User-agent governs each directive)."""
    from fineweb_domain_analyzer_spark.functions.robots import (
        policy_from_robots_content,
    )

    pol = policy_from_robots_content(_synthetic_robots_df(spark, sf_dir))
    return pol.select(
        "domain",
        "robots_exists",
        "crawl_allowed",
        "crawl_delay",
        F.size("disallowed_paths").cast("bigint").alias("n_disallowed"),
        F.col("error").isNotNull().alias("had_error"),
    )


Q38_SQL = """
WITH src AS (
  SELECT DISTINCT source,
         TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) AS i
  FROM documents
),
robots AS (
  SELECT source || '.example.com' AS domain, i,
         CASE WHEN i % 5 = 0 THEN 'User-agent: *' || chr(10) || 'Disallow: /'
              WHEN i % 5 = 1 THEN 'User-agent: *' || chr(10) || 'Disallow: /private/' || chr(10) || 'Crawl-delay: 2.5'
              WHEN i % 5 = 2 THEN '# comments only' || chr(10)
              WHEN i % 5 = 3 THEN 'User-agent: googlebot' || chr(10) || 'Disallow: /'
              ELSE NULL END AS content,
         CASE WHEN i % 10 = 9 THEN 'connection refused' ELSE NULL END AS error
  FROM src
),
-- line-state machine: the last preceding User-agent line governs
lines AS (
  SELECT domain, lineno, trim(line) AS line
  FROM (SELECT domain, unnest(string_split(content, chr(10))) AS line,
               generate_subscripts(string_split(content, chr(10)), 1) AS lineno
        FROM robots WHERE content IS NOT NULL)
),
tagged AS (
  SELECT domain, lineno, line,
         CASE WHEN lower(line) LIKE 'user-agent:%'
              THEN trim(substr(line, 12)) END AS agent_decl
  FROM lines
),
governed AS (
  SELECT domain, lineno, line,
         last_value(agent_decl IGNORE NULLS)
           OVER (PARTITION BY domain ORDER BY lineno
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS agent
  FROM tagged
),
directives AS (
  SELECT domain,
         bool_or(lower(line) LIKE 'disallow:%'
                 AND trim(substr(line, 10)) = '/'
                 AND agent = '*') AS root_disallow,
         count(*) FILTER (WHERE lower(line) LIKE 'disallow:%'
                          AND trim(substr(line, 10)) <> '/'
                          AND trim(substr(line, 10)) <> ''
                          AND agent = '*') AS n_disallowed,
         -- last PARSEABLE applicable delay wins (the parser overwrites
         -- result['crawl_delay'] per line; unparseable lines are skipped)
         arg_max(CASE WHEN lower(line) LIKE 'crawl-delay:%' AND agent = '*'
                      THEN try_cast(trim(substr(line, 13)) AS DOUBLE) END,
                 CASE WHEN lower(line) LIKE 'crawl-delay:%' AND agent = '*'
                       AND try_cast(trim(substr(line, 13)) AS DOUBLE) IS NOT NULL
                      THEN lineno END) AS crawl_delay
  FROM governed
  GROUP BY domain
)
SELECT r.domain,
       r.content IS NOT NULL AS robots_exists,
       CASE WHEN r.error IS NOT NULL THEN FALSE
            WHEN r.content IS NOT NULL THEN NOT coalesce(d.root_disallow, FALSE)
            ELSE TRUE END AS crawl_allowed,
       d.crawl_delay,
       coalesce(d.n_disallowed, 0) AS n_disallowed,
       r.error IS NOT NULL AS had_error
FROM robots r LEFT JOIN directives d USING (domain)
"""


def q39_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram-LM perplexity per document (KenLM-style n-gram
    scoring, distributed, no model file; complements q23's unigram)."""
    from fineweb_domain_analyzer_spark.operators.quality import bigram_perplexity

    docs = _t(spark, sf_dir, "documents")
    return bigram_perplexity(docs)


Q39_SQL = """
WITH toks AS (
  SELECT doc_id, pos, token
  FROM (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token,
               generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) AS pos
        FROM documents)
),
bigrams AS (
  SELECT doc_id, prev, token
  FROM (SELECT doc_id, token, pos,
               lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM toks)
  WHERE prev IS NOT NULL
),
bi_lm AS (SELECT prev, token, count(*) AS bi_cnt FROM bigrams GROUP BY prev, token),
uni_lm AS (SELECT prev, count(*) AS prev_cnt FROM bigrams GROUP BY prev)
SELECT b.doc_id,
       round(pow(2.0, avg(-log2(l.bi_cnt::DOUBLE / u.prev_cnt))), 4) AS bigram_perplexity
FROM bigrams b
JOIN bi_lm l ON b.prev = l.prev AND b.token = l.token
JOIN uni_lm u ON b.prev = u.prev
GROUP BY b.doc_id
"""


def q40_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs via BANDED LSH self-join
    (operators/dedup.py simhash_banded_candidates), over head docs ∪
    mutated copies so real near-dups exist. The 16-bit signature is
    split into 2×8-bit bands and pairs sharing any band are candidates
    — complete for hamming ≤ 1 by pigeonhole, and the observed
    join-key count grows with corpus entropy (unlike the earlier
    fixed-256-bucket prefix scheme, which went quadratic in-bucket at
    scale). The oracle mirrors the md5-vote signature bit-for-bit and
    the band explode as a UNION ALL."""
    from fineweb_domain_analyzer_spark.operators.dedup import (
        simhash_banded_candidates,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    mutated = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" mutated tail")).alias("text"),
    )
    aug = docs.select("doc_id", "text").unionAll(mutated)
    return simhash_banded_candidates(aug, bands=2, hash_family="md5_16")


def _q40_sql() -> str:
    return f"""
WITH aug AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 300
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' mutated tail' AS text
  FROM documents WHERE doc_id < 300
),
sh AS (SELECT doc_id, CAST({_simhash_expr_sql()} AS BIGINT) AS sim FROM aug),
b AS (
  SELECT doc_id, sim, 0 AS band_id, sim & 255 AS band_val FROM sh
  UNION ALL
  SELECT doc_id, sim, 1 AS band_id, (sim >> 8) & 255 AS band_val FROM sh
),
p AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         l.sim AS sim_a, r.sim AS sim_b
  FROM b l
  JOIN b r ON l.band_id = r.band_id AND l.band_val = r.band_val
          AND l.doc_id < r.doc_id
)
SELECT id_a, id_b, sim_a, sim_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
FROM p
"""


def q41_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the near-dedup story: LSH pairs → connected
    components → drop every non-canonical cluster member — the doc_ids
    a curation pipeline would actually keep. Oracle: aug ids minus the
    recursive-closure losers (shares Q36/Q37's CTEs)."""
    from fineweb_domain_analyzer_spark.operators.dedup import (
        dedup_keep_canonical,
        near_dedup_minhash,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    mutated = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" mutated tail")).alias("text"),
    )
    aug = docs.select("doc_id", "text").unionAll(mutated)
    pairs = near_dedup_minhash(aug, threshold=0.5, k=16, bands=4)
    return dedup_keep_canonical(aug, pairs).select("doc_id")


Q41_SQL = f"""
WITH RECURSIVE {_Q36_CTES},
{_CLOSURE_CTES},
clusters AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT a.doc_id FROM aug a
WHERE a.doc_id NOT IN (SELECT node FROM clusters WHERE node <> cluster_id)
"""


def q26_salted_domain_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (skew defuse) — result must equal a
    plain GROUP BY, which is exactly what the oracle runs."""
    d = domains_view(spark, sf_dir)
    return salted_count(d, "domain", "url", n_salts=8)


Q26_SQL = f"""
WITH {PAGES_CTE}, {DOMAINS_CTE}
SELECT domain, count(*) AS cnt FROM domains GROUP BY domain
"""


def q27_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column + byte-level metadata
    (the codec-free subset that is oracle-checkable)."""
    docs = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.length(payload).cast("bigint").alias("byte_len"),
        F.md5(payload).alias("content_hash"),
    )


Q27_SQL = """
SELECT doc_id, strlen(text) AS byte_len, md5(text) AS content_hash
FROM documents
"""


def q42_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL media feature path (sources/media.py
    extract_media_features — Arrow mapInPandas, magic sniff, md5-seeded
    feature vec) over text payloads cast to binary, oracle-checked:
    DuckDB reproduces the md5-byte embedding from the hex digest. The
    one Python-crossing operator with a value-level oracle."""
    from fineweb_domain_analyzer_spark.sources.media import (
        extract_media_features,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("text").alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    feats = extract_media_features(assets, feature_dim=8)
    return feats.select(
        "asset_id",
        "byte_len",
        "sniffed_format",
        F.concat_ws(
            ",", F.transform(F.col("feature_vec"), lambda x: x.cast("string"))
        ).alias("fv"),
    )


# the sniff CASE mirrors sources/media.py _MAGIC in declaration order
# for every prefix representable in valid UTF-8 text (jpeg/png magics
# contain bare continuation bytes and cannot occur); NULL text keeps
# Spark's byte_len-0 / sniffed-NULL shape via the coalesce + CASE
Q42_SQL = """
SELECT doc_id AS asset_id,
       coalesce(strlen(text), 0)::BIGINT AS byte_len,
       CASE WHEN text IS NULL THEN NULL
            WHEN starts_with(text, 'GIF8') THEN 'gif'
            WHEN starts_with(text, 'RIFF') THEN 'riff'
            WHEN starts_with(text, 'ID3') THEN 'mp3'
            WHEN starts_with(text, chr(0) || chr(0) || chr(0)) THEN 'mp4-ish'
            ELSE 'unknown' END AS sniffed_format,
       array_to_string(
         list_transform(range(0, 8),
           i -> CAST(round(
                  ('0x' || substr(md5(text), i * 2 + 1, 2))::INT / 255.0,
                  6) AS FLOAT)::VARCHAR),
         ',') AS fv
FROM documents WHERE doc_id < 300
"""


def q43_embedding_near_dups_banded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding near-dups via the multi-band OR-construction
    (operators/similarity.py banded_sign_buckets): 2 independent 4-bit
    sign-LSH keys, candidate on ANY band match, exact-cosine verified.
    The recall knob that lets the bucket-sizing rule raise bits per
    band without recall collapsing — same construction as MinHash-LSH
    banding. Oracle mirrors the axis-difference band keys and the band
    explode as a UNION ALL."""
    from fineweb_domain_analyzer_spark.operators.similarity import (
        embedding_near_dups,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dups(emb, threshold=0.3, n_planes=4, bands=2)


def _q43_band_key_sql(b: int, r: int = 4, bands: int = 2) -> str:
    return (
        "("
        + " + ".join(
            f"(CASE WHEN embedding[{b * r + j + 1}]::DOUBLE >= "
            f"embedding[{b * r + j + r * bands + 1}]::DOUBLE "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(r)
        )
        + ")"
    )


Q43_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, 0 AS band_id, {_q43_band_key_sql(0)} AS band_key
  FROM embeddings
  UNION ALL
  SELECT vec_id, embedding, 1 AS band_id, {_q43_band_key_sql(1)} AS band_key
  FROM embeddings
),
p AS (
  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
  FROM b l JOIN b r ON l.band_id = r.band_id AND l.band_key = r.band_key
       AND l.vec_id < r.vec_id
)
SELECT p.id_a, p.id_b,
       round(
         list_sum(list_transform(range(1, len(a.embedding) + 1),
                                 i -> a.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cos
FROM p
JOIN embeddings a ON p.id_a = a.vec_id
JOIN embeddings c ON p.id_b = c.vec_id
WHERE round(
         list_sum(list_transform(range(1, len(a.embedding) + 1),
                                 i -> a.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) >= 0.3
"""


def q44_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules (Rae et al. 2021, table A1): per-doc
    top-2-gram and duplicate-5-gram character fractions.

    Engine plan is shuffle-free (sorted-runs fold inside the map stage,
    operators/textclean.py:ngram_repetition_stats); the oracle below
    uses the explode → groupBy shape — independent plans, same values."""
    from fineweb_domain_analyzer_spark.operators.textclean import (
        with_ngram_repetition,
    )

    docs = _t(spark, sf_dir, "documents")
    return with_ngram_repetition(docs).select(
        "doc_id", "top2gram_char_frac", "dup5gram_char_frac"
    )


def _rep_sql(n: int, frac_expr: str, alias: str) -> str:
    """One n-gram repetition branch of the q44 oracle (gram explode →
    per-gram counts → per-doc fraction)."""
    return f"""
g{n} AS (
  SELECT doc_id, unnest(CASE WHEN len(w) >= {n}
    THEN list_transform(range(1, len(w) - {n - 2}),
                        i -> array_to_string(w[i:i + {n - 1}], ' '))
    ELSE [array_to_string(w, ' ')] END) AS g
  FROM rep_toks
),
c{n} AS (SELECT doc_id, g, count(*) AS c,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY c DESC, g ASC) AS rn
         FROM g{n} GROUP BY 1, 2),
a{n} AS (
  SELECT doc_id,
         round({frac_expr} / sum(c * length(g)), 6) AS {alias}
  FROM c{n} GROUP BY doc_id
)"""


Q44_SQL = (
    """
WITH rep_toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents
),"""
    + _rep_sql(2, "sum(CASE WHEN rn = 1 THEN c * length(g) ELSE 0 END)",
               "top2gram_char_frac")
    + ","
    + _rep_sql(5, "sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END)",
               "dup5gram_char_frac")
    + """
SELECT a2.doc_id, a2.top2gram_char_frac, a5.dup5gram_char_frac
FROM a2 JOIN a5 ON a2.doc_id = a5.doc_id
"""
)


def _messy_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic crawl-variant URLs over documents: scheme/host case
    noise, default + non-default ports, utm trackers, shuffled query
    order, trailing slashes, fragments. Path keys on doc_id % 50 so
    distinct raw urls genuinely collide after canonicalization."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 5 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.when(d % 5 == 0, F.lit(".EXAMPLE.COM")).otherwise(F.lit(".example.com")),
        F.when(d % 13 == 0, F.lit(":443"))
        .when(d % 17 == 0, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/doc/"),
        (d % 50).cast("string"),
        F.when(d % 7 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.lit("?utm_source=feed&b=2&a=1"))
        .when(d % 4 == 1, F.lit("?b=2&a=1"))
        .when(d % 4 == 2, F.lit("?a=1&b=2&utm_campaign=x"))
        .otherwise(F.lit("")),
        F.when(d % 6 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    return docs.select("doc_id", url.alias("url"))


MESSY_URLS_CTE = """
messy AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 5 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) || source ||
    (CASE WHEN doc_id % 5 = 0 THEN '.EXAMPLE.COM' ELSE '.example.com' END) ||
    (CASE WHEN doc_id % 13 = 0 THEN ':443'
          WHEN doc_id % 17 = 0 THEN ':8080' ELSE '' END) ||
    '/doc/' || CAST(doc_id % 50 AS VARCHAR) ||
    (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END) ||
    (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&b=2&a=1'
          WHEN doc_id % 4 = 1 THEN '?b=2&a=1'
          WHEN doc_id % 4 = 2 THEN '?a=1&b=2&utm_campaign=x'
          ELSE '' END) ||
    (CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END) AS url
  FROM documents
)
"""


def q45_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dedup rollup (functions/urls.py
    rules 1-5). All built-in string/array expressions — the engine plan
    is one map stage plus the final groupBy."""
    from fineweb_domain_analyzer_spark.functions.urls import with_canonical_url

    urls = _messy_urls(spark, sf_dir)
    return (
        with_canonical_url(urls)
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("url_cnt"),
            F.countDistinct("url").alias("variant_cnt"),
        )
    )


Q45_SQL = f"""
WITH {MESSY_URLS_CTE},
parts AS (
  SELECT url,
    lower(regexp_extract(url, '^([^:/?#]+)://', 1)) AS scheme,
    lower(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1)) AS auth0,
    regexp_extract(url, '^[^:/?#]+://[^/?#]*([^#]*)', 1) AS tail
  FROM messy
),
canon AS (
  SELECT url,
    scheme || '://' ||
    (CASE WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
          WHEN scheme = 'http'  THEN regexp_replace(auth0, ':80$', '')
          ELSE auth0 END) ||
    regexp_replace(regexp_extract(tail, '^([^?]*)', 1), '/$', '') ||
    (CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&') ELSE '' END)
      AS canonical_url
  FROM (SELECT *,
               list_sort(list_filter(
                 string_split(regexp_extract(tail, '\\?(.*)$', 1), '&'),
                 p -> len(p) > 0 AND NOT starts_with(p, 'utm_'))) AS ps
        FROM parts)
)
SELECT canonical_url, count(*) AS url_cnt, count(DISTINCT url) AS variant_cnt
FROM canon GROUP BY 1
"""


def q46_shared_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate 5-grams (doc_freq ≥ 2) — the shingle
    doc-frequency table behind contamination checks and boilerplate
    mining. Engine: stage tokens → shingle → explode → one groupBy on
    the gram (partial aggregation makes the shuffle carry only distinct
    grams per partition, not every occurrence)."""
    from fineweb_domain_analyzer_spark.operators.dedup import (
        word_shingles_from_tokens,
    )
    from fineweb_domain_analyzer_spark.functions.textfns import ws_tokens

    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", ws_tokens(F.lower(F.col("text"))).alias("_tk")
    )
    grams = staged.select(
        "doc_id", F.explode(word_shingles_from_tokens(F.col("_tk"), 5)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.count(F.lit(1)).alias("occurrences"),
        )
        .filter(F.col("doc_freq") >= 2)
    )


Q46_SQL = """
WITH rep_toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents
),
g5 AS (
  SELECT doc_id, unnest(CASE WHEN len(w) >= 5
    THEN list_transform(range(1, len(w) - 3),
                        i -> array_to_string(w[i:i + 4], ' '))
    ELSE [array_to_string(w, ' ')] END) AS gram
  FROM rep_toks
)
SELECT gram, count(DISTINCT doc_id) AS doc_freq, count(*) AS occurrences
FROM g5 GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
"""


def q47_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language word-count deciles (corpus curation: sample or
    threshold per quality band instead of one global cutoff): EXACT
    ntile(10) over (word_count, doc_id), then a rollup per
    (lang, decile).

    Runs the BANDED default of operators/quality.py:
    exact_ntile_by_group — the oracle's per-language ntile window
    would funnel each language through ONE reducer (at web scale 'en'
    is ~80% of the corpus, so that task never finishes); the banded
    kernel computes the identical assignment with every window
    partitioned by (lang, band). Equivalence + plan assertions:
    tests/test_quality_scrub.py::TestExactNtileByGroup."""
    from fineweb_domain_analyzer_spark.functions.textfns import ws_tokens
    from fineweb_domain_analyzer_spark.operators.quality import (
        exact_ntile_by_group,
    )

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        F.size(ws_tokens(F.lower(F.col("text")))).cast("bigint").alias("word_count"),
    )
    return (
        exact_ntile_by_group(
            d, 10, "word_count", "lang", "doc_id", out_col="decile"
        )
        .groupBy("lang", "decile")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.round(F.avg("word_count"), 4).alias("avg_wc"),
            F.min("word_count").alias("min_wc"),
            F.max("word_count").alias("max_wc"),
        )
    )


Q47_SQL = """
SELECT lang, decile, count(*) AS docs,
       round(avg(word_count), 4) AS avg_wc,
       min(word_count) AS min_wc, max(word_count) AS max_wc
FROM (
  SELECT lang, word_count,
         ntile(10) OVER (PARTITION BY lang
                         ORDER BY word_count, doc_id)::INTEGER AS decile
  FROM (SELECT doc_id, lang,
               len(string_split_regex(trim(lower(text)), '\\s+'))::BIGINT
                 AS word_count
        FROM documents))
GROUP BY 1, 2
"""


def q28_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: the reference's global filter metrics over the flagship
    labels (total/kept/excluded/keep_ratio)."""
    labeled = q12_robots_filter(spark, sf_dir)
    return labeled.agg(
        F.count(F.lit(1)).alias("total_processed"),
        F.sum(F.col("keep").cast("bigint")).alias("filtered_kept"),
        F.sum((~F.col("keep")).cast("bigint")).alias("excluded_count"),
    ).select(
        "total_processed",
        "filtered_kept",
        "excluded_count",
        F.round(F.col("filtered_kept") / F.col("total_processed") * 100, 2).alias(
            "keep_ratio"
        ),
    )


Q28_SQL = f"""
WITH {PAGES_CTE}, {DOMAINS_CTE}, {POLICY_CTE},
labeled AS (
  SELECT coalesce(p.crawl_allowed, TRUE) AS keep
  FROM domains d LEFT JOIN policy p ON d.domain = p.domain
)
SELECT count(*) AS total_processed,
       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS filtered_kept,
       sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS excluded_count,
       round(sum(CASE WHEN keep THEN 1 ELSE 0 END)::DOUBLE / count(*) * 100, 2) AS keep_ratio
FROM labeled
"""


def q29_drop_reason_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule lineage: drop-reason histogram of the flagship labels."""
    labeled = q12_robots_filter(spark, sf_dir)
    return labeled.groupBy("drop_reason").agg(F.count(F.lit(1)).alias("cnt"))


Q29_SQL = f"""
WITH {PAGES_CTE}, {DOMAINS_CTE}, {POLICY_CTE}
SELECT CASE WHEN NOT coalesce(p.crawl_allowed, TRUE) THEN 'robots_disallowed'
            ELSE 'kept' END AS drop_reason,
       count(*) AS cnt
FROM domains d LEFT JOIN policy p ON d.domain = p.domain
GROUP BY 1
"""


def q48_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-dump re-crawl collapse: synthesize ~4 crawl snapshots per
    url (doc_id // 80 keys the url within a source; a crawl_ts orders
    them) and keep only the newest per url, carrying how many snapshots
    it collapsed. operators/dedup.py:latest_snapshot_per_key — one
    shuffle on url; per-key window state is O(dumps per url), not
    O(corpus)."""
    from fineweb_domain_analyzer_spark.operators.dedup import (
        latest_snapshot_per_key,
    )

    docs = _t(spark, sf_dir, "documents")
    grp = F.floor(F.col("doc_id") / 80).cast("bigint")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/page/"),
        grp.cast("string"),
    )
    ts = (F.lit(1700000000) + (F.col("doc_id") * 37) % 100000).cast("bigint")
    snaps = docs.select(
        F.col("doc_id"), url.alias("url"), ts.alias("crawl_ts")
    )
    kept = latest_snapshot_per_key(
        snaps, key_col="url", ts_col="crawl_ts", tiebreak_col="doc_id"
    )
    return kept.select(
        "url",
        F.col("doc_id").alias("kept_doc_id"),
        F.col("crawl_ts").alias("latest_ts"),
        "n_snapshots",
    )


Q48_SQL = """
SELECT url, doc_id AS kept_doc_id, crawl_ts AS latest_ts, n_snapshots
FROM (
  SELECT *,
         row_number() OVER (PARTITION BY url
                            ORDER BY crawl_ts DESC, doc_id DESC) AS rn,
         count(*) OVER (PARTITION BY url) AS n_snapshots
  FROM (SELECT doc_id,
               'https://' || source || '.example.com/page/'
                 || CAST(doc_id // 80 AS VARCHAR) AS url,
               (1700000000 + (doc_id * 37) % 100000)::BIGINT AS crawl_ts
        FROM documents))
WHERE rn = 1
"""


def q49_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket stratified sampling (rebalance the
    language mix: keep 50% of 'en', 25% of everything else). Same rows
    on every run/engine/cluster size — unlike df.sample.
    operators/filtering.py:stratified_hash_sample; map-only, zero
    shuffle."""
    from fineweb_domain_analyzer_spark.operators.filtering import (
        stratified_hash_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    sampled = stratified_hash_sample(
        docs.select("doc_id", "lang"),
        rates={"en": 50},
        default_rate=25,
        bucket_col="bucket",
    )
    return sampled.select("doc_id", "lang", F.col("bucket").cast("bigint").alias("bucket"))


Q49_SQL = """
SELECT doc_id, lang, bucket
FROM (SELECT doc_id, lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100
               AS bucket,
             CASE WHEN lang = 'en' THEN 50 ELSE 25 END AS rate
      FROM documents)
WHERE bucket < rate
"""


def q50_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel composed from the flagship operators:
    label_pages (q12 semantics) → exact dedup keep-first (q18) →
    stratified hash sample (q49), emitting per-stage lineage as a 4-row
    funnel in ONE job. operators/metrics.py:curation_funnel — one
    content-hash-keyed shuffle + one 1-row agg at any scale."""
    from fineweb_domain_analyzer_spark.operators.filtering import label_pages
    from fineweb_domain_analyzer_spark.operators.metrics import curation_funnel

    pages = pages_view(spark, sf_dir)
    policy = policy_view(spark, sf_dir)
    labeled = label_pages(pages, policy, exact_domain=True)
    funnel = curation_funnel(labeled, rates={"en": 50}, default_rate=25)
    return funnel.orderBy("stage_idx")


Q50_SQL = f"""
WITH {PAGES_CTE}, {DOMAINS_CTE}, {POLICY_CTE},
labeled AS (
  SELECT d.doc_id, d.text, d.lang,
         coalesce(p.crawl_allowed, TRUE) AS keep
  FROM domains d LEFT JOIN policy p ON d.domain = p.domain
),
tagged AS (
  SELECT keep,
         (keep AND row_number() OVER (PARTITION BY md5(text), keep
                                      ORDER BY doc_id) = 1) AS is_canon,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100
            < CASE WHEN lang = 'en' THEN 50 ELSE 25 END) AS sampled
  FROM labeled
),
staged AS (
  SELECT CASE WHEN NOT keep THEN 1 WHEN NOT is_canon THEN 2
              WHEN NOT sampled THEN 3 ELSE 4 END AS stage
  FROM tagged
),
agg AS (
  SELECT count(*) AS n1,
         CAST(sum(CASE WHEN stage >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN stage >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(sum(CASE WHEN stage >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
  FROM staged
)
SELECT CAST(1 AS BIGINT) AS stage_idx, 'ingest' AS stage, n1 AS rows_out,
       CAST(0 AS BIGINT) AS dropped FROM agg
UNION ALL
SELECT 2, 'robots_filter', n2, n1 - n2 FROM agg
UNION ALL
SELECT 3, 'exact_dedup', n3, n2 - n3 FROM agg
UNION ALL
SELECT 4, 'stratified_sample', n4, n3 - n4 FROM agg
ORDER BY stage_idx
"""


def q51_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-document paragraph dedup (boilerplate strip):
    paragraphs appearing in ≥3 distinct docs are removed everywhere,
    docs reassembled in order. The synthetic corpus has no newlines,
    so 'paragraphs' are deterministic 3-token chunks of the token
    stream — real callers pass split(text, '\\n\\n').
    operators/textclean.py:paragraph_dedup."""
    from fineweb_domain_analyzer_spark.functions.textfns import ws_tokens
    from fineweb_domain_analyzer_spark.operators.textclean import paragraph_dedup

    docs = _t(spark, sf_dir, "documents")
    # blank/whitespace-only docs have no paragraphs: the oracle's
    # length(trim(text))=0 guard omits them entirely, and ws_tokens('')
    # is [''] (size 1), so filter BEFORE tokenizing (ADVICE r3).
    staged = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", ws_tokens(F.lower(F.col("text"))).alias("_tk")
    )
    n_chunks = F.ceil(F.size(F.col("_tk")) / F.lit(3.0)).cast("int")
    seq = F.when(
        F.size(F.col("_tk")) > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.expr("array()").cast("array<int>"))
    paras = F.transform(
        seq,
        lambda i: F.array_join(F.slice(F.col("_tk"), i * 3 + 1, 3), " "),
    )
    chunked = staged.select("doc_id", paras.alias("paras"))
    out = paragraph_dedup(chunked, "paras", min_doc_freq=3)
    return out.select("doc_id", "n_paras", "n_removed", "cleaned_text")


Q51_SQL = """
WITH tk AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS w
  FROM documents
),
p0 AS (
  SELECT doc_id,
         unnest(list_transform(range(0, CAST(ceil(len(w) / 3.0) AS BIGINT)),
                i -> {'idx': i,
                      'para': array_to_string(w[(i*3+1):(i*3+3)], ' ')})) AS s
  FROM tk
),
p AS (SELECT doc_id, CAST(s.idx AS INT) AS idx, s.para AS para FROM p0),
freq AS (SELECT para, count(DISTINCT doc_id) AS doc_freq FROM p GROUP BY 1),
j AS (SELECT p.doc_id, p.idx, p.para, f.doc_freq
      FROM p JOIN freq f USING (para))
SELECT doc_id,
       count(*) AS n_paras,
       CAST(sum(CASE WHEN doc_freq >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       coalesce(string_agg(para, chr(10) ORDER BY idx)
                  FILTER (WHERE doc_freq < 3), '') AS cleaned_text
FROM j GROUP BY doc_id
"""


def q52_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination scan: docs with doc_id % 23 == 0 play
    the held-out eval set; every other doc is checked for distinct
    4-gram overlap with it. Benchmark gram set is broadcast — the
    corpus side never shuffles until the per-doc count.
    operators/dedup.py:contamination_check."""
    from fineweb_domain_analyzer_spark.functions.textfns import ws_tokens
    from fineweb_domain_analyzer_spark.operators.dedup import (
        contamination_check,
        word_shingles_from_tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", ws_tokens(F.lower(F.col("text"))).alias("_tk")
    )
    sh = staged.select(
        "doc_id",
        F.array_distinct(word_shingles_from_tokens(F.col("_tk"), 4)).alias("grams"),
    )
    bench = sh.filter(F.col("doc_id") % 23 == 0)
    corpus = sh.filter(F.col("doc_id") % 23 != 0)
    return contamination_check(corpus, bench).select(
        "doc_id", "n_grams", "n_hits", "contamination"
    )


Q52_SQL = """
WITH tk AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 4
           THEN list_transform(range(1, len(w) - 2),
                               i -> array_to_string(w[i:i + 3], ' '))
           ELSE [array_to_string(w, ' ')] END) AS s
  FROM tk
),
bench AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 23 = 0),
corpus AS (SELECT doc_id, len(s) AS n_grams, unnest(s) AS gram
           FROM sh WHERE doc_id % 23 <> 0)
SELECT c.doc_id, c.n_grams, count(*) AS n_hits,
       round(count(*)::DOUBLE / c.n_grams, 4) AS contamination
FROM corpus c JOIN bench b USING (gram)
GROUP BY c.doc_id, c.n_grams
"""


def q53_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style URL spam heuristics (the pre-fetch filter stage):
    path depth, query-param count, subdomain count, host digit
    fraction, keyword flag, composite suspect flag — all codegen
    expressions. functions/urls.py:with_url_features."""
    from fineweb_domain_analyzer_spark.functions.urls import with_url_features

    pages = pages_view(spark, sf_dir)
    out = with_url_features(pages)
    return out.select(
        "doc_id",
        "url_path_depth",
        "url_n_params",
        "url_host_parts",
        "url_digit_frac",
        F.col("url_len").alias("url_length"),
        "url_spam_kw",
        "url_suspect",
    )


Q53_SQL = f"""
WITH {PAGES_CTE},
parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)) AS auth,
         regexp_extract(url, '^[a-zA-Z]+://[^/?#]+(/[^?#]*)', 1) AS path,
         regexp_extract(url, '\\?([^#]*)', 1) AS query
  FROM pages
),
hosted AS (SELECT *, split_part(auth, ':', 1) AS host FROM parts)
SELECT doc_id,
       len(list_filter(string_split(path, '/'), s -> s <> ''))::BIGINT
         AS url_path_depth,
       CASE WHEN query = '' THEN 0
            ELSE len(string_split(query, '&')) END::BIGINT AS url_n_params,
       len(string_split(host, '.'))::BIGINT AS url_host_parts,
       round((length(host) - length(regexp_replace(host, '[0-9]', '', 'g')))::DOUBLE
             / greatest(length(host), 1), 4) AS url_digit_frac,
       length(url)::BIGINT AS url_length,
       (lower(url) LIKE '%porn%' OR lower(url) LIKE '%xxx%'
        OR lower(url) LIKE '%casino%' OR lower(url) LIKE '%viagra%'
        OR lower(url) LIKE '%escort%' OR lower(url) LIKE '%gambling%')
         AS url_spam_kw,
       (lower(url) LIKE '%porn%' OR lower(url) LIKE '%xxx%'
        OR lower(url) LIKE '%casino%' OR lower(url) LIKE '%viagra%'
        OR lower(url) LIKE '%escort%' OR lower(url) LIKE '%gambling%'
        OR round((length(host) - length(regexp_replace(host, '[0-9]', '', 'g')))::DOUBLE
                 / greatest(length(host), 1), 4) > 0.3
        OR len(string_split(host, '.')) > 4
        OR len(list_filter(string_split(path, '/'), s -> s <> '')) > 8)
         AS url_suspect
FROM hosted
"""


def q54_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over embeddings: LSH-bucketed
    cosine near-dup pairs (q30 config) → connected components → keep
    the min-id canonical per semantic cluster. One row per doc in the
    dup graph with its cluster, cluster size, and keep flag; docs
    outside the graph are implicitly kept (no row). Composes
    operators/similarity.py:embedding_near_dups +
    operators/dedup.py:connected_components."""
    from fineweb_domain_analyzer_spark.operators.dedup import connected_components
    from fineweb_domain_analyzer_spark.operators.similarity import (
        embedding_near_dups,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dups(emb, threshold=0.3, n_planes=8)
    cc = connected_components(pairs)
    return cc.withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).cast("bigint"),
    ).select(
        F.col("node").alias("vec_id"),
        "cluster_id",
        "cluster_size",
        (F.col("node") == F.col("cluster_id")).alias("kept"),
    )


_Q54_COS = """
round(
  list_sum(list_transform(range(1, len(l.embedding) + 1),
                          i -> l.embedding[i]::DOUBLE * r.embedding[i]::DOUBLE))
  / (sqrt(list_sum(list_transform(l.embedding, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform(r.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6)
"""

Q54_SQL = f"""
WITH RECURSIVE v AS (
  SELECT vec_id, embedding, {_BUCKET_SQL.format(v='embedding')} AS bucket
  FROM embeddings
),
sem_pairs AS (
  SELECT l.vec_id AS id_a, r.vec_id AS id_b
  FROM v l JOIN v r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
  WHERE {_Q54_COS} >= 0.3
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM sem_pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM sem_pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, rc.r FROM edges e JOIN reach rc ON e.dst = rc.node
),
cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT node AS vec_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       node = cluster_id AS kept
FROM cc
"""


def q55_domain_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level reputation rollup — the FineWeb stage that filters
    whole domains, not documents: per domain, doc count, mean stopword
    density (quality proxy), suspect-URL fraction, short-doc fraction;
    a domain is blocked when suspect_frac > 0.5 or mean quality is
    degenerate. ONE domain-keyed agg over the staged per-doc features
    (all codegen) — the salted variant in operators/skew.py handles the
    hot-domain case this rollup hits at web scale."""
    from fineweb_domain_analyzer_spark.functions.urls import with_url_features
    from fineweb_domain_analyzer_spark.operators.quality import (
        with_quality_features,
    )

    pages = with_domain_sql(pages_view(spark, sf_dir))
    feats = with_url_features(with_quality_features(pages))
    # All stats in integer basis points: per-doc features are integer
    # ratios (bit-identical doubles in any engine), sums are exact
    # integers, and the one IEEE division per stat is exactly specified
    # — so the rollup is reproducible across engines/partitionings with
    # no float-boundary rounding flakes (avg-of-doubles is not).
    sd_bp = F.round(F.col("stopword_density") * 10000, 0).cast("bigint")
    rep = feats.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(sd_bp), 0).cast("bigint").alias("stopword_density_bp"),
        F.round(F.avg(F.col("url_suspect").cast("long")) * 10000, 0)
        .cast("bigint")
        .alias("suspect_bp"),
        F.round(F.avg((F.col("word_count") < 25).cast("long")) * 10000, 0)
        .cast("bigint")
        .alias("short_doc_bp"),
    )
    return rep.withColumn(
        "blocked",
        (F.col("suspect_bp") > 5000)
        | (F.col("stopword_density_bp") < 100)
        | (F.col("short_doc_bp") > 9000),
    )


Q55_SQL = f"""
WITH {PAGES_CTE}, {DOMAINS_CTE},
parts AS (
  SELECT doc_id, domain, url, text,
         lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)) AS auth,
         regexp_extract(url, '^[a-zA-Z]+://[^/?#]+(/[^?#]*)', 1) AS path
  FROM domains
),
feats AS (
  SELECT domain,
         CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({TOKS_SQL}) END
           AS word_count,
         round(round(
           len(list_filter({TOKS_SQL}, t -> list_contains({_STOPLIST_SQL}, t)))::DOUBLE
           / greatest(CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len({TOKS_SQL}) END, 1), 4) * 10000, 0)::BIGINT
           AS sd_bp,
         (lower(url) LIKE '%porn%' OR lower(url) LIKE '%xxx%'
          OR lower(url) LIKE '%casino%' OR lower(url) LIKE '%viagra%'
          OR lower(url) LIKE '%escort%' OR lower(url) LIKE '%gambling%'
          OR round((length(split_part(auth, ':', 1))
                    - length(regexp_replace(split_part(auth, ':', 1), '[0-9]', '', 'g')))::DOUBLE
                   / greatest(length(split_part(auth, ':', 1)), 1), 4) > 0.3
          OR len(string_split(split_part(auth, ':', 1), '.')) > 4
          OR len(list_filter(string_split(path, '/'), s -> s <> '')) > 8)
           AS url_suspect
  FROM parts
),
rep AS (
  SELECT domain, count(*) AS n_docs,
         round(sum(sd_bp)::DOUBLE / count(*), 0)::BIGINT
           AS stopword_density_bp,
         round(sum(CASE WHEN url_suspect THEN 1 ELSE 0 END)::DOUBLE
               / count(*) * 10000, 0)::BIGINT AS suspect_bp,
         round(sum(CASE WHEN word_count < 25 THEN 1 ELSE 0 END)::DOUBLE
               / count(*) * 10000, 0)::BIGINT AS short_doc_bp
  FROM feats GROUP BY domain
)
SELECT *,
       (suspect_bp > 5000 OR stopword_density_bp < 100
        OR short_doc_bp > 9000) AS blocked
FROM rep
"""


def q56_pipeline_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE FLAGSHIP, oracle-checked end-to-end: plans/pipeline.py:
    quality_filter_pipeline's unified per-doc labels — robots →
    language → quality precedence exactly as the north rule's
    keep/drop contract (scrub output is byte-verified separately by
    q15's hash oracle). The DuckDB oracle independently reassembles
    the q12 robots join, q14 langid, and q13 Gopher features with the
    PipelineConfig default thresholds."""
    from fineweb_domain_analyzer_spark.plans.pipeline import (
        PipelineConfig,
        quality_filter_pipeline,
    )

    pages = pages_view(spark, sf_dir)
    policy = policy_view(spark, sf_dir)
    out = quality_filter_pipeline(pages, policy, PipelineConfig(scrub=False))
    return out.select("doc_id", "langid", "keep", "drop_reason")


def _q56_ctes() -> str:
    """WITH-body prefix shared by the q56/q101/q102 oracles: the full
    pipeline feature chain through ``feats`` (doc_id, robots_reason,
    langid, the five heuristic features) — one definition so the
    ablation oracles are parity-locked to the flagship-label oracle."""
    from fineweb_domain_analyzer_spark.functions.textfns import LANG_STOPWORDS

    hit_cols = []
    for lang, words in LANG_STOPWORDS.items():
        lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        hit_cols.append(
            f"len(list_filter({TOKS_SQL}, t -> list_contains({lst}, t))) AS h_{lang}"
        )
    wc = f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({TOKS_SQL}) END"
    return f"""
WITH {PAGES_CTE}, {DOMAINS_CTE}, {POLICY_CTE},
rl AS (
  SELECT d.doc_id, d.text,
         CASE WHEN NOT coalesce(p.crawl_allowed, TRUE)
              THEN 'robots_disallowed' ELSE 'kept' END AS robots_reason
  FROM domains d LEFT JOIN policy p ON d.domain = p.domain
),
lid AS (
  SELECT doc_id, text, robots_reason,
         {', '.join(hit_cols)},
         (length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')))::DOUBLE
           / greatest(length(text), 1) AS cjk_ratio
  FROM rl
),
lang AS (
  SELECT doc_id, text, robots_reason,
         CASE WHEN cjk_ratio > 0.15 THEN 'zh'
              WHEN greatest(h_en, h_de, h_fr, h_es) <= 0 THEN 'unk'
              WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
              WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
              WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
              ELSE 'es' END AS langid
  FROM lid
),
feats AS (
  SELECT doc_id, robots_reason, langid,
         {wc} AS word_count,
         round(length(regexp_replace(trim(text), '\\s+', '', 'g'))::DOUBLE
               / greatest({wc}, 1), 4) AS mean_word_len,
         round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
               / greatest(length(text), 1), 4) AS symbol_ratio,
         round(len(list_filter({TOKS_SQL}, t -> list_contains({_STOPLIST_SQL}, t)))::DOUBLE
               / greatest({wc}, 1), 4) AS stopword_density,
         CASE WHEN length(trim(text)) = 0 OR len({TOKS_SQL}) = 0 THEN 0.0
              ELSE round(list_max(list_transform(list_distinct({TOKS_SQL}),
                           t -> len(list_filter({TOKS_SQL}, x -> x = t))))::DOUBLE
                         / len({TOKS_SQL}), 4) END AS max_word_repeat_ratio
  FROM lang
)"""


def _q56_sql() -> str:
    return (
        _q56_ctes()
        + """,
decided AS (
  SELECT doc_id, langid,
         CASE WHEN robots_reason <> 'kept' THEN robots_reason
              WHEN langid NOT IN ('en', 'zh', 'de', 'fr', 'es')
                THEN 'language_filtered'
              WHEN NOT (word_count BETWEEN 5 AND 1000000
                        AND mean_word_len BETWEEN 2.0 AND 12.0
                        AND symbol_ratio <= 0.5
                        AND stopword_density >= 0.0
                        AND max_word_repeat_ratio <= 0.9)
                THEN 'quality_filtered'
              ELSE 'kept' END AS drop_reason
  FROM feats
)
SELECT doc_id, langid, drop_reason = 'kept' AS keep, drop_reason
FROM decided
"""
    )


def _feats_cte() -> str:
    """DuckDB CTE computing the q13 heuristic features over documents —
    shared by the q57/q59 oracles (q13/q56 predate it and inline the
    same expressions)."""
    wc = f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({TOKS_SQL}) END"
    return f"""
feats AS (
  SELECT doc_id,
         {wc} AS word_count,
         round(length(regexp_replace(trim(text), '\\s+', '', 'g'))::DOUBLE
               / greatest({wc}, 1), 4) AS mean_word_len,
         round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
               / greatest(length(text), 1), 4) AS symbol_ratio,
         round(len(list_filter({TOKS_SQL}, t -> list_contains({_STOPLIST_SQL}, t)))::DOUBLE
               / greatest({wc}, 1), 4) AS stopword_density,
         CASE WHEN length(trim(text)) = 0 OR len({TOKS_SQL}) = 0 THEN 0.0
              ELSE round(list_max(list_transform(list_distinct({TOKS_SQL}),
                           t -> len(list_filter({TOKS_SQL}, x -> x = t))))::DOUBLE
                         / len({TOKS_SQL}), 4) END AS max_word_repeat_ratio
  FROM documents
)"""


_SCORE_SQL = """
round(1.0 / (1.0 + exp(-(-1.0 + 0.8 * ln(1 + word_count)
                         + 0.3 * mean_word_len - 4.0 * symbol_ratio
                         + 6.0 * stopword_density
                         - 3.0 * max_word_repeat_ratio))), 4)
"""


def q57_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-style logistic quality score (serving side of the
    FineWeb quality-classifier stage; fixed weights stand in for a
    trained model's — swap without touching the plan). Map-only.
    operators/quality.py:with_quality_score."""
    from fineweb_domain_analyzer_spark.operators.quality import (
        with_quality_features,
        with_quality_score,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = with_quality_score(with_quality_features(docs))
    return scored.select(
        "doc_id",
        "quality_score",
        (F.col("quality_score") >= 0.5).alias("keep_by_score"),
    )


Q57_SQL = f"""
WITH {_feats_cte()}
SELECT doc_id, {_SCORE_SQL} AS quality_score,
       {_SCORE_SQL} >= 0.5 AS keep_by_score
FROM feats
"""


def q58_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal (templated boilerplate
    compresses far better than organic prose). Arrow-batched pandas
    UDF — deliberately NOT SQL-expressible, so the driver records the
    rows-only check; the unit test verifies against direct python
    zlib. operators/quality.py:with_compression_ratio."""
    from fineweb_domain_analyzer_spark.operators.quality import (
        with_compression_ratio,
    )

    docs = _t(spark, sf_dir, "documents")
    return with_compression_ratio(docs).select("doc_id", "compression_ratio")


def q59_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy best-first selection under a 10k-token budget — cutting
    'the best B tokens' for a training mix, not 'the best N docs'.
    operators/quality.py:select_within_token_budget — the DEFAULT
    banded path: band-partitioned distributed prefix-sum, bit-equal
    to the oracle's global cumulative window with no single-partition
    sort (the oracle's ROWS UNBOUNDED PRECEDING window is the spec;
    the engine plan is the scale-safe equivalent)."""
    from fineweb_domain_analyzer_spark.operators.quality import (
        select_within_token_budget,
        with_quality_features,
        with_quality_score,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = with_quality_score(with_quality_features(docs))
    picked = select_within_token_budget(scored, token_budget=10000)
    return picked.select(
        "doc_id",
        "quality_score",
        F.col("word_count").cast("bigint").alias("word_count"),
        F.col("_cum_tokens").cast("bigint").alias("cum_tokens"),
    )


Q59_SQL = f"""
WITH {_feats_cte()},
scored AS (
  SELECT doc_id, word_count, {_SCORE_SQL} AS quality_score FROM feats
),
cum AS (
  SELECT doc_id, quality_score, word_count,
         sum(word_count) OVER (ORDER BY quality_score DESC, doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM scored
)
SELECT doc_id, quality_score, CAST(word_count AS BIGINT) AS word_count,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM cum WHERE cum_tokens <= 10000
"""


_HTML_PRE = (
    '<html><head><style>p {color: red}</style>'
    '<script>var x = "</p>";</script></head><body><h1>'
)
_HTML_MID = "</h1>\n<p>"
_HTML_POST = (
    " &amp; more&nbsp;stuff</p><div>footer</div>"
    "<!-- hidden --></body></html>"
)


def q60_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → visible-text extraction (the from-crawl step upstream of
    every quality heuristic): deterministic HTML synthesized around
    each doc's text (script with embedded '</p>', style, comment,
    entities), extracted with the codegen regexp chain in
    functions/html.py. Output is hashed for byte-level comparison."""
    from fineweb_domain_analyzer_spark.functions.html import html_to_text

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(_HTML_PRE), F.col("source"), F.lit(_HTML_MID),
        F.col("text"), F.lit(_HTML_POST),
    )
    ext = html_to_text(html)
    return docs.select(
        "doc_id",
        F.md5(ext).alias("text_hash"),
        F.length(ext).cast("bigint").alias("text_len"),
    )


def _q60_sql() -> str:
    pre = _HTML_PRE.replace("'", "''")
    mid = _HTML_MID.replace("\n", "' || chr(10) || '")
    post = _HTML_POST.replace("'", "''")
    x = f"'{pre}' || source || '{mid}' || text || '{post}'"
    for pat, rep in (
        (r"(?is)<script\b[^>]*>.*?</script>", " "),
        (r"(?is)<style\b[^>]*>.*?</style>", " "),
        (r"(?s)<!--.*?-->", " "),
        (r"(?i)<(?:br\s*/?|/p|/div|/h[1-6]|/li|/tr)>", r"\n"),
        (r"(?s)<[^>]*>", " "),
    ):
        # DuckDB string literals keep backslashes as-is — pass the
        # regex text through unmodified (no doubling)
        pat_sql = pat.replace("'", "''")
        if rep == r"\n":
            x = f"regexp_replace({x}, '{pat_sql}', chr(10), 'g')"
        else:
            x = f"regexp_replace({x}, '{pat_sql}', '{rep}', 'g')"
    for ent, ch in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "''"), ("&amp;", "&"),
    ):
        ch_sql = ch if ch != "'" else "''"
        x = f"replace({x}, '{ent}', '{ch_sql}')"
    x = f"regexp_replace({x}, '[ \\t]+', ' ', 'g')"
    x = f"regexp_replace({x}, ' ?\\n ?', chr(10), 'g')"
    x = f"regexp_replace({x}, '\\n{{2,}}', chr(10), 'g')"
    x = f"trim({x}, ' ' || chr(9) || chr(10) || chr(13))"
    return f"""
SELECT doc_id, md5({x}) AS text_hash, length({x})::BIGINT AS text_len
FROM documents
"""


def q61_exact_span_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact long-span contamination (the stronger companion to q52's
    n-gram overlap): docs with doc_id % 23 == 0 play the eval set;
    corpus docs with doc_id % 7 == 0 get a 10-token span of a
    deterministic eval doc planted verbatim at the end, and the scan
    must find every planted doc with the exact token offset.
    operators/dedup.py:exact_span_contamination."""
    from fineweb_domain_analyzer_spark.functions.textfns import ws_tokens
    from fineweb_domain_analyzer_spark.operators.dedup import (
        exact_span_contamination,
    )

    docs = _t(spark, sf_dir, "documents")
    evals = docs.filter(F.col("doc_id") % 23 == 0)
    eval_spans = evals.select(
        (F.col("doc_id") / 23).cast("long").alias("k"),
        F.array_join(
            F.slice(ws_tokens(F.lower(F.col("text"))), 1, 10), " "
        ).alias("span"),
    )
    corpus = docs.filter(F.col("doc_id") % 23 != 0).withColumn(
        "k",
        F.when(F.col("doc_id") % 7 == 0, F.col("doc_id") % 20),
    )
    planted = corpus.join(F.broadcast(eval_spans), "k", "left").withColumn(
        "text2",
        F.when(
            F.col("span").isNotNull(),
            F.concat(F.col("text"), F.lit(" "), F.col("span")),
        ).otherwise(F.col("text")),
    )
    staged = planted.select(
        "doc_id", ws_tokens(F.lower(F.col("text2"))).alias("_tk")
    )
    bench = evals.select(
        "doc_id", ws_tokens(F.lower(F.col("text"))).alias("_tk")
    )
    return exact_span_contamination(
        staged, bench, span_len=10, tokens_col="_tk"
    ).select("doc_id", "n_spans", "n_span_hits", "first_token_pos")


Q61_SQL = """
WITH ev AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
  FROM documents WHERE doc_id % 23 = 0
),
eval_spans AS (
  SELECT doc_id // 23 AS k, array_to_string(w[1:10], ' ') AS span FROM ev
),
corpus0 AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 7 = 0 THEN doc_id % 20 END AS k
  FROM documents WHERE doc_id % 23 <> 0
),
aug AS (
  SELECT c.doc_id,
         CASE WHEN es.span IS NOT NULL THEN c.text || ' ' || es.span
              ELSE c.text END AS text
  FROM corpus0 c LEFT JOIN eval_spans es ON c.k = es.k
),
ctk AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM aug
),
cspans AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 10
           THEN list_transform(range(1, len(w) - 8),
                  i -> {'pos': i, 'h': md5(array_to_string(w[i:i+9], ' '))})
           ELSE [] END AS sp
  FROM ctk
),
cs AS (SELECT doc_id, len(sp) AS n_spans, unnest(sp) AS s FROM cspans),
bsp AS (
  SELECT DISTINCT unnest(
    CASE WHEN len(w) >= 10
      THEN list_transform(range(1, len(w) - 8),
             i -> md5(array_to_string(w[i:i+9], ' ')))
      ELSE [] END) AS h
  FROM ev
)
SELECT c.doc_id, c.n_spans, count(*) AS n_span_hits,
       CAST(min(c.s.pos) AS INT) AS first_token_pos
FROM cs c JOIN bsp b ON c.s.h = b.h
GROUP BY c.doc_id, c.n_spans
"""


def _artifact(fname: str) -> str:
    import os

    return os.path.join(os.path.dirname(__file__), "artifacts", fname)


# DuckDB-side non-empty ASCII-whitespace tokens of the raw text — the
# exact fastText/ARPA tokenization (model_formats.ft_tokenize, minus the
# EOS marker, which cancels out of every argmax / is added explicitly)
FT_TOKS_SQL = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"


def q62_fasttext_bin_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID through a genuine fastText-format .bin artifact
    (committed fixture artifacts/langid_marker.bin), loaded by the
    pure-Python binary reader (functions/model_formats.py) via the
    sniffing loader (operators/quality.py:_construct_model). The
    fixture is a one-hot marker-word model, so the oracle can mirror
    the exact prediction as marker-count argmax."""
    from fineweb_domain_analyzer_spark.operators.quality import (
        langid_udf_for,
        register_model_artifact,
    )

    register_model_artifact(spark, "langid_fx", _artifact("langid_marker.bin"))
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", langid_udf_for("langid_fx")(F.col("text")).alias("ft_label")
    )


def _q62_sql() -> str:
    """Oracle derived from the committed .bin itself: invert the one-hot
    input matrix into per-label marker lists and mirror the reader's
    first-max argmax as a CASE ladder — the SQL can never drift from
    the artifact bytes."""
    from fineweb_domain_analyzer_spark.functions.model_formats import (
        PureFastTextSupervised,
    )

    m = PureFastTextSupervised(_artifact("langid_marker.bin"))
    markers: dict[str, list[str]] = {lab: [] for lab in m.labels}
    for word, row in m.word_id.items():
        vec = m.input[row]
        if vec.max() > 0:
            markers[m.labels[int(vec.argmax())]].append(word)
    hit_cols = []
    for i, lab in enumerate(m.labels):
        lst = "[" + ", ".join(f"'{w}'" for w in sorted(markers[lab])) + "]"
        hit_cols.append(
            f"len(list_filter({FT_TOKS_SQL}, t -> list_contains({lst}, t))) AS c{i}"
        )
    n = len(m.labels)
    ladder = []
    for i, lab in enumerate(m.labels[:-1]):
        geq = " AND ".join(f"c{i} >= c{j}" for j in range(i + 1, n))
        ladder.append(f"WHEN {geq} THEN '{lab}'")
    return f"""
WITH hits AS (
  SELECT doc_id, {', '.join(hit_cols)} FROM documents
)
SELECT doc_id,
  CASE {' '.join(ladder)} ELSE '{m.labels[-1]}' END AS ft_label
FROM hits
"""


def q63_arpa_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document perplexity through a genuine ARPA-format LM artifact
    (committed fixture artifacts/tiny_unigram.arpa), loaded by the
    pure-Python ARPA reader with KenLM scoring semantics (BOS context,
    scored EOS, <unk> mapping, 10**(-score/(n+1)))."""
    from fineweb_domain_analyzer_spark.operators.quality import (
        perplexity_udf_for,
        register_model_artifact,
    )

    register_model_artifact(spark, "kenlm_fx", _artifact("tiny_unigram.arpa"))
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(perplexity_udf_for("kenlm_fx")(F.col("text")), 4).alias("arpa_ppl"),
    )


def _q63_sql() -> str:
    """Oracle derived from the committed .arpa itself: per-token log10
    lookup CASE (OOV → <unk>), exact dyadic sums, the KenLM
    denominator. Sum order is irrelevant because every fixture logp is
    a dyadic rational — float64 addition is exact."""
    from fineweb_domain_analyzer_spark.functions.model_formats import ArpaLM

    lm = ArpaLM(_artifact("tiny_unigram.arpa"))
    whens = " ".join(
        f"WHEN '{w[0]}' THEN {p!r}"
        for w, p in sorted(lm.probs.items())
        if w[0] not in ("<s>", "</s>", "<unk>")
    )
    unk = lm.probs[("<unk>",)]
    eos = lm.probs[("</s>",)]
    return f"""
WITH toks AS (
  SELECT doc_id, {FT_TOKS_SQL} AS ts FROM documents
)
SELECT doc_id,
  round(power(10, -(coalesce(list_sum(list_transform(ts,
            t -> CAST(CASE t {whens} ELSE {unk!r} END AS DOUBLE))), 0.0)
          + ({eos!r})) / (len(ts) + 1)), 4) AS arpa_ppl
FROM toks
"""


def q64_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-dump dedup labels
    (operators/incremental_dedup.py:label_against): docs with
    doc_id < 300 play the already-kept corpus, represented ONLY by its
    persisted index shape (exact md5s + MinHash signatures — no text);
    the new dump is the remaining docs plus planted cross-exact,
    cross-near, intra-exact and intra-near duplicates. Cross-near is
    verified by the signature Jaccard estimate (the index has no old
    text); intra-near by exact Jaccard + connected components."""
    from fineweb_domain_analyzer_spark.operators.incremental_dedup import (
        _with_signature,
        label_against,
    )

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < 300)
    old_exact = old.select(F.md5(F.col("text")).alias("text_md5"), "doc_id")
    old_sigs = _with_signature(old, "doc_id", "text", 16, 3, "md5")
    batch2 = (
        docs.filter(F.col("doc_id") >= 300)
        .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
        .unionAll(
            docs.filter((F.col("doc_id") < 300) & (F.col("doc_id") % 50 == 0))
            .select((F.col("doc_id") + 20000).alias("doc_id"), "text")
        )
        .unionAll(
            docs.filter((F.col("doc_id") < 300) & (F.col("doc_id") % 50 == 1))
            .select(
                (F.col("doc_id") + 30000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" incremental mutated tail")).alias(
                    "text"
                ),
            )
        )
        .unionAll(
            docs.filter(F.col("doc_id") == 300)
            .select((F.col("doc_id") + 40000).alias("doc_id"), "text")
        )
        .unionAll(
            docs.filter(F.col("doc_id") == 301)
            .select(
                (F.col("doc_id") + 41000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" intra near tail")).alias("text"),
            )
        )
    )
    out = label_against(batch2, old_exact, old_sigs, threshold=0.8)
    return out.select(
        "doc_id", "keep", "drop_reason", F.col("dup_of").cast("bigint").alias("dup_of")
    )


# The q64 oracle mirrors every layer of label_against: cross-exact md5
# join, intra-exact window, signature-estimate cross-near, LSH + exact
# Jaccard + recursive-closure intra-near — assembled from the same
# fragments as Q20/Q21/Q36/Q37.
_Q64_SIG = """list_transform(range(0, 16),
           i -> list_aggregate(
                  list_transform(sh, s -> md5(CAST(i AS VARCHAR) || ':' || s)),
                  'min'))"""

Q64_SQL = f"""
WITH RECURSIVE
old AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
old_exact AS (SELECT md5(text) AS text_md5, doc_id FROM old),
old_sh AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM old),
old_sigs AS (SELECT doc_id AS old_id, {_Q64_SIG} AS sig FROM old_sh),
b2 AS (
  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id >= 300
  UNION ALL
  SELECT doc_id + 20000, text FROM documents WHERE doc_id < 300 AND doc_id % 50 = 0
  UNION ALL
  SELECT doc_id + 30000, text || ' incremental mutated tail'
  FROM documents WHERE doc_id < 300 AND doc_id % 50 = 1
  UNION ALL
  SELECT doc_id + 40000, text FROM documents WHERE doc_id = 300
  UNION ALL
  SELECT doc_id + 41000, text || ' intra near tail' FROM documents WHERE doc_id = 301
),
xex AS (
  SELECT h.doc_id, min(oe.doc_id) AS old_exact_id
  FROM b2 h JOIN old_exact oe ON md5(h.text) = oe.text_md5
  GROUP BY h.doc_id
),
wex AS (
  SELECT h.doc_id, h.text, x.old_exact_id,
         min(CASE WHEN x.old_exact_id IS NULL THEN h.doc_id END)
           OVER (PARTITION BY md5(h.text)) AS intra_exact_id
  FROM b2 h LEFT JOIN xex x USING (doc_id)
),
reps AS (
  SELECT doc_id, text FROM wex
  WHERE old_exact_id IS NULL AND doc_id = intra_exact_id
),
new_sh AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM reps),
new_sigs AS (SELECT doc_id, {_Q64_SIG} AS sig FROM new_sh),
new_banded AS (
  SELECT doc_id, b.band_id,
         md5(array_to_string(sig[b.band_id * 4 + 1 : b.band_id * 4 + 4], '|')) AS band_key
  FROM new_sigs, (SELECT unnest(range(0, 4)) AS band_id) b(band_id)
),
old_banded AS (
  SELECT old_id, b.band_id,
         md5(array_to_string(sig[b.band_id * 4 + 1 : b.band_id * 4 + 4], '|')) AS band_key
  FROM old_sigs, (SELECT unnest(range(0, 4)) AS band_id) b(band_id)
),
xcand AS (
  SELECT DISTINCT n.doc_id, o.old_id
  FROM new_banded n JOIN old_banded o
    ON n.band_id = o.band_id AND n.band_key = o.band_key
),
xnear AS (
  SELECT c.doc_id, min(c.old_id) AS cross_near_id
  FROM xcand c
  JOIN new_sigs ns ON c.doc_id = ns.doc_id
  JOIN old_sigs os ON c.old_id = os.old_id
  WHERE list_sum(list_transform(range(1, 17),
          i -> CASE WHEN ns.sig[i] = os.sig[i] THEN 1 ELSE 0 END))::DOUBLE
        / 16 >= 0.8
  GROUP BY c.doc_id
),
ireps AS (
  SELECT r.doc_id, r.text FROM reps r
  LEFT JOIN xnear x USING (doc_id) WHERE x.cross_near_id IS NULL
),
ish AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM ireps),
isigs AS (SELECT doc_id, {_Q64_SIG} AS sig FROM ish),
ibanded AS (
  SELECT doc_id, b.band_id,
         md5(array_to_string(sig[b.band_id * 4 + 1 : b.band_id * 4 + 4], '|')) AS band_key
  FROM isigs, (SELECT unnest(range(0, 4)) AS band_id) b(band_id)
),
icand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM ibanded l JOIN ibanded r
    ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.doc_id < r.doc_id
),
isets AS (SELECT doc_id, list_distinct(sh) AS s FROM ish),
ipairs AS (
  SELECT c.id_a, c.id_b
  FROM icand c JOIN isets a ON c.id_a = a.doc_id JOIN isets b ON c.id_b = b.doc_id
  WHERE round(len(list_filter(a.s, x -> list_contains(b.s, x)))::DOUBLE
        / greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) >= 0.8
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM ipairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM ipairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, rc.r FROM edges e JOIN reach rc ON e.dst = rc.node
),
inear AS (
  SELECT node AS doc_id, min(r) AS intra_near_id
  FROM reach GROUP BY node HAVING min(r) <> node
)
SELECT w.doc_id,
  CASE WHEN w.old_exact_id IS NOT NULL THEN 'exact_dup_cross'
       WHEN w.doc_id <> w.intra_exact_id THEN 'exact_dup_intra'
       WHEN x.cross_near_id IS NOT NULL THEN 'near_dup_cross'
       WHEN i.intra_near_id IS NOT NULL THEN 'near_dup_intra'
       ELSE 'kept' END = 'kept' AS keep,
  CASE WHEN w.old_exact_id IS NOT NULL THEN 'exact_dup_cross'
       WHEN w.doc_id <> w.intra_exact_id THEN 'exact_dup_intra'
       WHEN x.cross_near_id IS NOT NULL THEN 'near_dup_cross'
       WHEN i.intra_near_id IS NOT NULL THEN 'near_dup_intra'
       ELSE 'kept' END AS drop_reason,
  CAST(coalesce(w.old_exact_id,
       CASE WHEN w.doc_id <> w.intra_exact_id THEN w.intra_exact_id END,
       x.cross_near_id, i.intra_near_id) AS BIGINT) AS dup_of
FROM wex w
LEFT JOIN xnear x ON w.doc_id = x.doc_id
LEFT JOIN inear i ON w.doc_id = i.doc_id
"""


def q65_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style DNS-suffix blocklist labeling
    (functions/domains.py:with_domain_blocked): hosts synthesized with
    up to 3 labels + an ``m.`` subdomain tier; the blocklist mixes a
    parent-suffix entry (blocks a whole TLD-2 zone), a mid-level entry
    (blocks one source's zone incl. its ``m.`` hosts), an exact-host
    entry, and a label-boundary trap (``rc3.example.com`` must NOT
    match ``src3.example.com``). Most-specific (longest) entry wins."""
    from fineweb_domain_analyzer_spark.functions.domains import (
        with_domain_blocked,
    )

    docs = _t(spark, sf_dir, "documents")
    zone = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("example.com"))
        .when(F.col("doc_id") % 3 == 1, F.lit("sample.net"))
        .otherwise(F.lit("test.org"))
    )
    host = F.concat(
        F.when(F.col("doc_id") % 5 == 0, F.lit("m.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit("."),
        zone,
    )
    pages = docs.select("doc_id", host.alias("domain"))
    bl = spark.createDataFrame(
        [("sample.net",), ("src3.example.com",), ("m.src4.test.org",),
         ("rc3.example.com",)],
        "bd string",
    )
    out = with_domain_blocked(pages, bl)
    return out.select(
        "doc_id",
        "domain",
        "blocked_by",
        F.col("blocked_by").isNotNull().alias("blocked"),
    )


Q65_SQL = """
WITH hosts AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 5 = 0 THEN 'm.' ELSE '' END) || source || '.' ||
    (CASE WHEN doc_id % 3 = 0 THEN 'example.com'
          WHEN doc_id % 3 = 1 THEN 'sample.net'
          ELSE 'test.org' END) AS domain
  FROM documents
),
bl(bd) AS (VALUES ('sample.net'), ('src3.example.com'),
                  ('m.src4.test.org'), ('rc3.example.com')),
m AS (
  SELECT h.doc_id, h.domain, b.bd
  FROM hosts h
  LEFT JOIN bl b ON h.domain = b.bd OR h.domain LIKE '%.' || b.bd
)
SELECT doc_id, domain,
       arg_max(bd, length(bd)) AS blocked_by,
       (count(bd) > 0) AS blocked
FROM m GROUP BY doc_id, domain
"""


# 12 whitespace tokens — long enough to contain 10-token spans
_BOILERPLATE = (
    "all rights reserved contact us terms of service privacy policy"
    " cookie notice"
)


def q66_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-corpus duplicated-span profile
    (operators/dedup.py:duplicated_span_profile): docs with
    doc_id % 7 == 0 get the same 12-token boilerplate footer appended
    (the templated-page pattern document-level near-dedup can't see);
    the profile must flag exactly the spans those docs now share."""
    from fineweb_domain_analyzer_spark.functions.textfns import ws_tokens
    from fineweb_domain_analyzer_spark.operators.dedup import (
        duplicated_span_profile,
    )

    docs = _t(spark, sf_dir, "documents")
    t2 = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"), F.lit(" " + _BOILERPLATE)),
    ).otherwise(F.col("text"))
    staged = docs.select(
        "doc_id", ws_tokens(F.lower(t2)).alias("_tk")
    )
    return duplicated_span_profile(staged, span_len=10, tokens_col="_tk")


Q66_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' {_BOILERPLATE}'
              ELSE text END AS text
  FROM documents
),
ctk AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM aug
),
cspans AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 10
           THEN list_transform(range(1, len(w) - 8),
                  i -> {{'pos': i, 'h': md5(array_to_string(w[i:i+9], ' '))}})
           ELSE [] END AS sp
  FROM ctk
),
cs AS (SELECT doc_id, len(sp) AS n_spans, unnest(sp) AS s FROM cspans),
shared AS (
  SELECT s.h AS h FROM cs GROUP BY s.h HAVING count(DISTINCT doc_id) >= 2
)
SELECT c.doc_id, CAST(c.n_spans AS BIGINT) AS n_spans,
       count(*) AS n_dup_spans,
       round(count(*) / c.n_spans, 4) AS dup_span_frac,
       CAST(min(c.s.pos) AS INT) AS first_dup_pos
FROM cs c JOIN shared sh ON c.s.h = sh.h
GROUP BY c.doc_id, c.n_spans
"""


def q67_remove_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span REMOVAL (operators/dedup.py:remove_duplicated_spans) on the
    q66 corpus: of the docs sharing the planted boilerplate footer, the
    smallest doc_id keeps it; every other occurrence is cut and the
    text rebuilt from the surviving tokens."""
    from fineweb_domain_analyzer_spark.functions.textfns import ws_tokens
    from fineweb_domain_analyzer_spark.operators.dedup import (
        remove_duplicated_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    t2 = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"), F.lit(" " + _BOILERPLATE)),
    ).otherwise(F.col("text"))
    staged = docs.select("doc_id", ws_tokens(F.lower(t2)).alias("_tk"))
    out = remove_duplicated_spans(staged, span_len=10, tokens_col="_tk")
    return out.select(
        "doc_id",
        F.array_join(F.col("clean_tokens"), " ").alias("clean_text"),
        "n_tokens_removed",
    )


Q67_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' {_BOILERPLATE}'
              ELSE text END AS text
  FROM documents
),
ctk AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM aug
),
cspans AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 10
           THEN list_transform(range(1, len(w) - 8),
                  i -> {{'pos': i, 'h': md5(array_to_string(w[i:i+9], ' '))}})
           ELSE [] END AS sp
  FROM ctk
),
cs AS (SELECT doc_id, unnest(sp) AS s FROM cspans),
shared AS (
  SELECT s.h AS h FROM cs GROUP BY s.h HAVING count(DISTINCT doc_id) >= 2
),
ranked AS (
  SELECT c.doc_id, c.s.pos AS start1,
         row_number() OVER (PARTITION BY c.s.h
                            ORDER BY c.doc_id, c.s.pos) AS rn
  FROM cs c JOIN shared sh ON c.s.h = sh.h
),
cutl AS (
  SELECT doc_id, list(start1) AS cuts FROM ranked WHERE rn > 1 GROUP BY doc_id
),
final AS (
  SELECT t.doc_id, t.w,
         list_transform(
           list_filter(range(1, len(t.w) + 1),
             i -> len(list_filter(coalesce(c.cuts, []),
                                  p -> i >= p AND i < p + 10)) = 0),
           i -> t.w[i]) AS cw
  FROM ctk t LEFT JOIN cutl c USING (doc_id)
)
SELECT doc_id,
       -- DuckDB's array_to_string([]) is NULL, Spark's array_join([]) is
       -- '' — a fully-cut doc must compare equal across engines
       coalesce(array_to_string(cw, ' '), '') AS clean_text,
       CAST(len(w) - len(cw) AS INT) AS n_tokens_removed
FROM final
"""


def q68_per_language_quality_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb2-style group-adaptive curation
    (operators/quality.py:keep_top_pct_by_group): keep the best 40% of
    docs WITHIN each language — a single global threshold would keep a
    different fraction per language because score distributions differ.
    Rank-based (score desc, doc_id) with integer arithmetic, so the
    kept set is bit-identical across engines."""
    from fineweb_domain_analyzer_spark.operators.quality import (
        keep_top_pct_by_group,
        with_quality_features,
        with_quality_score,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = with_quality_score(with_quality_features(docs))
    kept = keep_top_pct_by_group(
        scored, 40, score_col="quality_score", by_col="lang", id_col="doc_id"
    )
    return kept.select("doc_id", "lang", "quality_score")


Q68_SQL = f"""
WITH {_feats_cte()},
scored AS (
  SELECT f.doc_id, d.lang, {_SCORE_SQL} AS quality_score
  FROM feats f JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT doc_id, lang, quality_score,
         row_number() OVER (PARTITION BY lang
                            ORDER BY quality_score DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM scored
)
SELECT doc_id, lang, quality_score
FROM ranked WHERE rn * 100 <= 40 * n
"""


def q69_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing plan
    (operators/quality.py:plan_sequence_packing): documents laid out
    into 512-token training sequences within 8 shards; each doc's
    placement (shard, starting sequence, offset) is integer-exact."""
    from fineweb_domain_analyzer_spark.functions.textfns import ws_token_count
    from fineweb_domain_analyzer_spark.operators.quality import (
        plan_sequence_packing,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", ws_token_count(F.col("text")).cast("long").alias("wc")
    )
    return plan_sequence_packing(
        docs, seq_len=512, n_shards=8, tokens_col="wc"
    )


Q69_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len({TOKS_SQL}) END AS BIGINT) AS tokens,
         doc_id % 8 AS shard
  FROM documents
),
placed AS (
  SELECT doc_id, shard, tokens,
         sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - tokens AS start
  FROM toks
)
SELECT doc_id, shard, tokens,
       CAST(start // 512 AS BIGINT) AS start_seq,
       CAST(start % 512 AS BIGINT) AS start_offset
FROM placed
"""


def q70_curation_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation across the engine's stages in one plan:
    quality score → threshold → exact dedup (keep-first) →
    per-language top-60% cut (banded scale plan) → sequence-packing
    placement. Every stage is the engine's public operator; the oracle
    re-derives the whole chain independently in SQL. Output: each
    surviving doc's language, score, and training-sequence placement."""
    from fineweb_domain_analyzer_spark.operators.dedup import (
        exact_dedup_keep_first,
    )
    from fineweb_domain_analyzer_spark.operators.quality import (
        keep_top_pct_by_group,
        plan_sequence_packing,
        with_quality_features,
        with_quality_score,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = with_quality_score(with_quality_features(docs))
    k1 = scored.filter(F.col("quality_score") >= 0.5)
    k2 = exact_dedup_keep_first(k1, "doc_id", "text")
    k3 = keep_top_pct_by_group(
        k2, 60, score_col="quality_score", by_col="lang", id_col="doc_id"
    )
    packed = plan_sequence_packing(
        k3, seq_len=512, n_shards=4, tokens_col="word_count"
    )
    return packed.join(
        k3.select("doc_id", "lang", "quality_score"), "doc_id"
    ).select(
        "doc_id", "lang", "quality_score", "shard", "tokens",
        "start_seq", "start_offset",
    )


Q70_SQL = f"""
WITH {_feats_cte()},
scored AS (
  SELECT f.doc_id, d.lang, d.text, f.word_count,
         {_SCORE_SQL} AS quality_score
  FROM feats f JOIN documents d USING (doc_id)
),
k1 AS (SELECT * FROM scored WHERE quality_score >= 0.5),
k2 AS (
  SELECT doc_id, lang, word_count, quality_score FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text)
                                 ORDER BY doc_id) AS _rn
    FROM k1
  ) WHERE _rn = 1
),
k3 AS (
  SELECT doc_id, lang, word_count, quality_score FROM (
    SELECT *,
           row_number() OVER (PARTITION BY lang
                              ORDER BY quality_score DESC, doc_id) AS _rnk,
           count(*) OVER (PARTITION BY lang) AS _n
    FROM k2
  ) WHERE _rnk * 100 <= 60 * _n
),
placed AS (
  SELECT doc_id, lang, quality_score,
         doc_id % 4 AS shard,
         CAST(word_count AS BIGINT) AS tokens,
         sum(word_count) OVER (PARTITION BY doc_id % 4 ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING)
           - word_count AS start
  FROM k3
)
SELECT doc_id, lang, quality_score, shard, tokens,
       CAST(start // 512 AS BIGINT) AS start_seq,
       CAST(start % 512 AS BIGINT) AS start_offset
FROM placed
"""


def q71_paragraph_dedup_in_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-doc duplicate-paragraph removal
    (operators/textclean.py:dedup_paragraphs_in_doc): docs with
    doc_id % 5 == 0 get their own first-8-token prefix planted as a
    repeated nav/footer paragraph (prefix + body + prefix); the clean
    text must keep only the first copy. Pure map — no shuffle."""
    from fineweb_domain_analyzer_spark.functions.textfns import ws_tokens
    from fineweb_domain_analyzer_spark.operators.textclean import (
        with_paragraph_dedup_in_doc,
    )

    docs = _t(spark, sf_dir, "documents")
    p1 = F.array_join(F.slice(ws_tokens(F.col("text")), 1, 8), " ")
    t2 = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat_ws("\n", p1, F.col("text"), p1),
    ).otherwise(F.col("text"))
    staged = docs.select("doc_id", t2.alias("text"))
    return with_paragraph_dedup_in_doc(staged).select(
        "doc_id", "clean_text", "n_paras_removed"
    )


Q71_SQL = """
WITH staged AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN
           array_to_string(string_split_regex(trim(text), '\\s+')[1:8], ' ')
           || chr(10) || text || chr(10) ||
           array_to_string(string_split_regex(trim(text), '\\s+')[1:8], ' ')
         ELSE text END AS text
  FROM documents
),
split AS (SELECT doc_id, text, string_split(text, chr(10)) AS ps FROM staged),
kept AS (
  SELECT doc_id, text, ps,
         list_filter(ps, (p, i) -> list_position(ps, p) = i) AS kp
  FROM split
)
SELECT doc_id,
       array_to_string(kp, chr(10)) AS clean_text,
       CAST(len(ps) - len(kp) AS INT) AS n_paras_removed
FROM kept
"""


def q72_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance selection (operators/dsir.py; Xie et al. 2023,
    public method): hashed uni+bigram bucket models (B=512, md5 hash
    family) fit on raw = all documents vs target = the English subset;
    each doc scored with the EXACT-INTEGER micro-nat log-likelihood
    ratio (per-bucket llr quantized to bigint before the per-doc sum,
    so partitioning cannot move the value); top 40% kept by the banded
    global cut (rank-exact, no full-corpus sort). The oracle replays
    the entire chain in SQL — tokenize, hash, both smoothed models,
    ln, the same quantization, the same integer rank cut."""
    from fineweb_domain_analyzer_spark.operators.dsir import dsir_logweight
    from fineweb_domain_analyzer_spark.operators.quality import (
        keep_top_pct_by_group,
    )

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    weighted = dsir_logweight(docs, target, n_buckets=512)
    kept = keep_top_pct_by_group(
        weighted.withColumn("_g", F.lit(1)),
        40,
        score_col="dsir_weight_micro",
        by_col="_g",
        id_col="doc_id",
    ).drop("_g")
    return kept.select("doc_id", "lang", "dsir_weight_micro")


Q72_SQL = """
WITH toks AS (
  SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, lang,
         unnest(list_concat(t,
           list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS g
  FROM toks
),
bucketed AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(g), 1, 8))::BIGINT % 512 AS bucket
  FROM grams
),
doccnt AS (
  SELECT doc_id, bucket, count(*)::BIGINT AS cnt FROM bucketed GROUP BY 1, 2
),
rawb AS (SELECT bucket, sum(cnt)::BIGINT AS rc FROM doccnt GROUP BY 1),
tgtb AS (
  SELECT bucket, count(*)::BIGINT AS tc FROM bucketed
  WHERE lang = 'en' GROUP BY 1
),
tots AS (
  SELECT (SELECT sum(rc) FROM rawb) AS rtot,
         (SELECT coalesce(sum(tc), 0) FROM tgtb) AS ttot
),
llr AS (
  SELECT coalesce(r.bucket, t.bucket) AS bucket,
         CAST(round((ln((coalesce(t.tc, 0) + 1.0) / (tots.ttot + 512.0))
                   - ln((coalesce(r.rc, 0) + 1.0) / (tots.rtot + 512.0)))
                   * 1000000.0, 0) AS BIGINT) AS llr_micro
  FROM rawb r FULL OUTER JOIN tgtb t ON r.bucket = t.bucket CROSS JOIN tots
),
weights AS (
  SELECT d.doc_id, sum(d.cnt * l.llr_micro)::BIGINT AS w
  FROM doccnt d JOIN llr l USING (bucket) GROUP BY 1
),
scored AS (
  SELECT doc.doc_id, doc.lang, coalesce(w.w, 0)::BIGINT AS dsir_weight_micro
  FROM documents doc LEFT JOIN weights w USING (doc_id)
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY dsir_weight_micro DESC, doc_id) AS rn,
         count(*) OVER () AS nn
  FROM scored
)
SELECT doc_id, lang, dsir_weight_micro FROM ranked WHERE rn * 100 <= 40 * nn
"""


def q73_domain_doc_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain diversity cap (operators/quality.py
    keep_top_n_by_group): at most 12 docs per source, preferring the
    longest (n_chars desc, doc_id) — the C4/Gopher anti-domination
    move. Banded default: the cap never sorts a whole domain in one
    task; the oracle is the plain per-group rank window the banded
    kernel must reproduce bit-for-bit."""
    from fineweb_domain_analyzer_spark.operators.quality import (
        keep_top_n_by_group,
    )

    docs = _t(spark, sf_dir, "documents")
    return keep_top_n_by_group(
        docs, 12, score_col="n_chars", by_col="source", id_col="doc_id"
    ).select("doc_id", "source", "n_chars")


Q73_SQL = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           PARTITION BY source ORDER BY n_chars DESC NULLS LAST, doc_id
         ) AS rn
  FROM documents
)
SELECT doc_id, source, n_chars FROM ranked WHERE rn <= 12
"""


def q74_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gated incremental URL dedup (operators/bloom.py): treat
    pages with doc_id % 5 != 0 as the already-ingested corpus and pages
    with doc_id % 2 == 0 as the arriving dump (the overlap — evens not
    divisible by 5 — are true re-crawls; multiples of 10 are novel).
    A corpus-sized filter (16 bits/item, k=5, md5 hash family) is built
    with zero per-url shuffle and broadcast; the new dump is flagged
    map-side. ``verify_exact=True`` adds the exact join the oracle
    needs to value-check the deterministic false-positive accounting —
    at scale only the bloom_hit slice would ever reach that join."""
    from fineweb_domain_analyzer_spark.operators.bloom import (
        bloom_gate_new_dump,
    )

    pages = pages_view(spark, sf_dir)
    old = pages.filter(F.col("doc_id") % 5 != 0).select("url")
    new = pages.filter(F.col("doc_id") % 2 == 0).select("doc_id", "url")
    return bloom_gate_new_dump(old, new, "url", verify_exact=True).select(
        "doc_id", "url", "bloom_hit", "exact_hit", "false_positive"
    )


Q74_SQL = f"""
WITH {PAGES_CTE},
old AS (SELECT url FROM pages WHERE doc_id % 5 <> 0),
new AS (SELECT doc_id, url FROM pages WHERE doc_id % 2 = 0),
params AS (
  SELECT GREATEST(1024,
           CAST(POWER(2, CEIL(LOG2(16 * count(*)))) AS BIGINT)) AS m
  FROM old
),
oldpos AS (
  SELECT DISTINCT
    ('0x' || substr(md5(o.url || '#' || CAST(r.i AS VARCHAR)), 1, 8))::BIGINT
      % (SELECT m FROM params) AS p
  FROM old o, range(1, 6) r(i)
),
flags AS (
  SELECT n.doc_id, n.url,
         bool_and(
           ('0x' || substr(md5(n.url || '#' || CAST(r.i AS VARCHAR)), 1, 8))::BIGINT
             % (SELECT m FROM params)
           IN (SELECT p FROM oldpos)
         ) AS bloom_hit
  FROM new n, range(1, 6) r(i)
  GROUP BY n.doc_id, n.url
)
SELECT f.doc_id, f.url, f.bloom_hit,
       (f.url IN (SELECT url FROM old)) AS exact_hit,
       f.bloom_hit AND f.url NOT IN (SELECT url FROM old) AS false_positive
FROM flags f
"""


def q75_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE tokenization (functions/bpe.py): the committed merge
    table (trained deterministically on the corpus by
    scripts/make_bpe_fixture.py) applied greedily per word in an
    Arrow-batched UDF, yielding exact token counts and an order-proof
    id-sum checksum per document. The merge loop is not SQL-expressible,
    so the oracle joins the fixture parquet generated by the same pure
    functions (the q58 zlib pattern); the algorithm itself is
    differential-tested by hand in tests/test_bpe.py."""
    from fineweb_domain_analyzer_spark.functions.bpe import with_bpe_stats

    docs = _t(spark, sf_dir, "documents")
    return with_bpe_stats(docs).select("doc_id", "bpe_n_tokens", "bpe_checksum")


_BPE_FIXTURE = str(
    Path(__file__).resolve().parent / "artifacts" / "bpe_tokens.parquet"
)

Q75_SQL = f"""
SELECT d.doc_id,
       coalesce(f.bpe_n_tokens, 0) AS bpe_n_tokens,
       coalesce(f.bpe_checksum, 0) AS bpe_checksum
FROM documents d
LEFT JOIN read_parquet('{_BPE_FIXTURE}') f ON md5(d.text) = f.text_md5
"""


def q76_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel-level image decode, oracle-checked analytically:
    sources/pixels.py decodes PNG (zlib inflate + all five scanline
    un-filters), uncompressed 24-bit BMP (padding, BGR, bottom-up),
    netpbm P6, GIF (full LZW with variable code width, color table,
    de-interlace) and baseline JPEG (Huffman entropy decode,
    dequantize, IDCT — sources/jpeg_codec.py) with the standard
    library only, over deterministic formula-pixel assets: RGB formats
    carry pixel(x,y,c) = (7x+11y+13c+17i) mod 256; GIF carries palette
    index (3x+5y+i) mod 256 through palette[j][c] = (7j+13c+11)
    mod 256; JPEG carries blockwise-constant grayscale
    (5·(x//8)+9·(y//8)+31i) mod 256, which with an all-ones quant
    table round-trips bit-exactly (DC-only DCT). The oracle recomputes
    the per-channel sums from those closed forms in pure SQL — fully
    independent of the decoders, so any un-filter / LZW / Huffman /
    IDCT / padding / channel-order / de-interlace bug mismatches.
    Map-only (mapInPandas), no shuffle; sums are exact int64,
    partition-order-proof."""
    from fineweb_domain_analyzer_spark.sources.pixels import (
        pixel_stats,
        synth_decodable_assets,
    )

    return pixel_stats(synth_decodable_assets(spark))


Q76_SQL = """
WITH a AS (
  SELECT i,
         CASE i % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' WHEN 2 THEN 'ppm'
                    WHEN 3 THEN 'gif' ELSE 'jpeg' END AS fmt,
         8 + (i % 5) * 4 AS w,
         6 + (i % 7) * 2 AS h
  FROM range(0, 35) t(i)
),
px AS (
  SELECT a.i, a.fmt, a.w, a.h, x.x, y.y,
         (3 * x.x + 5 * y.y + a.i) % 256 AS gj,
         (5 * (x.x // 8) + 9 * (y.y // 8) + 31 * a.i) % 256 AS jv
  FROM a, range(0, 24) x(x), range(0, 18) y(y)
  WHERE x.x < a.w AND y.y < a.h
)
SELECT i AS asset_id, fmt,
       w::INTEGER AS width, h::INTEGER AS height,
       SUM(CASE WHEN fmt = 'gif' THEN (7 * gj + 11) % 256
                WHEN fmt = 'jpeg' THEN jv
                ELSE (7 * x + 11 * y + 17 * i) % 256 END)::BIGINT AS sum_r,
       SUM(CASE WHEN fmt = 'gif' THEN (7 * gj + 24) % 256
                WHEN fmt = 'jpeg' THEN jv
                ELSE (7 * x + 11 * y + 13 + 17 * i) % 256 END)::BIGINT AS sum_g,
       SUM(CASE WHEN fmt = 'gif' THEN (7 * gj + 37) % 256
                WHEN fmt = 'jpeg' THEN jv
                ELSE (7 * x + 11 * y + 26 + 17 * i) % 256 END)::BIGINT AS sum_b
FROM px
GROUP BY 1, 2, 3, 4
"""


def q77_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, oracle-checked analytically: sources/audio.py
    parses RIFF/WAVE PCM (chunk walk incl. junk LIST chunks, 8/16-bit,
    mono/stereo de-interleave) with the standard library only, over
    deterministic formula-sample assets (sample(t,ch) =
    ((13t+29ch+31i) mod M) - M/2). The oracle recomputes frame counts
    and exact integer sample sums from the closed form in pure SQL —
    decoder-independent. Map-only (mapInPandas), no shuffle."""
    from fineweb_domain_analyzer_spark.sources.audio import (
        audio_stats,
        synth_audio_assets,
    )

    return audio_stats(synth_audio_assets(spark))


Q77_SQL = """
WITH a AS (
  SELECT i,
         100 + (i % 6) * 50 AS n_frames,
         1 + (i % 2) AS n_channels,
         8000 + (i % 3) * 4000 AS sample_rate,
         CASE WHEN i % 4 = 0 THEN 256 ELSE 65536 END AS m
  FROM range(0, 24) t(i)
),
s AS (
  SELECT a.i, a.n_frames, a.n_channels, a.sample_rate,
         (13 * t.t + 29 * c.c + 31 * a.i) % a.m - a.m // 2 AS v
  FROM a, range(0, 400) t(t), range(0, 2) c(c)
  WHERE t.t < a.n_frames AND c.c < a.n_channels
)
SELECT i AS asset_id, sample_rate::INTEGER AS sample_rate,
       n_frames::BIGINT AS n_frames, n_channels::INTEGER AS n_channels,
       SUM(v)::BIGINT AS sum_samples, SUM(ABS(v))::BIGINT AS sum_abs
FROM s
GROUP BY 1, 2, 3, 4
"""


def policy_paths_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """policy_view + deterministic ``disallowed_paths`` per domain:
    idx%12==4 → ['/'] (full path block on an allowed domain),
    idx%4==0 → ['/doc/1','/doc/3'] (prefix rules), else []."""
    pol = policy_view(spark, sf_dir)
    idx = F.regexp_extract(F.col("domain"), r"([0-9]+)", 1).cast("int")
    paths = (
        F.when(idx % 12 == 4, F.array(F.lit("/")))
        .when(idx % 4 == 0, F.array(F.lit("/doc/1"), F.lit("/doc/3")))
        .otherwise(F.array().cast("array<string>"))
    )
    return pol.withColumn("disallowed_paths", paths)


def q78_robots_path_enforcement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — opt-in robots path-rule enforcement. The reference
    collects per-domain Disallow paths but never enforces them
    (fineweb_analyzer.py:436-459; documented discrepancy, SURVEY.md
    §2.3). ``label_pages(enforce_paths=True)`` closes that gap behind a
    flag: RFC 9309 prefix match of the URL path against the joined
    Disallow list, drop_reason='robots_path_disallowed', precedence
    after the domain-level deny. Plan shape is unchanged — one broadcast
    join, path check is codegen exists/startswith, zero extra shuffles."""
    from fineweb_domain_analyzer_spark.operators.filtering import label_pages

    pages = pages_view(spark, sf_dir)
    policy = policy_paths_view(spark, sf_dir)
    labeled = label_pages(pages, policy, exact_domain=True, enforce_paths=True)
    return labeled.select("doc_id", "domain", "keep", "drop_reason")


Q78_SQL = f"""
WITH {PAGES_CTE}, {DOMAINS_CTE}, {POLICY_CTE},
ppaths AS (
  SELECT domain, crawl_allowed,
         CASE WHEN idx % 12 = 4 THEN ['/']
              WHEN idx % 4 = 0 THEN ['/doc/1', '/doc/3']
              ELSE [] END AS disallowed_paths
  FROM (SELECT domain, crawl_allowed,
               TRY_CAST(regexp_extract(domain, '([0-9]+)', 1) AS INT) AS idx
        FROM policy)
),
lab AS (
  SELECT d.doc_id, d.domain,
         coalesce(p.crawl_allowed, TRUE) AS base_keep,
         len(list_filter(
               coalesce(p.disallowed_paths, []),
               pp -> starts_with(
                 CASE WHEN regexp_extract(d.url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) = ''
                      THEN '/'
                      ELSE regexp_extract(d.url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) END,
                 pp))) > 0 AS path_blocked
  FROM domains d LEFT JOIN ppaths p ON d.domain = p.domain
)
SELECT doc_id, domain,
       base_keep AND NOT path_blocked AS keep,
       CASE WHEN NOT base_keep THEN 'robots_disallowed'
            WHEN path_blocked THEN 'robots_path_disallowed'
            ELSE 'kept' END AS drop_reason
FROM lab
"""


def q79_recrawl_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — crawl-delay-aware recrawl budgeting. The reference
    parses Crawl-delay into the policy (fineweb_analyzer.py:287-290) but
    nothing consumes it; ``recrawl_plan`` turns it into a per-domain
    fetch schedule (max fetches per politeness window, windows needed to
    re-crawl the domain's page inventory). One count shuffle for the
    domain inventory, then a broadcast policy join over O(domains) rows."""
    from fineweb_domain_analyzer_spark.functions.robots import (
        policy_from_robots_content,
        recrawl_plan,
    )

    pol = policy_from_robots_content(_synthetic_robots_df(spark, sf_dir))
    counts = (
        domains_view(spark, sf_dir)
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("page_cnt"))
    )
    return recrawl_plan(counts, pol, window_s=3600.0, default_delay=1.0)


Q79_SQL = f"""
WITH {PAGES_CTE}, {DOMAINS_CTE},
pol AS ({Q38_SQL}),
cnts AS (
  SELECT domain, count(*) AS page_cnt FROM domains GROUP BY domain
),
eff AS (
  SELECT c.domain, c.page_cnt,
         coalesce(p.crawl_allowed, TRUE) AS fetchable,
         CASE WHEN p.crawl_delay IS NOT NULL AND p.crawl_delay > 0
              THEN p.crawl_delay ELSE 1.0 END AS delay_s
  FROM cnts c LEFT JOIN pol p ON c.domain = p.domain
),
budget AS (
  SELECT domain, page_cnt, fetchable, delay_s,
         CASE WHEN fetchable THEN CAST(floor(3600.0 / delay_s) AS BIGINT)
              ELSE 0 END AS max_fetches_per_window
  FROM eff
)
SELECT domain, page_cnt, fetchable, delay_s, max_fetches_per_window,
       CASE WHEN max_fetches_per_window > 0
            THEN CAST(floor((page_cnt + max_fetches_per_window - 1)
                            / max_fetches_per_window) AS BIGINT) END
         AS windows_needed,
       CASE WHEN max_fetches_per_window > 0
            THEN page_cnt > max_fetches_per_window
            ELSE TRUE END AS over_budget
FROM budget
"""


def _gate_labeled_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → quality features + ``distill_label`` (the Gopher
    gate, null-safe) + ``_bucket`` (the q49 md5 split bucket)."""
    from fineweb_domain_analyzer_spark.operators.quality import (
        gopher_keep,
        with_quality_features,
    )

    docs = _t(spark, sf_dir, "documents")
    feats = with_quality_features(docs)
    gate = gopher_keep(
        F.col("word_count"),
        F.col("mean_word_len"),
        F.col("symbol_ratio"),
        F.col("stopword_density"),
        F.col("max_word_repeat_ratio"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 100
    )
    return feats.withColumn(
        "distill_label", F.coalesce(gate, F.lit(False))
    ).withColumn("_bucket", bucket)


# trained weights memo: training is deterministic (integer-exact, see
# operators/training.py) and the testdata corpora are immutable, so a
# (sf_dir, subset) key fully determines the weights; clear() if a
# corpus under sf_dir is ever rewritten mid-process.
_TRAIN_CACHE: dict[tuple[str, str], dict[str, float]] = {}


def _trained_weights(
    spark: SparkSession, sf_dir: str, subset: str
) -> dict[str, float]:
    """subset = 'full' (q80/q13-surface) or 'train80' (q81/q82)."""
    key = (str(sf_dir), subset)
    if key not in _TRAIN_CACHE:
        from fineweb_domain_analyzer_spark.operators.training import (
            train_quality_classifier,
        )

        feats = _gate_labeled_feats(spark, sf_dir)
        if subset == "train80":
            feats = feats.filter(F.col("_bucket") < 80)
        model = train_quality_classifier(feats, "distill_label")
        _TRAIN_CACHE[key] = model.weights
    return _TRAIN_CACHE[key]


def q80_trained_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — FineWeb-Edu-style classifier TRAINING on-cluster:
    distill the Gopher heuristic gate into logistic weights
    (full-batch GD, integer-exact gradient aggregation — bit-stable
    under any partitioning, see operators/training.py), then serve the
    trained weights through the UNCHANGED with_quality_score plan.
    The oracle replays the identical training loop as unrolled SQL
    CTEs — weights match bit-for-bit, so the scored output is
    value-checked end to end. The reference has no trained classifier
    (its quality stage is the fixed gate); SURVEY §2 LLM-pipeline tier."""
    from fineweb_domain_analyzer_spark.operators.quality import (
        with_quality_score,
    )

    feats = _gate_labeled_feats(spark, sf_dir)
    weights = _trained_weights(spark, sf_dir, "full")
    scored = with_quality_score(feats, weights=weights, out_col="trained_score")
    return scored.select(
        "doc_id",
        "distill_label",
        "trained_score",
        (F.col("trained_score") >= 0.5).alias("trained_keep"),
    )


def _gopher_gate_sql(p: str = "") -> str:
    """DuckDB predicate mirroring operators/quality.py:gopher_keep
    defaults (the q80 distillation teacher)."""
    return (
        f"({p}word_count BETWEEN 50 AND 100000"
        f" AND {p}mean_word_len BETWEEN 2.0 AND 12.0"
        f" AND {p}symbol_ratio <= 0.2"
        f" AND {p}stopword_density >= 0.0"
        f" AND {p}max_word_repeat_ratio <= 0.35)"
    )


def _q80_score_sql(p: str = "") -> str:
    """round(sigmoid(wf·x), 4) over raw feats columns (prefix ``p``),
    textually parallel to with_quality_score's expression tree."""
    return (
        f"round(1.0 / (1.0 + exp(-(twf.bias"
        f" + twf.v1 * ln(1 + {p}word_count)"
        f" + twf.v2 * {p}mean_word_len"
        f" + twf.v3 * {p}symbol_ratio"
        f" + twf.v4 * {p}stopword_density"
        f" + twf.v5 * {p}max_word_repeat_ratio))), 4)"
    )


def _q80_training_ctes(src: str = "feats") -> str:
    """The unrolled training loop as a CTE chain (assumes ``src`` — a
    relation with the feats columns — is already in scope): tx → tm
    (integer-exact moments) → ts (standardization) → txs → tw0 …
    tw{iters} → twf (weights folded back to raw-feature space).  Every
    arithmetic expression is written with the exact association order
    of the Python driver loop in
    operators/training.py:train_quality_classifier, so the resulting
    doubles are bit-identical (integer sums are associative; IEEE ops
    on equal inputs in equal order are deterministic)."""
    from fineweb_domain_analyzer_spark.operators.training import (
        TRAIN_ITERS,
        TRAIN_LR,
        TRAIN_QUANTUM,
    )

    k = 5
    q = f"{float(TRAIN_QUANTUM):.1f}"
    lr = repr(float(TRAIN_LR))

    def qsum(expr: str, alias: str) -> str:
        return f"SUM(CAST(round(({expr}) * {q}) AS HUGEINT)) AS {alias}"

    ctes: list[str] = []
    ctes.append(
        f"""tx AS MATERIALIZED (
  SELECT doc_id,
         ln(1 + word_count) AS f1, mean_word_len AS f2, symbol_ratio AS f3,
         stopword_density AS f4, max_word_repeat_ratio AS f5,
         CASE WHEN {_gopher_gate_sql()} THEN 1.0 ELSE 0.0 END AS y
  FROM {src}
)"""
    )
    moments = ",\n         ".join(
        [qsum(f"f{j}", f"s1{j}") + ",\n         " + qsum(f"f{j} * f{j}", f"s2{j}")
         for j in range(1, k + 1)]
    )
    ctes.append(f"tm AS MATERIALIZED (\n  SELECT count(*) AS n,\n         {moments}\n  FROM tx\n)")
    mus = ",\n         ".join(
        f"CAST(s1{j} AS DOUBLE) / {q} / n AS mu{j},\n         "
        f"CAST(s2{j} AS DOUBLE) / {q} / n AS m2{j}"
        for j in range(1, k + 1)
    )
    ctes.append(f"ts0 AS MATERIALIZED (\n  SELECT n,\n         {mus}\n  FROM tm\n)")
    sds = ",\n         ".join(
        f"mu{j},\n         "
        f"CASE WHEN sqrt(greatest(m2{j} - mu{j} * mu{j}, 0.0)) < 1e-12 THEN 1.0"
        f" ELSE sqrt(greatest(m2{j} - mu{j} * mu{j}, 0.0)) END AS sd{j}"
        for j in range(1, k + 1)
    )
    ctes.append(f"ts AS MATERIALIZED (\n  SELECT n,\n         {sds}\n  FROM ts0\n)")
    zs = ",\n         ".join(
        f"(tx.f{j} - ts.mu{j}) / ts.sd{j} AS z{j}" for j in range(1, k + 1)
    )
    ctes.append(f"txs AS MATERIALIZED (\n  SELECT tx.doc_id,\n         {zs},\n         tx.y\n  FROM tx, ts\n)")
    w0 = ", ".join(["0.0 AS b"] + [f"0.0 AS w{j}" for j in range(1, k + 1)])
    ctes.append(f"tw0 AS MATERIALIZED (SELECT {w0})")
    zdot = " + ".join(f"w.w{j} * txs.z{j}" for j in range(1, k + 1))
    for t in range(1, TRAIN_ITERS + 1):
        gsel = ",\n         ".join(
            [qsum("p - y", "g0")]
            + [qsum(f"(p - y) * z{j}", f"g{j}") for j in range(1, k + 1)]
        )
        ctes.append(
            f"""tg{t} AS MATERIALIZED (
  SELECT {gsel}
  FROM (SELECT txs.y, {', '.join(f'txs.z{j}' for j in range(1, k + 1))},
               1.0 / (1.0 + exp(-(w.b + {zdot}))) AS p
        FROM txs, tw{t - 1} w)
)"""
        )
        upd = ",\n         ".join(
            [f"w.b - {lr} * (CAST(g.g0 AS DOUBLE) / {q} / tm.n) AS b"]
            + [
                f"w.w{j} - {lr} * (CAST(g.g{j} AS DOUBLE) / {q} / tm.n) AS w{j}"
                for j in range(1, k + 1)
            ]
        )
        ctes.append(f"tw{t} AS MATERIALIZED (\n  SELECT {upd}\n  FROM tw{t - 1} w, tg{t} g, tm\n)")
    fold_bias = "w.b " + " ".join(
        f"- w.w{j} * ts.mu{j} / ts.sd{j}" for j in range(1, k + 1)
    )
    fold_vs = ",\n         ".join(
        f"w.w{j} / ts.sd{j} AS v{j}" for j in range(1, k + 1)
    )
    ctes.append(
        f"twf AS MATERIALIZED (\n  SELECT {fold_bias} AS bias,\n         {fold_vs}\n"
        f"  FROM tw{TRAIN_ITERS} w, ts\n)"
    )
    return ",\n".join(ctes)


def _q80_sql() -> str:
    return f"""
WITH {_feats_cte()},
{_q80_training_ctes()}
SELECT f.doc_id,
       CASE WHEN {_gopher_gate_sql('f.')} THEN TRUE ELSE FALSE END AS distill_label,
       {_q80_score_sql('f.')} AS trained_score,
       {_q80_score_sql('f.')} >= 0.5 AS trained_keep
FROM feats f, twf
"""


def q81_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — held-out evaluation of the q80 trained classifier:
    deterministic md5-bucket 80/20 split (same recipe as q49 — stable
    across runs, engines, cluster sizes), train on the 80, score the
    held-out 20, and compute exact binned AUC + confusion metrics
    (operators/training.py:binary_classification_metrics — one
    groupBy(score) shuffle, bounded ≤10k-bin window, decimal
    accumulators). Fully integer-derived ⇒ every metric value is
    bit-reproducible and the oracle replays split+train+eval in SQL."""
    from fineweb_domain_analyzer_spark.operators.quality import (
        with_quality_score,
    )
    from fineweb_domain_analyzer_spark.operators.training import (
        binary_classification_metrics,
    )

    feats = _gate_labeled_feats(spark, sf_dir)
    weights = _trained_weights(spark, sf_dir, "train80")
    heldout = feats.filter(F.col("_bucket") >= 80)
    scored = with_quality_score(
        heldout, weights=weights, out_col="trained_score"
    )
    return binary_classification_metrics(scored, "trained_score", "distill_label")


def _metrics_tail_sql(group: list[str]) -> str:
    """bins → binc → mm CTEs + final SELECT, mirroring
    operators/training.py:binary_classification_metrics over an ``ev``
    relation with columns (group…, _s, _y).  Window partitions are
    bounded by the 4dp score resolution, never by corpus size."""
    g = ", ".join(group)
    gp = f"{g}, " if group else ""
    part = f"PARTITION BY {g} " if group else ""
    grp = f" GROUP BY {g}" if group else ""
    return f"""bins AS MATERIALIZED (
  SELECT {gp}_s, SUM(_y) AS pos, SUM(1 - _y) AS neg FROM ev GROUP BY {gp}_s
),
binc AS MATERIALIZED (
  SELECT {gp}_s, pos, neg,
         COALESCE(SUM(neg) OVER ({part}ORDER BY _s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cumneg
  FROM bins
),
mm AS MATERIALIZED (
  SELECT {gp}SUM(CAST(pos AS HUGEINT) * (2 * cumneg + neg)) AS num,
         CAST(COALESCE(SUM(pos), 0) AS BIGINT) AS n_pos,
         CAST(COALESCE(SUM(neg), 0) AS BIGINT) AS n_neg,
         CAST(COALESCE(SUM(CASE WHEN _s >= 0.5 THEN pos ELSE 0 END), 0) AS BIGINT) AS tp,
         CAST(COALESCE(SUM(CASE WHEN _s >= 0.5 THEN neg ELSE 0 END), 0) AS BIGINT) AS fp,
         CAST(COALESCE(SUM(CASE WHEN _s < 0.5 THEN pos ELSE 0 END), 0) AS BIGINT) AS fn,
         CAST(COALESCE(SUM(CASE WHEN _s < 0.5 THEN neg ELSE 0 END), 0) AS BIGINT) AS tn
  FROM binc{grp}
)
SELECT {gp}n_pos + n_neg AS n, n_pos, n_neg, tp, fp, fn, tn,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN CAST(num AS DOUBLE)
                 / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) END
         AS auc,
       CASE WHEN n_pos + n_neg > 0
            THEN CAST(tp + tn AS DOUBLE) / CAST(n_pos + n_neg AS DOUBLE) END
         AS accuracy,
       CASE WHEN tp + fp > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
       CASE WHEN tp + fn > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) END
         AS f1
FROM mm"""


def _q81_sql() -> str:
    score = _q80_score_sql("f.")
    return f"""
WITH {_feats_cte()},
featsb AS MATERIALIZED (
  SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100
              AS _bucket
  FROM feats
),
feats_train AS MATERIALIZED (SELECT * FROM featsb WHERE _bucket < 80),
{_q80_training_ctes('feats_train')},
ev AS MATERIALIZED (
  SELECT {score} AS _s,
         CASE WHEN {_gopher_gate_sql('f.')} THEN 1 ELSE 0 END AS _y
  FROM featsb f, twf
  WHERE f._bucket >= 80 AND {score} IS NOT NULL
),
{_metrics_tail_sql([])}
"""


def q82_classifier_eval_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — per-language held-out eval of the q80 classifier
    (FineWeb2 concern: a quality model trained on the pooled corpus
    behaves differently across languages). Same deterministic 80/20
    md5-bucket split and globally-trained model as q81; metrics are
    grouped by ``lang`` via the same bounded-bin machinery (window
    partitions ≤10k rows per language by score resolution — no
    whole-language sort of documents anywhere)."""
    from fineweb_domain_analyzer_spark.operators.quality import (
        with_quality_score,
    )
    from fineweb_domain_analyzer_spark.operators.training import (
        binary_classification_metrics,
    )

    feats = _gate_labeled_feats(spark, sf_dir)
    weights = _trained_weights(spark, sf_dir, "train80")
    heldout = feats.filter(F.col("_bucket") >= 80)
    scored = with_quality_score(
        heldout, weights=weights, out_col="trained_score"
    )
    return binary_classification_metrics(
        scored, "trained_score", "distill_label", by_cols=["lang"]
    )


def _q82_sql() -> str:
    score = _q80_score_sql("f.")
    return f"""
WITH {_feats_cte()},
featsb AS MATERIALIZED (
  SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100
              AS _bucket
  FROM feats
),
feats_train AS MATERIALIZED (SELECT * FROM featsb WHERE _bucket < 80),
{_q80_training_ctes('feats_train')},
ev AS MATERIALIZED (
  SELECT d.lang,
         {score} AS _s,
         CASE WHEN {_gopher_gate_sql('f.')} THEN 1 ELSE 0 END AS _y
  FROM featsb f
  JOIN documents d ON f.doc_id = d.doc_id
  CROSS JOIN twf
  WHERE f._bucket >= 80 AND {score} IS NOT NULL
),
{_metrics_tail_sql(['lang'])}
"""


def _heldout_scored(spark: SparkSession, sf_dir: str):
    """Shared by q83/q84: the q81 held-out 20% scored by the
    globally-trained q80 model (weights memoized per sf_dir)."""
    from fineweb_domain_analyzer_spark.operators.quality import (
        with_quality_score,
    )

    feats = _gate_labeled_feats(spark, sf_dir)
    weights = _trained_weights(spark, sf_dir, "train80")
    heldout = feats.filter(F.col("_bucket") >= 80)
    return with_quality_score(heldout, weights=weights, out_col="trained_score")


def q83_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — reliability table of the q80 trained classifier on
    the q81 held-out split: per equal-width score bin, doc count,
    positive count, mean predicted score (conf), empirical positive
    rate (acc) and the gap acc−conf.  This is the reliability-diagram
    table behind choosing the serving threshold
    (PipelineConfig.min_quality_score).  One corpus shuffle to ≤10k
    4dp-score bins, then pure integer math
    (operators/training.py:reliability_bins)."""
    from fineweb_domain_analyzer_spark.operators.training import (
        reliability_bins,
    )

    return reliability_bins(
        _heldout_scored(spark, sf_dir), "trained_score", "distill_label"
    )


def q84_calibration_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — scalar calibration summary (ECE / MCE / Brier) of
    the q80 trained classifier on the held-out split.  All numerators
    are exact integers over the 4dp score domain, accumulated as
    decimal(38,0) (Brier's per-row term reaches 1e8 ⇒ ~1e20 summed at
    the 1e12-doc target); doubles appear only in the final divisions,
    written with the same association order as the oracle
    (operators/training.py:calibration_metrics)."""
    from fineweb_domain_analyzer_spark.operators.training import (
        calibration_metrics,
    )

    return calibration_metrics(
        _heldout_scored(spark, sf_dir), "trained_score", "distill_label"
    )


def _sib_ctes() -> str:
    """ev (held-out scored docs) → per-distinct-4dp-score (pos, neg)
    counts, mirroring operators/training.py:_score_int_bins:
    si = round(score·10⁴) exactly.  Shared by the calibration (q83/q84)
    and threshold-sweep (q85/q86) oracles."""
    score = _q80_score_sql("f.")
    return f"""
WITH {_feats_cte()},
featsb AS MATERIALIZED (
  SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100
              AS _bucket
  FROM feats
),
feats_train AS MATERIALIZED (SELECT * FROM featsb WHERE _bucket < 80),
{_q80_training_ctes('feats_train')},
ev AS MATERIALIZED (
  SELECT {score} AS _s,
         CASE WHEN {_gopher_gate_sql('f.')} THEN 1 ELSE 0 END AS _y
  FROM featsb f, twf
  WHERE f._bucket >= 80 AND {score} IS NOT NULL
),
sib AS MATERIALIZED (
  SELECT CAST(round(_s * 10000, 0) AS BIGINT) AS si,
         SUM(_y) AS pos, SUM(1 - _y) AS neg
  FROM ev GROUP BY 1
)"""


def _calib_ctes() -> str:
    """`_sib_ctes` + the calibration bins: bin = si·10 // 10⁴ capped
    at 9 — pure integer bin assignment, no float edge ambiguity
    (mirrors operators/training.py:_calib_bin)."""
    return f"""{_sib_ctes()},
cb AS MATERIALIZED (
  SELECT LEAST(si * 10 // 10000, 9) AS bin,
         CAST(SUM(pos + neg) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         SUM(CAST(pos + neg AS HUGEINT) * si) AS ssum,
         SUM(CAST(pos AS HUGEINT) * (si - 10000) * (si - 10000)
             + CAST(neg AS HUGEINT) * si * si) AS bnum
  FROM sib GROUP BY 1
)"""


def _q83_sql() -> str:
    return f"""{_calib_ctes()}
SELECT bin, n, n_pos,
       CAST(ssum AS DOUBLE) / (10000.0 * CAST(n AS DOUBLE)) AS conf,
       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
         - CAST(ssum AS DOUBLE) / (10000.0 * CAST(n AS DOUBLE)) AS gap
FROM cb
"""


def _q84_sql() -> str:
    return f"""{_calib_ctes()}
SELECT CAST(SUM(n) AS BIGINT) AS n,
       CAST(SUM(ABS(CAST(n_pos AS HUGEINT) * 10000 - ssum)) AS DOUBLE)
         / (10000.0 * CAST(SUM(n) AS DOUBLE)) AS ece,
       MAX(CAST(ABS(CAST(n_pos AS HUGEINT) * 10000 - ssum) AS DOUBLE)
           / (10000.0 * CAST(n AS DOUBLE))) AS mce,
       CAST(SUM(bnum) AS DOUBLE)
         / (100000000.0 * CAST(SUM(n) AS DOUBLE)) AS brier
FROM cb
"""


def q85_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — full operating-characteristic sweep of the q80
    trained classifier on the q81 held-out split: one row per distinct
    4dp score value ``t`` with the confusion counts and
    precision/recall/F1/accuracy of ``keep iff score >= t``.  The PR
    curve behind choosing ``PipelineConfig.min_quality_score``.  One
    corpus shuffle to the ≤10k-row score domain, then a bounded window
    (operators/training.py:threshold_sweep)."""
    from fineweb_domain_analyzer_spark.operators.training import (
        threshold_sweep,
    )

    return threshold_sweep(
        _heldout_scored(spark, sf_dir), "trained_score", "distill_label"
    )


def q86_operating_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — the argmax-F1 row of the q85 sweep: the recommended
    serving threshold (tie-break: highest threshold at equal F1 — the
    strictest gate with the best trade-off).  Deterministic because
    the F1 doubles are exact-integer divisions
    (operators/training.py:best_operating_point)."""
    from fineweb_domain_analyzer_spark.operators.training import (
        best_operating_point,
    )

    return best_operating_point(
        _heldout_scored(spark, sf_dir), "trained_score", "distill_label"
    )


def _sweep_sql() -> str:
    """The q85 sweep as SQL: descending-score cumulative (tp, fp) over
    the sib score bins — the window runs over ≤10 001 rows (score
    resolution), never corpus rows.  Every double is a single division
    of exact integers with the same association order as the Spark
    side."""
    return f"""{_sib_ctes()},
sweep AS MATERIALIZED (
  SELECT si AS t_si,
         SUM(pos) OVER w AS ctp, SUM(neg) OVER w AS cfp,
         SUM(pos) OVER () AS p, SUM(neg) OVER () AS nn
  FROM sib
  WINDOW w AS (ORDER BY si DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT t_si,
       CAST(t_si AS DOUBLE) / 10000.0 AS threshold,
       CAST(ctp AS BIGINT) AS tp, CAST(cfp AS BIGINT) AS fp,
       CAST(p - ctp AS BIGINT) AS fn, CAST(nn - cfp AS BIGINT) AS tn,
       CAST(ctp AS DOUBLE) / CAST(ctp + cfp AS DOUBLE) AS precision,
       CASE WHEN p > 0 THEN CAST(ctp AS DOUBLE) / CAST(p AS DOUBLE) END
         AS recall,
       2.0 * CAST(ctp AS DOUBLE)
         / CAST(2 * ctp + cfp + (p - ctp) AS DOUBLE) AS f1,
       (CAST(ctp AS DOUBLE) + CAST(nn - cfp AS DOUBLE))
         / CAST(p + nn AS DOUBLE) AS accuracy
FROM sweep"""


def _q85_sql() -> str:
    return _sweep_sql() + "\n"


def _q86_sql() -> str:
    return f"""SELECT * FROM ({_sweep_sql()}
)
QUALIFY ROW_NUMBER() OVER (ORDER BY f1 DESC, t_si DESC) = 1
"""


def _drift_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + deterministic binary dump split + quality-decile
    category (q57 fixed-weight score → si·10 div 10⁴ capped at 9) —
    the shared input of the drift queries."""
    from fineweb_domain_analyzer_spark.operators.drift import with_dump
    from fineweb_domain_analyzer_spark.operators.quality import (
        with_quality_features,
        with_quality_score,
    )

    docs = with_dump(_t(spark, sf_dir, "documents"))
    scored = with_quality_score(with_quality_features(docs))
    si = F.round(F.col("quality_score") * 10000, 0).cast("bigint")
    return scored.withColumn("_si", si).withColumn(
        "q_decile",
        F.least(F.expr("_si * 10 div 10000"), F.lit(9)).cast("string"),
    )


def q87_language_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — dump-over-dump language-mix drift: per language,
    counts and shares in each (md5-split) dump half plus the category's
    Jensen-Shannon term.  The monitoring table a per-dump pipeline
    checks before reusing last dump's filter thresholds.  One
    category-keyed shuffle (operators/drift.py:distribution_drift)."""
    from fineweb_domain_analyzer_spark.operators.drift import (
        distribution_drift,
    )

    return distribution_drift(_drift_docs(spark, sf_dir), "lang")


def q88_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — dump-over-dump quality-mix drift over the q57 score
    deciles: same drift table with category = score decile, catching a
    quality shift the language mix can't see."""
    from fineweb_domain_analyzer_spark.operators.drift import (
        distribution_drift,
    )

    return distribution_drift(_drift_docs(spark, sf_dir), "q_decile")


def q89_drift_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — scalar Jensen-Shannon divergence per monitored
    dimension (language mix, quality-decile mix), one row each.
    Per-category terms quantized to 1e-9 and summed exactly, so the
    scalar is partition-order-independent
    (operators/drift.py:js_divergence)."""
    from fineweb_domain_analyzer_spark.operators.drift import js_divergence

    docs = _drift_docs(spark, sf_dir)
    out = None
    for dim, col in (("lang", "lang"), ("q_decile", "q_decile")):
        one = js_divergence(docs, col).select(
            F.lit(dim).alias("dimension"), "n0", "n1", "js"
        )
        out = one if out is None else out.unionAll(one)
    return out


def _drift_ctes(cat_sql: str, src: str = "documents", pre: str = "") -> str:
    """cnt → tot → shares CTE chain mirroring
    operators/drift.py:distribution_drift: exact-integer counts, then
    staged share/m/term computation with the same association order as
    the Spark withColumn chain.  ``pre`` injects upstream CTEs (the
    feats chain for the quality-decile category), ``src`` is the frame
    the category expression reads."""
    return f"""
WITH {pre}base AS MATERIALIZED (
  SELECT COALESCE(CAST({cat_sql} AS VARCHAR), '∅') AS category,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                   % 100 < 50
              THEN 1 ELSE 0 END AS is0
  FROM {src}
),
cnt AS MATERIALIZED (
  SELECT category,
         CAST(SUM(is0) AS BIGINT) AS n0,
         CAST(SUM(1 - is0) AS BIGINT) AS n1
  FROM base GROUP BY 1
),
tot AS (SELECT SUM(n0) AS t0, SUM(n1) AS t1 FROM cnt),
shares AS (
  SELECT category, n0, n1,
         CAST(n0 AS DOUBLE) / CAST(t0 AS DOUBLE) AS p0,
         CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE) AS p1
  FROM cnt, tot
),
terms AS (
  SELECT category, n0, n1, p0, p1,
         CASE WHEN p0 > 0
              THEN 0.5 * p0 * ln(p0 / ((p0 + p1) / 2.0)) ELSE 0.0 END
         + CASE WHEN p1 > 0
                THEN 0.5 * p1 * ln(p1 / ((p0 + p1) / 2.0)) ELSE 0.0 END
           AS js_term
  FROM shares
)"""


_DECILE_CAT_SQL = (
    f"CAST(LEAST(CAST(round(({_SCORE_SQL}) * 10000, 0) AS BIGINT) * 10"
    f" // 10000, 9) AS VARCHAR)"
)


def _q87_sql() -> str:
    return f"""{_drift_ctes("lang")}
SELECT category, n0, n1, p0, p1, js_term FROM terms
"""


def _q88_sql() -> str:
    return f"""{_drift_ctes(_DECILE_CAT_SQL, "feats", _feats_cte() + ",")}
SELECT category, n0, n1, p0, p1, js_term FROM terms
"""


def q90_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — target-mixture sampling plan: balanced language
    shares (10000 div n_langs bp each) under a budget equal to the
    corpus size, so over-represented languages downsample and
    under-represented ones upsample across epochs.  One group-keyed
    count shuffle; rates are exact integer divisions
    (operators/mixing.py:mixture_plan)."""
    from fineweb_domain_analyzer_spark.operators.mixing import mixture_plan

    return mixture_plan(_t(spark, sf_dir, "documents"), "lang")


def q91_mixture_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — outcome of the q90 plan applied to the corpus: per
    language, available vs sampled doc counts (epochs + md5-Bernoulli
    remainder — exact integers, deterministic per doc) and the achieved
    share of the sampled corpus in basis points
    (operators/mixing.py:assign_copies/mixture_summary)."""
    from fineweb_domain_analyzer_spark.operators.mixing import (
        assign_copies,
        mixture_plan,
        mixture_summary,
    )

    docs = _t(spark, sf_dir, "documents")
    plan = mixture_plan(docs, "lang")
    return mixture_summary(assign_copies(docs, plan, "lang"), "lang")


def _mix_plan_ctes() -> str:
    """counts → plan mirror of operators/mixing.py:mixture_plan
    (balanced shares, budget = corpus size, pure integer divisions)."""
    return """
WITH mcounts AS MATERIALIZED (
  SELECT COALESCE(CAST(lang AS VARCHAR), '∅') AS grp,
         COUNT(*) AS n_available
  FROM documents GROUP BY 1
),
mtot AS (
  SELECT grp, n_available,
         SUM(n_available) OVER () AS total,
         COUNT(*) OVER () AS n_groups
  FROM mcounts
),
mplan AS MATERIALIZED (
  SELECT grp,
         CAST(n_available AS BIGINT) AS n_available,
         CAST(10000 // n_groups AS BIGINT) AS target_bp,
         CAST(((10000 // n_groups) * total) // n_available AS BIGINT)
           AS rate_e4
  FROM mtot
)"""


def _q90_sql() -> str:
    return f"""{_mix_plan_ctes()}
SELECT grp, n_available, target_bp, rate_e4,
       CAST(rate_e4 // 10000 AS BIGINT) AS epochs,
       CAST(rate_e4 % 10000 AS BIGINT) AS rem_e4
FROM mplan
"""


def _q91_sql() -> str:
    return f"""{_mix_plan_ctes()},
mdocs AS (
  SELECT COALESCE(CAST(lang AS VARCHAR), '∅') AS grp,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 10000
           AS b
  FROM documents
),
mcopies AS (
  SELECT d.grp,
         (p.rate_e4 // 10000)
         + CASE WHEN d.b < p.rate_e4 % 10000 THEN 1 ELSE 0 END AS copies
  FROM mdocs d JOIN mplan p ON d.grp = p.grp
),
msum AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_available,
         CAST(SUM(copies) AS BIGINT) AS n_sampled
  FROM mcopies GROUP BY 1
)
SELECT grp, n_available, n_sampled,
       CAST((n_sampled * 10000) // SUM(n_sampled) OVER () AS BIGINT)
         AS achieved_bp
FROM msum
"""


def q92_ccnet_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — CCNet-style head/middle/tail corpus split: per
    language, EXACT perplexity terciles against the corpus-trained
    unigram LM (lowest-perplexity third = 'head', the slice CCNet
    keeps for LM training; 'tail' is the noisiest).  Composition of
    two existing scale-safe kernels: unigram_perplexity (two shuffles,
    broadcast LM join) and exact_ntile_by_group's banded default (no
    whole-language single-reducer sort; ties broken by doc_id for a
    total order)."""
    from fineweb_domain_analyzer_spark.operators.quality import (
        exact_ntile_by_group,
        unigram_perplexity,
    )

    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", "lang").join(
        unigram_perplexity(docs), "doc_id"
    )
    t = exact_ntile_by_group(
        d, 3, "perplexity", "lang", "doc_id", out_col="tercile"
    )
    return t.select(
        "doc_id",
        "lang",
        "perplexity",
        F.col("tercile").cast("bigint").alias("tercile"),
        F.when(F.col("tercile") == 1, "head")
        .when(F.col("tercile") == 2, "middle")
        .otherwise("tail")
        .alias("split"),
    )


def _q92_sql() -> str:
    return f"""
WITH u AS ({Q23_SQL}),
j AS (
  SELECT d.doc_id, d.lang, u.perplexity
  FROM documents d JOIN u ON d.doc_id = u.doc_id
)
SELECT doc_id, lang, perplexity, tercile,
       CASE WHEN tercile = 1 THEN 'head'
            WHEN tercile = 2 THEN 'middle'
            ELSE 'tail' END AS split
FROM (
  SELECT doc_id, lang, perplexity,
         CAST(ntile(3) OVER (PARTITION BY lang
                             ORDER BY perplexity, doc_id) AS BIGINT)
           AS tercile
  FROM j
)
"""


def q93_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — context-window chunking: every document exploded
    into overlapping 64-token windows at stride 48 (GPT-style sliding
    window between curation and q69 packing).  Pure map stage, ZERO
    shuffles, no UDFs (operators/chunking.py:chunk_documents)."""
    from fineweb_domain_analyzer_spark.operators.chunking import (
        chunk_documents,
    )

    return chunk_documents(_t(spark, sf_dir, "documents"))


def _q93_sql() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, {TOKS_SQL} AS toks
  FROM documents WHERE length(trim(text)) > 0
),
s AS (
  SELECT doc_id, toks, unnest(range(0, len(toks), 48)) AS start
  FROM t
)
SELECT doc_id,
       CAST(start // 48 AS BIGINT) AS chunk_id,
       CAST(len(toks[start + 1 : start + 64]) AS BIGINT) AS chunk_tokens,
       md5(array_to_string(toks[start + 1 : start + 64], ' ')) AS chunk_hash
FROM s
"""


def q94_domain_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — DOMAIN-scoped boilerplate strip (RefinedWeb /
    trafilatura-style per-site clean): a paragraph is removed only
    within its own domain (``source``), when ≥2 distinct documents of
    that domain contain it AND it covers ≥50% (5000 bp, exact integer
    ratio test) of the domain's documents.  Complements q51's
    corpus-wide CCNet dedup: a tiny site's repeated header trips the
    ratio test here long before it could reach a corpus-wide absolute
    doc-freq, and a phrase shared ACROSS sites is never treated as
    boilerplate.  Same deterministic 3-token chunking as q51 (the
    synthetic corpus has no newlines).
    operators/textclean.py:domain_boilerplate_removal."""
    from fineweb_domain_analyzer_spark.functions.textfns import ws_tokens
    from fineweb_domain_analyzer_spark.operators.textclean import (
        domain_boilerplate_removal,
    )

    docs = _t(spark, sf_dir, "documents")
    staged = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", "source", ws_tokens(F.lower(F.col("text"))).alias("_tk")
    )
    n_chunks = F.ceil(F.size(F.col("_tk")) / F.lit(3.0)).cast("int")
    seq = F.when(
        F.size(F.col("_tk")) > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.expr("array()").cast("array<int>"))
    paras = F.transform(
        seq,
        lambda i: F.array_join(F.slice(F.col("_tk"), i * 3 + 1, 3), " "),
    )
    chunked = staged.select("doc_id", "source", paras.alias("paras"))
    out = domain_boilerplate_removal(
        chunked, "paras", domain_col="source", min_ratio_bp=5000, min_doc_freq=2
    )
    return out.select(
        "doc_id", "source", "n_paras", "n_removed", "cleaned_text"
    )


Q94_SQL = """
WITH tk AS (
  SELECT doc_id, source,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS w
  FROM documents
),
p0 AS (
  SELECT doc_id, source,
         unnest(list_transform(range(0, CAST(ceil(len(w) / 3.0) AS BIGINT)),
                i -> {'idx': i,
                      'para': array_to_string(w[(i*3+1):(i*3+3)], ' ')})) AS s
  FROM tk
),
p AS (SELECT doc_id, source, CAST(s.idx AS INT) AS idx, s.para AS para
      FROM p0),
ddocs AS (SELECT source, count(DISTINCT doc_id) AS domain_docs
          FROM p GROUP BY 1),
freq AS (SELECT source, para, count(DISTINCT doc_id) AS doc_freq
         FROM p GROUP BY 1, 2),
flags AS (
  SELECT f.source, f.para,
         (f.doc_freq >= 2 AND f.doc_freq * 10000 >= 5000 * d.domain_docs)
           AS boiler
  FROM freq f JOIN ddocs d USING (source)
),
j AS (SELECT p.doc_id, p.source, p.idx, p.para, fl.boiler
      FROM p JOIN flags fl USING (source, para))
SELECT doc_id, source,
       count(*) AS n_paras,
       CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       coalesce(string_agg(para, chr(10) ORDER BY idx)
                  FILTER (WHERE NOT boiler), '') AS cleaned_text
FROM j GROUP BY doc_id, source
"""


def q95_domain_signature_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — per-domain tf-idf-style signature terms: top-10
    tokens per domain by the exact integer rarity score
    ``tf * 10000 // df`` (domain = pseudo-document, df = domains
    containing the token).  Corpus-exploration complement of q34's
    corpus-wide vocabulary top-k: stopwords shared by every domain
    score ~tf*10000/n_domains, while a site's own jargon keeps the
    full tf*10000.  No float log anywhere, so the ranking is
    bit-identical across engines and partitionings.
    operators/domain_stats.py:domain_signature_terms."""
    from fineweb_domain_analyzer_spark.functions.textfns import ws_tokens
    from fineweb_domain_analyzer_spark.operators.domain_stats import (
        domain_signature_terms,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "source", ws_tokens(F.lower(F.col("text"))).alias("_tk")
    )
    return domain_signature_terms(docs, domain_col="source", k=10).select(
        F.col("domain").alias("source"), "token", "tf", "df", "score_e4", "rnk"
    )


Q95_SQL = f"""
WITH pairs AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT source, unnest({TOKS_SQL}) AS token FROM documents)
  WHERE token <> ''
  GROUP BY 1, 2
),
dfc AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM pairs GROUP BY 1),
scored AS (
  SELECT p.source, p.token, p.tf, d.df,
         CAST((p.tf * 10000) // d.df AS BIGINT) AS score_e4
  FROM pairs p JOIN dfc d USING (token)
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY score_e4 DESC, tf DESC, token) AS BIGINT) AS rnk
  FROM scored
)
SELECT source, token, tf, df, score_e4, rnk
FROM ranked WHERE rnk <= 10
"""


def q96_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — embedding-space outlier pruning: every vector
    assigned to its nearest deterministic centroid (q32's IVF
    assignment), then the farthest 5% per cluster flagged via the
    banded exact-ntile kernel (no per-cluster single-reducer sort —
    a cluster is ~corpus/8 here, the exact hazard q47 was dinged
    for).  operators/similarity.py:embedding_outliers."""
    from fineweb_domain_analyzer_spark.operators.similarity import (
        embedding_outliers,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_outliers(emb, n_centroids=8, n_bands_ntile=20)


Q96_SQL = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 8
),
assign AS (
  SELECT vec_id, centroid_id, cosc,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosc DESC, centroid_id) AS rn
  FROM (SELECT e.vec_id, c.centroid_id,
               {_cos_sql('e.embedding', 'c.cvec')} AS cosc
        FROM embeddings e CROSS JOIN cent c)
),
a AS (SELECT vec_id, centroid_id AS cluster_id, cosc AS cos_c
      FROM assign WHERE rn = 1)
SELECT vec_id, cluster_id, cos_c,
       CAST(ntile(20) OVER (PARTITION BY cluster_id
                            ORDER BY cos_c, vec_id) AS BIGINT) AS band,
       (ntile(20) OVER (PARTITION BY cluster_id
                        ORDER BY cos_c, vec_id)) = 1 AS is_outlier
FROM a
"""


def _q89_sql() -> str:
    blocks = []
    for dim, cat, src, pre in (
        ("lang", "lang", "documents", ""),
        ("q_decile", _DECILE_CAT_SQL, "feats", _feats_cte() + ","),
    ):
        blocks.append(f"""
SELECT '{dim}' AS dimension,
       CAST(SUM(n0) AS BIGINT) AS n0, CAST(SUM(n1) AS BIGINT) AS n1,
       CAST(SUM(CAST(round(js_term * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1e9
         AS js
FROM ({_drift_ctes(cat, src, pre)}
SELECT * FROM terms)""")
    return "\nUNION ALL\n".join(blocks) + "\n"


def q97_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — weighted host-level link graph: per-page outlinks
    (deterministic synthetic generator standing in for crawl-time href
    extraction) aggregated to (src_host, dst_host, n_links).  The
    src-host label travels with the edge from extraction, so only the
    dst endpoint needs a label join — one shuffle join + one agg.
    operators/graph.py:host_graph."""
    from fineweb_domain_analyzer_spark.operators.graph import (
        host_graph,
        synthetic_outlinks,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = synthetic_outlinks(docs, host_col="source")
    return host_graph(edges, docs)


Q97_SQL = """
WITH nn AS (SELECT count(*) AS n FROM documents),
raw AS (
  SELECT d.doc_id AS src, d.source AS src_host,
         (d.doc_id * 2654435761 + 40503 * t.j) % (SELECT n FROM nn) AS dst
  FROM documents d CROSS JOIN (VALUES (1), (2), (3)) t(j)
),
edges AS (SELECT * FROM raw WHERE dst <> src)
SELECT e.src_host, d2.source AS dst_host, count(*) AS n_links
FROM edges e JOIN documents d2 ON e.dst = d2.doc_id
GROUP BY 1, 2
"""


def q98_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — link-based document/host reputation: 3 iterations
    of integer fixed-point PageRank (ranks scaled 1e6, integral DIV
    everywhere) over the synthetic outlink graph.  Fixed-point makes
    the iteration bit-exact across partitionings and engines — a
    float PageRank is summation-order dependent and not
    oracle-checkable.  operators/graph.py:pagerank."""
    from fineweb_domain_analyzer_spark.operators.graph import (
        pagerank,
        synthetic_outlinks,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = synthetic_outlinks(docs)
    pr = pagerank(edges, n_iter=3)
    return pr.select(F.col("node").alias("doc_id"), "rank")


def _q98_sql(n_iter: int = 3) -> str:
    """Unrolled fixed-point PageRank CTE chain mirroring
    operators/graph.py:pagerank (scale 1e6, damping 85/100 ⇒ teleport
    150000; `//` is DuckDB integral division = Spark DIV for the
    all-positive operands here)."""
    sql = """
WITH nn AS (SELECT count(*) AS n FROM documents),
raw AS (
  SELECT d.doc_id AS src,
         (d.doc_id * 2654435761 + 40503 * t.j) % (SELECT n FROM nn) AS dst
  FROM documents d CROSS JOIN (VALUES (1), (2), (3)) t(j)
),
edges AS (SELECT src, dst FROM raw WHERE dst <> src),
outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM edges
           UNION ALL SELECT dst FROM edges)),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes)"""
    for k in range(1, n_iter + 1):
        sql += f""",
d{k} AS (SELECT coalesce(sum(rank), 0) AS dang FROM r{k - 1}
         WHERE node NOT IN (SELECT src FROM outdeg)),
c{k} AS (SELECT e.dst, sum(r.rank // o.outdeg) AS in_sum
         FROM edges e
           JOIN r{k - 1} r ON e.src = r.node
           JOIN outdeg o ON e.src = o.src
         GROUP BY e.dst),
r{k} AS (SELECT n.node,
         CAST(150000 + (85 * (coalesce(c.in_sum, 0)
               + (SELECT dang FROM d{k}) // (SELECT n FROM nn))) // 100
              AS BIGINT) AS rank
         FROM nodes n LEFT JOIN c{k} c ON n.node = c.dst)"""
    return sql + f"\nSELECT node AS doc_id, rank FROM r{n_iter}\n"


#: Deterministic "messy unicode" suffix exercising every branch of the
#: normalization stage: combining acute (NFC-composes into é),
#: zero-width space, backspace control, NBSP, tab/CR/LF runs, edge
#: whitespace.  Appended to 2 of 3 docs so the remaining third stays
#: ASCII and exercises the JVM-only fast path.
_MESSY_SUFFIX = "\tCafe\u0301 \u200bX\bY\u00a0 Z \r\n end  "
_MESSY_SQL = " || ".join(f"chr({ord(c)})" for c in _MESSY_SUFFIX)


def q99_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — unicode normalization stage (control/format strip,
    NBSP→space, NFC composition, whitespace collapse): the
    pre-tokenization cleanup every web pipeline runs before langid /
    quality / dedup.  NFC is an ASCII-gated Arrow pandas UDF; all
    other steps are JVM codegen.  functions/textfns.py:normalize_text;
    hashes compared byte-level against DuckDB's utf8proc NFC."""
    from fineweb_domain_analyzer_spark.functions.textfns import normalize_text

    docs = _t(spark, sf_dir, "documents")
    raw = F.when(
        F.col("doc_id") % 3 == 0, F.col("text")
    ).otherwise(F.concat(F.col("text"), F.lit(_MESSY_SUFFIX)))
    norm = normalize_text(raw)
    return docs.select(
        "doc_id",
        (~raw.rlike("[^\x00-\x7f]")).alias("ascii_fast_path"),
        F.md5(norm).alias("norm_hash"),
        F.length(norm).cast("bigint").alias("norm_len"),
    )


def _q99_sql() -> str:
    ctrl = (
        r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f"
        r"\x{200b}-\x{200d}\x{feff}]"
    )
    return f"""
WITH raw AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text
              ELSE text || {_MESSY_SQL} END AS raw_text
  FROM documents
),
cleaned AS (
  SELECT doc_id, raw_text,
         regexp_replace(
           regexp_replace(raw_text, '{ctrl}', '', 'g'),
           chr(160), ' ', 'g') AS c1
  FROM raw
),
norm AS (
  SELECT doc_id, raw_text,
         trim(regexp_replace(nfc_normalize(c1),
                             '[ ' || chr(9) || chr(13) || chr(10) || ']+',
                             ' ', 'g')) AS n
  FROM cleaned
)
SELECT doc_id,
       NOT regexp_matches(raw_text, '[^' || chr(1) || '-' || chr(127) || ']')
         AS ascii_fast_path,
       md5(n) AS norm_hash,
       CAST(length(n) AS BIGINT) AS norm_len
FROM norm
"""


def q100_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — seeded deterministic corpus shuffle
    (operators/quality.py:deterministic_shuffle): pre-training layout
    that decorrelates crawl order. 60-bit md5-prefix hash of
    (doc_id, seed) assigns shard (hash % 8) and within-shard rank;
    integer-exact, engine-portable, one shard-keyed shuffle + a
    per-shard window (n_shards sized to the corpus in production, so
    no reducer ever sees more than one training file's worth)."""
    from fineweb_domain_analyzer_spark.operators.quality import (
        deterministic_shuffle,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(docs, seed=7, n_shards=8)


Q100_SQL = """
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 15))::BIGINT
           AS shuffle_hash
  FROM documents
)
SELECT doc_id, shuffle_hash,
       shuffle_hash % 8 AS shard,
       CAST(row_number() OVER (PARTITION BY shuffle_hash % 8
                               ORDER BY shuffle_hash, doc_id) AS BIGINT)
         AS shard_rank
FROM h
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# q103 — page-type detection (soft-404 / login-wall / parked / cookie-wall)
# ---------------------------------------------------------------------------

# Corpus rule set over the synthetic vocabulary: the real-phrase
# defaults (operators/pagetype.py:DEFAULT_PAGE_TYPE_RULES) cannot fire
# on the synthetic corpus — they are unit-tested on realistic page
# fixtures in tests/test_pagetype.py; these patterns exercise the same
# first-match-wins machinery with discriminating selectivity here.
_Q103_RULES = [
    ("error_page", "batch batch"),
    ("login_wall", "spark (window|query)"),
    ("parked_domain", "vector join"),
    ("cookie_wall", "customer small"),
]


def q103_page_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — page-type heuristics (soft-404/login-wall/parked/
    cookie-wall): first-match-wins chained-rlike projection, all
    codegen, ZERO shuffles (operators/pagetype.py)."""
    from fineweb_domain_analyzer_spark.operators.pagetype import (
        with_page_type,
    )

    docs = _t(spark, sf_dir, "documents")
    return with_page_type(docs, rules=_Q103_RULES, idx_col="rule_idx").select(
        "doc_id", "page_type", "rule_idx"
    )


def _q103_sql() -> str:
    type_whens = "\n       ".join(
        f"WHEN regexp_matches(lower(text), '{pat}') THEN '{name}'"
        for name, pat in _Q103_RULES
    )
    idx_whens = "\n       ".join(
        f"WHEN regexp_matches(lower(text), '{pat}') THEN {i}"
        for i, (_name, pat) in enumerate(_Q103_RULES)
    )
    return f"""
SELECT doc_id,
       CASE {type_whens}
            ELSE 'content' END AS page_type,
       CAST(CASE {idx_whens}
            ELSE -1 END AS BIGINT) AS rule_idx
FROM documents
"""


# ---------------------------------------------------------------------------
# q104 — Gopher doc-shape rules (bullet/ellipsis lines, alpha words,
# symbol-to-word ratios; Rae et al. 2021 §A1.1)
# ---------------------------------------------------------------------------

def q104_doc_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher doc-shape features + the paper-threshold keep decision:
    all codegen (newline split + array lambdas + literal replace
    counting), ZERO shuffles (operators/quality.py:
    with_doc_shape_features/gopher_doc_shape_keep)."""
    from fineweb_domain_analyzer_spark.operators.quality import (
        gopher_doc_shape_keep,
        with_doc_shape_features,
    )

    docs = _t(spark, sf_dir, "documents")
    # the synthetic corpus is single-line bullet-free prose, so derive a
    # line-structured view with deterministic literal replaces (mirrored
    # verbatim in the oracle) — bullets, ellipsis line-ends and # marks
    # all fire with corpus-dependent frequency
    structured = F.replace(
        F.replace(
            F.replace(
                F.col("text"), F.lit(" batch "), F.lit("\n- batch ")
            ),
            F.lit(" merge "),
            F.lit("...\nmerge "),
        ),
        F.lit(" hash "),
        F.lit(" ## hash "),
    )
    docs = docs.withColumn("text", structured)
    df = with_doc_shape_features(docs)
    return df.select(
        "doc_id",
        "n_lines",
        "bullet_start_frac",
        "ellipsis_end_frac",
        "alpha_word_frac",
        "hash_word_ratio",
        "ellipsis_word_ratio",
        gopher_doc_shape_keep(
            F.col("bullet_start_frac"),
            F.col("ellipsis_end_frac"),
            F.col("alpha_word_frac"),
            F.col("hash_word_ratio"),
            F.col("ellipsis_word_ratio"),
        ).alias("shape_keep"),
    )


def _q104_sql() -> str:
    lines = "list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0)"
    bullet_pred = (
        "starts_with(ltrim(l), '- ') OR starts_with(ltrim(l), '* ') "
        "OR starts_with(ltrim(l), '•') OR starts_with(ltrim(l), '– ')"
    )
    ell_pred = "ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')"
    wc = f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({TOKS_SQL}) END"
    return f"""
WITH shape_base AS (
  SELECT doc_id,
         {lines} AS lines,
         {wc} AS words,
         len(list_filter({TOKS_SQL}, t -> regexp_matches(t, '\\p{{L}}')))
           AS alpha_words,
         length(text) - length(replace(text, '#', '')) AS hash_cnt,
         (length(text) - length(replace(text, '...', ''))) / 3
           + (length(text) - length(replace(text, '…', ''))) AS ell_cnt
  FROM (SELECT doc_id,
               replace(replace(replace(text,
                 ' batch ', chr(10) || '- batch '),
                 ' merge ', '...' || chr(10) || 'merge '),
                 ' hash ', ' ## hash ') AS text
        FROM documents)
),
shaped AS (
  SELECT doc_id,
         CAST(len(lines) AS BIGINT) AS n_lines,
         round(len(list_filter(lines, l -> {bullet_pred}))
               / greatest(len(lines), 1), 4) AS bullet_start_frac,
         round(len(list_filter(lines, l -> {ell_pred}))
               / greatest(len(lines), 1), 4) AS ellipsis_end_frac,
         round(alpha_words / greatest(words, 1), 4) AS alpha_word_frac,
         round(hash_cnt / greatest(words, 1), 4) AS hash_word_ratio,
         round(ell_cnt / greatest(words, 1), 4) AS ellipsis_word_ratio
  FROM shape_base
)
SELECT *,
       (bullet_start_frac <= 0.9 AND ellipsis_end_frac <= 0.3
        AND alpha_word_frac >= 0.8 AND hash_word_ratio <= 0.1
        AND ellipsis_word_ratio <= 0.1) AS shape_keep
FROM shaped
"""


# ---------------------------------------------------------------------------
# q105 — outlink extraction → host graph (real href machinery)
# ---------------------------------------------------------------------------

_Q105_MULT = 2654435761  # Knuth multiplicative constant (q97's generator)
_Q105_STEP = 40503
_Q105_HOSTS = 97


def q105_outlink_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — REAL outlink extraction feeding the host graph:
    deterministic HTML is synthesized around each doc with two absolute
    anchors (arithmetic-derived target hosts) plus a relative href;
    ``functions/html.py:extract_hrefs`` pulls them back out with one
    regexp_extract_all, netloc-lower labels the dst endpoint, and the
    rollup weights (src_host, dst_host) edges. Upgrades q97's declared
    synthetic-edge stand-in with the actual href machinery a crawl
    pipeline runs; relative hrefs must be dropped by the empty-netloc
    filter. ONE shuffle (the edge rollup) at any scale."""
    from fineweb_domain_analyzer_spark.operators.graph import (
        outlink_edges_from_html,
    )

    docs = _t(spark, sf_dir, "documents")

    def dst(j: int):
        return (
            (F.col("doc_id") * _Q105_MULT + _Q105_STEP * j) % _Q105_HOSTS
        ).cast("string")

    html = F.concat(
        F.lit("<html><body><p>"),
        F.col("text"),
        F.lit('</p><a href="https://h'),
        dst(1),
        F.lit('.example.com/a">x</a> <a class="nav" href="https://h'),
        dst(2),
        F.lit('.example.com/b?q=1">y</a><a href="/relative/path">r</a>'
              "</body></html>"),
    )
    pages = docs.select(F.col("source"), html.alias("html"))
    return (
        outlink_edges_from_html(pages, "html", "source")
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


Q105_SQL = f"""
WITH pages AS (
  SELECT source,
         '<html><body><p>' || text || '</p><a href="https://h'
         || CAST((doc_id * {_Q105_MULT} + {_Q105_STEP}) % {_Q105_HOSTS} AS VARCHAR)
         || '.example.com/a">x</a> <a class="nav" href="https://h'
         || CAST((doc_id * {_Q105_MULT} + {2 * _Q105_STEP}) % {_Q105_HOSTS} AS VARCHAR)
         || '.example.com/b?q=1">y</a><a href="/relative/path">r</a></body></html>'
           AS html
  FROM documents
),
hrefs AS (
  SELECT source AS src_host,
         unnest(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS href
  FROM pages
),
edges AS (
  SELECT src_host,
         lower(regexp_extract(href,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]*)', 1)) AS dst_host
  FROM hrefs
)
SELECT src_host, dst_host, count(*) AS n_links
FROM edges
WHERE dst_host <> ''
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q106 — segment-level language consistency (mixed-language detection)
# ---------------------------------------------------------------------------

_Q106_SEG = 25


def q106_lang_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — mixed-language detection: 25-token segments each get
    the stopword-hit langid; the doc summarizes to majority lang/share,
    distinct-language count and the lang_mixed curation flag. Nested
    array lambdas, all codegen, ZERO shuffles
    (functions/textfns.py:with_lang_consistency)."""
    from fineweb_domain_analyzer_spark.functions.textfns import (
        with_lang_consistency,
    )

    docs = _t(spark, sf_dir, "documents")
    return with_lang_consistency(docs, seg_tokens=_Q106_SEG).select(
        "doc_id",
        "n_segments",
        "majority_lang",
        "majority_frac",
        "n_langs",
        "lang_mixed",
    )


def _q106_sql() -> str:
    from fineweb_domain_analyzer_spark.functions.textfns import LANG_STOPWORDS

    langs = list(LANG_STOPWORDS)
    seg = _Q106_SEG
    hit = {
        lang: (
            "len(list_filter(s, t -> list_contains(["
            + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
            + "], t)))"
        )
        for lang in langs
    }
    g = "greatest(" + ", ".join(hit[lang] for lang in langs) + ")"
    seg_case = f"CASE WHEN {g} <= 0 THEN 'unk'"
    for lang in langs[:-1]:
        seg_case += f" WHEN {hit[lang]} = {g} THEN '{lang}'"
    seg_case += f" ELSE '{langs[-1]}' END"
    all_langs = langs + ["unk"]
    cnt_cols = ",\n         ".join(
        f"len(list_filter(seg_langs, x -> x = '{lang}')) AS c_{lang}"
        for lang in all_langs
    )
    m = "greatest(" + ", ".join(f"c_{lang}" for lang in all_langs) + ")"
    maj_case = "CASE WHEN len(seg_langs) = 0 THEN 'unk'"
    for lang in all_langs:
        maj_case += f" WHEN c_{lang} = {m} THEN '{lang}'"
    maj_case += " END"
    return f"""
WITH base AS (
  SELECT doc_id, {TOKS_SQL} AS toks,
         CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({TOKS_SQL}) END AS n
  FROM documents
),
segged AS (
  SELECT doc_id,
         CASE WHEN n > 0
              THEN list_transform(range(0, ceil(n / {seg}.0)::INT),
                                  i -> toks[i*{seg}+1:(i+1)*{seg}])
              ELSE [] END AS segs
  FROM base
),
sl AS (
  SELECT doc_id, list_transform(segs, s -> {seg_case}) AS seg_langs
  FROM segged
),
cnts AS (
  SELECT doc_id, seg_langs,
         {cnt_cols}
  FROM sl
)
SELECT doc_id,
       CAST(len(seg_langs) AS BIGINT) AS n_segments,
       {maj_case} AS majority_lang,
       round({m} / greatest(len(seg_langs), 1), 4) AS majority_frac,
       CAST(len(list_distinct(seg_langs)) AS BIGINT) AS n_langs,
       len(list_distinct(seg_langs)) > 1 AS lang_mixed
FROM cnts
"""


# ---------------------------------------------------------------------------
# q107 — data-card summary (dataset release numbers in one cube pass)
# ---------------------------------------------------------------------------

def q107_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — the dataset data-card numbers (overall/decision/
    drop-reason/kept-language sections with doc + word counts) from ONE
    cube aggregation over the flagship labels
    (operators/metrics.py:data_card)."""
    from fineweb_domain_analyzer_spark.operators.metrics import data_card
    from fineweb_domain_analyzer_spark.plans.pipeline import (
        PipelineConfig,
        quality_filter_pipeline,
    )

    labeled = quality_filter_pipeline(
        pages_view(spark, sf_dir),
        policy_view(spark, sf_dir),
        PipelineConfig(scrub=False),
    )
    return data_card(labeled)


def _q107_sql() -> str:
    return (
        _q56_ctes()
        + """,
decided AS MATERIALIZED (
  SELECT doc_id, langid, word_count,
         CASE WHEN robots_reason <> 'kept' THEN robots_reason
              WHEN langid NOT IN ('en', 'zh', 'de', 'fr', 'es')
                THEN 'language_filtered'
              WHEN NOT (word_count BETWEEN 5 AND 1000000
                        AND mean_word_len BETWEEN 2.0 AND 12.0
                        AND symbol_ratio <= 0.5
                        AND stopword_density >= 0.0
                        AND max_word_repeat_ratio <= 0.9)
                THEN 'quality_filtered'
              ELSE 'kept' END AS drop_reason
  FROM feats
)
SELECT 'overall' AS section, 'all' AS "key",
       count(*)::BIGINT AS docs, coalesce(sum(word_count), 0)::BIGINT AS words
FROM decided
UNION ALL
SELECT 'decision',
       CASE WHEN drop_reason = 'kept' THEN 'kept' ELSE 'dropped' END,
       count(*)::BIGINT, coalesce(sum(word_count), 0)::BIGINT
FROM decided GROUP BY 2
UNION ALL
SELECT 'drop_reason', drop_reason,
       count(*)::BIGINT, coalesce(sum(word_count), 0)::BIGINT
FROM decided GROUP BY 2
UNION ALL
SELECT 'language_kept', langid,
       count(*)::BIGINT, coalesce(sum(word_count), 0)::BIGINT
FROM decided WHERE drop_reason = 'kept' GROUP BY 2
"""
    )


# ---------------------------------------------------------------------------
# q108 — anchor (href, text) pair extraction
# ---------------------------------------------------------------------------

def q108_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — (href, anchor-text) pair extraction
    (functions/html.py:extract_anchors): link text is a quality /
    relevance signal real pipelines mine from crawl HTML. Deterministic
    HTML synthesized with token-bearing anchors (absolute + relative),
    extracted by the full-match + group-extract regex chain — all
    codegen, explode only, ZERO shuffles."""
    from fineweb_domain_analyzer_spark.functions.html import extract_anchors

    docs = _t(spark, sf_dir, "documents")
    k = ((F.col("doc_id") * _Q105_MULT + _Q105_STEP) % _Q105_HOSTS).cast(
        "string"
    )
    html = F.concat(
        F.lit("<p>"),
        F.col("text"),
        F.lit('</p><a href="https://h'),
        k,
        F.lit('.example.com/a">read more about '),
        F.col("source"),
        F.lit('</a><a class="x" href="/local/'),
        F.col("doc_id").cast("string"),
        F.lit('">home page</a><a href="https://skip.example.com"><b>nested'
              "</b></a>"),
    )
    pages = docs.select("doc_id", html.alias("html"))
    anchors = pages.select(
        "doc_id", F.explode(extract_anchors(F.col("html"))).alias("a")
    )
    return anchors.select(
        "doc_id",
        F.col("a.href").alias("href"),
        F.col("a.text").alias("anchor_text"),
        F.length("a.text").cast("bigint").alias("text_len"),
    )


Q108_SQL = f"""
WITH pages AS (
  SELECT doc_id,
         '<p>' || text || '</p><a href="https://h'
         || CAST((doc_id * {_Q105_MULT} + {_Q105_STEP}) % {_Q105_HOSTS} AS VARCHAR)
         || '.example.com/a">read more about ' || source
         || '</a><a class="x" href="/local/' || CAST(doc_id AS VARCHAR)
         || '">home page</a><a href="https://skip.example.com"><b>nested</b></a>'
           AS html
  FROM documents
),
tags AS (
  SELECT doc_id,
         regexp_extract_all(html,
           '<a\\s[^>]*href="[^"]*"[^>]*>[^<]*</a>', 0) AS t
  FROM pages
)
SELECT doc_id,
       unnest(list_transform(t, x -> regexp_extract(x, 'href="([^"]*)"', 1)))
         AS href,
       unnest(list_transform(t, x -> regexp_extract(x, '>([^<]*)</a>', 1)))
         AS anchor_text,
       unnest(list_transform(t,
         x -> length(regexp_extract(x, '>([^<]*)</a>', 1))::BIGINT))
         AS text_len
FROM tags
"""


# ---------------------------------------------------------------------------
# q109 — robots Sitemap directive extraction
# ---------------------------------------------------------------------------

def q109_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — RFC 9309 Sitemap directives from robots bodies
    (functions/robots.py:sitemaps_from_robots): case/spacing variants,
    multiple sitemaps per domain, comment-only and null bodies. The
    reference parser ignores the directive entirely."""
    from fineweb_domain_analyzer_spark.functions.robots import (
        sitemaps_from_robots,
    )

    docs = _t(spark, sf_dir, "documents")
    i = F.regexp_extract(F.col("source"), r"([0-9]+)", 1).cast("int")
    body = (
        F.when(
            i % 4 == 0,
            F.concat(
                F.lit("User-agent: *\nDisallow: /x\nSitemap: https://"),
                F.col("source"),
                F.lit(".example.com/sitemap.xml"),
            ),
        )
        .when(
            i % 4 == 1,
            F.concat(
                F.lit("sitemap:https://cdn.example.com/"),
                F.col("source"),
                F.lit("/s1.xml\n  SITEMAP:   https://cdn.example.com/"),
                F.col("source"),
                F.lit("/s2.xml"),
            ),
        )
        .when(i % 4 == 2, F.lit("# comments only\nUser-agent: *"))
        .otherwise(F.lit(None).cast("string"))
    )
    robots = (
        docs.select("source")
        .distinct()
        .select(
            F.concat(F.col("source"), F.lit(".example.com")).alias("domain"),
            body.alias("robots_content"),
        )
    )
    return sitemaps_from_robots(robots)


Q109_SQL = """
WITH src AS (
  SELECT DISTINCT source,
         TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) AS i
  FROM documents
),
robots AS (
  SELECT source || '.example.com' AS domain,
         CASE WHEN i % 4 = 0 THEN 'User-agent: *' || chr(10) || 'Disallow: /x'
                   || chr(10) || 'Sitemap: https://' || source || '.example.com/sitemap.xml'
              WHEN i % 4 = 1 THEN 'sitemap:https://cdn.example.com/' || source
                   || '/s1.xml' || chr(10) || '  SITEMAP:   https://cdn.example.com/'
                   || source || '/s2.xml'
              WHEN i % 4 = 2 THEN '# comments only' || chr(10) || 'User-agent: *'
              ELSE NULL END AS robots_content
  FROM src
),
sm AS (
  SELECT domain,
         list_filter(
           list_transform(
             list_filter(string_split(robots_content, chr(10)),
                         ln -> starts_with(lower(ltrim(ln)), 'sitemap:')),
             ln -> trim(regexp_extract(ln, '(?i)^\\s*sitemap:\\s*(\\S+)', 1))),
           u -> u <> '') AS urls
  FROM robots
)
SELECT domain,
       unnest(urls) AS sitemap_url,
       unnest(range(0, len(urls))) ::BIGINT AS sm_idx
FROM sm
WHERE len(urls) > 0
"""


# ---------------------------------------------------------------------------
# q110 — page metadata extraction (title + meta description)
# ---------------------------------------------------------------------------

def q110_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — <title> / meta-description extraction
    (functions/html.py): page metadata feeds snippeting, URL-title
    consistency checks and title-based dedup keys. HTML synthesized
    with case variants, attribute noise and a titleless branch so both
    the hit and no-match ('') paths are value-checked."""
    from fineweb_domain_analyzer_spark.functions.html import (
        extract_meta_description,
        extract_title,
    )

    docs = _t(spark, sf_dir, "documents")
    title_tag = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("<TITLE lang=\"en\">Doc "),
                F.col("doc_id").cast("string"),
                F.lit(" from "),
                F.col("source"),
                F.lit("</TITLE>"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("<title>"),
                F.substring(F.col("text"), 1, 40),
                F.lit("</title>"),
            ),
        )
        .otherwise(F.lit(""))  # titleless page
    )
    meta_tag = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit('<meta charset="utf-8"><meta name="description" '
                  'content="about '),
            F.col("source"),
            F.lit('">'),
        ),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"),
        meta_tag,
        title_tag,
        F.lit("</head><body>"),
        F.col("text"),
        F.lit("</body></html>"),
    )
    pages = docs.select("doc_id", html.alias("html"))
    return pages.select(
        "doc_id",
        extract_title(F.col("html")).alias("title"),
        extract_meta_description(F.col("html")).alias("meta_description"),
        F.length(extract_title(F.col("html"))).cast("bigint").alias(
            "title_len"
        ),
    )


Q110_SQL = """
WITH pages AS (
  SELECT doc_id,
         '<html><head>'
         || CASE WHEN doc_id % 2 = 0
                 THEN '<meta charset="utf-8"><meta name="description" content="about '
                      || source || '">'
                 ELSE '' END
         || CASE WHEN doc_id % 3 = 0
                 THEN '<TITLE lang="en">Doc ' || CAST(doc_id AS VARCHAR)
                      || ' from ' || source || '</TITLE>'
                 WHEN doc_id % 3 = 1
                 THEN '<title>' || substr(text, 1, 40) || '</title>'
                 ELSE '' END
         || '</head><body>' || text || '</body></html>' AS html
  FROM documents
)
SELECT doc_id,
       regexp_extract(html, '(?i)<title[^>]*>([^<]*)</title>', 1) AS title,
       regexp_extract(html,
         '(?i)<meta\\s[^>]*name="description"[^>]*content="([^"]*)"', 1)
         AS meta_description,
       length(regexp_extract(html, '(?i)<title[^>]*>([^<]*)</title>', 1))::BIGINT
         AS title_len
FROM pages
"""


# ---------------------------------------------------------------------------
# q111 — mojibake repair (ftfy-lite encoding fix)
# ---------------------------------------------------------------------------

_MOJIBAKE_FIXTURE = str(
    Path(__file__).resolve().parent / "artifacts" / "mojibake.parquet"
)


def q111_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — ftfy-style mojibake repair (undo UTF-8 read as
    cp1252/latin-1, the classic mislabeled-charset corruption): accents
    are injected ('the'→'thé'), even doc_ids get the corruption planted
    (UTF-8 bytes re-read as latin-1), and the repair UDF must detect
    and byte-exactly restore them while leaving clean docs untouched.
    Encoding round-trips are not SQL-expressible, so the oracle joins
    the committed fixture generated from the SAME package functions
    (scripts/make_mojibake_fixture.py)."""
    from fineweb_domain_analyzer_spark.functions.textfns import (
        corrupt_utf8_as_latin1_udf,
        with_mojibake_fix,
    )

    docs = _t(spark, sf_dir, "documents")
    pre = F.replace(F.col("text"), F.lit("the"), F.lit("thé"))
    moji_in = F.when(
        F.col("doc_id") % 2 == 0, corrupt_utf8_as_latin1_udf()(pre)
    ).otherwise(pre)
    df = docs.select(
        "doc_id", pre.alias("_pre"), moji_in.alias("moji_in")
    )
    df = with_mojibake_fix(df, text_col="moji_in")
    return df.select(
        "doc_id",
        (F.col("doc_id") % 2 == 0).alias("corrupted"),
        "mojibake_fixed",
        F.md5("fixed_text").alias("fixed_md5"),
        (F.col("fixed_text") == F.col("_pre")).alias("restored"),
    )


def _q111_sql() -> str:
    return f"""
WITH fx AS (SELECT * FROM read_parquet('{_MOJIBAKE_FIXTURE}'))
SELECT d.doc_id,
       d.doc_id % 2 = 0 AS corrupted,
       CASE WHEN d.doc_id % 2 = 0 THEN f.corrupted_detected
            ELSE FALSE END AS mojibake_fixed,
       CASE WHEN d.doc_id % 2 = 0 THEN f.corrupted_fixed_md5
            ELSE f.pre_md5 END AS fixed_md5,
       CASE WHEN d.doc_id % 2 = 0 THEN f.corrupted_restored
            ELSE TRUE END AS restored
FROM documents d JOIN fx f ON md5(d.text) = f.text_md5
"""


# ---------------------------------------------------------------------------
# q112 — SURT canonical sort keys (site-local crawl layout)
# ---------------------------------------------------------------------------

def q112_surt_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — SURT sort keys (functions/urls.py:surt_key): the
    Common Crawl / Wayback reversed-host form whose lexicographic order
    co-locates a site with its subdomains — the layout key for
    site-local sorting/sharding. Pure codegen, ZERO shuffles."""
    from fineweb_domain_analyzer_spark.functions.urls import surt_key

    pages = pages_view(spark, sf_dir)
    return pages.select(
        "doc_id",
        surt_key(F.col("url")).alias("surt"),
        F.length(surt_key(F.col("url"))).cast("bigint").alias("surt_len"),
    )


Q112_SQL = f"""
WITH {PAGES_CTE},
parts AS (
  SELECT doc_id,
         split_part(lower(regexp_extract(url,
           '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)), ':', 1) AS host,
         regexp_extract(url,
           '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)', 1) AS raw_path
  FROM pages
),
keys AS (
  SELECT doc_id,
         CASE WHEN host = '' THEN NULL
              ELSE array_to_string(list_reverse(string_split(host, '.')), ',')
                   || ')' || (CASE WHEN starts_with(raw_path, '/') THEN raw_path
                                   ELSE '/' || raw_path END)
         END AS surt
  FROM parts
)
SELECT doc_id, surt, length(surt)::BIGINT AS surt_len FROM keys
"""


# ---------------------------------------------------------------------------
# q113 — RFC 9309 most-specific-match robots decision
# ---------------------------------------------------------------------------

def q113_rfc9309_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — RFC 9309 longest-match Allow/Disallow decision
    (operators/filtering.py:rfc9309_path_allowed) contrasted with the
    reference-style any-Disallow-prefix rule: per source, (i%3==0)
    Disallow /doc/ with an Allow /doc/1 carve-out — the RFC honors the
    carve-out, the naive rule doesn't; (i%3==1) equal-length tie —
    Allow wins per the RFC; (i%3==2) no rules — both allow."""
    from fineweb_domain_analyzer_spark.operators.filtering import (
        path_disallowed,
        rfc9309_path_allowed,
        url_path,
    )

    pages = pages_view(spark, sf_dir)
    i = F.regexp_extract(F.col("source"), r"([0-9]+)", 1).cast("int")
    empty = F.array().cast("array<string>")
    disallow = F.when(i % 3 < 2, F.array(F.lit("/doc/"))).otherwise(empty)
    allow = (
        F.when(i % 3 == 0, F.array(F.lit("/doc/1")))
        .when(i % 3 == 1, F.array(F.lit("/doc/")))
        .otherwise(empty)
    )
    path = url_path(F.col("url"))
    return pages.select(
        "doc_id",
        path.alias("path"),
        rfc9309_path_allowed(path, disallow, allow).alias("rfc_allowed"),
        path_disallowed(path, disallow).alias("naive_blocked"),
    )


Q113_SQL = f"""
WITH {PAGES_CTE},
base AS (
  SELECT doc_id,
         TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) AS i,
         CASE WHEN regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) = ''
              THEN '/'
              ELSE regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1)
         END AS path
  FROM pages
),
ruled AS (
  SELECT doc_id, path,
         CASE WHEN i % 3 < 2 THEN ['/doc/'] ELSE [] END AS d,
         CASE WHEN i % 3 = 0 THEN ['/doc/1']
              WHEN i % 3 = 1 THEN ['/doc/'] ELSE [] END AS a
  FROM base
)
SELECT doc_id, path,
       coalesce(list_max(list_transform(
           list_filter(a, r -> starts_with(path, r)), r -> length(r))), -1)
       >= coalesce(list_max(list_transform(
           list_filter(d, r -> starts_with(path, r)), r -> length(r))), -1)
         AS rfc_allowed,
       len(list_filter(d, r -> starts_with(path, r))) > 0 AS naive_blocked
FROM ruled
"""


# ---------------------------------------------------------------------------
# q114 — best-of-cluster dedup (quality-priority representatives)
# ---------------------------------------------------------------------------

def q114_best_of_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — quality-priority duplicate selection
    (operators/dedup.py:select_cluster_representatives): every third
    doc gets a degraded near-copy planted (spam tail, id + max(id) + 1), the
    cluster key recovers the pairing, and the representative is chosen
    by quality score (desc, doc_id tiebreak) — the 60-token repeated
    tail drives max_word_repeat_ratio high enough that the repetition
    penalty always outweighs the word-count gain, so the original must
    win every 2-member cluster (asserted in tests). ONE cluster-key
    shuffle + a rank-1 window bounded by cluster size."""
    from fineweb_domain_analyzer_spark.operators.dedup import (
        select_cluster_representatives,
    )
    from fineweb_domain_analyzer_spark.operators.quality import (
        with_quality_features,
        with_quality_score,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # copies get ids past the largest original id, so no copy collides
    # with an original and doc_id % off recovers the pairing
    off = (docs.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
    degraded = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + off).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" spam" * 60)
        ).alias("text"),
    )
    u = docs.unionAll(degraded)
    scored = with_quality_score(with_quality_features(u))
    reps = select_cluster_representatives(
        scored.withColumn("cluster", F.col("doc_id") % off),
        "cluster",
        [F.col("quality_score").desc(), F.col("doc_id")],
    )
    return reps.select(
        "cluster",
        F.col("doc_id").alias("rep_id"),
        F.col("quality_score").alias("rep_score"),
        "n_members",
    )


def _q114_sql() -> str:
    wc = f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({TOKS_SQL}) END"
    return f"""
WITH off AS (SELECT coalesce(max(doc_id), 0) + 1 AS o FROM documents),
u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + (SELECT o FROM off), text || ' spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam'
  FROM documents WHERE doc_id % 3 = 0
),
feats AS (
  SELECT doc_id, doc_id % (SELECT o FROM off) AS cluster,
         {wc} AS word_count,
         round(length(regexp_replace(trim(text), '\\s+', '', 'g'))::DOUBLE
               / greatest({wc}, 1), 4) AS mean_word_len,
         round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
               / greatest(length(text), 1), 4) AS symbol_ratio,
         round(len(list_filter({TOKS_SQL}, t -> list_contains({_STOPLIST_SQL}, t)))::DOUBLE
               / greatest({wc}, 1), 4) AS stopword_density,
         CASE WHEN length(trim(text)) = 0 OR len({TOKS_SQL}) = 0 THEN 0.0
              ELSE round(list_max(list_transform(list_distinct({TOKS_SQL}),
                           t -> len(list_filter({TOKS_SQL}, x -> x = t))))::DOUBLE
                         / len({TOKS_SQL}), 4) END AS max_word_repeat_ratio
  FROM u
),
scored AS (
  SELECT doc_id, cluster, {_SCORE_SQL} AS quality_score FROM feats
),
ranked AS (
  SELECT cluster, doc_id, quality_score,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY quality_score DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY cluster)::BIGINT AS n_members
  FROM scored
)
SELECT cluster, doc_id AS rep_id, quality_score AS rep_score, n_members
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# q101/q102 — filter-rule ablation + overlap matrix (curation audit)
# ---------------------------------------------------------------------------

# DuckDB fire-bit expressions over the q56 `feats` CTE; key order must
# match _pipeline_fire_rules so the two registries name the same rules.
_ABLATION_BITS_SQL = {
    "robots": "coalesce(robots_reason <> 'kept', FALSE)",
    "language": "coalesce(langid NOT IN ('en', 'zh', 'de', 'fr', 'es'), FALSE)",
    "word_count": "coalesce(NOT (word_count BETWEEN 5 AND 1000000), FALSE)",
    "mean_word_len": "coalesce(NOT (mean_word_len BETWEEN 2.0 AND 12.0), FALSE)",
    "symbol_ratio": "coalesce(symbol_ratio > 0.5, FALSE)",
    "stopword_density": "coalesce(stopword_density < 0.0, FALSE)",
    "repeat_ratio": "coalesce(max_word_repeat_ratio > 0.9, FALSE)",
}


def _pipeline_fire_rules(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict]:
    """(labeled frame, independent fire bits) for the flagship cascade.

    Runs the SAME quality_filter_pipeline as q56, then re-derives each
    gate's would-drop condition from the feature columns the pipeline
    already carries — robots is recovered from drop_reason (robots wins
    precedence, so drop_reason is a robots reason iff robots fired);
    the rest are evaluated independently of precedence so masked fires
    are visible. Thresholds are PipelineConfig defaults + gopher_keep's
    default mean-word-len/stopword bounds (plans/pipeline.py), the
    exact constants the q56 oracle inlines."""
    from fineweb_domain_analyzer_spark.operators.filtering import (
        REASON_KEPT as _KEPT,
    )
    from fineweb_domain_analyzer_spark.plans.pipeline import (
        REASON_CLASSIFIER,
        REASON_LANGUAGE,
        REASON_QUALITY,
        PipelineConfig,
        quality_filter_pipeline,
    )

    cfg = PipelineConfig(scrub=False)
    out = quality_filter_pipeline(
        pages_view(spark, sf_dir), policy_view(spark, sf_dir), cfg
    )
    non_robots = (_KEPT, REASON_LANGUAGE, REASON_QUALITY, REASON_CLASSIFIER)
    rules = {
        "robots": ~F.col("drop_reason").isin(*non_robots),
        "language": ~F.col("langid").isin(*cfg.allowed_langs),
        "word_count": ~F.col("word_count").between(
            cfg.min_words, cfg.max_words
        ),
        # gopher_keep defaults (operators/quality.py:171-174)
        "mean_word_len": ~F.col("mean_word_len").between(2.0, 12.0),
        "symbol_ratio": F.col("symbol_ratio") > cfg.max_symbol_ratio,
        "stopword_density": F.col("stopword_density") < 0.0,
        "repeat_ratio": F.col("max_word_repeat_ratio") > cfg.max_repeat_ratio,
    }
    return out, rules


def q101_rule_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — filter-cascade ablation audit: per rule, independent
    fire count + unique (marginal) drops over the flagship pipeline's
    gates, plus cascade denominators. operators/metrics.py:rule_ablation
    — fire-bit map stage + one 1-row partial agg + stack; zero extra
    shuffles at any corpus size."""
    from fineweb_domain_analyzer_spark.operators.metrics import rule_ablation

    df, rules = _pipeline_fire_rules(spark, sf_dir)
    return rule_ablation(df, rules)


def q102_rule_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENSION — pairwise co-fire matrix for the same rule set (a
    both_fire near min(fires) flags a nearly-subsumed rule)."""
    from fineweb_domain_analyzer_spark.operators.metrics import rule_overlap

    df, rules = _pipeline_fire_rules(spark, sf_dir)
    return rule_overlap(df, rules)


def _q101_sql() -> str:
    names = list(_ABLATION_BITS_SQL)
    bit_cols = ",\n         ".join(
        f"({e}) AS f_{n}" for n, e in _ABLATION_BITS_SQL.items()
    )
    nf = " + ".join(f"f_{n}::INT" for n in names)
    any_f = " OR ".join(f"f_{n}" for n in names)
    fire_sums = ",\n         ".join(
        f"coalesce(sum(f_{n}::BIGINT), 0) AS fires_{n},\n         "
        f"coalesce(sum((f_{n} AND ({nf}) = 1)::BIGINT), 0) AS uniq_{n}"
        for n in names
    )
    selects = "\nUNION ALL\n".join(
        f"SELECT '{n}' AS rule, fires_{n} AS fires, uniq_{n} AS unique_drops,\n"
        f"       total_docs, total_dropped FROM agg"
        for n in names
    )
    return (
        _q56_ctes()
        + f""",
bits AS (
  SELECT {bit_cols}
  FROM feats
),
agg AS MATERIALIZED (
  SELECT count(*) AS total_docs,
         coalesce(sum(({any_f})::BIGINT), 0) AS total_dropped,
         {fire_sums}
  FROM bits
)
{selects}
"""
    )


def _q102_sql() -> str:
    names = list(_ABLATION_BITS_SQL)
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i + 1 :]]
    bit_cols = ",\n         ".join(
        f"({e}) AS f_{n}" for n, e in _ABLATION_BITS_SQL.items()
    )
    sums = ",\n         ".join(
        f"coalesce(sum((f_{a} AND f_{b})::BIGINT), 0) AS b_{i}"
        for i, (a, b) in enumerate(pairs)
    )
    selects = "\nUNION ALL\n".join(
        f"SELECT '{a}' AS rule_a, '{b}' AS rule_b, b_{i} AS both_fire FROM agg"
        for i, (a, b) in enumerate(pairs)
    )
    return (
        _q56_ctes()
        + f""",
bits AS (
  SELECT {bit_cols}
  FROM feats
),
agg AS MATERIALIZED (
  SELECT {sums}
  FROM bits
)
{selects}
"""
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_revenue_by_nation": q02_revenue_by_nation,
    "q03_top_customers": q03_top_customers,
    "q04_window_top_events": q04_window_top_events,
    "q05_hourly_rollup": q05_hourly_rollup,
    "q06_sessionize": q06_sessionize,
    "q10_domain_extract": q10_domain_extract,
    "q11_domain_stats": q11_domain_stats,
    "q12_robots_filter": q12_robots_filter,
    "q13_quality_features": q13_quality_features,
    "q14_langid": q14_langid,
    "q15_pii_scrub": q15_pii_scrub,
    "q16_token_stats": q16_token_stats,
    "q17_fingerprint": q17_fingerprint,
    "q18_exact_dedup": q18_exact_dedup,
    "q19_minhash_signature": q19_minhash_signature,
    "q20_lsh_pairs": q20_lsh_pairs,
    "q21_ngram_jaccard": q21_ngram_jaccard,
    "q22_simhash": q22_simhash,
    "q23_unigram_perplexity": q23_unigram_perplexity,
    "q24_ann_brute_force": q24_ann_brute_force,
    "q25_ann_lsh": q25_ann_lsh,
    "q26_salted_domain_count": q26_salted_domain_count,
    "q27_media_meta": q27_media_meta,
    "q28_filter_stats": q28_filter_stats,
    "q29_drop_reason_histogram": q29_drop_reason_histogram,
    "q30_embedding_near_dups": q30_embedding_near_dups,
    "q31_c4_line_clean": q31_c4_line_clean,
    "q32_ann_ivf": q32_ann_ivf,
    "q33_domain_summary": q33_domain_summary,
    "q34_vocab_topk": q34_vocab_topk,
    "q35_length_histogram": q35_length_histogram,
    "q36_near_dedup": q36_near_dedup,
    "q37_dedup_clusters": q37_dedup_clusters,
    "q38_robots_policy": q38_robots_policy,
    "q39_bigram_perplexity": q39_bigram_perplexity,
    "q40_simhash_candidates": q40_simhash_candidates,
    "q41_dedup_keep_canonical": q41_dedup_keep_canonical,
    "q42_media_features": q42_media_features,
    "q43_embedding_near_dups_banded": q43_embedding_near_dups_banded,
    "q44_gopher_repetition": q44_gopher_repetition,
    "q45_url_canonicalize": q45_url_canonicalize,
    "q46_shared_ngrams": q46_shared_ngrams,
    "q47_quality_deciles": q47_quality_deciles,
    "q48_latest_snapshot": q48_latest_snapshot,
    "q49_stratified_sample": q49_stratified_sample,
    "q50_curation_funnel": q50_curation_funnel,
    "q51_paragraph_dedup": q51_paragraph_dedup,
    "q52_contamination": q52_contamination,
    "q53_url_features": q53_url_features,
    "q54_semantic_dedup": q54_semantic_dedup,
    "q55_domain_reputation": q55_domain_reputation,
    "q56_pipeline_labels": q56_pipeline_labels,
    "q57_quality_score": q57_quality_score,
    "q58_compression_ratio": q58_compression_ratio,
    "q59_token_budget_select": q59_token_budget_select,
    "q60_html_extract": q60_html_extract,
    "q61_exact_span_contamination": q61_exact_span_contamination,
    "q62_fasttext_bin_langid": q62_fasttext_bin_langid,
    "q63_arpa_perplexity": q63_arpa_perplexity,
    "q64_incremental_dedup": q64_incremental_dedup,
    "q65_domain_blocklist": q65_domain_blocklist,
    "q66_duplicated_spans": q66_duplicated_spans,
    "q67_remove_duplicated_spans": q67_remove_duplicated_spans,
    "q68_per_language_quality_cut": q68_per_language_quality_cut,
    "q69_sequence_packing": q69_sequence_packing,
    "q70_curation_capstone": q70_curation_capstone,
    "q71_paragraph_dedup_in_doc": q71_paragraph_dedup_in_doc,
    "q72_dsir_selection": q72_dsir_selection,
    "q73_domain_doc_cap": q73_domain_doc_cap,
    "q74_bloom_dedup": q74_bloom_dedup,
    "q75_bpe_tokenize": q75_bpe_tokenize,
    "q76_pixel_stats": q76_pixel_stats,
    "q77_audio_stats": q77_audio_stats,
    "q78_robots_path_enforcement": q78_robots_path_enforcement,
    "q79_recrawl_plan": q79_recrawl_plan,
    "q80_trained_quality_score": q80_trained_quality_score,
    "q81_classifier_eval": q81_classifier_eval,
    "q82_classifier_eval_by_lang": q82_classifier_eval_by_lang,
    "q83_classifier_calibration": q83_classifier_calibration,
    "q84_calibration_summary": q84_calibration_summary,
    "q85_threshold_sweep": q85_threshold_sweep,
    "q86_operating_point": q86_operating_point,
    "q87_language_drift": q87_language_drift,
    "q88_quality_drift": q88_quality_drift,
    "q89_drift_summary": q89_drift_summary,
    "q90_mixture_plan": q90_mixture_plan,
    "q91_mixture_summary": q91_mixture_summary,
    "q92_ccnet_split": q92_ccnet_split,
    "q93_token_chunks": q93_token_chunks,
    "q94_domain_boilerplate": q94_domain_boilerplate,
    "q95_domain_signature_terms": q95_domain_signature_terms,
    "q96_embedding_outliers": q96_embedding_outliers,
    "q97_host_graph": q97_host_graph,
    "q98_pagerank": q98_pagerank,
    "q99_text_normalize": q99_text_normalize,
    "q100_deterministic_shuffle": q100_deterministic_shuffle,
    "q101_rule_ablation": q101_rule_ablation,
    "q102_rule_overlap": q102_rule_overlap,
    "q103_page_type": q103_page_type,
    "q104_doc_shape": q104_doc_shape,
    "q105_outlink_graph": q105_outlink_graph,
    "q106_lang_consistency": q106_lang_consistency,
    "q107_data_card": q107_data_card,
    "q108_anchor_text": q108_anchor_text,
    "q109_sitemaps": q109_sitemaps,
    "q110_page_metadata": q110_page_metadata,
    "q111_mojibake_repair": q111_mojibake_repair,
    "q112_surt_keys": q112_surt_keys,
    "q113_rfc9309_match": q113_rfc9309_match,
    "q114_best_of_cluster": q114_best_of_cluster,
}


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": Q01_SQL,
        "q02_revenue_by_nation": Q02_SQL,
        "q03_top_customers": Q03_SQL,
        "q04_window_top_events": Q04_SQL,
        "q05_hourly_rollup": Q05_SQL,
        "q06_sessionize": Q06_SQL,
        "q10_domain_extract": Q10_SQL,
        "q11_domain_stats": Q11_SQL,
        "q12_robots_filter": Q12_SQL,
        "q13_quality_features": Q13_SQL,
        "q14_langid": _langid_sql(),
        "q15_pii_scrub": Q15_SQL,
        "q16_token_stats": Q16_SQL,
        "q17_fingerprint": Q17_SQL,
        "q18_exact_dedup": Q18_SQL,
        "q19_minhash_signature": Q19_SQL,
        "q20_lsh_pairs": Q20_SQL,
        "q21_ngram_jaccard": Q21_SQL,
        "q22_simhash": _simhash_sql(),
        "q23_unigram_perplexity": Q23_SQL,
        "q24_ann_brute_force": Q24_SQL,
        "q25_ann_lsh": Q25_SQL,
        "q26_salted_domain_count": Q26_SQL,
        "q27_media_meta": Q27_SQL,
        "q28_filter_stats": Q28_SQL,
        "q29_drop_reason_histogram": Q29_SQL,
        "q30_embedding_near_dups": Q30_SQL,
        "q31_c4_line_clean": Q31_SQL,
        "q32_ann_ivf": Q32_SQL,
        "q33_domain_summary": Q33_SQL,
        "q34_vocab_topk": Q34_SQL,
        "q35_length_histogram": Q35_SQL,
        "q36_near_dedup": Q36_SQL,
        "q37_dedup_clusters": Q37_SQL,
        "q38_robots_policy": Q38_SQL,
        "q39_bigram_perplexity": Q39_SQL,
        "q40_simhash_candidates": _q40_sql(),
        "q41_dedup_keep_canonical": Q41_SQL,
        "q42_media_features": Q42_SQL,
        "q43_embedding_near_dups_banded": Q43_SQL,
        "q44_gopher_repetition": Q44_SQL,
        "q45_url_canonicalize": Q45_SQL,
        "q46_shared_ngrams": Q46_SQL,
        "q47_quality_deciles": Q47_SQL,
        "q48_latest_snapshot": Q48_SQL,
        "q49_stratified_sample": Q49_SQL,
        "q50_curation_funnel": Q50_SQL,
        "q51_paragraph_dedup": Q51_SQL,
        "q52_contamination": Q52_SQL,
        "q53_url_features": Q53_SQL,
        "q54_semantic_dedup": Q54_SQL,
        "q55_domain_reputation": Q55_SQL,
        "q56_pipeline_labels": _q56_sql(),
        "q57_quality_score": Q57_SQL,
        # q58 deliberately absent: zlib is not SQL-expressible (driver
        # records the rows-only check; unit test covers values)
        "q59_token_budget_select": Q59_SQL,
        "q60_html_extract": _q60_sql(),
        "q61_exact_span_contamination": Q61_SQL,
        "q62_fasttext_bin_langid": _q62_sql(),
        "q63_arpa_perplexity": _q63_sql(),
        "q64_incremental_dedup": Q64_SQL,
        "q65_domain_blocklist": Q65_SQL,
        "q66_duplicated_spans": Q66_SQL,
        "q67_remove_duplicated_spans": Q67_SQL,
        "q68_per_language_quality_cut": Q68_SQL,
        "q69_sequence_packing": Q69_SQL,
        "q70_curation_capstone": Q70_SQL,
        "q71_paragraph_dedup_in_doc": Q71_SQL,
        "q72_dsir_selection": Q72_SQL,
        "q73_domain_doc_cap": Q73_SQL,
        "q74_bloom_dedup": Q74_SQL,
        "q75_bpe_tokenize": Q75_SQL,
        "q76_pixel_stats": Q76_SQL,
        "q77_audio_stats": Q77_SQL,
        "q78_robots_path_enforcement": Q78_SQL,
        "q79_recrawl_plan": Q79_SQL,
        "q80_trained_quality_score": _q80_sql(),
        "q81_classifier_eval": _q81_sql(),
        "q82_classifier_eval_by_lang": _q82_sql(),
        "q83_classifier_calibration": _q83_sql(),
        "q84_calibration_summary": _q84_sql(),
        "q85_threshold_sweep": _q85_sql(),
        "q86_operating_point": _q86_sql(),
        "q87_language_drift": _q87_sql(),
        "q88_quality_drift": _q88_sql(),
        "q89_drift_summary": _q89_sql(),
        "q90_mixture_plan": _q90_sql(),
        "q91_mixture_summary": _q91_sql(),
        "q92_ccnet_split": _q92_sql(),
        "q93_token_chunks": _q93_sql(),
        "q94_domain_boilerplate": Q94_SQL,
        "q95_domain_signature_terms": Q95_SQL,
        "q96_embedding_outliers": Q96_SQL,
        "q97_host_graph": Q97_SQL,
        "q98_pagerank": _q98_sql(),
        "q99_text_normalize": _q99_sql(),
        "q100_deterministic_shuffle": Q100_SQL,
        "q101_rule_ablation": _q101_sql(),
        "q102_rule_overlap": _q102_sql(),
        "q103_page_type": _q103_sql(),
        "q104_doc_shape": _q104_sql(),
        "q105_outlink_graph": Q105_SQL,
        "q106_lang_consistency": _q106_sql(),
        "q107_data_card": _q107_sql(),
        "q108_anchor_text": Q108_SQL,
        "q109_sitemaps": Q109_SQL,
        "q110_page_metadata": Q110_SQL,
        "q111_mojibake_repair": _q111_sql(),
        "q112_surt_keys": Q112_SQL,
        "q113_rfc9309_match": Q113_SQL,
        "q114_best_of_cluster": _q114_sql(),
    }
