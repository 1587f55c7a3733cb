"""URL canonicalization — collapse crawl-variant URLs to one key.

A web corpus sees the same page under many spellings: scheme/host case,
default ports, fragments, tracking parameters, shuffled query order,
trailing slashes. Exact dedup on the raw url misses all of them;
canonicalizing first is the standard pre-pass (it is how Common-Crawl
style pipelines key their URL-level dedup, and it composes with the
content-level dedup family in operators/dedup.py).

The reference has no URL normalization (its domain extraction,
/root/reference/fineweb_analyzer.py:128-152, keeps the port and strips
only ``www.`` — that quirk lives in functions/domains.py, NOT here);
this is north-rule/pipeline surface, so the rules are chosen for
production sense and documented exactly:

1. scheme and authority (host[:port]) lowercase
2. fragment stripped
3. default port stripped (``:443`` for https, ``:80`` for http);
   non-default ports KEPT (parity with the reference's domain quirk)
4. query params: drop ``utm_``-prefixed trackers, sort the rest
   byte-lexicographically, drop the ``?`` when none survive
5. trailing ``/`` stripped from the path (so ``/a/`` ≡ ``/a`` and a
   bare authority ≡ authority + ``/``)

Everything is built-in string/array expressions — no UDF, fully inside
whole-stage codegen; at 100 TB this canonicalization is a free rider on
the scan. The DuckDB oracle (queries.py q45) mirrors each rule with
DuckDB's string/list functions — independent implementation, equal
values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SCHEME_RE = r"^([^:/?#]+)://"
_AUTH_RE = r"^[^:/?#]+://([^/?#]*)"
_TAIL_RE = r"^[^:/?#]+://[^/?#]*([^#]*)"  # path+query, fragment excluded


def canonicalize_url(url: Column) -> Column:
    """Canonical form of ``url`` per the module rules; null-safe
    (null/unparseable → null, so bad rows don't silently collide on
    an empty canonical key)."""
    scheme = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    auth = F.lower(F.regexp_extract(url, _AUTH_RE, 1))
    auth = F.when(scheme == "https", F.regexp_replace(auth, ":443$", "")).otherwise(
        F.when(scheme == "http", F.regexp_replace(auth, ":80$", "")).otherwise(auth)
    )
    tail = F.regexp_extract(url, _TAIL_RE, 1)
    path = F.regexp_replace(F.regexp_extract(tail, r"^([^?]*)", 1), r"/$", "")
    query = F.regexp_extract(tail, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (F.length(p) > 0) & ~p.startswith("utm_"),
        )
    )
    qs = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.when(
        scheme != "", F.concat(scheme, F.lit("://"), auth, path, qs)
    )  # no scheme → null


def with_canonical_url(
    df: DataFrame, url_col: str = "url", out_col: str = "canonical_url"
) -> DataFrame:
    return df.withColumn(out_col, canonicalize_url(F.col(url_col)))


def canonical_url_dedup(
    df: DataFrame, url_col: str = "url", order_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Keep one row per canonical URL (first by ``order_cols``, then by
    the raw url for a total deterministic order). Same keep-first
    window shape as operators/dedup.py:exact_dedup_keep_first — one
    shuffle on the canonical key, state bounded at 1 row per group.

    Unparseable URLs canonicalize to null; those must NOT collide into
    one group (they are distinct pages whose URL merely failed to
    parse), so the window keys on ``coalesce(canonical_url, url)`` —
    each null-keyed row keeps its raw url as its own group key."""
    from pyspark.sql.window import Window

    df = with_canonical_url(df, url_col)
    w = Window.partitionBy(
        F.coalesce(F.col("canonical_url"), F.col(url_col))
    ).orderBy(*[F.col(c) for c in order_cols], F.col(url_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --- URL spam features (FineWeb-style URL filtering, stage 1) --------------

SPAM_KEYWORDS = ("porn", "xxx", "casino", "viagra", "escort", "gambling")


def with_url_features(df, url_col: str = "url", prefix: str = "url_"):
    """FineWeb-style URL heuristics — the cheapest filter stage in a
    web pipeline runs BEFORE fetching/parsing the body, on the URL
    alone: deep paths, long hosts with many digits, subdomain farms
    and keyword-bearing URLs are spam-correlated. Emits
    ``{prefix}{path_depth,n_params,host_parts,digit_frac,len,spam_kw,
    suspect}``.

    All built-in regexp/array expressions (one staged projection for
    the parsed parts, so each regexp runs once) — no UDF, fully inside
    whole-stage codegen: at 100 TB this is a free rider on the scan,
    which is exactly why URL filtering goes first.
    """
    url = F.col(url_col)
    df = df.withColumn("_uf_auth", F.lower(F.regexp_extract(url, r"^[a-zA-Z]+://([^/?#]+)", 1)))
    df = df.withColumn("_uf_host", F.split(F.col("_uf_auth"), ":")[0])
    df = df.withColumn(
        "_uf_path", F.regexp_extract(url, r"^[a-zA-Z]+://[^/?#]+(/[^?#]*)", 1)
    )
    df = df.withColumn("_uf_query", F.regexp_extract(url, r"\?([^#]*)", 1))
    host = F.col("_uf_host")
    kw = F.lit(False)
    for w in SPAM_KEYWORDS:
        kw = kw | F.lower(url).contains(w)
    feats = {
        "path_depth": F.size(
            F.filter(F.split(F.col("_uf_path"), "/"), lambda s: s != "")
        ).cast("bigint"),
        "n_params": F.when(F.col("_uf_query") == "", F.lit(0))
        .otherwise(F.size(F.split(F.col("_uf_query"), "&")))
        .cast("bigint"),
        "host_parts": F.size(F.split(host, r"\.")).cast("bigint"),
        "digit_frac": F.round(
            (F.length(host) - F.length(F.regexp_replace(host, r"[0-9]", "")))
            / F.greatest(F.length(host), F.lit(1)),
            4,
        ),
        "len": F.length(url).cast("bigint"),
        "spam_kw": kw,
    }
    for name, col in feats.items():
        df = df.withColumn(prefix + name, col)
    df = df.withColumn(
        prefix + "suspect",
        F.col(prefix + "spam_kw")
        | (F.col(prefix + "digit_frac") > 0.3)
        | (F.col(prefix + "host_parts") > 4)
        | (F.col(prefix + "path_depth") > 8),
    )
    return df.drop("_uf_auth", "_uf_host", "_uf_path", "_uf_query")


def surt_key(url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) sort key — the
    Common Crawl / Wayback convention: reversed, comma-joined host
    labels + ')' + path, e.g. ``https://sub.example.com:8080/a/b`` →
    ``com,example,sub)/a/b``.  Lexicographic order then co-locates a
    site with all its subdomains — the layout key for site-local
    sorting/sharding of a crawl (port and scheme dropped, host
    lowercased; query strings ride with the path, and a url with no path
    gets ``/``, so ``https://example.com?q=1`` → ``com,example)/?q=1``).

    Pure codegen: netloc regex → port strip → split/reverse/join.
    Invalid/scheme-less urls (empty netloc) yield NULL so callers can
    route them to a quarantine shard rather than sorting them as ''.
    """
    netloc = F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
    host = F.split(netloc, ":")[0]
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    raw_path = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)", 1)
    # the path part always starts with '/': '' → '/', '?q=1' → '/?q=1'
    path = F.when(raw_path.startswith("/"), raw_path).otherwise(
        F.concat(F.lit("/"), raw_path)
    )
    return F.when(host == "", F.lit(None).cast("string")).otherwise(
        F.concat(rev, F.lit(")"), path)
    )
