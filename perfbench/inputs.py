"""Seeded benchmark inputs, cached by seed and size.

The pages corpus wraps ``sources.pages.synth_pages`` and
``synth_policy_for_domains`` and rewrites a deterministic share of rows
so that every drop reason of the flagship plan fires and document
length has a long tail:

* ~1.5% short docs (< 5 words), ~1% symbol-heavy docs and ~1%
  single-word repeats: quality drops that still pass language ID;
* ~2% Cyrillic docs: language drops (``unk`` is not an allowed
  language);
* ~0.5% scheme-less urls: ``bad_url`` drops;
* ~1% docs repeated 8-39 times: the long tail of document length.

Robots drops come from the synthetic policy (every 7th covered domain
is denied, the Zipf head domain included).  Every rewrite keys on a
hash of the url and the seed, so the same (seed, size) gives the same
rows on any partitioning.

A cache directory is complete only once its ``_SUCCESS`` marker exists;
a partial directory left by a killed run is rebuilt.

    python3 perfbench/inputs.py --seed 1 --docs 12000

prints the measured profile (drop-reason shares, text-missing share,
doc-length quartiles) of one corpus.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
from pathlib import Path

N_DOMAINS = 2000
# robots.txt bodies for the reference CLI's offline check_robots
_ROBOTS_DENY_ALL = "User-agent: *\nDisallow: /\n"
_ROBOTS_PRIVATE = "User-agent: *\nDisallow: /private/\nCrawl-delay: 2\n"
_CYRILLIC = "привет мир это тест документ на русском языке без стоп слов"


def _complete(d: Path) -> bool:
    return (d / "_SUCCESS").exists()


def _reset(d: Path) -> None:
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)


def bench_pages(spark, n_docs: int, seed: int):
    """pages(url, warc_ts, html, text, lang) with every drop reason firing."""
    from pyspark.sql import functions as F

    from fineweb_domain_analyzer_spark.sources.pages import synth_pages

    pages = synth_pages(spark, n_docs, n_domains=N_DOMAINS, seed=seed)
    g = F.abs(F.xxhash64(F.col("url"), F.lit(seed + 1)))
    kind = g % 1000
    # the long tail sits every 100th id, so each input partition (and
    # each WARC shard) carries the same share of it and no single task
    # straggles on a seed-dependent pile of long docs
    doc_id = F.regexp_extract(F.col("url"), r"/p/([0-9]+)$", 1).cast("long")
    long_doc = (doc_id + seed) % 100 == 0
    repeats = 8 + (F.floor(doc_id / 100) * 7) % 32
    # text-missing rows carry their text as html plus a 3-byte invalid tail
    text = F.coalesce(
        F.col("text"), F.expr("decode(substring(html, 1, length(html) - 3), 'UTF-8')")
    )
    new_text = (
        F.when(kind < 15, F.lit("the of and"))
        .when(kind < 25, F.concat(F.lit("the "), F.repeat(F.lit("$$ ## %% && "), 12)))
        .when(kind < 35, F.repeat(F.lit("the "), 60))
        .when(kind < 55, F.lit(_CYRILLIC))
        .when(long_doc, F.repeat(F.concat(text, F.lit(" ")), repeats.cast("int")))
        .otherwise(text)
    )
    missing = F.col("text").isNull()
    html = F.when(
        missing, F.concat(F.encode(new_text, "utf-8"), F.unhex(F.lit("FFFE80")))
    ).otherwise(F.encode(new_text, "utf-8"))
    url = F.when(
        (kind >= 55) & (kind < 60), F.concat(F.lit("not-a-url-"), g.cast("string"))
    ).otherwise(F.col("url"))
    return pages.select(
        url.alias("url"),
        "warc_ts",
        html.alias("html"),
        F.when(missing, F.lit(None).cast("string")).otherwise(new_text).alias("text"),
        F.when((kind >= 35) & (kind < 55), F.lit("ru")).otherwise(F.col("lang")).alias("lang"),
    )


def pages_profile(spark, d: Path) -> dict:
    """Drop-reason shares of the flagship plan, text-missing share and
    doc-length (word) quartiles of one cached corpus."""
    import statistics

    from pyspark.sql import functions as F

    from fineweb_domain_analyzer_spark.plans.pipeline import quality_filter_pipeline

    pages = spark.read.parquet(str(d / "pages")).withColumn("_missing", F.col("text").isNull())
    labeled = quality_filter_pipeline(pages, spark.read.parquet(str(d / "policy")))
    rows = labeled.select("drop_reason", "_missing", "word_count").collect()
    n = len(rows)
    words = [r["word_count"] for r in rows]
    hist: dict[str, int] = {}
    for r in rows:
        hist[r["drop_reason"]] = hist.get(r["drop_reason"], 0) + 1
    return {
        "docs": n,
        "drop_reason_share": {k: round(v / n, 4) for k, v in sorted(hist.items())},
        "text_missing_share": round(sum(r["_missing"] for r in rows) / n, 4),
        "word_count_quartiles": statistics.quantiles(words, n=4),
        "word_count_p99_max": [statistics.quantiles(words, n=100)[98], max(words)],
    }


def prepare_pages(spark, cache: Path, n_docs: int, seed: int) -> Path:
    """Cached pages + policy parquet; returns the dir.  ``meta.json``
    holds the row count and the rows that ship text only as html."""
    from pyspark.sql import functions as F

    from fineweb_domain_analyzer_spark.sources.pages import synth_policy_for_domains

    d = cache / f"pages-s{seed}-n{n_docs}"
    if _complete(d):
        return d
    _reset(d)
    bench_pages(spark, n_docs, seed).write.parquet(str(d / "pages"))
    synth_policy_for_domains(spark, N_DOMAINS).write.parquet(str(d / "policy"))
    row = (
        spark.read.parquet(str(d / "pages"))
        .agg(F.count(F.lit(1)).alias("docs"), F.count_if(F.col("text").isNull()).alias("missing"))
        .collect()[0]
    )
    meta = {"docs": row["docs"], "text_missing_rows": row["missing"]}
    (d / "meta.json").write_text(json.dumps(meta))
    (d / "_SUCCESS").touch()
    return d


def load_meta(d: Path) -> dict:
    return json.loads((d / "meta.json").read_text())


def _warc_record(rec_type: str, url: str, date: str, block: bytes) -> bytes:
    head = (
        f"WARC/1.0\r\nWARC-Type: {rec_type}\r\nWARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\nContent-Length: {len(block)}\r\n\r\n"
    ).encode()
    return head + block + b"\r\n\r\n"


def robots_content_map(seed: int) -> dict[str, str]:
    """Seeded robots.txt bodies: some domains deny all, some deny a
    path prefix only, the rest have no robots.txt (allowed)."""
    out = {}
    for i in range(N_DOMAINS):
        r = (i * 2654435761 + seed) % 10
        body = _ROBOTS_DENY_ALL if r == 0 else _ROBOTS_PRIVATE if r < 3 else None
        if body is not None:
            out[f"host{i}.example.com"] = body
            out[f"host{i}.example.com:8080"] = body
    return out


def prepare_warc(spark, cache: Path, n_docs: int, seed: int, shards: int) -> Path:
    """gzip WARC shards (one per core) from the seed's pages, plus the
    robots-content map; response records interleave with request
    records the converter must skip."""
    d = cache / f"warc-s{seed}-n{n_docs}-k{shards}"
    if _complete(d):
        return d
    pages_dir = prepare_pages(spark, cache, n_docs, seed)
    _reset(d)
    rows = (
        spark.read.parquet(str(pages_dir / "pages"))
        .selectExpr("url", "date_format(warc_ts, \"yyyy-MM-dd'T'HH:mm:ss'Z'\") AS ts", "html")
        .toPandas()
        .to_dict("records")
    )
    shard_dir = d / "shards.warc"
    shard_dir.mkdir()
    outs = [gzip.open(shard_dir / f"part-{k:04d}.warc.gz", "wb", compresslevel=1) for k in range(shards)]
    try:
        for i, r in enumerate(rows):  # contiguous blocks: equal long-tail share per shard
            http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + bytes(r["html"])
            f = outs[i * shards // len(rows)]
            if i % 50 == 0:
                f.write(_warc_record("request", r["url"], r["ts"], b"GET / HTTP/1.1\r\n\r\n"))
            f.write(_warc_record("response", r["url"], r["ts"], http))
    finally:
        for f in outs:
            f.close()
    (d / "robots_content.json").write_text(json.dumps(robots_content_map(seed)))
    (d / "meta.json").write_text(json.dumps({"records": len(rows), "shards": shards}))
    (d / "_SUCCESS").touch()
    return d


if __name__ == "__main__":
    import argparse

    import sessions

    ap = argparse.ArgumentParser(description="print the profile of one benchmark corpus")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--docs", type=int, default=12000)
    a = ap.parse_args()
    work = sessions.work_dir()
    spark = sessions.start(work, os.cpu_count() or 1)
    try:
        d = prepare_pages(spark, work / "cache", a.docs, a.seed)
        print(json.dumps(pages_profile(spark, d), indent=1))
    finally:
        spark.stop()
