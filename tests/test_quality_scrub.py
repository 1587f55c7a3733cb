"""Quality heuristics, langid, perplexity, PII/toxicity scrub tests."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.functions.scrub import (
    DEFAULT_TOXICITY_TERMS,
    EMAIL_RE,
    EMAIL_TOKEN,
    IP_TOKEN,
    IPV4_RE,
    PHONE_RE,
    PHONE_TOKEN,
    TOX_TOKEN,
    scrub_all,
    scrub_pii,
    toxicity_pattern,
)
from fineweb_domain_analyzer_spark.functions.textfns import (
    bpe_ish_token_count,
    cjk_char_count,
    content_fingerprint,
    exact_fingerprint,
    langid_heuristic,
    with_langid,
    ws_token_count,
)
from fineweb_domain_analyzer_spark.operators.quality import (
    fasttext_like_langid_udf,
    gopher_keep,
    kenlm_like_perplexity_udf,
    perplexity_bits_py,
    unigram_perplexity,
    with_quality_features,
)


def _one(spark, text):
    return spark.createDataFrame([(text,)], ["text"])


def test_quality_features_basic(spark):
    df = with_quality_features(_one(spark, "the cat sat on the mat"))
    r = df.collect()[0]
    assert r["word_count"] == 6
    assert r["mean_word_len"] == round((3 + 3 + 3 + 2 + 3 + 3) / 6, 4)
    assert r["symbol_ratio"] == 0.0
    assert r["stopword_density"] == round(2 / 6, 4)  # 'the' twice
    assert r["max_word_repeat_ratio"] == round(2 / 6, 4)


def test_quality_features_symbols_and_repeats(spark):
    r = with_quality_features(_one(spark, "$$$ %%% spam spam spam spam")).collect()[0]
    assert r["symbol_ratio"] > 0.2
    assert r["max_word_repeat_ratio"] == round(4 / 6, 4)


def test_quality_features_empty(spark):
    r = with_quality_features(_one(spark, "")).collect()[0]
    assert r["word_count"] == 0
    assert r["max_word_repeat_ratio"] == 0.0


def test_gopher_keep(spark):
    good = "word " * 60 + "the of and to in is it that for with"
    df = with_quality_features(
        spark.createDataFrame([(1, good), (2, "too short"), (3, "$$$ " * 80)], ["id", "text"])
    )
    rows = {
        r["id"]: r["keep"]
        for r in df.withColumn(
            "keep",
            gopher_keep(
                F.col("word_count"),
                F.col("mean_word_len"),
                F.col("symbol_ratio"),
                F.col("stopword_density"),
                F.col("max_word_repeat_ratio"),
                max_repeat_ratio=0.9,
            ),
        ).collect()
    }
    assert rows[1] is True
    assert rows[2] is False  # too few words
    assert rows[3] is False  # symbols


def test_langid_heuristic(spark):
    rows = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is warm"),
            (2, "der hund ist nicht das problem und alles ist gut"),
            (3, "le chat est dans la maison et les oiseaux"),
            (4, "el gato es de los parques para que vea"),
            (5, "這是一段中文文本 裡面有很多漢字 用來測試語言識別"),
            (6, "zzz qqq xxx"),
        ],
        ["id", "text"],
    ).withColumn("lid", langid_heuristic(F.col("text")))
    got = {r["id"]: r["lid"] for r in rows.collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "fr"
    assert got[4] == "es"
    assert got[5] == "zh"
    assert got[6] == "unk"


def test_fasttext_like_udf(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of the house to play"), (2, "這是中文的一段長文字內容測試")],
        ["id", "text"],
    ).withColumn("lid", fasttext_like_langid_udf(F.col("text")))
    got = {r["id"]: r["lid"] for r in df.collect()}
    assert got[1] == "en"
    assert got[2] == "zh"


def test_kenlm_like_udf_deterministic(spark):
    txt = "some stable text for perplexity"
    df = _one(spark, txt).withColumn("ppl", kenlm_like_perplexity_udf(F.col("text")))
    assert df.collect()[0]["ppl"] == perplexity_bits_py(txt)


def test_unigram_perplexity(spark):
    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a a b c")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["perplexity"] for r in unigram_perplexity(docs).collect()}
    # doc 1 is all high-probability tokens → lower perplexity than doc 2
    assert got[1] < got[2]
    # exact: p(a)=6/8, p(b)=p(c)=1/8 → ppl1 = 8/6; ppl2 = 2^(avg nll)
    assert abs(got[1] - 8 / 6) < 1e-3


def test_scrub_pii(spark):
    text = "mail a.b@example.com or call (860) 649-7922 from 23.224.4.59 now"
    out = _one(spark, text).select(scrub_pii(F.col("text")).alias("t")).collect()[0]["t"]
    assert EMAIL_TOKEN in out and PHONE_TOKEN in out and IP_TOKEN in out
    assert "example.com" not in out and "860" not in out and "23.224" not in out


def test_scrub_idempotent(spark):
    text = "x a.b@example.com y 10.0.0.1 z badword1 860-649-7922"
    df = _one(spark, text)
    once = df.select(scrub_all(F.col("text")).alias("t"))
    twice = once.select(scrub_all(F.col("t")).alias("t"))
    assert once.collect()[0]["t"] == twice.collect()[0]["t"]
    assert TOX_TOKEN in once.collect()[0]["t"]


def test_scrub_preserves_clean_text(spark):
    text = "perfectly clean prose with no identifiers at all"
    out = _one(spark, text).select(scrub_all(F.col("text")).alias("t")).collect()[0]["t"]
    assert out == text


def test_token_counts(spark):
    df = _one(spark, "hello, world! x2")
    r = df.select(
        ws_token_count(F.col("text")).alias("ws"),
        bpe_ish_token_count(F.col("text")).alias("bpe"),
    ).collect()[0]
    assert r["ws"] == 3
    # hello , world ! x 2 → 6
    assert r["bpe"] == 6


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [(1, "b a c"), (2, "a b c"), (3, "a b d")], ["id", "text"]
    )
    rows = df.select(
        "id",
        content_fingerprint(F.col("text")).alias("cf"),
        exact_fingerprint(F.col("text")).alias("ef"),
    ).collect()
    got = {r["id"]: r for r in rows}
    assert got[1]["cf"] == got[2]["cf"]  # order-insensitive
    assert got[1]["cf"] != got[3]["cf"]
    assert got[1]["ef"] != got[2]["ef"]  # byte-exact differs


def test_scrub_randomized_postcondition(spark):
    """After scrub_all, no PII pattern may match anywhere in any output
    (the patterns are in the Java∩RE2∩Python-re subset, so Python's re
    verifies the Spark-side result)."""
    import random
    import re

    from fineweb_domain_analyzer_spark.functions.scrub import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
        scrub_all,
    )

    rng = random.Random(4242)
    words = "alpha beta gamma delta ip mail call dot com net org 12 345".split()
    rows = []
    for i in range(300):
        base = " ".join(rng.choices(words, k=rng.randint(0, 25)))
        pii = rng.choice(
            [
                f" user{i}@mail-{i}.example.org ",
                f" ({rng.randint(200, 999)}) {rng.randint(200, 999)}-{rng.randint(1000, 9999)} ",
                f" {rng.randint(1, 255)}.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(0, 255)} ",
                " badword1 ",
                "",
            ]
        )
        pos = rng.randint(0, max(len(base), 1))
        rows.append((i, base[:pos] + pii + base[pos:]))
    df = spark.createDataFrame(rows, ["i", "text"])
    out = df.select("i", scrub_all(F.col("text")).alias("s")).collect()
    for pat in (EMAIL_RE, PHONE_RE, IPV4_RE, r"\bbadword1\b"):
        rx = re.compile(pat)
        for r in out:
            assert not rx.search(r["s"]), (pat, r["s"])


def test_bigram_perplexity_properties(spark):
    """Deterministic repeated text has perplexity 1 (every bigram fully
    predictable); mixed corpus yields ppl > 1; <2-token docs excluded."""
    from fineweb_domain_analyzer_spark.operators.quality import bigram_perplexity

    df = spark.createDataFrame(
        [
            (1, "a b a b a b a b"),
            (2, "x y z w q r s t"),
            (3, "solo"),
            (4, "x z y w r q t s"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["bigram_perplexity"] for r in bigram_perplexity(df).collect()}
    assert 3 not in got  # no bigrams
    assert got[1] == 1.0  # fully predictable
    assert got[2] > 1.0 and got[4] > 1.0


def test_perplexity_broadcast_switch_same_values(spark):
    """broadcast_lm=False (the web-scale path — a full-corpus vocab /
    bigram table won't fit an executor broadcast) must produce the
    same scores via shuffle joins, and its static plan must not hint
    a broadcast of the LM (SortMergeJoin on the scoring join)."""
    from fineweb_domain_analyzer_spark.operators.quality import (
        bigram_perplexity,
        unigram_perplexity,
    )

    df = spark.createDataFrame(
        [(i, f"the cat sat on mat number {i % 5} again and again") for i in range(40)],
        ["doc_id", "text"],
    )
    for op, col in (
        (unigram_perplexity, "perplexity"),
        (bigram_perplexity, "bigram_perplexity"),
    ):
        bcast = {r["doc_id"]: r[col] for r in op(df, broadcast_lm=True).collect()}
        shuf_df = op(df, broadcast_lm=False)
        shuf = {r["doc_id"]: r[col] for r in shuf_df.collect()}
        assert bcast == shuf, op.__name__
        plan = shuf_df._sc._jvm.PythonSQLUtils.explainString(
            shuf_df._jdf.queryExecution(), "extended"
        )
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, op.__name__


def test_langid_monster_doc_no_packed_overflow(spark):
    """Docs at or past the 32,768-token fast-path guard must take the
    per-language fallback path. Two distinct hazards (ADVICE r2):
    field carry (packed 16-bit counter wraps into the neighbor field)
    and ANSI long overflow — 33k hits on the TOP language's field
    ('es', bits 48-63) pushes the packed sum past 2^63, which under
    Spark 4's default ANSI mode throws at COMPUTE time, so the packed
    aggregate must be gated inside the CaseWhen, not just unread."""
    from fineweb_domain_analyzer_spark.functions.textfns import with_langid

    rows = [
        ("carry", ("the " * 70_000).strip(), "en"),
        # 'el' is an es stopword; 33k hits lands in the top packed field
        ("ansi-overflow", ("el " * 33_000).strip(), "es"),
        # largest doc still on the fast path, all hits in the top field
        ("fast-edge", ("el " * 32_767).strip(), "es"),
    ]
    df = spark.createDataFrame(rows, "url string, text string, want string")
    for r in with_langid(df).collect():
        assert r["langid"] == r["want"], r["url"]


def test_model_artifact_pluggability(spark, tmp_path):
    """VERDICT r2 item 8: swap the stand-in scorers for real artifact
    files through the loader contract WITHOUT touching any plan code.
    JSON table-stub artifacts ship via register_model_artifact
    (sparkContext.addFile — the real-cluster mechanism) and the same
    UDF column expressions pick them up; deleting the artifact from the
    SparkFiles root reverts reused workers to the heuristic (the model
    cache is keyed by (name, artifact path))."""
    import json
    import os

    from pyspark import SparkFiles

    from fineweb_domain_analyzer_spark.operators.quality import (
        artifact_basename,
        register_model_artifact,
    )

    df = spark.createDataFrame(
        [(1, "the cat and the dog of the house"), (2, "mystery words")],
        ["id", "text"],
    )
    lid_col = fasttext_like_langid_udf(F.col("text")).alias("lid")
    ppl_col = kenlm_like_perplexity_udf(F.col("text")).alias("ppl")

    # baseline: heuristic backend
    base = {r["id"]: (r["lid"], r["ppl"]) for r in df.select("id", lid_col, ppl_col).collect()}
    assert base[1][0] == "en"
    assert base[2][1] == perplexity_bits_py("mystery words")

    # inject artifacts honoring the loader contract
    lang_art = tmp_path / "langid.json"
    lang_art.write_text(json.dumps({
        "kind": "table-langid",
        "table": {"the cat and the dog of the house": "xx"},
        "default": "yy",
    }))
    ppl_art = tmp_path / "ppl.json"
    ppl_art.write_text(json.dumps({
        "kind": "table-perplexity",
        "scores": {"mystery words": 42.5},
        "default": 7.0,
    }))
    register_model_artifact(spark, "langid", str(lang_art))
    register_model_artifact(spark, "kenlm", str(ppl_art))
    try:
        got = {r["id"]: (r["lid"], r["ppl"]) for r in df.select("id", lid_col, ppl_col).collect()}
        # identical plan, swapped backend
        assert got[1] == ("xx", 7.0)
        assert got[2] == ("yy", 42.5)
    finally:
        # local-mode cleanup: removing the staged file reverts workers
        # (they re-probe the SparkFiles root every batch)
        for name in ("langid", "kenlm"):
            p = os.path.join(SparkFiles.getRootDirectory(), artifact_basename(name))
            if os.path.exists(p):
                os.remove(p)

    back = {r["id"]: (r["lid"], r["ppl"]) for r in df.select("id", lid_col, ppl_col).collect()}
    assert back == base


class TestQualityScoreAndBudget:
    def test_logistic_score_hand_computed(self, spark):
        import math

        from fineweb_domain_analyzer_spark.operators.quality import (
            with_quality_features,
            with_quality_score,
        )

        df = spark.createDataFrame(
            [(1, "the cat sat on the mat with a hat that fit")],
            "doc_id long, text string",
        )
        row = with_quality_score(with_quality_features(df)).collect()[0]
        z = (
            -1.0
            + 0.8 * math.log1p(row["word_count"])
            + 0.3 * row["mean_word_len"]
            - 4.0 * row["symbol_ratio"]
            + 6.0 * row["stopword_density"]
            - 3.0 * row["max_word_repeat_ratio"]
        )
        assert row["quality_score"] == round(1.0 / (1.0 + math.exp(-z)), 4)

    def test_budget_greedy_cut(self, spark):
        from pyspark.sql import functions as F

        from fineweb_domain_analyzer_spark.operators.quality import (
            select_within_token_budget,
        )

        rows = [  # (doc_id, score, tokens)
            (1, 0.9, 40), (2, 0.8, 50), (3, 0.8, 30), (4, 0.5, 100), (5, 0.4, 5)
        ]
        df = spark.createDataFrame(rows, "doc_id long, quality_score double, word_count long")
        picked = {
            r["doc_id"]: r["_cum_tokens"]
            for r in select_within_token_budget(df, token_budget=120).collect()
        }
        # order: 1(40) -> 2(90, tie broken by id) -> 3(120) -> 4 would
        # be 220 > budget; 5 also over because the RUNNING total is cut
        assert picked == {1: 40, 2: 90, 3: 120}

    def test_budget_banded_equals_exact_kernel(self, spark):
        """VERDICT r3 #3: the default (banded) plan must produce the
        EXACT same kept set and _cum_tokens as the global-window
        kernel — including tied scores straddling band cuts — with no
        unpartitioned window over the input."""
        from pyspark.sql import functions as F

        from fineweb_domain_analyzer_spark.operators.quality import (
            select_within_token_budget,
        )

        # 20k docs; scores deliberately coarse (only 97 distinct
        # values) so many ties straddle the 64 approximate band cuts
        df = spark.range(20_000).select(
            F.col("id").alias("doc_id"),
            (F.round((F.col("id") * 37 % 97) / 97.0, 4)).alias(
                "quality_score"
            ),
            (F.col("id") * 13 % 200 + 5).alias("word_count"),
        )
        budget = 300_000  # ~15% of total tokens → boundary mid-corpus
        cols = ["doc_id", "quality_score", "word_count", "_cum_tokens"]
        banded = select_within_token_budget(df, budget, banded=True)
        exact = select_within_token_budget(df, budget, banded=False)
        got = sorted(tuple(r) for r in banded.select(*cols).collect())
        want = sorted(tuple(r) for r in exact.select(*cols).collect())
        assert got == want
        assert len(got) > 0

        # plan: every window is partitioned by _band; the global-sort
        # window (windowspecdefinition starting with the score column)
        # must not appear anywhere in the banded plan
        plan = banded._jdf.queryExecution().executedPlan().toString()
        assert "windowspecdefinition(_band" in plan
        assert "windowspecdefinition(quality_score" not in plan
        exact_plan = exact._jdf.queryExecution().executedPlan().toString()
        assert "windowspecdefinition(quality_score" in exact_plan

    def test_budget_banded_keeps_zero_token_row_at_exact_boundary(self, spark):
        """Regression (r4 review): a band whose offset EQUALS the
        budget can still hold zero-token rows the global kernel keeps
        (_cum_tokens == budget); the band prune must use <=, not <."""
        from fineweb_domain_analyzer_spark.operators.quality import (
            select_within_token_budget,
        )

        # doc 1 (score 3, 100 tokens) fills the budget exactly; doc 2
        # (score 2, 0 tokens) lands in a band with offset == budget
        rows = [(1, 3.0, 100), (2, 2.0, 0), (3, 1.0, 50)]
        df = spark.createDataFrame(
            rows, "doc_id long, quality_score double, word_count long"
        )
        kept = lambda banded: sorted(
            (r["doc_id"], r["_cum_tokens"])
            for r in select_within_token_budget(
                df, 100, banded=banded, n_bands=4
            ).collect()
        )
        assert kept(False) == [(1, 100), (2, 100)]
        assert kept(True) == kept(False)

    def test_budget_banded_prunes_out_of_budget_bands(self, spark):
        """With budget ≪ corpus, the offset-filter must remove most
        bands BEFORE the per-band sort (scale property: the window
        only ever sees ~budget worth of rows)."""
        from pyspark.sql import functions as F

        from fineweb_domain_analyzer_spark.operators.quality import (
            select_within_token_budget,
        )

        df = spark.range(50_000).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 10_000 / 10_000.0).alias("quality_score"),
            F.lit(100).cast("long").alias("word_count"),
        )
        # budget = 0.2% of the 5M total tokens
        out = select_within_token_budget(df, 10_000, banded=True)
        rows = out.collect()
        assert len(rows) == 100  # 10_000 / 100 tokens each
        # all kept rows come from the top of the score range
        assert min(r["quality_score"] for r in rows) > 0.99

    def test_compression_ratio_matches_zlib(self, spark):
        import zlib

        from fineweb_domain_analyzer_spark.operators.quality import (
            with_compression_ratio,
        )

        texts = ["a" * 500, "the quick brown fox jumps over the lazy dog", ""]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        out = {r["doc_id"]: r["compression_ratio"] for r in with_compression_ratio(df).collect()}
        for i, t in enumerate(texts):
            raw = t.encode()
            exp = 1.0 if not raw else round(len(zlib.compress(raw, 6)) / len(raw), 4)
            assert out[i] == exp, (i, t[:20])
        assert out[0] < 0.1  # repetitive text compresses hard


class TestKeepTopPctByGroup:
    def _kept(self, spark, rows, pct):
        from fineweb_domain_analyzer_spark.operators.quality import (
            keep_top_pct_by_group,
        )

        df = spark.createDataFrame(
            rows, "doc_id long, lang string, quality_score double"
        )
        return sorted(
            r["doc_id"]
            for r in keep_top_pct_by_group(df, pct).collect()
        )

    def test_same_fraction_per_group(self, spark):
        # en: 10 docs scored 0.1..1.0; fr: 5 docs scored 0.1..0.5 —
        # a 40% cut keeps 4 en and 2 fr (fraction adapts per group;
        # a global threshold at en's 40% mark would keep 0 fr docs)
        rows = [(i, "en", i / 10.0) for i in range(1, 11)] + [
            (100 + i, "fr", i / 10.0) for i in range(1, 6)
        ]
        assert self._kept(spark, rows, 40) == [7, 8, 9, 10, 104, 105]

    def test_ties_break_on_id_deterministically(self, spark):
        rows = [(1, "en", 0.5), (2, "en", 0.5), (3, "en", 0.5), (4, "en", 0.5)]
        # 50% of 4 = 2 kept; equal scores -> smallest ids win
        assert self._kept(spark, rows, 50) == [1, 2]

    def test_banded_equals_exact_incl_null_group(self, spark):
        """The default (banded) plan must produce the EXACT kept set —
        heavy score ties straddling band cuts, a null group key, and
        groups of very different sizes — with every window partitioned
        by (group, band), never by the group alone."""
        import re

        from fineweb_domain_analyzer_spark.operators.quality import (
            keep_top_pct_by_group,
        )

        df = spark.range(20_000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 7 == 0, None)
            .when(F.col("id") % 3 == 0, "fr")
            .otherwise("en")
            .alias("lang"),
            (F.round((F.col("id") * 37 % 97) / 97.0, 4)).alias(
                "quality_score"
            ),
        )
        banded = keep_top_pct_by_group(df, 40, banded=True)
        got = sorted(r["doc_id"] for r in banded.collect())
        want = sorted(
            r["doc_id"]
            for r in keep_top_pct_by_group(df, 40, banded=False).collect()
        )
        assert got == want and len(got) > 0
        plan = banded._jdf.queryExecution().executedPlan().toString()
        specs = re.findall(r"windowspecdefinition\((\w+)#\d+, (\w+)#", plan)
        assert specs and all(s == ("lang", "_band") for s in specs)

    def test_null_scores_and_single_band_keep_equivalence(self, spark):
        """Regression (r4 review): a group whose scores are ALL null
        (null cut array) and the n_bands=1 degenerate case must match
        the exact kernel — previously the null band fell out of the
        band equi-join and the whole group silently vanished."""
        from fineweb_domain_analyzer_spark.operators.quality import (
            keep_top_pct_by_group,
        )

        rows = [(i, "en", i / 10.0) for i in range(10)] + [
            (100 + i, "zz", None) for i in range(10)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, quality_score double"
        )
        kept = lambda **kw: sorted(
            r["doc_id"] for r in keep_top_pct_by_group(df, 50, **kw).collect()
        )
        exact = kept(banded=False)
        assert [d for d in exact if d >= 100] == [100, 101, 102, 103, 104]
        assert kept(banded=True) == exact
        assert kept(banded=True, n_bands=1) == exact

    def test_budget_banded_all_null_scores_equivalence(self, spark):
        """Same defect class in the token-budget twin: all-null scores
        must not make the banded (default) path return empty."""
        from fineweb_domain_analyzer_spark.operators.quality import (
            select_within_token_budget,
        )

        df = spark.createDataFrame(
            [(i, None, 30) for i in range(10)],
            "doc_id long, quality_score double, word_count long",
        )
        kept = lambda banded: sorted(
            r["doc_id"]
            for r in select_within_token_budget(
                df, 100, banded=banded
            ).collect()
        )
        assert kept(False) == [0, 1, 2]  # 3 x 30 tokens within 100
        assert kept(True) == kept(False)

    def test_small_group_floor(self, spark):
        # 1-doc group at 40%: rank 1*100 > 40*1 -> nothing kept
        rows = [(1, "xx", 0.9)] + [(i, "en", i / 10.0) for i in range(1, 11)]
        assert self._kept(spark, rows, 40) == [7, 8, 9, 10]


class TestSequencePackingPlan:
    def _plan(self, spark, rows, seq_len=10, n_shards=1, **kw):
        from fineweb_domain_analyzer_spark.operators.quality import (
            plan_sequence_packing,
        )

        df = spark.createDataFrame(rows, "doc_id long, word_count long")
        return {
            r["doc_id"]: (r["shard"], r["start_seq"], r["start_offset"])
            for r in plan_sequence_packing(
                df, seq_len=seq_len, n_shards=n_shards, **kw
            ).collect()
        }

    def test_concat_and_chunk_offsets(self, spark):
        # tokens 4, 9, 10, 3 in id order -> starts 0, 4, 13, 23
        got = self._plan(spark, [(1, 4), (2, 9), (3, 10), (4, 3)])
        assert got == {
            1: (0, 0, 0),   # starts seq 0 offset 0
            2: (0, 0, 4),   # same seq, offset 4 (crosses into seq 1)
            3: (0, 1, 3),   # starts inside seq 1
            4: (0, 2, 3),   # starts inside seq 2
        }

    def test_shards_pack_independently(self, spark):
        got = self._plan(spark, [(0, 7), (1, 7), (2, 7), (3, 7)], n_shards=2)
        # shard 0: ids 0,2 -> starts 0,7 ; shard 1: ids 1,3 -> starts 0,7
        assert got[0] == (0, 0, 0) and got[2] == (0, 0, 7)
        assert got[1] == (1, 0, 0) and got[3] == (1, 0, 7)

    def test_zero_token_docs_take_no_space(self, spark):
        got = self._plan(spark, [(1, 0), (2, 5), (3, 0), (4, 5)])
        assert got[2] == (0, 0, 0)
        assert got[3] == (0, 0, 5)  # zero-token doc 3 sits at 5, no advance
        assert got[4] == (0, 0, 5)


class TestExactNtileByGroup:
    """q47's banded-by-default exact ntile: identical assignment to the
    per-group ntile window, but no window ever partitioned by the group
    alone (the whole-language single-reducer sort is the last
    scale-killer VERDICT r4 flagged)."""

    def _df(self, spark):
        # 20k rows, one dominant group (~76%), a small group, a null
        # group, and coarse values so ties straddle band cuts
        return spark.range(20_000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 7 == 0, None)
            .when(F.col("id") % 4 == 0, "fr")
            .otherwise("en")
            .alias("lang"),
            (F.col("id") * 13 % 211).cast("bigint").alias("word_count"),
        )

    def test_banded_equals_exact_ntile(self, spark):
        from fineweb_domain_analyzer_spark.operators.quality import (
            exact_ntile_by_group,
        )

        df = self._df(spark)
        cols = ["doc_id", "lang", "word_count", "decile"]
        got = sorted(
            tuple(r)
            for r in exact_ntile_by_group(
                df, 10, "word_count", "lang", "doc_id",
                out_col="decile", banded=True,
            ).select(*cols).collect()
        )
        want = sorted(
            tuple(r)
            for r in exact_ntile_by_group(
                df, 10, "word_count", "lang", "doc_id",
                out_col="decile", banded=False,
            ).select(*cols).collect()
        )
        assert got == want and len(got) == 20_000

    def test_small_groups_and_single_band(self, spark):
        """Groups smaller than k (each row its own bucket — the q=0
        branch) and the n_bands=1 degenerate case (null cut array)."""
        from fineweb_domain_analyzer_spark.operators.quality import (
            exact_ntile_by_group,
        )

        rows = [(i, "tiny", i * 10) for i in range(4)] + [
            (100 + i, "mid", (i * 7) % 13) for i in range(25)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, word_count long"
        )
        for kw in ({"banded": True}, {"banded": True, "n_bands": 1}):
            got = sorted(
                tuple(r)
                for r in exact_ntile_by_group(
                    df, 10, out_col="decile", **kw
                ).select("doc_id", "decile").collect()
            )
            want = sorted(
                tuple(r)
                for r in exact_ntile_by_group(
                    df, 10, out_col="decile", banded=False
                ).select("doc_id", "decile").collect()
            )
            assert got == want
        # tiny group: 4 rows, 10 buckets -> buckets 1..4
        exact = {
            r["doc_id"]: r["decile"]
            for r in exact_ntile_by_group(
                df, 10, out_col="decile", banded=False
            ).collect()
        }
        assert [exact[i] for i in range(4)] == [1, 2, 3, 4]

    def test_no_whole_group_window_in_banded_plan(self, spark):
        import re

        from fineweb_domain_analyzer_spark.operators.quality import (
            exact_ntile_by_group,
        )

        df = self._df(spark)
        banded = exact_ntile_by_group(
            df, 10, "word_count", "lang", "doc_id", out_col="decile"
        )
        plan = banded._jdf.queryExecution().executedPlan().toString()
        specs = re.findall(r"windowspecdefinition\((\w+)#\d+, (\w+)#", plan)
        assert specs and all(s == ("lang", "_band") for s in specs)
        exact_plan = (
            exact_ntile_by_group(df, 10, out_col="decile", banded=False)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert re.search(r"windowspecdefinition\(lang#\d+, word_count#", exact_plan)


def test_ccnet_split_semantics(spark, sf_dir):
    """q92 contract: per language the terciles are balanced by the
    ntile rule (first n%3 buckets get one extra), head has the LOWEST
    perplexity (most-fluent slice), and every doc with tokens gets
    exactly one label."""
    from fineweb_domain_analyzer_spark.queries import q92_ccnet_split

    out = q92_ccnet_split(spark, str(sf_dir)).collect()
    assert out and all(r["split"] in ("head", "middle", "tail") for r in out)
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        n = len(rows)
        sizes = {1: 0, 2: 0, 3: 0}
        for r in rows:
            sizes[r["tercile"]] += 1
        q_, rem = divmod(n, 3)
        expect = [q_ + (1 if i < rem else 0) for i in range(3)]
        assert [sizes[1], sizes[2], sizes[3]] == expect, lang
        head_max = max(r["perplexity"] for r in rows if r["tercile"] == 1)
        tail_min = min(r["perplexity"] for r in rows if r["tercile"] == 3)
        assert head_max <= tail_min, lang


# --- deterministic corpus shuffle -----------------------------------


def test_deterministic_shuffle_contract(spark):
    from fineweb_domain_analyzer_spark.operators.quality import (
        deterministic_shuffle,
        plan_sequence_packing,
    )

    docs = spark.range(500).withColumnRenamed("id", "doc_id")
    a = deterministic_shuffle(docs, seed=7, n_shards=4)
    b = deterministic_shuffle(docs, seed=7, n_shards=4)
    rows_a = sorted(a.collect())
    assert rows_a == sorted(b.collect())  # bit-identical re-run

    # seed changes the order, not the membership
    c = deterministic_shuffle(docs, seed=8, n_shards=4)
    order_a = [r["doc_id"] for r in a.orderBy("shard", "shard_rank").collect()]
    order_c = [r["doc_id"] for r in c.orderBy("shard", "shard_rank").collect()]
    assert sorted(order_a) == sorted(order_c) == list(range(500))
    assert order_a != order_c

    # ranks are contiguous 1..n within every shard
    import collections

    per_shard = collections.defaultdict(list)
    for r in rows_a:
        per_shard[r["shard"]].append(r["shard_rank"])
    assert set(per_shard) == {0, 1, 2, 3}
    for ranks in per_shard.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))

    # scale shape: the window is per-shard, never a single partition
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan

    # composes with the packer: shuffled layout, still integer-exact
    shuffled = a.join(
        docs.selectExpr("doc_id", "doc_id % 7 + 1 as wc"), "doc_id"
    )
    packed = plan_sequence_packing(
        shuffled, seq_len=16, n_shards=4, tokens_col="wc",
        shard_col="shard",
    )
    assert packed.count() == 500


def test_deterministic_shuffle_rejects_bad_shards(spark):
    from fineweb_domain_analyzer_spark.operators.quality import (
        deterministic_shuffle,
    )

    import pytest as _pytest

    docs = spark.range(3).withColumnRenamed("id", "doc_id")
    with _pytest.raises(ValueError):
        deterministic_shuffle(docs, seed=1, n_shards=0)


# --- gated passes == ungated references ---------------------------------------

# Pieces that make every gate fire and miss: '@', '.', digits, phone
# separators, toxicity terms (and near misses a metacharacter term
# matches), the <IP> token text, \x0B, non-ASCII, CJK.
_GATE_PIECES = [
    "a@b.co", "x.y@ex-ample.org", "@", ".", "1.2.3.4", "255.255.255.255",
    "10.0.0", "(860) 649-7922", "860-649-7922", "860.649.7922", "123 456",
    "badword1", "badword2", "slur1", "xbadword1", "bad", "bid", "b.d",
    "IP", "the", "中文", "字", "一", "鿿", "é", "ß", "\x0b", "\t", "\n",
    " ", "  ", "#", "…", "привет", "ＡＢ", "z", "42", "-", "_", "%", "+",
    " ", "\U0001f600",
]
_gate_text = st.lists(
    st.one_of(
        st.sampled_from(_GATE_PIECES),
        st.text(alphabet="@.0123456789 -()ab\x0b中é", max_size=4),
    ),
    max_size=16,
).map("".join)


def _scrub_ungated(text, terms=DEFAULT_TOXICITY_TERMS):
    out = F.regexp_replace(text, EMAIL_RE, EMAIL_TOKEN)
    out = F.regexp_replace(out, PHONE_RE, PHONE_TOKEN)
    out = F.regexp_replace(out, IPV4_RE, IP_TOKEN)
    return F.regexp_replace(out, toxicity_pattern(terms), TOX_TOKEN)


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.one_of(st.none(), _gate_text), min_size=1, max_size=24))
def test_gated_passes_match_ungated(spark, texts):
    """scrub_all, cjk_char_count, symbol_ratio and with_langid skip
    regex passes that cannot match; the results must equal the ungated
    expressions."""
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    t = F.col("text")
    cases = {
        "scrub": (scrub_all(t), _scrub_ungated(t)),
        # literal terms: gated, on the PII-scrubbed text ('IP' sits in <IP>)
        "scrub_ip": (scrub_all(t, ("IP", "slur1")), _scrub_ungated(t, ("IP", "slur1"))),
        # a metacharacter term ('b.d' matches 'bid') must skip the gate
        "scrub_meta": (scrub_all(t, ("b.d", "badword1")), _scrub_ungated(t, ("b.d", "badword1"))),
        "cjk": (
            cjk_char_count(t),
            F.length(t) - F.length(F.regexp_replace(t, "[一-鿿]", "")),
        ),
    }
    cols = []
    for name, (gated, ref) in cases.items():
        cols += [gated.alias(name), ref.alias(f"{name}_ref")]
    symbol_ref = F.round(
        F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", "")) / F.greatest(F.length(t), F.lit(1)),
        4,
    )
    # with_langid's SQL-text CJK gate and decision against the
    # Column-built single-expression form
    rows = with_langid(with_quality_features(df)).select(
        *cols,
        F.col("symbol_ratio"),
        symbol_ref.alias("symbol_ratio_ref"),
        F.col("langid"),
        langid_heuristic(t).alias("langid_ref"),
    ).collect()
    for r in rows:
        for name in [*cases, "symbol_ratio", "langid"]:
            assert r[name] == r[f"{name}_ref"], (name, r)


def test_metacharacter_term_is_not_gated(spark):
    out = _one(spark, "a bid here").select(scrub_all(F.col("text"), ("b.d",)).alias("s"))
    assert out.collect()[0]["s"] == "a <TOX> here"
