"""Gopher doc-shape rules (operators/quality.py:with_doc_shape_features
/ gopher_doc_shape_keep): bullet-start / ellipsis-end line fractions,
alphabetic-word fraction, #/ellipsis symbol-to-word ratios — the
Rae et al. 2021 §A1.1 rules the base feature set lacked."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.operators.quality import (
    gopher_doc_shape_keep,
    with_doc_shape_features,
)


def shape(spark, text):
    df = spark.createDataFrame([(1, text)], "id int, text string")
    return with_doc_shape_features(df).collect()[0]


class TestFeatures:
    def test_plain_prose(self, spark):
        r = shape(spark, "a plain document\nwith two tidy lines")
        assert r["n_lines"] == 2
        assert r["bullet_start_frac"] == 0.0
        assert r["ellipsis_end_frac"] == 0.0
        assert r["alpha_word_frac"] == 1.0
        assert r["hash_word_ratio"] == 0.0
        assert r["ellipsis_word_ratio"] == 0.0

    def test_bullet_lines(self, spark):
        r = shape(spark, "- first item\n- second item\nnot a bullet\n  * indented star")
        assert r["n_lines"] == 4
        assert r["bullet_start_frac"] == 0.75  # 3 of 4 (ltrim catches the star)

    def test_unicode_bullet_and_dash(self, spark):
        r = shape(spark, "• dot bullet\n– en-dash item")
        assert r["bullet_start_frac"] == 1.0

    def test_ellipsis_line_ends(self, spark):
        r = shape(spark, "to be continued...\nread more…  \nfinal line")
        # rtrim catches the trailing-space ellipsis line
        assert r["ellipsis_end_frac"] == 0.6667

    def test_blank_lines_excluded(self, spark):
        r = shape(spark, "- a\n\n   \n- b")
        assert r["n_lines"] == 2
        assert r["bullet_start_frac"] == 1.0

    def test_alpha_word_frac(self, spark):
        r = shape(spark, "word 123 456 word2")  # 2 of 4 contain a letter
        assert r["alpha_word_frac"] == 0.5

    def test_symbol_ratios(self, spark):
        # 10 words, 2 '#' chars, 1 '...' and 1 '…' => 2 ellipses
        r = shape(
            spark, "alpha ## beta gamma delta... epsilon zeta eta… theta iota"
        )
        assert r["hash_word_ratio"] == 0.2
        assert r["ellipsis_word_ratio"] == 0.2

    def test_null_text_permissive(self, spark):
        df = spark.createDataFrame([(1, None)], "id int, text string")
        r = with_doc_shape_features(df).collect()[0]
        assert r["bullet_start_frac"] is None
        assert r["n_lines"] is None

    def test_empty_text(self, spark):
        r = shape(spark, "")
        assert r["n_lines"] == 0
        assert r["bullet_start_frac"] == 0.0
        assert r["alpha_word_frac"] == 0.0


class TestKeep:
    @pytest.mark.parametrize(
        "text,expected",
        [
            ("a perfectly ordinary paragraph of readable text", True),
            # >90% bullet lines
            ("- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j", False),
            # >30% ellipsis-ended lines
            ("teaser one...\nteaser two...\nbody text here", False),
            # <80% alphabetic words
            ("1 2 3 4 5 6 7 8 9 ten", False),
            # hash-to-word ratio > 0.1
            ("# # tag soup page", False),
        ],
    )
    def test_thresholds(self, spark, text, expected):
        df = with_doc_shape_features(
            spark.createDataFrame([(1, text)], "id int, text string")
        ).withColumn(
            "keep",
            gopher_doc_shape_keep(
                F.col("bullet_start_frac"),
                F.col("ellipsis_end_frac"),
                F.col("alpha_word_frac"),
                F.col("hash_word_ratio"),
                F.col("ellipsis_word_ratio"),
            ),
        )
        assert df.collect()[0]["keep"] is expected

    def test_zero_exchanges(self, spark):
        from fineweb_domain_analyzer_spark.queries import q104_doc_shape

        plan = (
            q104_doc_shape(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan


class TestPipelineGate:
    """PipelineConfig.enforce_doc_shape: the opt-in doc-shape stage."""

    @pytest.fixture(scope="class")
    def frames(self, spark):
        pages = spark.createDataFrame(
            [
                (
                    "https://a.example.com/1",
                    # all-bullet listicle: fluent words, normal symbol
                    # ratio — only the doc-shape rule catches it
                    "\n".join(f"- item number {i} in the endless list" for i in range(12)),
                ),
                (
                    "https://a.example.com/2",
                    "an ordinary well formed document about the habits of foxes",
                ),
            ],
            "url string, text string",
        )
        policy = spark.createDataFrame(
            [("a.example.com", True)], "domain string, crawl_allowed boolean"
        )
        return pages, policy

    def test_gate_off_default(self, frames):
        from fineweb_domain_analyzer_spark.plans.pipeline import (
            PipelineConfig,
            quality_filter_pipeline,
        )

        pages, policy = frames
        out = quality_filter_pipeline(pages, policy, PipelineConfig(scrub=False))
        assert "bullet_start_frac" not in out.columns
        assert {r["drop_reason"] for r in out.collect()} == {"kept"}

    def test_gate_drops_listicle(self, frames):
        from fineweb_domain_analyzer_spark.plans.pipeline import (
            REASON_DOC_SHAPE,
            PipelineConfig,
            quality_filter_pipeline,
        )

        pages, policy = frames
        out = quality_filter_pipeline(
            pages, policy, PipelineConfig(scrub=False, enforce_doc_shape=True)
        )
        rows = {r["url"]: r for r in out.collect()}
        assert rows["https://a.example.com/1"]["drop_reason"] == REASON_DOC_SHAPE
        assert not rows["https://a.example.com/1"]["keep"]
        assert rows["https://a.example.com/2"]["drop_reason"] == "kept"

    def test_gate_keeps_zh(self, spark, frames):
        """alpha_word_frac counts letters of any script, so a zh doc
        (an allowed language) passes the doc-shape gate."""
        from fineweb_domain_analyzer_spark.plans.pipeline import (
            PipelineConfig,
            quality_filter_pipeline,
        )

        pages = spark.createDataFrame(
            [
                (
                    "https://a.example.com/zh",
                    "中文字 data 中文字 text 中文字 more 中文字 words 中文字 here",
                )
            ],
            "url string, text string",
        )
        row = quality_filter_pipeline(
            pages, frames[1], PipelineConfig(scrub=False, enforce_doc_shape=True)
        ).collect()[0]
        assert row["langid"] == "zh"
        assert row["alpha_word_frac"] == 1.0
        assert row["drop_reason"] == "kept"

    def test_gate_stays_one_map_stage(self, frames):
        from fineweb_domain_analyzer_spark.plans.pipeline import (
            PipelineConfig,
            quality_filter_pipeline,
        )

        pages, policy = frames
        def n_exchanges(df):
            return df._jdf.queryExecution().executedPlan().toString().count("Exchange")
        on = quality_filter_pipeline(
            pages, policy, PipelineConfig(scrub=False, enforce_doc_shape=True)
        )
        off = quality_filter_pipeline(pages, policy, PipelineConfig(scrub=False))
        assert n_exchanges(on) == n_exchanges(off)
