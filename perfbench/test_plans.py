"""Self-test of the benchmark: ``python3 -m pytest perfbench -q``.

Guards the properties the benchmark's numbers rest on: the flagship
plan and the scrub prefix really compute the scrub, the hand-cut layer
prefixes mirror ``quality_filter_pipeline``, the generated corpus fires
every drop reason, and the output checks catch an unscrubbed output.
"""

from __future__ import annotations

import pytest

import inputs
import sessions
import workloads

DOCS, SEED = 3000, 7


@pytest.fixture(scope="module")
def spark():
    s = sessions.start(sessions.work_dir(), 2)
    yield s
    sessions.stop(s)


@pytest.fixture(scope="module")
def wl(spark):
    return workloads.FlagshipWrite(spark, sessions.work_dir() / "selftest", SEED, DOCS)


def _optimized(df) -> str:
    """The optimized plan as JSON: every expression, none truncated."""
    return df._jdf.queryExecution().optimizedPlan().toJSON()


def test_flagship_plan_and_scrub_prefix_keep_the_scrub(wl):
    from pyspark.sql import functions as F

    from fineweb_domain_analyzer_spark.functions.scrub import EMAIL_TOKEN, TOX_TOKEN
    from fineweb_domain_analyzer_spark.operators.metrics import filter_stats
    from fineweb_domain_analyzer_spark.plans.pipeline import quality_filter_pipeline

    labeled = quality_filter_pipeline(*wl.frames())
    (_, scrub_prefix) = workloads.prefix_frames(*wl.frames())[-1]
    consumed = scrub_prefix.select(F.xxhash64(*scrub_prefix.columns))
    for df in (labeled, consumed):
        plan = _optimized(df)
        assert "RegExpReplace" in plan and EMAIL_TOKEN in plan and TOX_TOKEN in plan
    # the defect this guards against: a labels-only consumer prunes it
    assert EMAIL_TOKEN not in _optimized(filter_stats(labeled))


def test_prefixes_mirror_the_pipeline(wl):
    prefixes = dict(workloads.prefix_frames(*wl.frames()))
    features = prefixes["operators.quality.features_s"]
    full = prefixes["functions.scrub.scrub_s"]
    # keep/drop_reason of the label prefix are the robots-only decision
    shared = [c for c in features.columns if c in full.columns and c not in ("keep", "drop_reason")]
    assert {"text", "domain", "langid", "word_count", "max_word_repeat_ratio"} <= set(shared)
    assert features.select(shared).exceptAll(full.select(shared)).count() == 0
    assert full.select(shared).exceptAll(features.select(shared)).count() == 0


def test_corpus_fires_every_drop_reason(spark, wl):
    profile = inputs.pages_profile(spark, wl.dir)
    shares = profile["drop_reason_share"]
    for reason in ("kept", "robots_disallowed", "bad_url", "language_filtered", "quality_filtered"):
        assert shares.get(reason, 0) > 0, (reason, shares)
    assert profile["text_missing_share"] > 0
    q1, median, q3 = profile["word_count_quartiles"]
    assert q1 < median < q3


def test_check_catches_an_unscrubbed_output(wl):
    from pyspark.sql import functions as F

    from fineweb_domain_analyzer_spark.plans.pipeline import (
        quality_filter_pipeline,
        write_pipeline_output,
    )

    wl.run()
    assert wl.check() == []
    unscrubbed = quality_filter_pipeline(*wl.frames()).withColumn("scrubbed_text", F.col("text"))
    write_pipeline_output(unscrubbed, str(wl.out))
    assert any("email, phone or IPv4" in e for e in wl.check())
