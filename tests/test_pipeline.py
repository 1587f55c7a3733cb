"""Full quality-filter pipeline + checkpoint/resume + synthetic pages."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.operators.metrics import (
    drop_reason_histogram,
    filter_stats,
)
from fineweb_domain_analyzer_spark.plans.checkpoint import Checkpointer, run_resumable
from fineweb_domain_analyzer_spark.plans.pipeline import (
    PipelineConfig,
    quality_filter_pipeline,
)
from fineweb_domain_analyzer_spark.sources.pages import (
    synth_pages,
    synth_policy_for_domains,
)


# py4j round trips of one default quality_filter_pipeline call on the
# pages/policy fixtures below, PySpark 4.1 (3,088 when its static
# expressions were still built call by call)
BUILD_CALLS_MEASURED = 544


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, n_rows=2000, n_domains=50, seed=7).cache()


@pytest.fixture(scope="module")
def policy(spark):
    return synth_policy_for_domains(spark, n_domains=50).cache()


def test_synth_pages_deterministic(spark, pages):
    again = synth_pages(spark, n_rows=2000, n_domains=50, seed=7, partitions=3)
    a = sorted(r["url"] + "|" + (r["text"] or "<null>")[:40] for r in pages.collect())
    b = sorted(r["url"] + "|" + (r["text"] or "<null>")[:40] for r in again.collect())
    assert a == b


def test_synth_pages_zipf_skew(pages):
    counts = sorted(
        (
            r["cnt"]
            for r in pages.groupBy(
                F.regexp_extract("url", r"host(\d+)", 1).alias("d")
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        ),
        reverse=True,
    )
    # head domain should dominate (Zipf-ish): top domain ≥ 10× median
    assert counts[0] >= 10 * counts[len(counts) // 2]


def test_pipeline_end_to_end(pages, policy):
    out = quality_filter_pipeline(pages, policy).cache()
    assert out.count() == 2000
    # partition invariant: kept ⊎ dropped == input
    stats = filter_stats(out).collect()[0]
    assert stats["total_processed"] == 2000
    assert stats["filtered_kept"] + stats["excluded_count"] == 2000
    hist = {r["drop_reason"]: r["cnt"] for r in drop_reason_histogram(out).collect()}
    assert "kept" in hist and hist["kept"] == stats["filtered_kept"]
    # denied domains must actually be dropped
    denied = out.filter(F.col("drop_reason") == "robots_disallowed")
    assert denied.count() > 0
    # scrubbed text must not contain raw PII that appeared in input
    pii_rows = out.filter(F.col("text").contains("@example.com")).select(
        "scrubbed_text"
    )
    for r in pii_rows.collect():
        assert "@example.com" not in r["scrubbed_text"]


def test_pipeline_columns(pages, policy):
    out = quality_filter_pipeline(pages, policy, PipelineConfig(scrub=False))
    for col in ("domain", "langid", "word_count", "keep", "drop_reason"):
        assert col in out.columns
    assert "scrubbed_text" not in out.columns


def test_plan_build_gateway_round_trips_bounded(spark, pages, policy, monkeypatch):
    """Building the default flagship plan takes a few hundred py4j
    round trips (each Column or functions call costs about ten). The
    bound is 1.5x BUILD_CALLS_MEASURED, so building literal-heavy
    expressions call by call again — thousands of round trips, ~0.1 ms
    each — fails here."""
    from py4j import protocol

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(command, *args, **kwargs):
        # object releases come from the finalizer, at times of its own
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            calls.append(command)
        return send(command, *args, **kwargs)

    quality_filter_pipeline(pages, policy)  # first-call caches (schemas)
    monkeypatch.setattr(client, "send_command", counting)
    quality_filter_pipeline(pages, policy)
    monkeypatch.undo()
    assert len(calls) <= 1.5 * BUILD_CALLS_MEASURED, len(calls)


def test_default_allow_for_uncovered_domains(pages, policy):
    out = quality_filter_pipeline(pages, policy)
    # policy covers only even host indices; odd-indexed hosts must never
    # be robots_disallowed (default-allow, fineweb_analyzer.py:459)
    odd = out.filter(
        (F.regexp_extract("domain", r"host(\d+)", 1).cast("int") % 2 == 1)
        & (F.col("drop_reason") == "robots_disallowed")
    )
    assert odd.count() == 0


def test_checkpoint_resume(spark, tmp_path):
    manifest = str(tmp_path / "manifest.json")
    out = str(tmp_path / "out")
    cp = Checkpointer(manifest)
    calls = []

    def process(spark_, split):
        calls.append(split)
        return synth_pages(spark_, 100, n_domains=10, seed=int(split)).select("url")

    splits = ["1", "2", "3"]
    done = run_resumable(spark, splits, process, out, cp)
    assert done == splits
    # second run: nothing pending → no reprocessing
    done2 = run_resumable(spark, splits, process, out, cp)
    assert done2 == []
    assert calls == splits
    # new split appears → only it runs; prior output intact
    done3 = run_resumable(spark, splits + ["4"], process, out, cp)
    assert done3 == ["4"]
    total = spark.read.parquet(out).count()
    assert total == 400


def test_checkpoint_idempotent_overwrite(spark, tmp_path):
    """Simulate crash-after-write-before-mark: rerun must overwrite the
    split's output, not duplicate it."""
    manifest = str(tmp_path / "m.json")
    out = str(tmp_path / "out")
    cp = Checkpointer(manifest)

    def process(spark_, split):
        return synth_pages(spark_, 50, n_domains=5, seed=int(split)).select("url")

    run_resumable(spark, ["9"], process, out, cp)
    # crash simulation: wipe the manifest (data remains), rerun
    import os

    os.remove(manifest)
    run_resumable(spark, ["9"], process, out, Checkpointer(manifest))
    assert spark.read.parquet(out).count() == 50


def test_synth_pages_null_text_decodes_byte_identical(spark):
    """Rows shipping text only as html bytes (with an invalid-utf8
    tail) must come out of the pipeline byte-identical to the utf-8
    portion — Python's errors='ignore' semantics (FIXTURES.md §1)."""
    from pyspark.sql import functions as F

    from fineweb_domain_analyzer_spark.plans.pipeline import quality_filter_pipeline
    from fineweb_domain_analyzer_spark.sources.pages import (
        synth_pages,
        synth_policy_for_domains,
    )

    pages = synth_pages(spark, 2000, n_domains=50, seed=42)
    null_text = pages.filter(F.col("text").isNull())
    n_null = null_text.count()
    assert n_null > 0  # the decode path is actually exercised
    policy = synth_policy_for_domains(spark, 50)
    out = quality_filter_pipeline(pages, policy)
    # decoded text equals utf-8 decode-ignore of html for those rows
    joined = out.filter(F.col("text").isNotNull()).count()
    assert joined == 2000  # every null text was recovered from html
    row = (
        out.join(null_text.select("url"), "url", "left_semi")
        .select("url", "text")
        .limit(1)
        .collect()[0]
    )
    src = pages.filter(F.col("url") == row["url"]).select("html").collect()[0]
    assert row["text"] == bytes(src["html"]).decode("utf-8", "ignore")


@pytest.mark.parametrize("seed", [3, 17, 1234])
def test_partition_invariant_across_seeds(spark, seed):
    """SURVEY §5.4 property: kept ⊎ dropped == input for arbitrary
    corpora/policies, and drop reasons always sum to the total."""
    pages_df = synth_pages(spark, 1500, n_domains=37, seed=seed)
    policy_df = synth_policy_for_domains(
        spark, 37, deny_every=3 + seed % 4, cover_every=1 + seed % 3
    )
    out = quality_filter_pipeline(pages_df, policy_df)
    hist = {r["drop_reason"]: r["cnt"] for r in drop_reason_histogram(out).collect()}
    assert sum(hist.values()) == 1500
    stats = filter_stats(out).collect()[0]
    assert stats["filtered_kept"] + stats["excluded_count"] == 1500
    assert stats["filtered_kept"] == hist.get("kept", 0)


class _FakeRow(dict):
    def __getitem__(self, k):
        return dict.__getitem__(self, k)


class _FakeIcebergSession:
    """Captures the SQL the Iceberg checkpointer branch issues and
    serves the table-property store back — lets the catalog-backed
    branch (never reachable in this jar-less sandbox) be exercised:
    json round-trip, quote escaping, detect probe."""

    def __init__(self, have_catalog=True):
        self.props: dict[str, str] = {}
        self.have_catalog = have_catalog
        self.statements: list[str] = []

    def sql(self, stmt: str):
        import re

        self.statements.append(stmt)
        if ".snapshots" in stmt:
            if not self.have_catalog:
                raise RuntimeError("not an Iceberg table")
            return self
        if stmt.startswith("SHOW TBLPROPERTIES"):
            out = self
            out._rows = [
                _FakeRow({"key": k, "value": v}) for k, v in self.props.items()
            ]
            return out
        m = re.match(
            r"ALTER TABLE .* SET TBLPROPERTIES \('([^']+)' = '(.*)'\)$",
            stmt,
            re.DOTALL,
        )
        if m:
            self.props[m.group(1)] = m.group(2).replace("''", "'")
            return self
        raise AssertionError(f"unexpected sql: {stmt}")

    def collect(self):
        return getattr(self, "_rows", [])


def test_iceberg_checkpointer_property_branch(tmp_path):
    """Catalog present: the manifest must live in table properties,
    survive a 'new driver' (fresh checkpointer), and never touch the
    file manifest."""
    from fineweb_domain_analyzer_spark.plans.checkpoint import IcebergCheckpointer

    fake = _FakeIcebergSession()
    cp = IcebergCheckpointer(fake, "cat.db.t", str(tmp_path / "manifest.json"))
    assert cp._have_iceberg is True
    assert cp.processed_splits() == set()
    cp.mark_processed("split-a")
    cp.mark_processed("split-b")
    assert cp.processed_splits() == {"split-a", "split-b"}
    assert cp.pending(["split-a", "split-b", "split-c"]) == ["split-c"]
    # resume from a brand-new driver sharing only the catalog
    cp2 = IcebergCheckpointer(fake, "cat.db.t", str(tmp_path / "other.json"))
    assert cp2.processed_splits() == {"split-a", "split-b"}
    assert not (tmp_path / "manifest.json").exists()


def test_iceberg_checkpointer_fallback_branch(tmp_path):
    """No catalog: detect() is False and the file manifest carries the
    protocol unchanged."""
    from fineweb_domain_analyzer_spark.plans.checkpoint import IcebergCheckpointer

    fake = _FakeIcebergSession(have_catalog=False)
    cp = IcebergCheckpointer(fake, "cat.db.t", str(tmp_path / "manifest.json"))
    assert cp._have_iceberg is False
    cp.mark_processed("s1")
    assert cp.processed_splits() == {"s1"}
    assert (tmp_path / "manifest.json").exists()


def test_iceberg_branch_full_resume_against_real_catalog(spark, tmp_path):
    """The catalog branch end-to-end with REAL SQL execution: a plain
    session-catalog table serves the exact TBLPROPERTIES surface the
    Iceberg branch uses (SHOW TBLPROPERTIES / ALTER TABLE ... SET
    TBLPROPERTIES are identical statements on both), so with the
    detect probe forced (no Iceberg jar in this sandbox, and no
    network to vendor one) the whole run_resumable flow exercises
    _have_iceberg=True: property-store manifest, crash-resume, quote
    escaping through the real parser — never the file fallback."""
    from fineweb_domain_analyzer_spark.plans.checkpoint import (
        IcebergCheckpointer,
        run_resumable,
    )

    table = "ckpt_prop_store"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} (k INT) USING parquet "
        f"LOCATION '{tmp_path / 'tbl'}'"
    )
    try:
        manifest = tmp_path / "never_created.json"
        out = str(tmp_path / "out")
        cp = IcebergCheckpointer(spark, table, str(manifest), assume_iceberg=True)
        assert cp._have_iceberg is True
        calls = []

        def process(spark_, split):
            calls.append(split)
            if split == "b'2" and len(calls) < 3:
                raise RuntimeError("injected crash")
            return synth_pages(spark_, 40, n_domains=4, seed=1).select("url")

        # split name with a quote exercises escaping through the real
        # SQL parser, not a regex fake
        splits = ["a1", "b'2"]
        with pytest.raises(RuntimeError, match="injected crash"):
            run_resumable(spark, splits, process, out, cp)
        assert cp.processed_splits() == {"a1"}

        # 'new driver': fresh checkpointer, same catalog — resumes from
        # the table property, reprocessing only the failed split
        cp2 = IcebergCheckpointer(
            spark, table, str(tmp_path / "other.json"), assume_iceberg=True
        )
        done = run_resumable(spark, splits, process, out, cp2)
        assert done == ["b'2"]
        assert cp2.processed_splits() == {"a1", "b'2"}
        assert calls == ["a1", "b'2", "b'2"]
        assert spark.read.parquet(out).count() == 80
        # the property store really is the catalog, not a file
        assert not manifest.exists()
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
        }
        assert json.loads(props[IcebergCheckpointer.PROP]) == ["a1", "b'2"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_jvm_domain_path_labels_match_exact_udf(spark, pages, policy):
    """exact_domain=False (staged SQL domain) must produce the same
    keep/drop_reason labels as the urlparse-parity Arrow UDF on
    well-formed URLs — the equivalence the bench's jvm_only_* metric
    relies on."""
    from fineweb_domain_analyzer_spark.plans.pipeline import (
        PipelineConfig,
        quality_filter_pipeline,
    )

    exact = {
        r["url"]: (r["keep"], r["drop_reason"])
        for r in quality_filter_pipeline(pages, policy).select(
            "url", "keep", "drop_reason"
        ).collect()
    }
    jvm = {
        r["url"]: (r["keep"], r["drop_reason"])
        for r in quality_filter_pipeline(
            pages, policy, PipelineConfig(exact_domain=False)
        ).select("url", "keep", "drop_reason").collect()
    }
    assert exact == jvm
