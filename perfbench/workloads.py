"""The benchmark's workloads: each drives one real entry point.

* ``flagship_write``: ``plans.pipeline.quality_filter_pipeline`` →
  ``write_pipeline_output`` over the cached pages.
* ``resumable_job``: ``job.main`` over the same pages and policy, 16
  url-bucket splits, a fresh manifest each run.
* ``reference_cli``: ``cli.main --all-steps`` over gzip WARC shards —
  warc_to_json → extract_domains → check_robots (offline) →
  filter_content.

``warm_up()`` runs the workload untimed, ``reset()`` clears the previous
run's output outside the timed region, ``run(tracer)`` performs one
timed run and returns the bytes it committed, and ``check()`` verifies
the committed output of the last run and returns what is wrong with it
(empty when correct).  Traced runs wrap entry-point functions for the
duration of the run only; no engine code changes.
"""

from __future__ import annotations

import contextlib
import io
import json
import shutil
import time
from pathlib import Path

import inputs
from sessions import dir_bytes

N_SPLITS = 16
# the first run compiles the plans; later ones let the driver-side
# planning code (and the generated code) reach its JIT-compiled speed
WARM_UP_RUNS = 3
# Independent of functions/scrub.py on purpose: the check must catch
# PII the engine's own patterns would miss.
_PII_LEFT = (
    r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    r"|\([0-9]{3}\) ?[0-9]{3}-[0-9]{4}"
    r"|\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
)


@contextlib.contextmanager
def _patched(owner, name: str, wrapper):
    orig = getattr(owner, name)
    setattr(owner, name, wrapper(orig))
    try:
        yield
    finally:
        setattr(owner, name, orig)


def _spanned(tracer, span_name: str, results: list | None = None):
    def wrap(fn):
        def inner(*a, **kw):
            with tracer.span(span_name):
                out = fn(*a, **kw)
            if results is not None:
                results.append(out)
            return out

        return inner

    return wrap


def hash_consume(df) -> int:
    """Evaluate every column of ``df`` (so Catalyst prunes none of
    them) and return one order-independent hash of all rows."""
    from pyspark.sql import functions as F

    return df.select(F.xxhash64(*df.columns).alias("h")).agg(F.bit_xor("h")).collect()[0][0]


def prefix_frames(pages, policy) -> list[tuple[str, object]]:
    """The flagship plan cut after each layer, in plan order.  Each
    prefix keeps every column its layers produce; the last one is
    ``quality_filter_pipeline`` itself, scrub included."""
    from pyspark.sql import functions as F

    from fineweb_domain_analyzer_spark.functions.textfns import (
        decode_utf8_ignore_udf,
        with_langid,
        ws_tokens,
    )
    from fineweb_domain_analyzer_spark.operators.filtering import label_pages
    from fineweb_domain_analyzer_spark.operators.quality import with_quality_features
    from fineweb_domain_analyzer_spark.plans.pipeline import quality_filter_pipeline

    text = F.col("text")
    decoded = pages.withColumn(
        "text", F.coalesce(text, decode_utf8_ignore_udf(F.when(text.isNull(), F.col("html"))))
    )
    labeled = label_pages(decoded, policy)
    tokens = with_langid(
        labeled.withColumn("_toks_lw", ws_tokens(F.lower(text))), lower_tokens_col="_toks_lw"
    )
    features = with_quality_features(tokens, lower_tokens_col="_toks_lw")
    return [
        ("sources.pages.scan_s", pages),
        ("functions.textfns.decode_s", decoded),
        ("operators.filtering.label_s", labeled),
        ("functions.textfns.tokenize_langid_s", tokens.drop("_toks_lw")),
        ("operators.quality.features_s", features.drop("_toks_lw")),
        ("functions.scrub.scrub_s", quality_filter_pipeline(pages, policy)),
    ]


class Workload:
    name = ""
    docs = 0
    out: Path

    def reset(self) -> None:
        """Clear what the previous run left; default: nothing."""

    def warm_up(self) -> None:
        for _ in range(WARM_UP_RUNS):
            self.reset()
            self.run()


class FlagshipWrite(Workload):
    name = "flagship_write"

    def __init__(self, spark, work: Path, seed: int, docs: int):
        self.spark = spark
        self.dir = inputs.prepare_pages(spark, work / "cache", docs, seed)
        self.meta = inputs.load_meta(self.dir)
        self.docs = self.meta["docs"]
        self.out = work / "out" / self.name

    def frames(self):
        read = self.spark.read.parquet
        return read(str(self.dir / "pages")), read(str(self.dir / "policy"))

    def run(self, tracer=None) -> int:
        from fineweb_domain_analyzer_spark.plans.pipeline import (
            quality_filter_pipeline,
            write_pipeline_output,
        )

        pages, policy = self.frames()
        if tracer is None:
            write_pipeline_output(quality_filter_pipeline(pages, policy), str(self.out))
        else:
            with tracer.span("plans.pipeline.quality_filter_pipeline"):
                labeled = quality_filter_pipeline(pages, policy)
            with tracer.span("plans.pipeline.write_pipeline_output"):
                write_pipeline_output(labeled, str(self.out))
        return dir_bytes(self.out)[0]

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        committed = self.spark.read.parquet(str(self.out))
        if "scrubbed_text" not in committed.columns:
            return ["scrubbed_text missing from the committed output"]
        row = committed.agg(
            F.count(F.lit(1)).alias("n"), F.count_if(F.col("scrubbed_text").rlike(_PII_LEFT)).alias("pii")
        ).collect()[0]
        errors = []
        if row["n"] != self.docs:
            errors.append(f"committed {row['n']} rows, input has {self.docs}")
        if row["pii"]:
            errors.append(f"{row['pii']} rows still hold an email, phone or IPv4 match")
        return errors


class ResumableJob(FlagshipWrite):
    name = "resumable_job"

    def __init__(self, spark, work: Path, seed: int, docs: int):
        super().__init__(spark, work, seed, docs)
        self.manifest = work / "out" / "resumable_manifest.json"
        self.report: dict = {}
        self.flagship_hist: dict = {}

    def warm_up(self) -> None:
        """The flagship plan's drop-reason histogram on the same input:
        the reference for ``check``, and it compiles the pipeline."""
        from fineweb_domain_analyzer_spark.operators.metrics import drop_reason_histogram
        from fineweb_domain_analyzer_spark.plans.pipeline import quality_filter_pipeline

        rows = drop_reason_histogram(quality_filter_pipeline(*self.frames())).collect()
        self.flagship_hist = {r["drop_reason"]: r["cnt"] for r in rows}

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        self.manifest.unlink(missing_ok=True)

    def run(self, tracer=None) -> int:
        from fineweb_domain_analyzer_spark import job
        from fineweb_domain_analyzer_spark.plans import checkpoint

        argv = [
            "--pages", str(self.dir / "pages"),
            "--policy", str(self.dir / "policy"),
            "--output", str(self.out),
            "--manifest", str(self.manifest),
            "--splits", ",".join(str(i) for i in range(N_SPLITS)),
        ]  # fmt: skip
        stdout = io.StringIO()
        with contextlib.redirect_stdout(stdout):
            if tracer is None:
                job.main(argv)
            else:
                self._traced(job, checkpoint, argv, tracer)
        self.report = json.loads(stdout.getvalue().strip().splitlines()[-1])
        return dir_bytes(self.out)[0] + self.manifest.stat().st_size

    def _traced(self, job, checkpoint, argv, tracer) -> None:
        commits: list[float] = []

        def on_commit(fn):
            def inner(cp, split):
                with tracer.span("plans.checkpoint.manifest_commit"):
                    fn(cp, split)
                commits.append(time.perf_counter())

            return inner

        with tracer.span("job.main"):
            with _patched(job, "run_resumable", _spanned(tracer, "plans.checkpoint.run_resumable")), \
                    _patched(checkpoint.Checkpointer, "mark_processed", on_commit):  # fmt: skip
                job.main(argv)
            run = [s for s in tracer.spans if s.name == "plans.checkpoint.run_resumable"][-1]
            # one split = its bucket-filtered re-scan, pipeline, write and
            # manifest commit: the interval between consecutive commits
            prev = run.start
            for t in commits:
                tracer.add("plans.checkpoint.split", prev, t, parent=run.id)
                prev = t
            tracer.add("operators.metrics.readback", run.end, time.perf_counter())

    def check(self) -> list[str]:
        errors = []
        splits = json.loads(self.manifest.read_text())["splits"]
        if sorted(splits, key=int) != [str(i) for i in range(N_SPLITS)]:
            errors.append(f"manifest lists splits {splits}")
        hist = self.report.get("drop_reason_histogram")
        if hist != self.flagship_hist:
            errors.append(f"job histogram {hist} != flagship plan's {self.flagship_hist}")
        if self.report.get("total") != self.docs:
            errors.append(f"job read back {self.report.get('total')} rows of {self.docs}")
        return errors


class ReferenceCli(Workload):
    name = "reference_cli"
    RUN_TS, RUN_ISO = "20240612_000000", "2024-06-12T00:00:00"

    def __init__(self, spark, work: Path, seed: int, docs: int, shards: int):
        self.spark = spark
        self.dir = inputs.prepare_warc(spark, work / "cache", docs, seed, shards)
        self.docs = json.loads((self.dir / "meta.json").read_text())["records"]
        self.out = work / "out" / self.name
        self.counts: dict[str, int] = {}

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run(self, tracer=None) -> int:
        from fineweb_domain_analyzer_spark import cli

        argv = [
            "--input", str(self.dir / "shards.warc"),
            "--output", str(self.out),
            "--all-steps",
            "--robots-content", str(self.dir / "robots_content.json"),
            "--run-ts", self.RUN_TS,
            "--run-iso", self.RUN_ISO,
        ]  # fmt: skip
        with contextlib.redirect_stdout(io.StringIO()):
            if tracer is None:
                cli.main(argv)
            else:
                self._traced(cli, argv, tracer)
        return dir_bytes(self.out)[0]

    def _traced(self, cli, argv, tracer) -> None:
        got: dict[str, list] = {k: [] for k in ("warc", "domains", "filter")}
        with contextlib.ExitStack() as stack:
            for fn, key in (
                ("warc_to_json", "warc"),
                ("extract_domains", "domains"),
                ("check_robots", None),
                ("filter_content", "filter"),
            ):
                stack.enter_context(
                    _patched(cli, fn, _spanned(tracer, f"cli.{fn}", got.get(key)))
                )
            with tracer.span("cli.main"):
                cli.main(argv)
        with open(got["warc"][-1], "rb") as f:
            self.counts["sources.warc.records"] = sum(1 for _ in f)
        self.counts["operators.domain_stats.domains"] = len(got["domains"][-1])
        self.counts["sources.jsonl.lines"] = got["filter"][-1][2]["total_processed"]

    def _lines(self, pattern: str) -> list[bytes]:
        out: list[bytes] = []
        for p in sorted(self.out.glob(pattern)):
            out.extend(p.read_bytes().splitlines())
        return out

    def check(self) -> list[str]:
        errors = []
        (stats_file,) = self.out.glob("filter_stats_*.json")
        stats = json.loads(stats_file.read_text())["statistics"]
        if stats["filtered_kept"] + stats["excluded_count"] != self.docs:
            errors.append(
                f"kept {stats['filtered_kept']} + excluded {stats['excluded_count']}"
                f" != {self.docs} WARC records"
            )
        source = sorted(self._lines("shards.jsonl"))
        written = sorted(self._lines("filtered_*.jsonl") + self._lines("excluded_*.jsonl"))
        if len(source) != self.docs:
            errors.append(f"warc_to_json wrote {len(source)} lines of {self.docs} records")
        if written != source:
            errors.append("filtered + excluded lines differ from the JSONL lines")
        return errors
