#!/usr/bin/env python3
"""The repository benchmark (workloads and metrics: BENCHMARK.json).

    python3 perfbench/run.py --workload flagship_write --seed 1 --seconds 18 --trace 0

Run from the root of a checkout.  Inputs come from ``--seed`` and are
cached under ``.perfbench/cache``.  One process runs one workload on
``local[nproc]``: set-up (session start, input generation or cache
check, untimed warm-up runs), then timed runs until ``--seconds`` have
passed, each followed by an output check.

``--trace 0`` reports the end-to-end metrics from untraced runs.
``--trace 1`` alternates untraced and traced runs and reports the
per-layer metrics; on ``flagship_write`` it also times the layer
prefixes and traces one ``job.main`` run on the same input.  Spans go to
``.perfbench/trace/<workload>-<seed>.jsonl``.  A layer the workload does
not run reports 0.

The last stdout line is one JSON object: correct, attempted, failed and
metrics.  The line before it carries the host record and every sample.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

import sessions
import tracing
import workloads

DOCS = {"flagship_write": 12000, "resumable_job": 12000, "reference_cli": 12000}
# prefix runs per traced cycle: one traced run of the full job per cycle
# leaves room for few cycles, so each cycle times every prefix thrice
PREFIX_ROUNDS = 3
SPARK_COUNTS = ("python_bytes_sent", "python_bytes_received", "shuffle_bytes", "tasks", "failed_tasks")


def metric_units(kind: str) -> dict[str, str]:
    """Metric name → unit for ``end_to_end`` or ``per_layer``, as
    BENCHMARK.json at the checkout root lists them."""
    spec = json.loads((sessions.ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def make_workload(name: str, spark, work, seed: int):
    docs = DOCS[name]
    if name == "reference_cli":
        return workloads.ReferenceCli(spark, work, seed, docs, shards=os.cpu_count() or 1)
    cls = workloads.FlagshipWrite if name == "flagship_write" else workloads.ResumableJob
    return cls(spark, work, seed, docs)


class Bench:
    """Timed runs of one workload, its output checks and, under
    ``--trace 1``, the traced runs and layer prefixes.  ``extra`` is a
    workload traced once after the timed runs (its layers only)."""

    def __init__(self, spark, wl, trace: bool, extra=None):
        self.spark, self.wl, self.trace, self.extra = spark, wl, trace, extra
        self.tracer = tracing.Tracer()
        self.walls: list[float] = []
        self.traced_walls: list[float] = []
        self.out_bytes: list[int] = []
        self.prefix: dict[str, list[float]] = {}
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.iteration = 0

    def _group(self, label: str) -> None:
        self.spark.sparkContext.setJobGroup(label, label)

    def _attempt(self, wl, traced: bool, group: str):
        """One checked run: (wall, bytes committed), or None if it failed."""
        self.iteration += 1
        wl.reset()
        tracer = self.tracer if traced else None
        if traced:
            self.tracer.run_id = f"{wl.name}-{self.iteration}"
            self._group(f"{group}-{self.iteration}")
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out_bytes = wl.run()
            else:
                with tracer.span(f"{wl.name}.run"):
                    out_bytes = wl.run(tracer)
            wall = time.perf_counter() - t0
            if traced:
                self._group(f"check-{self.iteration}")
            errors = wl.check()
        except Exception as e:  # a run that raises is a failed run, not a crash
            wall, out_bytes, errors = time.perf_counter() - t0, 0, [repr(e)]
        if errors:
            self.failed += 1
            self.errors.extend(errors)
            print(f"{wl.name} run {self.iteration} failed: {errors}", file=sys.stderr)
            return None
        return wall, out_bytes

    def timed_run(self, traced: bool) -> None:
        done = self._attempt(self.wl, traced, "full")
        if done is not None:
            (self.traced_walls if traced else self.walls).append(done[0])
            self.out_bytes.append(done[1])

    def prefixes(self) -> None:
        """Time every flagship prefix, PREFIX_ROUNDS interleaved rounds."""
        frames = workloads.prefix_frames(*self.wl.frames())
        for r in range(PREFIX_ROUNDS):
            for name, df in frames:
                self._group(f"prefix:{name}:{self.iteration}.{r}")
                t0 = time.perf_counter()
                with self.tracer.span(f"prefix.{name}"):
                    workloads.hash_consume(df)
                self.prefix.setdefault(name, []).append(time.perf_counter() - t0)

    def warm_prefixes(self) -> None:
        """Compile the prefix plans before timing them; keep no samples."""
        self.prefixes()
        self.prefix.clear()
        self.tracer = tracing.Tracer()

    def measure(self, seconds: float) -> None:
        """Cycles until ``seconds`` have passed (at least one)."""
        deadline = time.perf_counter() + seconds
        while True:
            self.timed_run(traced=False)
            if self.trace:
                self.timed_run(traced=True)
                if self.wl.name == "flagship_write":
                    self.prefixes()
            if time.perf_counter() >= deadline:
                break
        if self.extra is not None:
            self.extra.warm_up()
            self._attempt(self.extra, True, self.extra.name)

    def end_to_end(self, setup_s: float, rss_mb: float) -> dict:
        wall = _median(self.walls)
        return {
            "docs_per_s": self.wl.docs / wall if wall else 0.0,
            "out_bytes_per_doc": _median(self.out_bytes) / self.wl.docs,
            "peak_rss_mb": rss_mb,
            "setup_s": setup_s,
        }

    def per_layer(self, names, setup: dict, counts: dict) -> dict:
        m = dict.fromkeys(names, 0.0)
        m.update(setup)
        m["failed_frac"] = self.failed / max(self.attempted, 1)
        m["bench.tracing_overhead_s"] = _median(self.traced_walls) - _median(self.walls)
        span = lambda name: _median(self.tracer.durations(name))  # noqa: E731
        full = [g for g in counts if g.startswith("full-")]
        for key in SPARK_COUNTS:
            m[f"spark.{key}"] = _median([counts[g][key] for g in full])
        if self.prefix:
            prev = 0.0
            for name, times in self.prefix.items():
                m[name] = _median(times) - prev
                prev = _median(times)
            m["plans.pipeline.build_s"] = span("plans.pipeline.quality_filter_pipeline")
            m["plans.pipeline.write_s"] = span("plans.pipeline.write_pipeline_output") - prev
            m["plans.pipeline.prefix_gap_s"] = _median(self.walls) - (
                prev + m["plans.pipeline.write_s"] + m["plans.pipeline.build_s"]
            )
            m["plans.pipeline.write_bytes"], m["plans.pipeline.write_files"] = sessions.dir_bytes(
                self.wl.out
            )
            m["functions.textfns.decode_rows"] = self.wl.meta["text_missing_rows"]
            label = [g for g in counts if g.startswith("prefix:operators.filtering.label_s:")]
            m["operators.filtering.broadcast_bytes"] = _median(
                [counts[g]["broadcast_bytes"] for g in label]
            )
        splits = self.tracer.durations("plans.checkpoint.split")
        if splits:
            m["plans.checkpoint.run_resumable_s"] = span("plans.checkpoint.run_resumable")
            m["plans.checkpoint.split_s_p50"] = _median(splits)
            m["plans.checkpoint.split_s_max"] = max(splits)
            m["plans.checkpoint.manifest_commit_s"] = span("plans.checkpoint.manifest_commit")
            m["operators.metrics.readback_s"] = span("operators.metrics.readback")
        if self.tracer.durations("cli.main"):
            for stage in ("warc_to_json", "extract_domains", "check_robots", "filter_content"):
                m[f"cli.{stage}_s"] = span(f"cli.{stage}")
            m.update(self.wl.counts)
        return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(DOCS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (sessions.ROOT / "fineweb_domain_analyzer_spark").is_dir():
        sys.exit("perfbench: no fineweb_domain_analyzer_spark package; run from a checkout's root")

    host = sessions.Host()
    work = sessions.work_dir()
    shutil.rmtree(work / "out", ignore_errors=True)
    event_dir = work / "events" if args.trace else None
    if event_dir is not None:
        shutil.rmtree(event_dir, ignore_errors=True)

    sessions.adopt_orphans()
    # a TERM unwinds like an error, so the JVM and its workers are still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, host, work, event_dir)
    finally:
        sessions.reap()


def _run(args, host, work, event_dir) -> int:
    t0 = time.perf_counter()
    spark = sessions.start(work, os.cpu_count() or 1, event_dir)
    try:
        t1 = time.perf_counter()
        wl = make_workload(args.workload, spark, work, args.seed)
        t2 = time.perf_counter()
        # the resumable job's layers are traced on flagship_write's input
        extra = None
        if args.trace and wl.name == "flagship_write":
            extra = make_workload("resumable_job", spark, work, args.seed)
        bench = Bench(spark, wl, bool(args.trace), extra)
        wl.reset()
        wl.warm_up()
        if args.trace and wl.name == "flagship_write":
            bench.warm_prefixes()
        t3 = time.perf_counter()
        setup = {"setup.session_s": t1 - t0, "setup.input_s": t2 - t1, "setup.warmup_s": t3 - t2}
        bench.measure(args.seconds)
        rss_mb, rss_parts = sessions.peak_rss_mb(spark)
        host_record = host.finish(spark)
    finally:
        sessions.stop(spark)

    metrics = bench.end_to_end(t3 - t0, rss_mb)
    units = metric_units("end_to_end")
    if args.trace:
        bench.tracer.dump(work / "trace" / f"{wl.name}-{args.seed}.jsonl")
        counts = tracing.spark_counts(event_dir)
        shuffled = sum(c["shuffle_bytes"] for g, c in counts.items() if g.startswith("full-"))
        if wl.name == "flagship_write" and shuffled:
            # the flagship plan is one map stage: a shuffle is a plan defect
            bench.failed += 1
            bench.errors.append(f"flagship_write shuffled {shuffled} bytes")
        units = metric_units("per_layer")
        metrics = bench.per_layer(units, setup, counts)
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "docs": wl.docs,
        "host": host_record,
        "setup": setup,
        "peak_rss_parts_mb": rss_parts,
        "walls_s": bench.walls,
        "traced_walls_s": bench.traced_walls,
        "prefix_s": bench.prefix,
        "failed_frac": bench.failed / max(bench.attempted, 1),
        "errors": bench.errors[:10],
        "end_to_end": bench.end_to_end(t3 - t0, rss_mb),
    }
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
