"""In-memory spans and Spark counts for the traced run.

A span has a name, start, end, parent and run id.  Spans stay in memory
and are written out once, when the run ends.  The benchmark opens spans
around its own calls into the engine (and around patched entry-point
functions), never inside the engine.

Spark counts come from the run's event log, grouped by the job group
the benchmark sets around each timed call: tasks and failed tasks per
stage, shuffle bytes written, and the SQL metrics of the executed plans
(data sent to / returned from Python workers, broadcast relation size).
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    id: int

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[int] = []
        self.run_id = ""

    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.add(name, t0, time.perf_counter(), parent, sid)

    def add(self, name: str, start: float, end: float, parent=None, sid=None) -> Span:
        if parent is None and self._stack:
            parent = self._stack[-1]
        s = Span(name, start, end, parent, self.run_id, next(self._ids) if sid is None else sid)
        self.spans.append(s)
        return s

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text("\n".join(json.dumps(asdict(s)) for s in self.spans) + "\n")


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"


def spark_counts(event_dir: Path) -> dict[str, dict[str, int]]:
    """Per job group: tasks, failed_tasks, shuffle_bytes,
    python_bytes_sent, python_bytes_received, broadcast_bytes."""
    (log,) = [p for p in event_dir.iterdir() if p.is_file()]
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    broadcast_acc: set[int] = set()
    driver_updates: list[tuple[int, int, int]] = []
    out: dict[str, dict[str, int]] = {}

    def bucket(group: str) -> dict[str, int]:
        return out.setdefault(
            group,
            dict.fromkeys(
                ("tasks", "failed_tasks", "shuffle_bytes", "python_bytes_sent",
                 "python_bytes_received", "broadcast_bytes"),
                0,
            ),
        )

    with open(log, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
                ex = props.get("spark.sql.execution.id")
                if ex is not None:
                    exec_group.setdefault(int(ex), group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                b = bucket(group)
                b["tasks"] += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    b["failed_tasks"] += 1
                metrics = ev.get("Task Metrics") or {}
                b["shuffle_bytes"] += metrics.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == _PY_SENT:
                        b["python_bytes_sent"] += int(acc["Update"])
                    elif acc.get("Name") == _PY_RECEIVED:
                        b["python_bytes_received"] += int(acc["Update"])
            elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
                for node in _plan_nodes(ev["sparkPlanInfo"]):
                    if node["nodeName"] == "BroadcastExchange":
                        broadcast_acc.update(
                            m["accumulatorId"] for m in node["metrics"] if m["name"] == "data size"
                        )
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev["accumUpdates"]:
                    driver_updates.append((ev["executionId"], acc_id, value))
    for ex, acc_id, value in driver_updates:
        if acc_id in broadcast_acc and ex in exec_group:
            bucket(exec_group[ex])["broadcast_bytes"] += int(value)
    return out
