"""Spark session, host record and process memory for the benchmark.

Everything the benchmark writes — input caches, outputs, Spark scratch
space, event logs, temp files — lives under ``.perfbench/`` at the root
of the checkout it runs from.
"""

from __future__ import annotations

import ctypes
import os
import platform
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DRIVER_MEMORY = "2g"
PR_SET_CHILD_SUBREAPER = 36


def work_dir() -> Path:
    d = ROOT / ".perfbench"
    d.mkdir(exist_ok=True)
    return d


def adopt_orphans() -> None:
    """Make this process the reaper of every process below it, so the
    Python worker daemon is reparented here (not to init) if the JVM
    that forked it ends first, and ``reap`` can wait for it."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop(spark, timeout: float = 60.0) -> None:
    """Stop the session, then end the gateway JVM: close the pipe it
    watches, wait for it, kill it if it outlives ``timeout``."""
    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def reap(grace: float = 10.0) -> None:
    """Wait for every process below this one to end: SIGTERM to those
    still running, SIGKILL after ``grace`` seconds."""
    deadline = time.monotonic() + grace
    signalled: set[tuple[int, int]] = set()
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left
        if pid:
            continue
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for child in _children().get(os.getpid(), []):
            if (child, sig) not in signalled:
                signalled.add((child, sig))
                try:
                    os.kill(child, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def start(work: Path, cpus: int, event_dir: Path | None = None):
    """local[cpus] session with scratch space, temp files and Python
    workers confined to the checkout."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # no hsperfdata files in the system temp dir, from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers unpickle the package's UDFs by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, str(ROOT))
    from fineweb_domain_analyzer_spark.session import get_spark

    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(2 * cpus),
        "spark.driver.memory": DRIVER_MEMORY,
        # a pre-touched fixed heap: peak RSS then does not depend on
        # when G1 happened to grow the heap during a run
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = event_dir.as_uri()
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _loadavg() -> list[float]:
    with open("/proc/loadavg", encoding="ascii") as f:
        return [float(x) for x in f.read().split()[:3]]


def _cpu_ticks() -> list[int]:
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


class Host:
    """nproc, load average at start and end, the share of CPU time the
    hypervisor stole during the run, versions and commit."""

    def __init__(self):
        self._ticks = _cpu_ticks()
        self.record = {
            "nproc": os.cpu_count(),
            "loadavg_start": _loadavg(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "python": platform.python_version(),
            "git_commit": _git_commit(),
        }

    def finish(self, spark) -> dict:
        self.record["spark"] = spark.version
        self.record["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        self.record["loadavg_end"] = _loadavg()
        delta = [b - a for a, b in zip(self._ticks, _cpu_ticks())]
        self.record["steal_frac"] = delta[7] / max(sum(delta), 1) if len(delta) > 7 else None
        return self.record


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> tuple[float, dict]:
    """Sum of VmHWM over the Spark JVM and every process below it (the
    Python worker daemon and its workers), and its parts in MB."""
    kids = _children()
    root = jvm_pid(spark)
    parts = {"jvm": _vm_hwm_kb(root) / 1024.0, "python": []}
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        parts["python"].append(_vm_hwm_kb(pid) / 1024.0)
        todo.extend(kids.get(pid, []))
    return parts["jvm"] + sum(parts["python"]), parts


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``; hidden
    checksum files and ``_SUCCESS`` markers are not output."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files
