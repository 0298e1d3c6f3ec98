"""Shared pieces: the run context, the workload result, percentiles, and
process/host readings (``psutil`` is not available, so memory comes from
``resource``)."""

from __future__ import annotations

import math
import os
import platform
import resource
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    work: str  # per-run scratch directory inside the checkout
    tiny: bool = False  # smoke-test sizes
    inject: frozenset[str] = frozenset()  # faults the smoke test plants

    def path(self, *rel: str) -> str:
        return os.path.join(self.work, *rel)


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def fail(self, msg: str, n: int = 1) -> None:
        self.failed += n
        self.errors.append(msg)


def pct(values, q: float) -> float:
    """Nearest-rank percentile ``q`` (0-100) of ``values``."""
    v = sorted(values)
    if not v:
        return 0.0
    return float(v[max(0, math.ceil(q / 100 * len(v)) - 1)])


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


def peak_rss_mib(pids=()) -> float:
    """Peak RSS of this process plus that of ``pids`` (the JVM), read
    from ``/proc/<pid>/status``."""
    total = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return total


def host_info(root: str) -> dict:
    info = {
        "nproc": os.cpu_count(),
        "python": platform.python_version(),
        "git_head": _git_head(root),
    }
    try:
        import pyspark

        info["pyspark"] = pyspark.__version__
    except ImportError:
        info["pyspark"] = None
    return info


def _git_head(root: str) -> str | None:
    """HEAD read from ``.git`` directly; a checkout without git history
    (a plain export) has none."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def jvm_pid(spark) -> tuple[int, ...]:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return (proc.pid,) if proc is not None else ()


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited (the JVM quits
    when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Stopwatch:
    """``with Stopwatch() as sw: ...`` then ``sw.s``."""

    def __enter__(self):
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self._t
        return False
