"""Pieces shared by the workloads and the runner: the timed-operation
record, the per-operation Spark job group, percentiles, the host context
and the peak-RSS sampler."""

from __future__ import annotations

import itertools
import json
import os
import platform
import subprocess
import threading
from contextlib import contextmanager
from dataclasses import dataclass, field

from spans import spark_group_figures


@dataclass
class Op:
    name: str
    start: float
    end: float
    ok: bool
    spark: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class _Group:
    def __init__(self):
        self.figures: dict = {}


def job_groups(spark, run_id: str):
    """Factory of context managers that run one operation under its own
    Spark job group and read the group's job figures back afterwards."""
    seq = itertools.count()

    @contextmanager
    def group(label: str):
        gid = f"perfbench:{run_id}:{next(seq)}:{label}"
        sc = spark.sparkContext
        sc.setJobGroup(gid, label)
        g = _Group()
        try:
            yield g
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            g.figures = spark_group_figures(spark, gid)

    return group


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks since boot: on a virtual machine, steal is
    the time the host gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def host_context(repo_root: str) -> dict:
    """What a shifted number must be read against: cores, load, the
    configured Spark cores, the pyspark version and the source commit."""
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", repo_root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None  # a source tree without git metadata
    return {
        "nproc": os.cpu_count(),
        "loadavg_start": loadavg(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": commit,
    }


def _tree_pss_bytes(root_pid: int) -> dict[str, int]:
    """Proportional resident memory of ``root_pid`` and its ``java`` and
    ``python*`` descendants (the JVM and the Python workers it forks), by
    command name. PSS splits pages shared between forked workers instead
    of counting them once per process, so the sum is the memory the tree
    really holds. Other descendants are short-lived helpers, such as a
    JVM thread's fork before it execs, which would count the JVM twice."""
    out: dict[str, int] = {}
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            if pid != root_pid and comm != "java" and not comm.startswith("python"):
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[comm] = out.get(comm, 0) + int(line.split()[1]) * 1024
                        break
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except (OSError, ValueError):
            continue  # the process ended while being read
    return out


class RssSampler:
    """Samples the process tree's resident memory on a background
    thread; ``peak`` is the largest sum seen, ``peak_by_command`` its
    split by command name."""

    def __init__(self, interval_s: float = 1.0):
        self.peak = 0
        self.peak_by_command: dict[str, int] = {}
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        by = _tree_pss_bytes(os.getpid())
        total = sum(by.values())
        if total > self.peak:
            self.peak, self.peak_by_command = total, by

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return False


def write_record(out_dir: str, name: str, record: dict) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, name)
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    return path
