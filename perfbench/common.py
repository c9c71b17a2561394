"""Shared helpers: statistics, process memory, box facts, Spark counts."""

from __future__ import annotations

import glob
import hashlib
import itertools
import json
import math
import os
import platform
import subprocess
import sys
from collections import defaultdict
from pathlib import Path
from typing import Any

ROOT = Path(__file__).resolve().parent.parent


# ---- statistics ----------------------------------------------------------
def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def hd_quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of quantile q: a mean of all order statistics
    weighted by the Beta(q(n+1), (1-q)(n+1)) density. In a small sample
    whose quantile falls between a fast and a slow group of values, the
    sample quantile jumps with whichever neighbour it lands on; this
    estimate moves smoothly."""
    xs = sorted(values)
    n = len(xs)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    if n < 3 or a <= 1 or b <= 1:
        return quantile(xs, q)
    per = 200  # grid points per order statistic
    steps = per * n
    lg = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    dens = [0.0] + [math.exp(lg + (a - 1) * math.log(t) + (b - 1) * math.log(1 - t))
                    for t in (i / steps for i in range(1, steps))] + [0.0]
    # the Beta CDF at i/n, by the trapezoid rule
    cdf = [0.0, *itertools.accumulate((dens[i] + dens[i + 1]) / (2 * steps)
                                      for i in range(steps))]
    w = [cdf[(i + 1) * per] - cdf[i * per] for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def hd_median(values: list[float]) -> float:
    return hd_quantile(values, 0.5)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) for the highest percentile that still has at
    least ten samples beyond it, as a Harrell-Davis estimate. Below 20
    samples that percentile would fall under the median, so the maximum is
    reported instead."""
    n = len(values)
    if n < 20:
        return 100.0, max(values) if values else 0.0
    p = 1.0 - 10.0 / n
    return round(100.0 * p, 1), hd_quantile(values, p)


# ---- memory --------------------------------------------------------------
def _children(pid: int) -> list[int]:
    kids = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            kids.append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in _children(p):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process, in MiB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_peak_rss_mb(pid: int) -> tuple[float, dict[str, float]]:
    """Sum of peak RSS over `pid` and its descendants, plus a per-command
    breakdown (python, java, ...)."""
    parts: dict[str, float] = defaultdict(float)
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        parts[comm] += peak_rss_mb(p)
    return sum(parts.values()), dict(parts)


# ---- box facts -----------------------------------------------------------
def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def source_digest() -> str:
    """Commit id when the checkout is a git repository, else a digest of
    the program's Python sources."""
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for p in sorted((ROOT / "lakekeeper_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return "tree-sha256:" + h.hexdigest()[:16]


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat CPU counters (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine between two
    cpu_ticks() readings, in percent."""
    d = [b - a for a, b in zip(start, end)]
    return 100.0 * d[7] / max(1, sum(d))


def box_facts(seed: int) -> dict[str, Any]:
    facts: dict[str, Any] = {
        "nproc": nproc(),
        "loadavg_start": loadavg(),
        "cpu_ticks_start": cpu_ticks(),
        "commit": source_digest(),
        "seed": seed,
        "python": platform.python_version(),
    }
    try:
        import pyspark

        facts["pyspark"] = pyspark.__version__
    except ImportError:
        facts["pyspark"] = None
    return facts


# ---- Spark structure -----------------------------------------------------
def group_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one job group, from the
    status tracker. Skipped stages (reused shuffle output) are not
    counted."""
    sc = spark.sparkContext
    # the status tracker is fed by the asynchronous listener bus: let it
    # catch up with the action that just returned
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            s = st.getStageInfo(sid)
            if s is None or s.numCompletedTasks == 0:
                continue
            stages += 1
            tasks += s.numTasks
    return {"spark_jobs": len(jobs), "spark_stages": stages, "spark_tasks": tasks}


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: job spans (ms), shuffle bytes written, executor CPU
    seconds, GC seconds and spilled bytes, summed over task ends."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, Any]] = defaultdict(
        lambda: {"jobs": [], "shuffle_bytes": 0, "executor_cpu_s": 0.0,
                 "gc_s": 0.0, "spill_bytes": 0}
    )
    job_start: dict[int, int] = {}
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p)]
    for path in sorted(files):
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if g is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = ev.get("Submission Time", 0)
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        out[job_group[jid]]["jobs"].append(
                            (job_start[jid], ev.get("Completion Time", job_start[jid]))
                        )
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    rec = out[g]
                    rec["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return dict(out)


def union_ms(spans: list[tuple[int, int]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class ServerProc:
    """The program's REST catalog server in a child process (see
    server_main.py), so the load generator's GIL takes no part in server
    latency."""

    def __init__(self, state_dir: Path, trace: bool) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, str(Path(__file__).resolve().parent / "server_main.py"),
             str(state_dir), "1" if trace else "0"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line:
            self.proc.wait(timeout=30)
            raise RuntimeError("REST server child exited during start")
        info = json.loads(line)
        self.url = info["url"]
        self.start_s = info["start_s"]

    def send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def stats(self) -> dict[str, Any]:
        self.send("stats")
        return json.loads(self.proc.stdout.readline())

    def peak_rss_mb(self) -> float:
        return peak_rss_mb(self.proc.pid)

    def cpu_s(self) -> float:
        """User plus system CPU seconds the child has used so far."""
        with open(f"/proc/{self.proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def stop(self) -> dict[str, Any]:
        """Stop the child, wait for it, return its final span summary."""
        out: dict[str, Any] = {}
        try:
            self.send("stop")
            self.proc.stdin.close()
            line = self.proc.stdout.readline()
            out = json.loads(line) if line else {}
        except (OSError, ValueError):
            pass
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=30)
        self.proc.stdout.close()
        return out
