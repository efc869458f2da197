"""Measurement plumbing shared by every workload: spans, Spark sessions,
event-log statistics, a process-tree RSS sampler and the host-drift probe.

Nothing here knows a workload. Spans are kept in memory and written out
once, when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import subprocess
import threading
import time


class Tracer:
    """In-memory spans: name, start, end, parent. Disabled, ``span`` is a
    bare ``yield`` so the untraced run pays nothing measurable."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def with_self_time(self) -> list[dict]:
        """Spans plus ``self_s``: duration minus the time its children cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = []
        for s in self.spans:
            dur = (s["end"] or s["start"]) - s["start"]
            out.append({**s, "self_s": dur - child_s.get(s["id"], 0.0)})
        return out


def median(values: list[float]) -> float:
    return float(statistics.median(values))


# --------------------------------------------------------------------------
# Spark sessions
# --------------------------------------------------------------------------
def start_session(master: str, conf: dict, tracer: Tracer, label: str):
    """One set-up: SparkSession start, then the Python-worker warm-up the
    graded bench runs before its first timed job. Returns (spark, start_s,
    warm_s)."""
    from bench import _warm_python_workers
    from pdfredact_spark.session import get_spark

    with tracer.span("session.start", setup=label):
        t0 = time.perf_counter()
        spark = get_spark(master=master, app_name=f"perfbench-{label}", extra=conf)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
    with tracer.span("session.warm", setup=label):
        _warm_python_workers(spark)
        t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """Stop the py4j gateway JVM this process launched and wait for it to
    exit: the JVM exits when its stdin pipe closes, and its Python worker
    daemon exits with it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout_s)


@contextlib.contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def eventlog_conf(event_dir: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{event_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_eventlog(event_dir: str, app_id: str) -> dict[str, dict]:
    """Per job group: jobs, and per task wall seconds, GC seconds,
    scheduler delay, shuffle bytes written and output bytes written."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def group(name: str) -> dict:
        return groups.setdefault(name, {"jobs": 0, "tasks": []})

    for path in glob.glob(os.path.join(event_dir, f"{app_id}*")):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        group(g)["jobs"] += 1
                        for sid in e.get("Stage IDs", []):
                            stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(e["Stage ID"])
                    if g is None:
                        continue
                    ti = e["Task Info"]
                    tm = e.get("Task Metrics") or {}
                    wall_ms = ti["Finish Time"] - ti["Launch Time"]
                    # the Spark UI's definition of scheduler delay
                    delay_ms = max(
                        0,
                        wall_ms
                        - tm.get("Executor Run Time", 0)
                        - tm.get("Executor Deserialize Time", 0)
                        - tm.get("Result Serialization Time", 0)
                        - ti.get("Getting Result Time", 0),
                    )
                    group(g)["tasks"].append({
                        "wall_s": wall_ms / 1000.0,
                        "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                        "delay_s": delay_ms / 1000.0,
                        "shuffle_write_bytes": (tm.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0),
                        "output_bytes": (tm.get("Output Metrics") or {})
                        .get("Bytes Written", 0),
                    })
    return groups


def task_summary(groups: list[dict]) -> dict:
    """Per-op figures over the named groups (one group per op): tasks per
    op, pooled task p50 / max, and per-op GC, scheduler delay, shuffle
    write and output bytes."""
    n = max(len(groups), 1)
    tasks = [t for g in groups for t in g["tasks"]]
    walls = sorted(t["wall_s"] for t in tasks) or [0.0]
    return {
        "tasks": len(tasks) / n,
        "jobs": sum(g["jobs"] for g in groups) / n,
        "task_p50_s": median(walls),
        "task_max_s": walls[-1],
        "gc_s": sum(t["gc_s"] for t in tasks) / n,
        "scheduler_delay_s": sum(t["delay_s"] for t in tasks) / n,
        "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks) / n,
        "output_bytes": sum(t["output_bytes"] for t in tasks) / n,
    }


# --------------------------------------------------------------------------
# Host figures
# --------------------------------------------------------------------------
class TreeRssSampler:
    """Samples the summed RSS of a process and all its descendants (the
    Spark JVM and its Python workers) from /proc until stopped."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._pid: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def watch(self, pid: int | None) -> None:
        self._pid = pid
        if pid is not None and not self._thread.is_alive():
            self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self._pid is not None:
                self.peak_bytes = max(self.peak_bytes, _tree_rss(self._pid))


def _tree_rss(root: int) -> int:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
        todo.extend(children.get(pid, []))
    return total


def burn_mops(n: int = 2_000_000) -> float:
    """One-worker pure-Python burn (bench._burn) in this process: million
    loop iterations per second. Information only: it shows host drift
    between runs and is never a gate."""
    from bench import _burn

    t0 = time.perf_counter()
    _burn(n)
    return n / (time.perf_counter() - t0) / 1e6
