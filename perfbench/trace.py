"""Per-layer tracing from outside the program.

A traced run turns on Spark's event log, uncompressed
(``spark.eventLog.compress=false``: the default codec needs the
``zstandard`` module, which the engine does not depend on). The
benchmark wraps each call into a layer in ``Tracer.span``, which sets
the Spark job group and records the span's wall interval. After the
session stops, ``fold`` reads the event log and gives each span:

* ``wall_s``: span duration;
* ``jobs``: Spark jobs submitted during the span;
* ``task_s``: summed task run time;
* ``shuffle_mb``: shuffle bytes written;
* ``idle_s``: span time in which no task ran anywhere, i.e. time the
  driver spent planning, scheduling or waiting between jobs.

Jobs are attributed by job group, falling back to the span that was
open when the job was submitted: the engine submits some jobs from
its own driver thread pools, and Python threads do not inherit the
caller's job group.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from contextlib import contextmanager

MB = 1024 * 1024
_T0 = time.time()


def log(msg: str) -> None:
    """Progress line on standard error, seconds since import."""
    print(f"[perfbench {time.time() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


class Tracer:
    """Spans opened from the benchmark's main thread, one at a time."""

    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield
            return
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def cpu_times() -> dict[str, float]:
    """Seconds all CPUs of the machine have spent busy (user, nice,
    system, irq, softirq), stolen by the hypervisor, and in total since
    boot, from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return {"busy": (t[0] + t[1] + t[2] + t[5] + t[6]) / hz, "steal": t[7] / hz,
            "total": sum(t) / hz}


def union_within(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def read_events(log_dir: str) -> list[dict]:
    events: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    events.append(json.loads(line))
    return events


def fold(events: list[dict], spans: list[tuple[str, float, float]]) -> dict[str, dict]:
    """Per-span totals, keyed by span name (repeated names are summed)."""
    def span_at(t_s: float) -> str | None:
        for name, a, b in spans:
            if a <= t_s <= b:
                return name
        return None

    names = {name for name, _, _ in spans}
    stage_span: dict[int, str] = {}
    out = {
        name: {"wall_s": 0.0, "jobs": 0, "task_s": 0.0, "shuffle_mb": 0.0, "idle_s": 0.0}
        for name in names
    }
    tasks: list[tuple[float, float]] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            span = group if group in names else span_at(ev["Submission Time"] / 1000)
            if span is None:
                continue
            out[span]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_span[sid] = span
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            if info.get("Launch Time") and info.get("Finish Time"):
                tasks.append((info["Launch Time"] / 1000, info["Finish Time"] / 1000))
            span = stage_span.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics") or {}
            if span is None or not m:
                continue
            o = out[span]
            o["task_s"] += m.get("Executor Run Time", 0) / 1000
            o["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
    for name, a, b in spans:
        o = out[name]
        o["wall_s"] += b - a
        o["idle_s"] += (b - a) - union_within(tasks, a, b)
    return out
