"""Spans and engine counters for the traced run.

A span is opened by the benchmark around each call into a layer's
public function. While it is open, every Spark job it triggers is
tagged with the span's job group (``SparkContext.setJobGroup``), so the
per-task counters in the uncompressed Spark event log can be summed per
span after the session stops. Spans stay in memory until the run ends
and are then written out as one JSON file.

Spark evaluates lazily, so a span around a transformation measures only
plan building. The workloads therefore run each pipeline prefix to
completion with a ``noop`` write inside its own span; a layer's self
time is the difference between two successive prefixes.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings that turn the event log on. Spark 4 compresses
    it with zstd unless told otherwise; the parser below reads plain
    JSON lines."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def noop(df) -> None:
    """Run a DataFrame to completion without keeping its output."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """Span recorder. ``Tracer(None)`` records nothing, so the timed
    runs can pass one through the same code path at no cost."""

    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @property
    def on(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None,
               "error": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield
        except Exception as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"span-{self._stack[-1]}",
                                    self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def wrapped(self, module, *names: str):
        """Open a span around every call of ``module.<name>`` made while
        the block runs, including calls from inside the package (they
        resolve the name through the module at call time)."""
        if not self.on:
            yield
            return
        layer = module.__name__.rsplit(".", 1)[-1]
        saved = {n: getattr(module, n) for n in names}

        def wrap(name, fn):
            def call(*args, **kwargs):
                with self.span(f"{layer}.{name}"):
                    return fn(*args, **kwargs)
            return call

        for n, fn in saved.items():
            setattr(module, n, wrap(n, fn))
        try:
            yield
        finally:
            for n, fn in saved.items():
                setattr(module, n, fn)

    def wall(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def attach_engine_counters(self, log_dir: str) -> None:
        """Sum the event log's per-task metrics into each span (its own
        jobs only; ``totals`` adds the descendants)."""
        per_group: dict[str, dict] = {}
        # one entry per application, a file or (Spark 4) a directory of
        # numbered event files; stage ids restart in each application
        for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
            files = [app]
            if os.path.isdir(app):
                files = sorted(glob.glob(os.path.join(app, "events_*")),
                               key=lambda p: int(os.path.basename(p).split("_")[1]))
            stage_group: dict[int, str] = {}
            for path in files:
                with open(path) as f:
                    for line in f:
                        if line.strip():
                            _count_event(json.loads(line), stage_group, per_group)
        for s in self.spans:
            s["engine"] = per_group.get(f"span-{s['id']}", _zero())

    def totals(self, span: dict) -> dict:
        """Engine counters of a span including all its descendants."""
        out = dict(span["engine"])
        for child in self.spans:
            if child["parent"] == span["id"]:
                for k, v in self.totals(child).items():
                    out[k] += v
        return out

    def engine(self, name: str | None = None) -> dict:
        """Inclusive engine counters summed over root spans, or over
        every span called ``name``."""
        picked = [s for s in self.spans
                  if (s["parent"] is None if name is None else s["name"] == name)]
        out = _zero()
        for s in picked:
            for k, v in self.totals(s).items():
                out[k] += v
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


def _count_event(ev: dict, stage_group: dict, per_group: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        if group:
            per_group.setdefault(group, _zero())["jobs"] += 1
            for st in ev.get("Stage IDs", []):
                stage_group[st] = group
    elif kind == "SparkListenerTaskEnd":
        group = stage_group.get(ev.get("Stage ID"))
        m = ev.get("Task Metrics")
        if group is None or not m:
            return
        c = per_group[group]
        c["tasks"] += 1
        c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}) \
            .get("Shuffle Bytes Written", 0)
        c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        c["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)


def _zero() -> dict:
    return {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "input_records": 0}
