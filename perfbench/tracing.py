"""Spans around the benchmark's calls into each layer, and the per-layer
figures derived from them.

A traced run gives every span its own Spark job group, so each job the
span causes is attributable to it: job counts come from the status
tracker, task counts, executor run time and shuffle bytes from Spark's
JSON event log (turned on only in traced runs). Spans are kept in memory
and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Every layer a span may name, in report order, with the figures each
# span reports (see README.md for what each one should move).
LAYERS = [
    "session", "embed", "ivf.train", "ivf.assign", "ivf.save", "ivf.append",
    "ivf.load", "ivf.search_all", "ivf.search", "knn.exact", "curate", "cluster",
]
# Spans never nest (each wraps one call into one layer), so a span's self
# time is its wall time and is not reported separately.
SPAN_FIGURES = ["wall_s", "driver_s", "jobs", "tasks", "busy_s", "shuffle_mb"]
LAYER_EXTRAS = [
    "ivf.save.bytes_per_vector",
    "ivf.search_all.candidates_per_result",
    "curate.kept_ratio",
    "cluster.edges",
]
# the traced passes' median time, and that minus the untraced passes'
# of the same session
TRACE_FIGURES = ["trace.wall_s", "trace.overhead_s"]
UNITS = {"wall_s": "s", "driver_s": "s", "busy_s": "s", "overhead_s": "s",
         "jobs": "count", "tasks": "count", "shuffle_mb": "MB", "bytes_per_vector": "B",
         "candidates_per_result": "ratio", "kept_ratio": "ratio", "edges": "count"}


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in report order."""
    return ([f"{layer}.{fig}" for layer in LAYERS for fig in SPAN_FIGURES]
            + LAYER_EXTRAS + TRACE_FIGURES)


def unit(name: str) -> str:
    return UNITS[name.rsplit(".", 1)[-1]]


@dataclass
class Span:
    name: str
    group: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)


class Tracer:
    """Records spans while enabled; a disabled span is a no-op, so an
    untraced pass sets no job groups beyond the caller's own. Spans do not
    nest."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.extras: dict[str, list[float]] = {}
        self._open: Span | None = None
        self.sc = None

    def bind(self, sc) -> None:
        """Attach the SparkContext; an already open span (the session
        span) takes its job group from here on."""
        self.sc = sc
        if self.enabled and self._open is not None:
            sc.setJobGroup(self._open.group, self._open.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        if self._open is not None:
            raise RuntimeError(f"span {name!r} opened inside span {self._open.name!r}")
        sp = Span(name, f"span-{len(self.spans)}-{name}", time.time())
        self.spans.append(sp)
        self._open = sp
        if self.sc is not None:
            self.sc.setJobGroup(sp.group, name)
        try:
            yield
        finally:
            sp.end = time.time()
            self._open = None
            if self.sc is not None:
                sp.jobs = list(self.sc.statusTracker().getJobIdsForGroup(sp.group))
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def extra(self, name: str, value: float) -> None:
        if self.enabled:
            self.extras.setdefault(name, []).append(float(value))

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "group": s.group, "start": s.start, "end": s.end, "jobs": s.jobs}
            for s in self.spans
        ]


def event_log_conf(directory: str) -> dict[str, str]:
    """Session settings that write one plain JSON event log into
    `directory`."""
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + directory,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def read_event_log(directory: str) -> list[str]:
    """Lines of every event-log file under `directory` (Hadoop's hidden
    .crc checksum files skipped)."""
    lines: list[str] = []
    for d, _, files in sorted(os.walk(directory)):
        for name in sorted(files):
            if not name.startswith("."):
                with open(os.path.join(d, name), encoding="utf-8") as f:
                    lines += f.readlines()
    return lines


def parse_event_log(lines) -> dict[str, dict]:
    """Job group -> {jobs: {id: (submit_s, end_s)}, tasks, busy_s,
    shuffle_bytes}, from Spark's JSON event log lines."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    open_jobs: dict[int, tuple[str, float]] = {}

    def entry(g: str) -> dict:
        return groups.setdefault(
            g, {"jobs": {}, "tasks": 0, "busy_s": 0.0, "shuffle_bytes": 0})

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            open_jobs[ev["Job ID"]] = (g, ev["Submission Time"] / 1000.0)
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
            entry(g)
        elif kind == "SparkListenerJobEnd":
            g, t0 = open_jobs.pop(ev["Job ID"], ("", None))
            if t0 is not None:
                entry(g)["jobs"][ev["Job ID"]] = (t0, ev["Completion Time"] / 1000.0)
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"), "")
            m = ev.get("Task Metrics") or {}
            e = entry(g)
            e["tasks"] += 1
            e["busy_s"] += m.get("Executor Run Time", 0) / 1000.0
            e["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    return groups


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_figures(spans: list[dict], groups: dict[str, dict]) -> list[dict]:
    """Per-span figures: wall, driver (minus the time any of the span's
    jobs ran), jobs, tasks, executor busy time and shuffle megabytes."""
    out = []
    for s in spans:
        lo, hi = s["start"], s["end"]
        own = groups.get(s["group"], {"jobs": {}, "tasks": 0, "busy_s": 0.0,
                                      "shuffle_bytes": 0})
        out.append({
            "name": s["name"],
            "wall_s": hi - lo,
            "driver_s": hi - lo - _covered(own["jobs"].values(), lo, hi),
            "jobs": len(s["jobs"]),
            "tasks": own["tasks"],
            "busy_s": own["busy_s"],
            "shuffle_mb": own["shuffle_bytes"] / 1e6,
        })
    return out


def layer_metrics(figures: list[dict], extras: dict[str, list[float]]) -> dict[str, float]:
    """Median per call of every span figure, for every layer in LAYERS
    (0 for a layer the workload never calls), plus the layer extras."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        calls = [f for f in figures if f["name"] == layer]
        for fig in SPAN_FIGURES:
            out[f"{layer}.{fig}"] = (
                float(statistics.median(c[fig] for c in calls)) if calls else 0.0)
    for name in LAYER_EXTRAS:
        vals = extras.get(name)
        out[name] = float(statistics.median(vals)) if vals else 0.0
    return out
