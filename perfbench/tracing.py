"""Tracing for the benchmark's traced run, entirely from outside the engine.

- `Tracer` records spans (id, name, parent, op, start, end, Py4J calls)
  in memory around calls into the engine's public functions; the spans
  are written out once, when the run ends.
- `Patches` swaps module attributes for traced wrappers and restores
  them; the engine's files are never changed.
- The Py4J counter wraps py4j's client `send_command`, so every
  Python->JVM round trip made while a span is open is counted on it.
- Spark's event log (enabled for the traced run only) is parsed for task
  counters; each job carries the span that submitted it through the
  `perfbench.tag` local property.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

TAG_PROPERTY = "perfbench.tag"


class Tracer:
    def __init__(self, spark_context=None):
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.enabled = False
        self.py4j_calls = 0
        self._counting = True
        self._sc = spark_context

    # -- Py4J round trips ------------------------------------------------
    def count_py4j(self) -> None:
        if self.enabled and self._counting:
            self.py4j_calls += 1

    def _set_tag(self, value: str | None) -> None:
        """Mark jobs submitted from here on with the open span (one Py4J
        call, which is not counted)."""
        if self._sc is None:
            return
        self._counting = False
        try:
            self._sc.setLocalProperty(TAG_PROPERTY, value)
        finally:
            self._counting = True

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               # one id per request: the root span's
               "op": parent["op"] if parent else len(self.spans),
               "start": time.perf_counter(), "end": None,
               "py4j": self.py4j_calls, **attrs}
        self.spans.append(rec)
        self.stack.append(rec)
        self._set_tag(f"{rec['id']}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j_calls - rec["py4j"]
            self.stack.pop()
            self._set_tag(f"{parent['id']}" if parent else None)

    def wrap(self, fn, name: str, on_result=None, on_args=None):
        """`fn` traced as span `name`; `on_args(*args)` / `on_result(r)`
        see the call's arguments and result while tracing is on."""

        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            if on_args is not None:
                on_args(*args, **kwargs)
            with self.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        traced.__wrapped__ = fn
        return traced

    # -- summaries -------------------------------------------------------
    def total(self, name: str, parent_name: str | None = None, field: str = "dur") -> float:
        by_id = {s["id"]: s for s in self.spans}
        out = 0.0
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            if parent_name is not None:
                p = by_id.get(s["parent"])
                if p is None or p["name"] != parent_name:
                    continue
            out += (s["end"] - s["start"]) if field == "dur" else s[field]
        return out

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total and self time (the span's duration
        minus the part its children cover; children never overlap here,
        since one thread opens them one after another)."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_cover[s["parent"]] = child_cover.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            d = s["end"] - s["start"]
            row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0, "py4j": 0})
            row["count"] += 1
            row["total_s"] += d
            row["self_s"] += d - child_cover.get(s["id"], 0.0)
            row["py4j"] += s["py4j"]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "self_times": self.self_times()}, fh)


class Patches:
    """Attribute and mapping-item swaps, undone in reverse order by
    `restore`."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def set(self, obj, attr: str, value) -> None:
        self._saved.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, value)

    def set_item(self, mapping, key, value) -> None:
        self._saved.append((mapping, key, mapping[key]))
        mapping[key] = value

    def restore(self) -> None:
        while self._saved:
            obj, attr, value = self._saved.pop()
            if isinstance(obj, dict):
                obj[attr] = value
            else:
                setattr(obj, attr, value)


def count_py4j_calls(tracer: Tracer, patches: Patches) -> None:
    """Count every Python->JVM command sent through py4j's clients."""
    from py4j import clientserver, java_gateway

    for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
        original = cls.send_command

        def send_command(self, command, *args, _orig=original, **kwargs):
            tracer.count_py4j()
            return _orig(self, command, *args, **kwargs)

        patches.set(cls, "send_command", send_command)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------
TASK_FIELDS = ("run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
               "fetch_wait_s", "spill_bytes", "tasks")


def parse_event_log(log_dir: str) -> list[dict]:
    """One record per job: its tag (the span id that submitted it, or
    None) and the summed counters of its tasks."""
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    tag = props.get(TAG_PROPERTY)
                    job = {"job": ev["Job ID"], "tag": int(tag) if tag else None,
                           **{k: 0 for k in TASK_FIELDS}}
                    jobs[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    job["tasks"] += 1
                    job["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    job["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                  + sr.get("Local Bytes Read", 0))
                    job["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    job["spill_bytes"] += (m.get("Disk Bytes Spilled", 0)
                                           + m.get("Memory Bytes Spilled", 0))
    return list(jobs.values())


def jobs_under(jobs: list[dict], spans: list[dict], root_names: set[str],
               span_names: set[str] | None = None) -> list[dict]:
    """Jobs submitted inside a span named in `root_names` (directly or in
    a descendant); with `span_names`, only jobs whose own submitting span
    has one of those names."""
    by_id = {s["id"]: s for s in spans}

    def root_of(sid):
        while sid is not None:
            s = by_id[sid]
            if s["name"] in root_names:
                return s
            sid = s["parent"]
        return None

    out = []
    for j in jobs:
        if j["tag"] is None or j["tag"] not in by_id:
            continue
        if root_of(j["tag"]) is None:
            continue
        if span_names is not None and by_id[j["tag"]]["name"] not in span_names:
            continue
        out.append(j)
    return out


def sum_jobs(jobs: list[dict]) -> dict[str, float]:
    out = {k: 0.0 for k in TASK_FIELDS}
    for j in jobs:
        for k in TASK_FIELDS:
            out[k] += j[k]
    out["jobs"] = len(jobs)
    return out
