"""Spans around calls into the library's layers, joined with a Spark event log.

A span is opened by the benchmark around a call into one layer (or, for
calls the library makes internally, by a wrapper installed over that
layer's public method). Spans are held in memory and analysed after the
run. While a span is open its Spark jobs carry the job group
``pb-<span id>``, so the event log attributes every task to the innermost
span that submitted it.

With ``enabled`` off the same ``span`` calls only time the call: the
benchmark needs per-operation seconds for its end-to-end metrics, and
nothing is recorded or tagged. Wrappers are installed only in a traced
run, and pass straight through while ``enabled`` is off.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "pb-"

#: span layer for the benchmark's own grouping spans (a repetition, the
#: simulated restart); their self time is the time no layer span covers
WORKLOAD = "workload"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self.times: dict[str, float] = defaultdict(float)
        self._stack: list[dict] = []
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []

    def begin_rep(self) -> None:
        """Start a repetition: fresh per-operation times and spans (span
        ids keep counting, so job groups stay unique within the run)."""
        self.times = defaultdict(float)
        self.spans = []

    def _tag(self) -> None:
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(f"{GROUP_PREFIX}{top['id']}", f"{top['layer']}:{top['name']}")
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, layer: str, name: str):
        rec = {"name": name, "layer": layer, "counts": {}}
        if self.enabled:
            rec["id"] = self._next_id
            self._next_id += 1
            rec["parent"] = self._stack[-1]["id"] if self._stack else None
            self.spans.append(rec)
            self._stack.append(rec)
            self._tag()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.times[name] += rec["end"] - rec["start"]
            if self.enabled:
                self._stack.pop()
                self._tag()

    def wrap(self, owner, attr: str, layer: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that opens a span while
        tracing is enabled and passes straight through otherwise.
        ``after(rec, args, result)`` may add counts to the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(layer, name) as rec:
                out = orig(*args, **kwargs)
            if after is not None:
                after(rec, args, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def dur(rec: dict) -> float:
    return rec["end"] - rec["start"]


class SpanTree:
    """Queries over one repetition's spans."""

    def __init__(self, spans: list[dict]):
        self.spans = spans
        self.kids: dict[int, list[dict]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.kids[s["parent"]].append(s)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(dur(s) for s in self.named(name))

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by a child span (one driver
        thread opens the spans, so children never overlap and their
        union is their sum)."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += dur(s) - sum(dur(c) for c in self.kids[s["id"]])
        return out

    def subtree(self, rec: dict) -> list[int]:
        ids, todo = [], [rec]
        while todo:
            s = todo.pop()
            ids.append(s["id"])
            todo.extend(self.kids[s["id"]])
        return ids


def read_event_log(event_dir: str) -> dict[int, dict]:
    """Per-span Spark totals from the run's event log: jobs, summed
    executor run time, longest task (launch to finish), JVM GC time and
    shuffle bytes written. Keyed by span id; jobs outside any span are
    dropped."""
    files = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {files}")
    job_span: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    per_job: dict[int, dict] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if not group.startswith(GROUP_PREFIX):
                    continue
                jid = ev["Job ID"]
                job_span[jid] = int(group[len(GROUP_PREFIX):])
                per_job[jid] = {
                    "jobs": 1, "task_run_s": 0.0, "max_task_s": 0.0,
                    "gc_s": 0.0, "shuffle_bytes": 0,
                }
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                agg = per_job[jid]
                agg["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                agg["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                agg["max_task_s"] = max(
                    agg["max_task_s"], (info["Finish Time"] - info["Launch Time"]) / 1e3
                )
    out: dict[int, dict] = {}
    for jid, agg in per_job.items():
        acc = out.setdefault(job_span[jid], {
            "jobs": 0, "task_run_s": 0.0, "max_task_s": 0.0,
            "gc_s": 0.0, "shuffle_bytes": 0,
        })
        for k in ("jobs", "task_run_s", "gc_s", "shuffle_bytes"):
            acc[k] += agg[k]
        acc["max_task_s"] = max(acc["max_task_s"], agg["max_task_s"])
    return out


def sum_stats(stats: dict[int, dict], span_ids, key: str) -> float:
    return sum(stats[i][key] for i in span_ids if i in stats)
