"""In-memory spans around calls into the program's layers, plus the Spark
event-log and plan-shape counters of the traced run.

Nothing here imports Spark, so the unit tests run without a JVM.

A span is recorded by wrapping a layer's public function where the program
looks it up: names that ``plans.crawl`` imports at module load are patched
on that module, functions imported inside a function body are patched on
their defining module, and methods are patched on their class. The wrappers
call straight through. Spans opened on a thread with no open span of its
own (the crawl's commit pool) take as parent the innermost span open on the
thread that started the tracer, so concurrent commits nest under their
round.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.captured: dict[str, tuple] = {}
        self._stacks: dict[int, list[int]] = defaultdict(list)
        self._owner = threading.get_ident()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str, **attrs):
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks[tid]
            if stack:
                parent = stack[-1]
            else:
                owner = self._stacks[self._owner]
                parent = owner[-1] if owner else None
            rec = {"id": len(self.spans), "name": name, "parent": parent,
                   "thread": tid, "start": time.perf_counter(), "end": None,
                   **attrs}
            self.spans.append(rec)
            stack.append(rec["id"])
        try:
            yield rec
        finally:
            with self._lock:
                rec["end"] = time.perf_counter()
                stack.remove(rec["id"])

    def wrap(self, fn, name, capture: bool = False, on_result=None):
        """``fn`` with a span around each call. ``name`` is a string or a
        function of ``(args, kwargs)``; ``capture`` keeps the last call's
        arguments under the span name; ``on_result(rec, args, kwargs,
        result)`` adds attributes to the span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(args, kwargs) if callable(name) else name
            with self.span(label) as rec:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, args, kwargs, result)
            if capture:
                self.captured[label] = (args, kwargs)
            return result

        return traced

    def patch(self, owner, attr: str, name, **kw) -> None:
        original = getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, self.wrap(original, name, **kw))

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        """Write the spans, each with its self time, as JSON."""
        own = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([{**s, "self_s": own.get(s["id"])} for s in self.spans],
                      f)


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the part of its interval that its
    children cover. Concurrent children are merged first, so overlapping
    commits are not subtracted twice."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        if s["end"] is None:
            continue
        out[s["id"]] = (s["end"] - s["start"]) - _covered(
            children[s["id"]], s["start"], s["end"])
    return out


SPARK_COUNTERS = ("executor_cpu_s", "gc_s", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "tasks",
                  "input_records")


def parse_event_log(lines, windows: dict[str, tuple[float, float]]
                    | None = None) -> dict[str, dict[str, float]]:
    """Per job group, summed task counters from a Spark JSON event log.

    A stage belongs to the group of the first job that lists it. Jobs with
    no ``spark.jobGroup.id`` go to ``unattributed``; with ``windows``
    (group → (start, end) epoch seconds) such a job is instead charged to
    ``unattributed.<group>`` when it was submitted inside that window, and
    dropped when it falls in none."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(SPARK_COUNTERS, 0.0))
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if not group:
                group = "unattributed"
                if windows is not None:
                    at = ev.get("Submission Time", 0) / 1000.0
                    hit = [g for g, (a, b) in windows.items() if a <= at <= b]
                    group = f"unattributed.{hit[0]}" if hit else None
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            acc = out[group]
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            acc["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
            acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
            acc["input_records"] += (m.get("Input Metrics") or {}).get(
                "Records Read", 0)
            acc["tasks"] += 1
    return dict(out)


# RLIKE predicates in one copy of the crawl's filter-decision chain.
CHAIN_RLIKES = 106


def plan_shape(plan: str) -> dict[str, float]:
    """Exchange count and decision-chain copies (RLIKE count ÷ 106) of a
    physical plan string."""
    return {"exchanges": len(re.findall(r"Exchange", plan)),
            "chain_copies": plan.upper().count("RLIKE") / CHAIN_RLIKES}
