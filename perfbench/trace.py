"""Benchmark-side tracing: spans around the engine's public calls, joined
with the Spark event log.

Nothing here edits the engine. `Tracer.install()` wraps a fixed list of
public functions and methods (see `_TARGETS`) for the duration of one
traced operation and puts them back afterwards. Every span records its
name, start, end and parent; it also tags the Spark jobs it launches with a
job group named after the span, so that the event log written by the same
run can be joined back to spans once the SparkContext has stopped.

Spark is lazy: a `write_table` span covers the whole upstream plan that the
write executes (for `documents` that is schedule + fetch + span parse), so
each layer's time is "time spent in the jobs its call triggered", not the
cost of its own operator in isolation.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from pathlib import Path

# write_table(name) -> layer span name. Tables not listed here (none in the
# measured workloads) fall back to "checkpoint.write".
_TABLE_LAYER = {
    "documents": "fetch.write",
    "url_seen": "url_seen.write",
    "seen_tombstones": "url_seen.write",
    "frontier": "frontier.write",
    "eav": "extraction.write",
    "projects": "extraction.write",
    "persons": "extraction.write",
    "institutions": "extraction.write",
    "project_ids_to_subject_areas": "extraction.write",
    "project_ids_to_participating_subject_areas": "extraction.write",
    "projects_international_connections": "extraction.write",
    "project_person_relations": "extraction.write",
    "project_institution_relations": "extraction.write",
}


def _table_span(args, kwargs) -> str:
    name = kwargs.get("name", args[1] if len(args) > 1 else None)
    return _TABLE_LAYER.get(name, "checkpoint.write")


def _targets():
    """(owner, attribute, span name or callable(args, kwargs) -> name)."""
    from ba_gepris_crawler_spark.operators import url_seen
    from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore
    from ba_gepris_crawler_spark.plans.round_loop import CrawlEngine

    return [
        (CrawlEngine, "run_round", "round_loop.round"),
        (CrawlEngine, "enqueue_recrawl", "recrawl.enqueue"),
        # round_loop calls these through the module (US.build_bloom), so
        # patching the module attribute is seen by the engine
        (url_seen, "build_bloom", "url_seen.gate"),
        (url_seen, "update_bloom", "url_seen.gate"),
        (SnapshotStore, "save_bloom", "url_seen.gate"),
        (SnapshotStore, "load_bloom", "url_seen.gate"),
        (SnapshotStore, "write_table", _table_span),
        (SnapshotStore, "commit", "checkpoint.commit"),
        (SnapshotStore, "compact", "checkpoint.compact"),
        (SnapshotStore, "compact_tiered", "checkpoint.compact"),
    ]


class Tracer:
    """Spans kept in memory; `dump()` writes them once at the end."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[dict] = []
        self._saved: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, **attrs) -> dict:
        stack = self._stack()
        # a pool thread (the engine's concurrent extraction writes) has no
        # span of its own open: its parent is the main thread's innermost
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = len(self.spans)
            span = {"id": sid, "name": name, "parent": None if parent is None else parent["id"],
                    "start": time.perf_counter(), "end": None, "attrs": attrs}
            self.spans.append(span)
        stack.append(span)
        if self.sc is not None:
            span["_prev_group"] = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(f"span-{sid}", name)
        return span

    def end(self, span: dict, **attrs) -> None:
        span["end"] = time.perf_counter()
        span["attrs"].update(attrs)
        self._stack().pop()
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", span.pop("_prev_group", None))

    # -- wrappers ------------------------------------------------------
    def _wrap(self, fn, namer):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            name = namer(args, kwargs) if callable(namer) else namer
            span = tracer.begin(name)
            ok = False
            try:
                out = fn(*args, **kwargs)
                ok = True
                return out
            finally:
                tracer.end(span, ok=ok, **(_result_attrs(name, args, out) if ok else {}))

        return wrapper

    def install(self) -> None:
        for owner, attr, namer in _targets():
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, namer))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def dump(self, path: Path, extra: dict) -> None:
        spans = [{k: v for k, v in s.items() if not k.startswith("_")} for s in self.spans]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": spans, **extra}, default=str))


def _result_attrs(name: str, args, out) -> dict:
    """The small facts a span keeps about its call's result."""
    if name == "round_loop.round":
        return {"rnd": args[1], "revalidate": bool(args[0].s.revalidate),
                "counters": {k: v for k, v in out["counters"].items() if isinstance(v, (int, float, bool))}}
    if name == "recrawl.enqueue":
        return {"due": int(out)}
    if name.endswith(".write") and isinstance(out, int):
        return {"table": args[1], "rows": out}
    return {}


# -- time accounting ---------------------------------------------------------
def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children_of(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]].append(s)
    return out


def descendants(span_id: int, kids: dict[int, list[dict]]) -> list[dict]:
    out, todo = [], list(kids.get(span_id, []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def round_breakdown(span: dict, kids: dict[int, list[dict]]) -> dict[str, float]:
    """Seconds of one round span by layer: each direct child layer's covered
    time (concurrent spans of one layer, like the extraction writes, count
    once) and `self`, the part of the round no child span covers."""
    layers: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for c in kids.get(span["id"], []):
        layers[c["name"]].append((c["start"], c["end"]))
    out = {name: union_length(iv) for name, iv in layers.items()}
    covered = union_length([iv for ivs in layers.values() for iv in ivs])
    out["self"] = (span["end"] - span["start"]) - covered
    return out


# -- Spark event log ---------------------------------------------------------
_PY_METRICS = {
    "number of output rows": "python_rows",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}


def _walk_plan(info: dict, out: dict[int, str]) -> None:
    # Python-boundary operators (MapInPandas, ArrowEvalPython, ...) carry
    # the row/byte counters of the Arrow exchange with the Python workers
    if "Python" in info.get("nodeName", "") or "Pandas" in info.get("nodeName", ""):
        for m in info.get("metrics", []):
            key = _PY_METRICS.get(m.get("name"))
            if key:
                out[int(m["accumulatorId"])] = key
    for c in info.get("children", []):
        _walk_plan(c, out)


def parse_event_log(path: Path) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, executor run/cpu seconds, scheduler
    delay, shuffle write, spill, output bytes and Python-boundary counters."""
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    py_acc: dict[int, str] = {}
    task_rows: list[tuple[int, dict, dict]] = []
    for line in path.read_text().splitlines():
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[ev["Job ID"]] = group
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(ev.get("sparkPlanInfo") or {}, py_acc)
        elif kind == "SparkListenerTaskEnd":
            task_rows.append((ev["Stage ID"], ev.get("Task Info") or {}, ev.get("Task Metrics") or {}))
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for group in job_group.values():
        out[group or ""]["jobs"] += 1
    for sid, info, met in task_rows:
        g = out[stage_group.get(sid) or ""]
        g["tasks"] += 1
        run_ms = met.get("Executor Run Time", 0)
        g["executor_run_s"] += run_ms / 1e3
        g["executor_cpu_s"] += met.get("Executor CPU Time", 0) / 1e9
        wall_ms = max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0))
        g["scheduler_delay_s"] += max(
            0, wall_ms - run_ms - met.get("Executor Deserialize Time", 0)
            - met.get("Result Serialization Time", 0) - info.get("Getting Result Time", 0)
        ) / 1e3
        g["shuffle_write_bytes"] += (met.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        g["spill_bytes"] += met.get("Memory Bytes Spilled", 0) + met.get("Disk Bytes Spilled", 0)
        g["output_bytes"] += (met.get("Output Metrics") or {}).get("Bytes Written", 0)
        for acc in info.get("Accumulables", []):
            key = py_acc.get(int(acc.get("ID", -1)))
            if key is not None:
                g[key] += float(acc.get("Update", 0) or 0)
    return {k: dict(v) for k, v in out.items()}


def group_of(span: dict) -> str:
    return f"span-{span['id']}"
