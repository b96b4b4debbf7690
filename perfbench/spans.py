"""Spans around calls into the package, and their attribution to Spark's
own metrics read back from an uncompressed event log.

A span is (name, start, end, parent). The wrappers installed by
:class:`Tracer` set the Spark job description to the innermost open
span's name, so every job Spark runs while a span is innermost carries
that name in its ``spark.job.description`` property. The event log then
gives, per description, the jobs, tasks and task metrics, and per SQL
execution the plan nodes with their accumulator ids.

Lazy functions only build plans: their work runs, and is attributed,
under whichever span performs the action (for example the joins of
``canonicalize.apply_canonical_map`` land in ``pipeline.run_global``).
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024

SPAN_METRICS = (
    ("self_s", "s"),
    ("jobs", "count"),
    ("exec_cpu_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
)
TOTAL_METRICS = (
    ("exec_run_s", "s"),
    ("gc_s", "s"),
    ("shuffle_read_mb", "MB"),
    ("tasks", "count"),
    ("task_failures", "count"),
)
JOIN_NODES = (
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


class Tracer:
    """Records spans in memory and labels Spark jobs with the innermost
    span's name. ``wrap`` replaces a function where its caller looks it
    up; ``restore`` puts every original back."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(
                self.spans[self._stack[-1]]["name"] if self._stack else None
            )

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Wrap ``owner.attr`` in a span called ``name``. ``on_result``
        sees each call's arguments and result (used to count pairs)."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                out = original(*args, **kwargs)
            if on_result is not None:
                on_result(args, kwargs, out)
            return out

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Sum, per span name, of each span's duration minus the part of its
    interval that its children cover (union of child intervals, clipped
    to the parent)."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children[i], key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["name"]] += (s["end"] - s["start"]) - covered
    return dict(out)


def descendants(spans: list[dict]) -> dict[str, set[str]]:
    """name -> the set of names of that name and every span nested in
    one of its calls."""
    out: dict[str, set[str]] = defaultdict(set)
    for s in spans:
        out[s["name"]].add(s["name"])
        p = s["parent"]
        while p is not None:
            out[spans[p]["name"]].add(s["name"])
            p = spans[p]["parent"]
    return dict(out)


def read_event_log(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def attribute(events: list[dict], windows_ms: list[tuple[float, float]]) -> dict:
    """Aggregate an event log by job description.

    Only jobs submitted within one of ``windows_ms`` (epoch ms,
    inclusive) count.
    Returns ``{"by_desc": {desc: {jobs, exec_cpu_s, shuffle_write_mb,
    spill_mb}}, "total": {exec_run_s, gc_s, shuffle_read_mb, tasks,
    task_failures}, "join_rows": {desc: [largest join output of each SQL
    execution, ...]}}``. Jobs without a description are grouped under
    ``None``."""
    job_desc: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    exec_desc: dict[int, str | None] = {}
    plans: dict[int, list[dict]] = defaultdict(list)
    acc: dict[int, float] = defaultdict(float)
    by_desc: dict = defaultdict(lambda: defaultdict(float))
    total: dict[str, float] = {k: 0.0 for k, _ in TOTAL_METRICS}

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            t = _num(ev.get("Submission Time"))
            if not any(a <= t <= b for a, b in windows_ms):
                continue
            props = ev.get("Properties") or {}
            desc = props.get("spark.job.description")
            jid = ev["Job ID"]
            job_desc[jid] = desc
            by_desc[desc]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_desc.setdefault(int(eid), desc)
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid is None:
                continue
            d = by_desc[job_desc[jid]]
            m = ev.get("Task Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            total["tasks"] += 1
            if reason != "Success":
                total["task_failures"] += 1
            d["exec_cpu_s"] += _num(m.get("Executor CPU Time")) / 1e9
            d["spill_mb"] += _num(m.get("Disk Bytes Spilled")) / MB
            w = m.get("Shuffle Write Metrics") or {}
            d["shuffle_write_mb"] += _num(w.get("Shuffle Bytes Written")) / MB
            r = m.get("Shuffle Read Metrics") or {}
            total["shuffle_read_mb"] += (
                _num(r.get("Remote Bytes Read")) + _num(r.get("Local Bytes Read"))
            ) / MB
            total["exec_run_s"] += _num(m.get("Executor Run Time")) / 1e3
            total["gc_s"] += _num(m.get("JVM GC Time")) / 1e3
            if reason == "Success":
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    acc[a["ID"]] += _num(a.get("Update"))
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            plans[ev["executionId"]].append(ev["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, val in ev.get("accumUpdates", []):
                acc[aid] += _num(val)

    # per SQL execution, the largest output of any join node in it (the
    # candidate join of a pair search); AQE re-plans share accumulators
    join_rows: dict = defaultdict(list)
    for eid, infos in plans.items():
        if eid not in exec_desc:
            continue
        rows = [
            acc.get(met["accumulatorId"], 0.0)
            for info in infos
            for node in _walk(info)
            if node.get("nodeName") in JOIN_NODES
            for met in node.get("metrics", [])
            if met.get("name") == "number of output rows"
        ]
        if rows:
            join_rows[exec_desc[eid]].append(max(rows))
    return {
        "by_desc": {k: dict(v) for k, v in by_desc.items()},
        "total": total,
        "join_rows": dict(join_rows),
    }


def _walk(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)
