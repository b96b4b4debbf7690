"""Span self time and event-log attribution on hand-made inputs.

    python3 -m pytest perfbench/test_spans.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Tracer, attribute, descendants, read_event_log, self_times  # noqa: E402


def _span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children():
    spans = [
        _span("run", 0.0, 10.0),
        _span("a", 1.0, 3.0, parent=0),
        _span("b", 5.0, 6.0, parent=0),
        _span("leaf", 1.5, 2.0, parent=1),
    ]
    st = self_times(spans)
    assert st["run"] == 10.0 - 2.0 - 1.0
    assert st["a"] == 2.0 - 0.5
    assert st["b"] == 1.0
    assert st["leaf"] == 0.5
    # self times of a tree sum to the root's duration
    assert sum(st.values()) == 10.0


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span("run", 0.0, 4.0),
        _span("x", 1.0, 3.0, parent=0),
        _span("y", 2.0, 3.5, parent=0),
    ]
    assert self_times(spans)["run"] == 4.0 - 2.5


def test_self_time_sums_repeated_names():
    spans = [_span("op", 0.0, 1.0), _span("op", 2.0, 4.0)]
    assert self_times(spans) == {"op": 3.0}


def test_descendants_follow_parents():
    spans = [
        _span("run", 0.0, 10.0),
        _span("a", 1.0, 3.0, parent=0),
        _span("leaf", 1.5, 2.0, parent=1),
        _span("b", 5.0, 6.0),
    ]
    d = descendants(spans)
    assert d["run"] == {"run", "a", "leaf"}
    assert d["a"] == {"a", "leaf"}
    assert d["b"] == {"b"}


class _FakeContext:
    def __init__(self):
        self.descriptions = []

    def setJobDescription(self, value):
        self.descriptions.append(value)


def test_tracer_labels_innermost_span_and_restores():
    sc = _FakeContext()
    tracer = Tracer(sc)

    class Owner:
        @staticmethod
        def inner():
            return sc.descriptions[-1]

    tracer.wrap(Owner, "inner", "mod.inner")
    with tracer.span("mod.outer"):
        seen = Owner.inner()
    tracer.restore()
    assert seen == "mod.inner"
    assert sc.descriptions == ["mod.outer", "mod.inner", "mod.outer", None]
    assert [s["name"] for s in tracer.spans] == ["mod.outer", "mod.inner"]
    assert tracer.spans[1]["parent"] == 0
    # the original is back, and no description is left set
    assert Owner.inner() is None


def _job(jid, t, desc, stages, execution=None):
    props = {}
    if desc is not None:
        props["spark.job.description"] = desc
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": t, "Stage IDs": stages, "Properties": props}


def _task(stage, cpu_ns=0, run_ms=0, gc_ms=0, write=0, read=0, spill=0,
          ok=True, accums=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {"Accumulables": [{"ID": i, "Update": v} for i, v in accums]},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
        },
    }


def _plan(name, acc_id, children=()):
    return {"nodeName": name, "simpleString": name, "children": list(children),
            "metrics": [{"name": "number of output rows", "accumulatorId": acc_id}]}


def test_attribution_by_job_description(tmp_path):
    mb = 1024 * 1024
    events = [
        # a warm-up job outside the traced window
        _job(0, 50, None, [0]),
        _task(0, cpu_ns=9e9, run_ms=9000),
        _job(1, 100, "dedup.minhash_lsh_pairs", [1, 2], execution=7),
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7,
         "sparkPlanInfo": _plan("Filter", 30, [
             _plan("BroadcastHashJoin", 31, [_plan("SortMergeJoin", 32)])])},
        _task(1, cpu_ns=2e9, run_ms=2500, gc_ms=100, write=3 * mb,
              accums=[(32, 40), (31, 10), (30, 4)]),
        _task(2, cpu_ns=1e9, run_ms=1000, read=3 * mb, spill=mb,
              accums=[(32, 60)]),
        _task(2, ok=False, accums=[(32, 1000)]),
        # stage 2 is listed again (skipped) by a later job: still job 1's
        _job(2, 200, "cleaning.clean_corpus", [2, 3]),
        _task(3, cpu_ns=5e8, run_ms=700),
        # a job with no description inside the window
        _job(3, 250, None, [4]),
        _task(4, cpu_ns=1e8, run_ms=100),
    ]
    log = tmp_path / "events"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")

    att = attribute(read_event_log(str(log)), [(100, 300)])
    mh = att["by_desc"]["dedup.minhash_lsh_pairs"]
    assert mh["jobs"] == 1
    assert mh["exec_cpu_s"] == 3.0
    assert mh["shuffle_write_mb"] == 3.0
    assert mh["spill_mb"] == 1.0
    cc = att["by_desc"]["cleaning.clean_corpus"]
    assert cc["jobs"] == 1 and cc["exec_cpu_s"] == 0.5
    assert att["by_desc"][None]["jobs"] == 1
    total = att["total"]
    assert total["tasks"] == 5
    assert total["task_failures"] == 1
    assert total["exec_run_s"] == pytest.approx(2.5 + 1.0 + 0.7 + 0.1)
    assert total["gc_s"] == 0.1
    assert total["shuffle_read_mb"] == 3.0
    # the failed task's accumulator update is not counted; the largest
    # join of the execution is the sort-merge join
    assert att["join_rows"] == {"dedup.minhash_lsh_pairs": [100.0]}


def test_attribution_window_excludes_outside_jobs(tmp_path):
    events = [_job(0, 10, "x", [0]), _task(0, cpu_ns=1e9)]
    log = tmp_path / "events"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    att = attribute(read_event_log(str(log)), [(20, 30)])
    assert att["by_desc"] == {}
    assert att["total"]["tasks"] == 0


def test_benchmark_json_lists_every_metric():
    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bm = json.load(fh)
    assert {m["name"]: m["unit"] for m in bm["per_layer"]} == run.per_layer_units()
    assert [(m["name"], m["unit"]) for m in bm["end_to_end"]] == list(run.END_TO_END)
    from workloads import WORKLOADS

    assert [w["name"] for w in bm["workloads"]] == list(WORKLOADS)
