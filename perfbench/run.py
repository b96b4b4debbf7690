"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build|corpus_clean|semdedup|all \\
        --seed N --seconds S --trace 0|1

Run from the repository root. One process per workload: it starts a
pinned ``local[min(cores, 4)]`` session and builds the seeded inputs
(``setup_s``), then repeats the operation, with no warm-up, until ``S``
seconds of operation time have passed, checking every output. The last
stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"
END_TO_END = (("setup_s", "s"), ("docs_per_s", "1/s"), ("peak_rss_mb", "MB"))


class RssSampler(threading.Thread):
    """Peak over time of the summed resident set of a process and all of
    its descendants (the JVM and the Python workers it forks)."""

    def __init__(self, pid: int, period_s: float = 0.05) -> None:
        super().__init__(daemon=True)
        self.pid = pid
        self.period_s = period_s
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0

    def _descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], list(children.get(self.pid, []))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    @staticmethod
    def _exe(pid: int) -> str | None:
        try:
            return os.readlink(f"/proc/{pid}/exe")
        except OSError:
            return None

    def run(self) -> None:
        root_exe = self._exe(self.pid)
        while not self._halt.is_set():
            # a child the JVM is spawning shares the JVM's memory until it
            # execs (vfork): counting it would add the whole JVM again
            kids = [p for p in self._descendants() if self._exe(p) != root_exe]
            total = self._rss(self.pid) + sum(self._rss(p) for p in kids)
            self.peak = max(self.peak, total)
            self._halt.wait(self.period_s)

    def stop(self) -> float:
        """-> the peak in MB."""
        self._halt.set()
        self.join()
        return self.peak / (1024 * 1024)


def start_session(work: str, trace: bool):
    from bertseyeview_spark.session import get_spark

    cores = min(len(os.sched_getaffinity(0)), 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # set before the JVM starts: the JVM and its Python workers inherit
    # them (workers import the package from the checkout)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap is committed and touched at start, so the JVM's
        # resident set does not follow G1's heap-sizing decisions
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": log_dir,
        })
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_ops(wl, spark, inputs, data, tracer, workdir, seconds: float):
    """Repeat the operation until ``seconds`` of operation time (at least
    one operation). Returns per-op seconds, per-op epoch-ms windows, the
    outputs that passed their check and the number of operations that
    raised or failed their check."""
    times, windows, outs, failed = [], [], [], 0
    while not times or sum(times) < seconds:
        w0, t0 = time.time() * 1000, time.perf_counter()
        try:
            out = wl.run(spark, data, tracer, workdir)
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            out = None
        times.append(time.perf_counter() - t0)
        windows.append((w0, time.time() * 1000))
        try:
            ok = out is not None and wl.check(inputs, out)
        except Exception:
            traceback.print_exc()
            ok = False
        failed += not ok
        if ok:
            outs.append(out)
    return times, windows, outs, failed


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    from spans import SPAN_METRICS, TOTAL_METRICS
    from workloads import ALL_SPANS, PAIR_SPANS

    units = {f"{s}.{m}": u for s in ALL_SPANS for m, u in SPAN_METRICS}
    units.update({f"total.{m}": u for m, u in TOTAL_METRICS})
    units.update({f"{s}.pair_yield": "ratio" for s in PAIR_SPANS})
    units.update({"trace.docs_per_s": "1/s", "trace.span_cover": "ratio",
                  "trace.unattributed_jobs": "count"})
    return units


def layer_metrics(wl, tracer, kept, outs, times, windows, log_dir) -> dict:
    """Per-op span and total values from the spans and the event log;
    ``kept`` maps a pair span to the pairs its operations kept."""
    from spans import attribute, descendants, read_event_log, self_times

    (log,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    att = attribute(read_event_log(log), windows)
    n = len(times)
    vals = {f"{span}.self_s": v / n for span, v in self_times(tracer.spans).items()}
    for desc, d in att["by_desc"].items():
        if desc is not None:
            vals.update({f"{desc}.{m}": v / n for m, v in d.items()})
    vals.update({f"total.{m}": v / n for m, v in att["total"].items()})
    if wl.pair_span:
        subtree = descendants(tracer.spans).get(wl.pair_span, ())
        cand = wl.pair_candidates(
            [r for desc in subtree for r in att["join_rows"].get(desc, [])], outs)
        if cand:
            vals[f"{wl.pair_span}.pair_yield"] = kept.get(wl.pair_span, 0) / cand
    top = sum(s["end"] - s["start"] for s in tracer.spans if s["parent"] is None)
    vals["trace.docs_per_s"] = wl.n_items / statistics.median(times)
    vals["trace.span_cover"] = top / sum(times)
    vals["trace.unattributed_jobs"] = att["by_desc"].get(None, {}).get("jobs", 0.0) / n
    return vals


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    from workloads import WORKLOADS

    wl = WORKLOADS[name]
    work = os.path.join(WORK, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    opdir = os.path.join(work, "op")

    t0 = time.perf_counter()
    spark = start_session(work, trace)
    jvm = spark.sparkContext._gateway.proc
    sampler = RssSampler(jvm.pid)
    sampler.start()
    try:
        inputs = wl.make_inputs(seed)
        data = wl.load(spark, inputs)
        setup_s = time.perf_counter() - t0

        tracer, pairs = None, []
        if trace:
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
            wl.trace(tracer, pairs)
        try:
            times, windows, outs, failed = timed_ops(
                wl, spark, inputs, data, tracer, opdir, seconds)
        finally:
            if tracer is not None:
                tracer.restore()
        if trace:
            import bench

            kept: dict[str, int] = {}
            for span, df in pairs:
                kept[span] = kept.get(span, 0) + df.count()
            # host-phase context, measured after the timed phase so it
            # warms nothing the operations use
            print(json.dumps({"calibration": bench.calibration(spark)}), flush=True)
            spark.stop()  # closes the event log
            vals = layer_metrics(wl, tracer, kept, outs, times, windows,
                                 os.path.join(work, "eventlog"))
            units = per_layer_units()
    finally:
        peak_mb = sampler.stop()
        spark.stop()
        # the JVM exits when its stdin closes; wait for it (and with it
        # the Python workers it forked)
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    if not trace:
        vals = {
            "setup_s": setup_s,
            "docs_per_s": wl.n_items / statistics.median(times),
            "peak_rss_mb": peak_mb,
        }
        units = dict(END_TO_END)
    print(json.dumps({"workload": name, "op_seconds": times, "peak_rss_mb": peak_mb}),
          flush=True)
    return {
        "correct": failed == 0,
        "attempted": len(times),
        "failed": failed,
        # a span that did not run on this workload reads 0
        "metrics": {k: {"value": vals.get(k, 0.0), "unit": u} for k, u in units.items()},
    }


def run_all(args) -> dict:
    """Each workload in its own process; the merged result prefixes
    metric names with the workload."""
    from workloads import WORKLOADS

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            raise RuntimeError(f"workload {name} exited {proc.returncode}")
        res = json.loads(lines[-1])
        print(json.dumps({"workload": name, **res}), flush=True)
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    return merged


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import bertseyeview_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        result = run_all(args)
    elif args.workload in WORKLOADS:
        result = run_workload(args.workload, args.seed, args.seconds,
                              bool(args.trace))
    else:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
