"""Benchmark entry point.

    python3 perfbench/run.py --workload seq_io --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Workloads: ``seq_io`` and
``query_mix`` (see ``workloads.py``).  The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
the line before it (``{"detail": ...}``) carries the per-op figures.

``--trace 0`` reports the end-to-end metrics: ``setup_s`` (JVM launch,
``get_spark`` with datasource registration, and the workload's first
op; input preparation in between is not counted), ``group_a_s`` and
``group_b_s`` (the sum over each op group's kinds of the op kind's
median time).  After an untimed warm-up pass, timed passes (every
op kind once, in a fixed order) repeat until ``--seconds`` have gone
and at least ``MIN_PASSES`` have run.  The detail line adds every
sample, the per-op rates, ``peak_rss_mb`` and the time of each phase.

``--trace 1`` is the separate traced run: after the warm-up it times
one untraced pass, then one pass with ``tracing.TracedSeqFileDataSource``
and Spark's event log, and reports the per-layer metrics (their
difference is the tracing overhead).

Everything a run writes stays under ``perfbench/.work``: cached
fixtures in ``fixtures/``, and one scratch directory per run (temp
files, Spark local dirs, warehouse, event log, outputs) that is removed
at exit.  ``--smoke`` shrinks inputs and skips the warm-up, for tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
MIN_PASSES = 2  # timed passes run even when --seconds have gone


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["seq_io", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    return ap.parse_args(argv)


class Bench:
    """One run: the Spark session, the run's directories, and how ops
    reach the datasource (plain, or traced under an op id)."""

    def __init__(self, args, scratch: str):
        self.seed, self.smoke, self.trace = args.seed, args.smoke, bool(args.trace)
        self.work, self.scratch = WORK, scratch
        self.trace_dir = os.path.join(scratch, "spans")
        self.event_dir = os.path.join(scratch, "eventlog")
        self.spark = None
        self.traced = False  # route reads/writes through the traced source
        self.op_id = ""
        self.get_spark_s = 0.0

    def start(self) -> None:
        """``get_spark`` (datasource registration included); the first
        call also launches the JVM."""
        from hadoop_formats_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.trace_dir, exist_ok=True)
            os.makedirs(self.event_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.get_spark_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            from perfbench.tracing import TracedSeqFileDataSource

            self.spark.dataSource.register(TracedSeqFileDataSource)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def reader(self, uses: str):
        if not self.traced:
            return self.spark.read.format("hadoop_seq")
        from perfbench.tracing import FORMAT

        return (self.spark.read.format(FORMAT).option("trace_dir", self.trace_dir)
                .option("trace_op", self.op_id).option("trace_uses", uses))

    def writer(self, df):
        if not self.traced:
            return df.write.format("hadoop_seq")
        from perfbench.tracing import FORMAT

        return (df.write.format(FORMAT).option("trace_dir", self.trace_dir)
                .option("trace_op", self.op_id))


def isolate(scratch: str) -> None:
    """Point every temp/cache location at the run's scratch dir before
    Spark or the program touch them."""
    for sub in ("tmp", "local", "hfs"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["HFS_CACHE_DIR"] = os.path.join(scratch, "hfs")
    # every JVM (Spark's launcher too): temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}/tmp"
    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all of its descendants (the
    JVM, the Python worker daemons and their workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    mine, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in mine]
        mine.update(kids)
        frontier.extend(kids)
    kb = 0
    for p in mine:
        try:
            with open(f"/proc/{p}/status") as f:
                kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024


def load_layout() -> dict:
    """``layout.json``: every metric's unit and direction, the layer
    it belongs to and what it should move; workload sizes and settings."""
    with open(os.path.join(HERE, "layout.json")) as f:
        return json.load(f)


class Counter:
    def __init__(self):
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def run(self, op) -> float:
        """Run one op, check its output, return its wall time."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = op.run()
            dt = time.perf_counter() - t0
            problem = op.check(out)
        except Exception as ex:  # an op failing is a result, not a crash
            dt = time.perf_counter() - t0
            problem = f"{op.kind}: {type(ex).__name__}: {str(ex)[:300]}"
        if problem:
            self.failed += 1
            self.problems.append(problem)
        return dt


def run_pass(wl, counter: Counter, bench: Bench, traced: bool = False):
    """Every op kind once, in order; returns ({kind: s}, {kind: (epoch
    start, epoch end)})."""
    times, windows = {}, {}
    bench.traced = traced
    try:
        for op in wl.ops:
            bench.op_id = op.kind
            w0 = time.time()
            times[op.kind] = counter.run(op)
            windows[op.kind] = (w0, time.time())
    finally:
        bench.traced = False
    return times, windows


def measure(args, bench: Bench) -> dict:
    from perfbench.workloads import WORKLOADS

    counter = Counter()
    phases: dict[str, float] = {}  # wall time of each step of the run
    mark = [time.perf_counter()]

    def phase(name: str) -> float:
        now = time.perf_counter()
        phases[name] = phases.get(name, 0.0) + now - mark[0]
        mark[0] = now
        return phases[name]

    # set-up: JVM launch, get_spark (datasource registration included)
    # and the workload's first op; preparing the inputs (Hadoop's writer
    # needs the JVM) happens in between and is not counted
    bench.start()
    launch_s = phase("launch")
    wl = WORKLOADS[args.workload](bench)
    phase("inputs")
    wl.setup_op()
    setup_s = launch_s + phase("setup_op")
    wl.session_ready()
    phase("session_ready")
    warm = run_pass(wl, counter, bench)[0] if not args.smoke else {}
    warmup_s = phase("warmup")  # every op kind once, untimed

    detail: dict = {"workload": args.workload, "seed": args.seed, "inputs": wl.inputs,
                    "phases_s": phases, "warmup_op_s": warm}
    if not bench.trace:
        op_times, passes = defaultdict(list), []
        t_end = time.perf_counter() + args.seconds
        while True:
            times, _ = run_pass(wl, counter, bench)
            passes.append(sum(times.values()))
            for k, v in times.items():
                op_times[k].append(v)
            if time.perf_counter() >= t_end and len(passes) >= (1 if args.smoke else MIN_PASSES):
                break
        op_median = {k: statistics.median(v) for k, v in op_times.items()}
        group_s = defaultdict(float)  # sum over the group's op kinds of their medians
        for op in wl.ops:
            group_s[op.group] += op_median[op.kind]
        metrics = {
            "setup_s": (setup_s, "s"),
            "group_a_s": (group_s["a"], "s"),
            "group_b_s": (group_s["b"], "s"),
        }
        named = wl.details(op_median, group_s)
        named["setup_s"] = metrics["setup_s"]
        named["peak_rss_mb"] = (peak_rss_mb(), "MB")
        named["failed_ops_ratio"] = (counter.failed / counter.attempted, "ratio")
        detail.update(passes=len(passes), pass_times_s=passes,
                      op_median_s=op_median, op_times_s=op_times,
                      workload_metrics={k: {"value": v, "unit": u} for k, (v, u) in named.items()})
    else:
        metrics, detail_trace = traced_metrics(wl, counter, bench, warmup_s)
        detail.update(detail_trace)
    phase("measure")
    wl.cleanup()
    detail["problems"] = counter.problems[:20]
    return {"detail": detail, "counter": counter, "metrics": metrics}


def traced_metrics(wl, counter: Counter, bench: Bench, warmup_s: float):
    from perfbench import tracing
    from perfbench.workloads import QUERY_MIX

    plain, _ = run_pass(wl, counter, bench)
    traced, windows = run_pass(wl, counter, bench, traced=True)
    rss = peak_rss_mb()
    bench.stop()  # flushes the event log
    spans = tracing.load_spans(bench.trace_dir)
    raw = {op.kind: tracing.layer_totals([s for s in spans if s["op"] == op.kind])
           for op in wl.ops}
    profile = tracing.spark_profile(bench.event_dir, windows)
    out = tracing.combine(list(raw.values()))
    walls = {op: w1 - w0 for op, (w0, w1) in windows.items()}
    for op, prof in profile.items():
        for k, v in prof.items():
            # driver share: weighted by op wall time
            out[k] = out.get(k, 0.0) + (v * walls[op] / sum(walls.values())
                                        if k == "spark.driver_share" else v)
    for name in QUERY_MIX:
        out[f"query.{name}.s"] = traced.get(name, 0.0)
        out[f"query.{name}.jobs"] = profile.get(name, {}).get("spark.jobs", 0)
    out["session.get_spark_s"] = bench.get_spark_s
    out["session.warmup_s"] = warmup_s
    out["trace.pass_untraced_s"] = sum(plain.values())
    out["trace.pass_traced_s"] = sum(traced.values())
    out["trace.overhead_s"] = out["trace.pass_traced_s"] - out["trace.pass_untraced_s"]
    out["failed_ops_ratio"] = counter.failed / counter.attempted
    out["peak_rss_mb"] = rss
    metrics = {k: (out.get(k, 0.0), m["unit"]) for k, m in load_layout()["per_layer"].items()}
    detail = {
        "overhead_s_per_op": {k: traced[k] - plain[k] for k in traced},
        "per_op": {k: {**tracing.combine([raw[k]]), **profile.get(k, {})} for k in raw},
    }
    return metrics, detail


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hadoop_formats_spark", "session.py")):
        print("perfbench: run from the root of a checkout that holds hadoop_formats_spark/",
              file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    for d in os.listdir(WORK):  # left behind by a killed run
        if d.startswith("run-") and not _alive(int(d[4:])):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(scratch)
    try:
        isolate(scratch)
        bench = Bench(args, scratch)
        try:
            res = measure(args, bench)
        finally:
            bench.stop()
            shutdown_jvm()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    counter = res["counter"]
    print(json.dumps({"detail": res["detail"]}, default=str))
    print(json.dumps({
        "correct": counter.failed == 0,
        "attempted": counter.attempted,
        "failed": counter.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
