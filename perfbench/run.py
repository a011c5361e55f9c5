"""Seeded benchmark of the engine: the L0->L1->L2 pipeline with density
kNN on top, and the declared-query board.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One process, one Spark session on local[nproc], one closed-loop client:
each operation commits its output (parquet writes, or a collect on the
board) and the next starts only when it has finished. Repetitions run
until --seconds have passed; the first is the session's first, as in one
spark-submit per batch. Inputs are generated from --seed
(perfbench/gen.py) and cached by (seed, size). The last line of stdout is
one JSON object: `correct`, `attempted`, `failed` and `metrics` — the
`end_to_end` metrics of BENCHMARK.json with --trace 0, its `per_layer`
metrics with --trace 1 (0 for a layer the workload does not call). A
traced run adds a span per layer call, reads Spark's event log for the
spans' counters (perfbench/eventlog.py) and writes the spans as JSON
under .perfbench_work/spans/. Workload choices, sizes and expected guard
paths are in perfbench/workloads.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from math import lgamma

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"  # the box has 4 cores and 15 GB; session.py defaults to 24g
OP_TIMEOUT_S = 120.0
ROOT_SPAN = "perfbench.workload"


def percentile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-th percentile: a Beta-weighted mean
    of all order statistics, much steadier run to run than interpolating
    between the two samples next to the rank."""
    s = np.sort(np.asarray(xs, dtype=np.float64))
    n = len(s)
    if n == 1:
        return float(s[0])
    a, b = (p / 100.0) * (n + 1), (1 - p / 100.0) * (n + 1)
    # Beta(a, b) CDF at i/n by trapezoid integration of its density
    x = np.linspace(0.0, 1.0, 20001)[1:-1]
    log_pdf = (a - 1) * np.log(x) + (b - 1) * np.log1p(-x) - (lgamma(a) + lgamma(b) - lgamma(a + b))
    cdf = np.concatenate(([0.0], np.cumsum((np.exp(log_pdf[1:]) + np.exp(log_pdf[:-1])) / 2 * np.diff(x))))
    edges = np.interp(np.arange(n + 1) / n, np.concatenate(([0.0], x[1:], [1.0])), np.concatenate((cdf, [1.0])))
    w = np.diff(edges)
    return float(np.dot(w / w.sum(), s))


def hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Context:
    """Run state shared with the workloads: session, directories, seed,
    tracer and failure accounting."""

    def __init__(self, seed: int, run_id: str, trace: bool, cores: int):
        from spans import Tracer

        self.seed = seed
        self.run_id = run_id
        self.trace = trace
        self.cores = cores
        self.tracer = Tracer(run_id, enabled=False)
        self.cache = os.path.join(WORK, "cache")
        self.out = os.path.join(WORK, "out", run_id)
        self.eventlog = None
        self.spark = None
        self.jvm_pid = None
        self.attempts = 0
        self.failed: set[str] = set()
        self.last: dict[str, str] = {}
        for d in (self.cache, self.out):
            os.makedirs(d, exist_ok=True)

    def start(self) -> None:
        from water_column_sonar_processing_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # a fixed, pre-touched heap: the JVM's resident set then holds
            # its heap whole from the start, so peak_rss_mb moves with
            # off-heap and driver-side memory instead of GC heap sizing
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            self.eventlog = os.path.join(WORK, "eventlog", self.run_id)
            os.makedirs(self.eventlog, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.eventlog,
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark("perfbench", cores=self.cores, extra_conf=conf)
        self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.tracer.bind(self.spark.sparkContext)

    def stop_context(self) -> None:
        if self.spark is not None:
            self.tracer.bind(None)
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        self.stop_context()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def timed_op(self, name: str, fn) -> float:
        """Run one operation as one attempt; returns its latency. A raise or
        a run past OP_TIMEOUT_S (its jobs are then cancelled) fails it, and
        a failed attempt counts as taking at least OP_TIMEOUT_S."""
        aid = f"{name}#{self.attempts}"
        self.attempts += 1
        self.last[name] = aid
        sc = self.spark.sparkContext
        group = f"perfbench-op-{self.attempts}"
        sc.setJobGroup(group, name)
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, (group,))
        timer.daemon = True
        timer.start()
        t0 = time.perf_counter()
        try:
            fn()
        except Exception:  # one failed attempt must not end the run
            self.failed.add(aid)
            traceback.print_exc(limit=3, file=sys.stderr)
        finally:
            dt = time.perf_counter() - t0
            timer.cancel()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        if dt > OP_TIMEOUT_S:
            self.failed.add(aid)
        return max(dt, OP_TIMEOUT_S) if aid in self.failed else dt


def layer_metrics(ctx: Context, counts: dict[str, float], untraced_wall: float) -> dict[str, float]:
    """Per-layer metrics of the traced repetition: event-log counters per
    span name (summed over spans of that name), the workload's counts, and
    the tracing overhead."""
    import eventlog

    log = eventlog.read_log(ctx.eventlog, ctx.cores)
    spans = [s for s in ctx.tracer.spans if s["end"] is not None]
    per_span = eventlog.span_metrics(log, spans)
    out: dict[str, float] = {}
    busy: dict[str, float] = {}
    for s in spans:
        m = per_span[s["id"]]
        for k, v in m.items():
            if k != "core_util":
                out[f"{s['name']}.{k}"] = out.get(f"{s['name']}.{k}", 0.0) + v
        busy[s["name"]] = busy.get(s["name"], 0.0) + m["core_util"] * m["wall_s"]
    for name, b in busy.items():
        out[f"{name}.core_util"] = b / max(out[f"{name}.wall_s"], 1e-9)
    out.update(counts)
    out[f"{ROOT_SPAN}.tracing_overhead"] = out[f"{ROOT_SPAN}.wall_s"] / untraced_wall
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # every JVM, the spark-submit launcher's too, keeps its files in tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)
    import workloads  # imports the engine: fails where the repo is absent

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "workloads.json"), encoding="utf-8") as fh:
        pinned = json.load(fh)["workloads"][args.workload]["pinned"]

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    ctx = Context(args.seed, run_id, bool(args.trace), cores)
    wl = workloads.WORKLOADS[args.workload](ctx)
    try:
        wl.prepare()
        ctx.tracer.enabled = ctx.trace
        t0 = time.perf_counter()
        with ctx.tracer.span("session.get_spark"):
            ctx.start()
        wl.register(ctx.spark)
        setup_s = time.perf_counter() - t0

        lat: list[float] = []
        walls: list[float] = []
        t_start = time.perf_counter()
        while True:
            rep = wl.rep()
            lat.extend(rep)
            walls.append(sum(rep))
            if time.perf_counter() - t_start >= args.seconds:
                break
        jvm_mb, py_mb = hwm_mb(ctx.jvm_pid), hwm_mb("self")
        peak_rss_mb = jvm_mb + py_mb

        t_check = time.perf_counter()
        errs, out_hash = wl.check()
        t_check = time.perf_counter() - t_check
        if args.seed == pinned["seed"] and out_hash != pinned["hash"]:
            errs.append((next(iter(ctx.last)), f"output hash {out_hash} != pinned {pinned['hash']}"))
        for op, msg in errs:
            ctx.failed.add(ctx.last[op])
            print(f"CHECK FAILED {args.workload} {op}: {msg}", file=sys.stderr)

        wall_s = statistics.median(walls)
        extra = ""
        if args.workload == "l1l2_pipeline":
            extra = f" written_bytes_per_input_byte={wl.written_bytes_per_input_byte():.4f}"
        if args.trace:
            # the same layer calls untraced, right before the traced ones
            ctx.tracer.enabled = False
            t_base = time.perf_counter()
            wl.traced()
            base = time.perf_counter() - t_base
            ctx.tracer.enabled = True
            with ctx.tracer.span(ROOT_SPAN):
                handle = wl.traced()
            counts = wl.counts(handle)
            ctx.stop_context()  # closes the event log
            metrics_raw = layer_metrics(ctx, counts, base)
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            ctx.tracer.dump(os.path.join(WORK, "spans", f"{run_id}.json"))
            names = spec["per_layer"]
        else:
            metrics_raw = {
                "wall_s": wall_s,
                "docs_per_s": wl.input_rows / wall_s,
                "query_p50_s": percentile(lat, 50),
                "query_p80_s": percentile(lat, 80),
                "setup_s": setup_s,
                "peak_rss_mb": peak_rss_mb,
            }
            names = spec["end_to_end"]
        metrics = {m["name"]: {"value": float(metrics_raw.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}

        n = len(lat)
        tail = max((p for p in (50, 80, 90, 95, 99) if n * (100 - p) / 100 >= 10), default=None)
        tail_s = f" p{tail}={percentile(lat, tail):.4f}s" if tail else ""
        print(
            f"{args.workload} seed={args.seed} cores={cores} driver_mem={DRIVER_MEM} "
            f"reps={len(walls)} samples={n}{tail_s} error_rate={len(ctx.failed) / ctx.attempts:.4f} "
            f"input_rows={wl.input_rows} output_hash={out_hash}{extra} check_s={t_check:.1f} rss_jvm_mb={jvm_mb:.0f} rss_py_mb={py_mb:.0f}"
        )
        print(
            json.dumps(
                {
                    "correct": not ctx.failed,
                    "attempted": ctx.attempts,
                    "failed": len(ctx.failed),
                    "metrics": metrics,
                }
            )
        )
    finally:
        ctx.shutdown()
        shutil.rmtree(ctx.out, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
