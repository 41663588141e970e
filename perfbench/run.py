#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload rollup_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints a report (``#``-prefixed lines)
and, as the last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import socket
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CPUS = 4
_WAKEUP: tuple[socket.socket, socket.socket] | None = None

END_TO_END = {
    "setup_s": "s",
    "points_per_s": "points/s",
    "cpu_s_per_mpoint": "s/Mpoint",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
    "bytes_per_point": "B/point",
}


def _environment(run_dir: str) -> None:
    """Keep every temp file inside the checkout and pin one BLAS thread
    (before NumPy loads) so driver-side kernel timings match the workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # a bounded driver heap keeps the JVM's resident size (and its share
    # of peak_rss_mb) from tracking lazy heap growth
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"


class Bench:
    """One run: the session, its workload's inputs, every operation's
    outcome, the checks and the metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, run_dir: str):
        from perfbench.trace import Tracer

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.dir = run_dir
        self.run_id = os.path.basename(run_dir)
        self.spark = None
        self.rest = None
        self.rss = None
        self.tracer = Tracer(self.run_id)
        self.ops: list[dict] = []
        self.checks: dict[str, bool] = {}
        self.report: dict[str, object] = {}
        self.metrics: dict[str, float] = {}
        self.layer: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_session(self):
        from datafiller_spark.session import get_spark

        tmp = os.environ["TMPDIR"]
        conf = {
            "spark.local.dir": tmp,
            # -XX:-UsePerfData: no hsperfdata file outside the checkout either
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": self.path("spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench", master=f"local[{CPUS}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark if self.trace else None
        return self.spark

    def op(self, kind: str, fn, **attrs):
        """Run one operation of the program, timed, inside a span; a
        failure is recorded, not raised. Returns ``(ok, result, record)``."""
        rec = {"kind": kind, **attrs}
        if self.rss is not None:
            self.rss.mark()
        with self.tracer.span(kind, **attrs) as span:
            try:
                result = fn()
                rec["ok"] = True
            except Exception as exc:  # the program's failure is a measured outcome
                result = None
                rec["ok"] = False
                rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:160]}"
        if self.rss is not None:
            rec["peak_rss_mb"] = self.rss.since_mark / 2**20
        rec["wall_s"] = span["wall_s"]
        rec["cpu_s"] = span["cpu_s"]
        rec["group"] = span["group"]
        self.ops.append(rec)
        return rec["ok"], result, rec

    def ops_of(self, kind: str) -> list[dict]:
        """The successful operations of one kind."""
        return [o for o in self.ops if o["kind"] == kind and o["ok"]]


def setup(b: Bench, wl, reps: int = 3) -> None:
    """Start the session and warm it on a small input of the workload's
    shape, ``reps`` times (each a new SparkContext in the run's JVM; the
    first also launches the JVM and runs the workload's one-off
    preparation), then settle the last session, which the timed part
    uses, at full size. ``setup_s`` is the median repetition plus the
    preparation and the settling."""
    starts, totals = [], []
    once = 0.0
    for i in range(reps):
        t0 = time.perf_counter()
        b.start_session()
        starts.append(time.perf_counter() - t0)
        if i == 0:
            t1 = time.perf_counter()
            wl.prepare(b)
            b.spark.catalog.clearCache()
            once = time.perf_counter() - t1
        wl.warm(b, i)
        b.spark.catalog.clearCache()
        totals.append(time.perf_counter() - t0 - (once if i == 0 else 0.0))
    t1 = time.perf_counter()
    wl.settle(b)
    b.spark.catalog.clearCache()
    settle = time.perf_counter() - t1
    b.metrics["setup_s"] = statistics.median(totals) + once + settle
    b.layer["session.start_s"] = statistics.median(starts)
    b.report["setup_reps_s"] = [round(t, 3) for t in totals]
    b.report["setup_once_s"] = round(once, 3)
    b.report["setup_settle_s"] = round(settle, 3)
    if b.trace:
        from perfbench.trace import SparkRest

        b.rest = SparkRest(b.spark)


def _exit_on_sigterm(proc) -> None:
    """Turn SIGTERM into ``SystemExit`` and also stop the process tree
    from a helper thread: the main thread may sit in a Py4J socket read
    that the signal does not interrupt, and the JVM's exit ends that
    read, so the main thread reaches the handler and ``main``'s
    ``finally``."""
    global _WAKEUP  # the pair must outlive this call, or its sockets close
    _WAKEUP = r, w = socket.socketpair()
    w.setblocking(False)
    signal.set_wakeup_fd(w.fileno())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    def watch() -> None:
        while (got := r.recv(1)) and got != bytes([signal.SIGTERM]):
            pass
        if got:
            proc.kill_tree()

    threading.Thread(target=watch, daemon=True).start()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--workload", required=True, choices=("rollup_ingest", "warehouse_read"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "datafiller_spark")):
        sys.exit(f"no datafiller_spark package beside {os.path.relpath(__file__)}")
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _environment(run_dir)
    sys.path.insert(0, ROOT)
    from perfbench import proc, workloads

    # every way out, a SIGTERM too, goes through the finally below,
    # which stops the JVM and the Python workers and waits for them
    proc.adopt_orphans()
    _exit_on_sigterm(proc)
    wl = workloads.WORKLOADS[args.workload]
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    b.report["calls"] = workloads.CALLS[args.workload]
    phases = b.report.setdefault("phase_s", {})
    t0 = time.perf_counter()
    try:
        wl.inputs(b)
        phases["inputs"] = round(time.perf_counter() - t0, 2)
        setup(b, wl)
        phases["setup"] = round(time.perf_counter() - t0 - sum(phases.values()), 2)
        steal0, total0 = proc.host_times()
        with proc.RssSampler() as b.rss:
            wl.run(b)
        phases["run"] = round(time.perf_counter() - t0 - sum(phases.values()), 2)
        steal1, total1 = proc.host_times()
        b.report["host_steal_share"] = round((steal1 - steal0) / max(total1 - total0, 1), 4)
        wl.check(b)
        phases["check"] = round(time.perf_counter() - t0 - sum(phases.values()), 2)
        if b.trace:
            wl.layers(b)
            phases["layers"] = round(time.perf_counter() - t0 - sum(phases.values()), 2)
            b.tracer.write(os.path.join(WORK, f"spans-{b.run_id}.jsonl"))
            b.report["span_file"] = os.path.relpath(
                os.path.join(WORK, f"spans-{b.run_id}.jsonl"), ROOT
            )
            b.report["self_s"] = {k: round(v, 4) for k, v in sorted(b.tracer.self_times().items())}
    finally:
        from pyspark import SparkContext

        try:
            if b.spark is not None:
                b.spark.stop()
        finally:
            proc.stop_tree(SparkContext._gateway)
            shutil.rmtree(run_dir, ignore_errors=True)

    failed = [o for o in b.ops if not o["ok"]]
    walls: dict[str, list] = {}
    for o in b.ops:
        cpu = {k: round(o["cpu_s"][k], 2) for k in ("jvm", "python", "driver")}
        walls.setdefault(o["kind"], []).append([round(o["wall_s"], 3), cpu])
    b.report["op_wall_s_and_cpu_s"] = walls
    print(f"# workload {args.workload} seed {args.seed} trace {args.trace}")
    for name, ok in b.checks.items():
        print(f"# check {name}: {'ok' if ok else 'FAILED'}")
    for o in failed:
        print(f"# failed op {o['kind']}: {o['error']}")
    for k, v in b.report.items():
        print(f"# {k}: {json.dumps(v)}")
    # a metric whose operations all failed reads 0
    if b.trace:
        units = workloads.LAYER_UNITS
        b.layer = {k: b.layer.get(k, 0.0) for k in units}
        for k in units:
            print(f"# layer {k} = {b.layer[k]:.6g} {units[k]}")
        metrics = {k: {"value": float(b.layer[k]), "unit": units[k]} for k in units}
    else:
        b.metrics = {k: b.metrics.get(k, 0.0) for k in END_TO_END}
        for k, u in END_TO_END.items():
            print(f"# e2e {k} = {b.metrics[k]:.6g} {u}")
        metrics = {k: {"value": float(b.metrics[k]), "unit": u} for k, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": all(b.checks.values()),
                "attempted": len(b.ops),
                "failed": len(failed),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
