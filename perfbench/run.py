"""The repository benchmark: one workload per run, metrics as JSON.

    python3 perfbench/run.py --workload bridge_bulk --seed 1 --seconds 5 --trace 0

Run from the repository root (the directory holding
``clj_kinesis_to_firehose_spark``). The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the run's context (cpus, seed, pyspark version, sample counts,
failures). With ``--trace 0`` the metrics are the end-to-end set, with
``--trace 1`` the per-layer set (see perfbench/metrics.py and
perfbench/README.md). Exits 1 when an output check fails, 2 when the
program is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "clj_kinesis_to_firehose_spark"
WORKLOADS = ("bridge_bulk", "analytics_batch", "cdc_upsert")
#: driver JVM heap, fixed (-Xms = -Xmx) in place of the program's 8g
#: default. With -Xms unset, the peak RSS of two cdc_upsert runs differed
#: by ~40%, as the heap happened to grow; with -Xms8g, analytics_batch
#: peaked at ~7.5 GiB of RSS.
DRIVER_MEM = "2g"


class Context:
    """What a workload function gets: the session, its inputs' seed and
    scale, a work directory, the tracer and the result to fill."""

    def __init__(self, args, work: str, tracer, result) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.scale = args.scale
        self.work = work
        self.tracer = tracer
        self.result = result
        self.spark = None
        self.setup_s = 0.0
        self.warmup_s = 0.0
        #: a fault planted by the self-tests (perfbench/faults.py), or None
        self.plant = args.plant
        #: measured units of work (drains, passes or commits); totals
        #: over the measured window are reported per unit
        self.units = 1

    def scaled(self, n: int) -> int:
        return max(1, int(n * self.scale))

    @contextmanager
    def setup_phase(self, warmup: bool = False):
        """Time a block as set-up (input staging or an untimed warm-up)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self.setup_s += dt
            if warmup:
                self.warmup_s += dt

    @contextmanager
    def measure(self):
        """Mark the spans opened and the jobs started inside as measured
        ones (self time, event log)."""
        sc = self.spark.sparkContext
        sc.setLocalProperty("perfbench.phase", "measure")
        self.tracer.measuring = True
        try:
            yield
        finally:
            self.tracer.measuring = False
            sc.setLocalProperty("perfbench.phase", None)


def _environment(work: str, trace: bool) -> None:
    """Pin the run environment before the JVM starts: executor Python
    workers import the program through PYTHONPATH; Spark, Java and
    Python temporary files stay in the work directory; the event log is
    on for traced runs only."""
    cpus = os.cpu_count() or 4
    if hasattr(os, "sched_getaffinity"):
        cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    submit = [
        # -UsePerfData: the JVM writes no hsperfdata file under the system /tmp
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UsePerfData'",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit.append(
            f"--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.compress=false "
            f"--conf spark.eventLog.rolling.enabled=false "
            f"--conf spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}"
        )
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(path),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR


def _live_descendants(root: int) -> dict[int, str]:
    """Every running (not zombie) descendant of process ``root``, by pid,
    with its start time, so that a reused pid is not mistaken for it."""
    children: dict[int, list[int]] = {}
    start: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(name))
            start[int(name)] = fields[19]
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = start[pid]
        todo.extend(children.get(pid, []))
    return out


def _alive(pid: int, started: str) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return False
    return fields[0] != "Z" and fields[19] == started


def stop_spark(spark) -> None:
    """Stop the session and end every process it started: the JVM (which
    exits once its stdin is closed) and the Python worker daemons under
    it. Waits for each to end, killing any still running after 30 s."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = _live_descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        for sig in (None, signal.SIGKILL):
            if sig is not None:
                for p in procs:
                    try:
                        os.kill(p, sig)
                    except OSError:
                        pass
            deadline = time.monotonic() + 30
            while procs and time.monotonic() < deadline:
                procs = {p: st for p, st in procs.items() if _alive(p, st)}
                time.sleep(0.05)


def run(args) -> tuple[dict, dict]:
    from perfbench import analytics, bridge, cdc, sparklog
    from perfbench.common import LAYERS, Result, Tracer, vm_hwm_mb
    from perfbench.metrics import END_TO_END, PER_LAYER

    run_id = f"{args.workload}-s{args.seed}-t{int(args.trace)}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_build", "perfbench", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work, args.trace)
    cwd = os.getcwd()
    os.chdir(work)  # Spark's warehouse and metastore land here
    tracer, res = Tracer(run_id, args.trace), Result()
    ctx = Context(args, work, tracer, res)
    try:
        import pyspark

        from clj_kinesis_to_firehose_spark.session import build_spark

        t0 = time.perf_counter()
        with tracer.span("session.build"):
            ctx.spark = build_spark("perfbench")
        build_s = time.perf_counter() - t0
        ctx.spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = ctx.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        fn = {
            "bridge_bulk": bridge.run_bulk,
            "analytics_batch": analytics.run_analytics,
            "cdc_upsert": cdc.run_cdc,
        }[args.workload]
        fn(ctx)
        rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb()
        ctx.spark.stop()
        res.put("setup_s", build_s + ctx.setup_s)
        res.put("peak_rss_mb", rss)
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": int(args.trace),
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "pyspark": pyspark.__version__,
            "setup": {"session_build_s": build_s, "staging_s": ctx.setup_s - ctx.warmup_s,
                      "warmup_s": ctx.warmup_s},
            "failed_frac": res.failed / max(1, res.attempted),
            "errors": res.errors[:20],
            "detail": {k: [round(x, 4) for x in v] for k, v in res.detail.items()},
        }
        if args.trace:
            res.put("session.build_s", build_s)
            ev = sparklog.summarize(os.path.join(work, "eventlog"))
            units = max(1, ctx.units)
            res.put("spark_exec.gc_ms", ev["gc_ms"] / units)
            res.put("spark_exec.task_skew", ev["task_skew"])
            res.put("spark_exec.spill_bytes", ev["spill_bytes"] / units)
            res.put("spark_exec.tasks", ev["tasks"] / units)
            for q in analytics.HEADLINE:
                s = ev["by_span"].get(f"operators.{q}", {})
                res.put(f"operators.{q}.tasks", s.get("tasks", 0) / units)
                res.put(f"operators.{q}.shuffle_bytes", s.get("shuffle_bytes", 0) / units)
            self_s = tracer.self_seconds()
            for layer in LAYERS:
                res.put(f"{layer}.self_s", self_s[layer] / units)
            for name in END_TO_END:
                res.put(f"trace.{name}", res.metrics[name])
            tracer.write(os.path.join(ROOT, ".bench_build", "perfbench", "traces", f"{run_id}.jsonl"))
        wanted = PER_LAYER if args.trace else END_TO_END
        metrics = {
            name: {"value": res.metrics.get(name, 0.0), "unit": unit}
            for name, unit in wanted.items()
        }
        info["samples"] = {k: v for k, v in res.samples.items() if k in wanted}
        out = {"correct": res.correct, "attempted": res.attempted, "failed": res.failed,
               "metrics": metrics}
        return info, out
    finally:
        stop_spark(ctx.spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor; below 1 only for the self-tests")
    ap.add_argument("--plant", choices=("drop_record", "wrong_oracle"),
                    help="plant a fault the output checks must catch (self-tests only)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package next to {BENCH_DIR}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    info, out = run(args)
    print(json.dumps(info))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
