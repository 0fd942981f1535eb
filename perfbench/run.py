#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload filter_hot --seed 1 --seconds 10 --trace 0

Workloads: filter_hot, filter_default, curate_docs (see perfbench/README.md).
With ``--trace 0`` the run measures the end-to-end metrics; with
``--trace 1`` it runs the traced variant and reports the per-layer metrics.
It prints one labelled record line, then, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}``. Inputs are generated from
the seed on first use and kept under ``.perfbench_work/`` in the current
directory; every file the run writes lives there.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
REQUIRED = ("heliport_spark/__init__.py", "__spark_entry__.py",
            "models/heli/meta.json", "tests/oracle_check.py")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("filter_hot", "filter_default", "curate_docs"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def require_repo() -> None:
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.stderr.write("perfbench: run from the repository root; missing "
                         + ", ".join(missing) + "\n")
        raise SystemExit(2)


DRIVER_MEMORY = "2g"


def set_environment(tmp: str) -> None:
    """Point every temp-file user (Python, the JVMs, Spark) inside WORK, and
    size the driver JVM heap for these inputs: under get_spark's 8g default
    the heap grows lazily and its resident size varied by 1.7x between runs
    of the same job."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY


# ------------------------------------------------------------ host readings

def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root_pid: int) -> "list[int]":
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def memory_peaks(jvm_pid: int) -> dict:
    """VmHWM (peak RSS) in MB of the driver JVM, this Python driver and
    every process the JVM started (the Python daemon and its workers)."""
    jvm = _status_kb(jvm_pid, "VmHWM") / 1024
    drv = _status_kb(os.getpid(), "VmHWM") / 1024
    workers = [_status_kb(p, "VmHWM") / 1024 for p in _descendants(jvm_pid)]
    return {"total": jvm + drv + sum(workers), "jvm": jvm, "driver": drv,
            "worker_max": max(workers, default=0.0), "processes": len(workers)}


def cpu_times() -> "list[int]":
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(a: "list[int]", b: "list[int]") -> float:
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d[:8])
    return d[7] / tot if tot > 0 and len(d) > 7 else 0.0


def source_rev() -> str:
    """git revision, or a digest of the engine sources in a plain checkout."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=30)
        if out.returncode == 0:
            return out.stdout.strip()
    h = hashlib.sha1()
    for base in ("heliport_spark", "models/heli"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, base))):
            for f in sorted(files):
                if f.endswith((".py", ".json")):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(fh.read())
    with open(os.path.join(ROOT, "__spark_entry__.py"), "rb") as fh:
        h.update(fh.read())
    return "src-sha1:" + h.hexdigest()[:16]


# ------------------------------------------------------------ inputs

def ensure_inputs(workload: str, seed: int) -> "tuple[str, dict]":
    from gen import GEN_VERSION

    d = os.path.join(WORK, "inputs", f"{workload}-s{seed}-v{GEN_VERSION}")
    if not os.path.exists(os.path.join(d, "props.json")):
        # a separate process, so generation never counts in this process's
        # peak RSS
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                        workload, str(seed), d], cwd=ROOT, check=True)
    with open(os.path.join(d, "props.json")) as fh:
        return d, json.load(fh)


# ------------------------------------------------------------ sessions

class Sessions:
    """Spark contexts of one run. Stopping a context ends its Python workers
    (and their memos); a new context reuses the driver JVM."""

    def __init__(self, k: int, run_dir: str):
        self.k = k
        self.run_dir = run_dir
        self.spark = None

    def start(self, event_log: "str | None"):
        from heliport_spark.plans import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.k}]",
                               extra_conf=conf)
        dt = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark, dt

    def set_phase(self, name):
        self.spark.sparkContext.setLocalProperty("perfbench.phase", name)

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle
                   .current().pid())

    def stop(self):
        """Stop the context, then the driver JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=120)


def timed_loop(wl, spark, inp, run_dir, seconds: float, max_reps):
    """Repeat the workload's timed job until ``seconds`` have passed."""
    walls, results = [], []
    t0 = time.perf_counter()
    while not walls or (time.perf_counter() - t0 < seconds
                        and (max_reps is None or len(walls) < max_reps)):
        dt, res = wl.timed(spark, inp, run_dir)
        walls.append(dt)
        results.append(res)
    return walls, results


def model_load_s() -> float:
    """``get_model()`` in a fresh interpreter (this one loaded the model while
    planning the queries)."""
    code = ("import time; from heliport_spark.model import get_model; "
            "t = time.perf_counter(); get_model(); "
            "print(time.perf_counter() - t)")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                         capture_output=True, text=True)
    return float(out.stdout.split()[-1])


def _clip_texts(inp: str) -> "list[str]":
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(inp, "clips.parquet"),
                         columns=["transcript"]).column(0).to_pylist()


# ------------------------------------------------------------ one run

def run(args) -> "tuple[dict, int, int]":
    from gen import task_slots
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    k = task_slots()
    inp, props = ensure_inputs(args.workload, args.seed)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    cpu0 = cpu_times()
    sess = Sessions(k, run_dir)
    rounds, sessions_s = [], []
    layers: dict = {}
    # a traced run times one job, so event-log totals belong to that job
    max_reps = 1 if args.trace else wl.max_reps
    try:
        # set-up is timed once, in a fresh process: a second fresh JVM would
        # cost a whole set-up again. The traced variant adds a second context
        # (event log on) after an untraced reference pass.
        evdir = os.path.join(run_dir, "events")
        for r in range(2 if args.trace else 1):
            spark, sess_s = sess.start(evdir if r == 1 else None)
            sess.set_phase("warmup")
            t = time.perf_counter()
            wl.warmup(spark, inp, run_dir)
            rounds.append(sess_s + time.perf_counter() - t)
            sessions_s.append(sess_s)
            sess.set_phase(None)
            if args.trace and r == 0:
                walls0, _ = timed_loop(wl, spark, inp, run_dir, args.seconds, 1)
                layers["_untraced_rows_per_s"] = props["rows"] / statistics.median(walls0)
        sess.set_phase("timed")
        walls, results = timed_loop(wl, spark, inp, run_dir, args.seconds,
                                    max_reps)
        sess.set_phase(None)
        mem = memory_peaks(sess.jvm_pid())
        jvm_version = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        if args.trace and wl.name != "curate_docs":
            from layers import stage_isolation

            layers.update(stage_isolation(
                spark, os.path.join(inp, "clips.parquet"), sess.set_phase))
        attempted, failed, detail = wl.check(spark, inp, run_dir, results,
                                             props, args.seed)
    finally:
        sess.stop()
    import pyspark

    wall = statistics.median(walls)
    rows_per_s = props["rows"] / wall
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "labels": {
            "nproc": os.cpu_count(), "master": f"local[{k}]",
            "rev": source_rev(), "jvm": jvm_version,
            "driver_memory": DRIVER_MEMORY,
            "python": platform.python_version(), "pyspark": pyspark.__version__,
        },
        "input": props,
        "reps": len(walls), "walls_s": walls,
        "setup_rounds_s": rounds,
        "memory_mb": mem,
        "failed_frac": failed / max(1, attempted),
        "check_detail": detail,
        "host.steal_frac": steal_frac(cpu0, cpu_times()),
    }
    if args.trace:
        metrics = trace_metrics(args, wl, inp, run_dir, props, k, wall,
                                rows_per_s, mem, sessions_s, layers, results)
        record["layer_notes"] = {k2: v for k2, v in metrics.items()
                                 if k2.startswith("_")}
        metrics = {k2: v for k2, v in metrics.items() if not k2.startswith("_")}
        metrics["host.steal_frac"] = record["host.steal_frac"]
        units = metric_units("per_layer")
    else:
        metrics = {"rows_per_s": rows_per_s,
                   "setup_s": rounds[0],
                   "peak_rss_mb": mem["total"]}
        units = metric_units("end_to_end")
    record["metrics"] = {m: {"value": v, "unit": units[m]}
                         for m, v in metrics.items()}
    record["metrics_extra"] = {"failed_frac": {"value": record["failed_frac"],
                                               "unit": "ratio"}}
    shutil.rmtree(run_dir, ignore_errors=True)
    return record, attempted, failed


def trace_metrics(args, wl, inp, run_dir, props, k, wall, rows_per_s, mem,
                  sessions_s, layers, results) -> dict:
    from layers import (EventLog, find_event_log, jvm_layers, replay_kernels,
                       warmup_layers)

    ev = EventLog(find_event_log(os.path.join(run_dir, "events")))
    m = dict.fromkeys(metric_units("per_layer"), 0.0)
    m.update(jvm_layers(ev, "timed", wall))
    m.update(warmup_layers(ev, "warmup"))
    m["plans.session_s"] = sessions_s[0]
    m["model.load_s"] = model_load_s()
    m["mem.jvm_peak_mb"] = mem["jvm"]
    m["mem.worker_peak_mb"] = mem["worker_max"]
    m["trace.overhead_frac"] = 1.0 - rows_per_s / layers.pop("_untraced_rows_per_s")
    m.update(layers)
    m["scan.bytes"] = ev.sql_metric("stage:scan", "Scan", "size of files read") / 2
    wall_ms = wall * 1e3
    if wl.name == "curate_docs":
        m["curate.chain_ms"] = statistics.median(
            r["curate_corpus"][1] for r in results) * 1e3
        m["dedup.spans_ms"] = statistics.median(
            r["remove_shared_spans"][1] for r in results) * 1e3
        # driver-side time: planning, scheduling and the collect itself
        m["layers.residual_ms"] = wall_ms - m["jvm.run_ms"] / k
        return m
    m.update(replay_kernels(_clip_texts(inp), wl.with_ft))
    m["udf.residual_ms"] = m["udf.python_total_ms"] - m["heli.kernel_total_ms"]
    # wall time not covered by the named layers; task-summed layers are
    # divided by the k task slots that ran them in parallel
    m["layers.residual_ms"] = wall_ms - (
        m["scan.ms"] + m["scrub.ms"] + m["quality.rules_ms"]
        + m["udf.python_total_ms"] / k
        + (m["write.task_commit_ms"] / k + m["write.job_commit_ms"])
        + m["pipeline.driver_gap_s"] * 1e3)
    return m


def metric_units(kind: str) -> dict:
    """Metric name -> unit, from BENCHMARK.json (the one list of metrics)."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[kind]}


def main(argv=None) -> int:
    args = parse_args(argv)
    require_repo()
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tests")]
    set_environment(os.path.join(WORK, "tmp"))
    record, attempted, failed = run(args)
    print(json.dumps(record, default=str), flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": record["metrics"]}),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
