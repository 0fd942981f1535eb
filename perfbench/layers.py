"""Per-layer measurement from outside the engine.

* ``EventLog``: Spark's own event log, split into phases by the
  ``perfbench.phase`` local property the runner sets around each job.
* ``replay_kernels``: the Python kernels of ``heli_udf`` replayed in-process
  on a fresh ``Scorer`` over distinct input batches, with the same public
  calls in the same order as the UDF.
* ``stage_isolation``: scan, scrub and rules alone through a noop sink.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

import numpy as np

PHASE_PROP = "perfbench.phase"
WRITE_NODES = ("Execute InsertIntoHadoopFsRelationCommand", "WriteFiles")


class EventLog:
    """Task, stage and SQL-operator metrics of one event-log file."""

    def __init__(self, path: str):
        self.stage_phase: dict = {}
        self.exec_phase: dict = {}
        self.tasks: list = []  # (phase, stage id, metrics, duration ms)
        self.acc_node: dict = {}  # accumulator id -> (exec id, node, metric)
        self.acc_sum: dict = defaultdict(int)
        self.exec_time: dict = {}  # exec id -> [start ms, end ms]
        self.write_execs: set = set()
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _walk(self, eid, node):
        if node["nodeName"].startswith(WRITE_NODES):
            self.write_execs.add(eid)
        for m in node.get("metrics", []):
            self.acc_node[m["accumulatorId"]] = (eid, node["nodeName"], m["name"])
        for c in node.get("children", []):
            self._walk(eid, c)

    def _event(self, e):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ph = props.get(PHASE_PROP)
            for s in e.get("Stage IDs", []):
                self.stage_phase[s] = ph
            eid = props.get("spark.sql.execution.id")
            if eid is not None and ph is not None:
                self.exec_phase[int(eid)] = ph
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql" and a["ID"] in self.acc_node:
                    self.acc_sum[a["ID"]] += int(a["Update"])
            self.tasks.append((
                self.stage_phase.get(e["Stage ID"]), e["Stage ID"],
                e.get("Task Metrics") or {},
                info["Finish Time"] - info["Launch Time"],
            ))
        elif kind.endswith("SQLExecutionStart"):
            self.exec_time[e["executionId"]] = [e["time"], None]
            self._walk(e["executionId"], e["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._walk(e["executionId"], e["sparkPlanInfo"])
        elif kind.endswith("SQLExecutionEnd"):
            if e["executionId"] in self.exec_time:
                self.exec_time[e["executionId"]][1] = e["time"]
        elif kind.endswith("DriverAccumUpdates"):
            for aid, v in e["accumUpdates"]:
                if aid in self.acc_node:
                    self.acc_sum[aid] += int(v)

    def sql_metric(self, phase: str, nodes: "str | tuple", metric: str) -> int:
        """Sum of one SQL metric over the phase's plan nodes whose name
        starts with ``nodes`` (a prefix or a tuple of prefixes)."""
        return sum(v for aid, v in self.acc_sum.items()
                   if self.acc_node[aid][1].startswith(nodes)
                   and self.acc_node[aid][2] == metric
                   and self.exec_phase.get(self.acc_node[aid][0]) == phase)

    def task_sum(self, phase: str, *path) -> float:
        tot = 0.0
        for ph, _, m, _ in self.tasks:
            if ph != phase:
                continue
            v = m
            for k in path:
                v = v.get(k, 0) if isinstance(v, dict) else 0
            tot += float(v or 0)
        return tot

    def task_skew(self, phase: str) -> float:
        """max / median task run time in the phase's heaviest stage."""
        by: dict = defaultdict(list)
        for ph, sid, m, _ in self.tasks:
            if ph == phase:
                by[sid].append(float(m.get("Executor Run Time", 0)))
        if not by:
            return 0.0
        heavy = max(by.values(), key=sum)
        med = statistics.median(heavy)
        return max(heavy) / med if med > 0 else 1.0

    def write_executions(self, phase: str) -> "list[tuple[float, float]]":
        """(start, end) seconds of the phase's file-writing SQL executions
        (one per pipeline bucket), in order."""
        out = [(s / 1e3, e / 1e3) for eid, (s, e) in self.exec_time.items()
               if self.exec_phase.get(eid) == phase and e is not None
               and eid in self.write_execs]
        return sorted(out)


def find_event_log(evdir: str) -> str:
    files = [os.path.join(evdir, f) for f in os.listdir(evdir)
             if not f.startswith(".") and not f.endswith(".inprogress")]
    if not files:
        raise RuntimeError(f"no completed Spark event log under {evdir}")
    return max(files, key=os.path.getmtime)


def jvm_layers(ev: EventLog, phase: str, wall_s: float) -> dict:
    """Every event-log-derived per-layer metric of the timed phase."""
    arrow, writes = "ArrowEvalPython", WRITE_NODES
    bucket = [e - s for s, e in ev.write_executions(phase)]
    return {
        "udf.python_total_ms": ev.sql_metric(phase, arrow, "time to run Python workers"),
        "udf.bytes_sent": ev.sql_metric(phase, arrow, "data sent to Python workers"),
        "udf.bytes_returned": ev.sql_metric(phase, arrow, "data returned from Python workers"),
        "udf.rows": ev.sql_metric(phase, arrow, "number of output rows"),
        "jvm.run_ms": ev.task_sum(phase, "Executor Run Time"),
        "jvm.cpu_ms": ev.task_sum(phase, "Executor CPU Time") / 1e6,
        "jvm.gc_ms": ev.task_sum(phase, "JVM GC Time"),
        "shuffle.write_bytes": ev.task_sum(phase, "Shuffle Write Metrics", "Shuffle Bytes Written"),
        "shuffle.records": ev.task_sum(phase, "Shuffle Write Metrics", "Shuffle Records Written"),
        "shuffle.read_bytes": (
            ev.task_sum(phase, "Shuffle Read Metrics", "Local Bytes Read")
            + ev.task_sum(phase, "Shuffle Read Metrics", "Remote Bytes Read")),
        "shuffle.fetch_wait_ms": ev.task_sum(phase, "Shuffle Read Metrics", "Fetch Wait Time"),
        "stage.task_skew": ev.task_skew(phase),
        "pipeline.scan_bytes_total": ev.sql_metric(phase, "Scan", "size of files read"),
        "write.bytes": ev.sql_metric(phase, writes, "written output"),
        "write.files": ev.sql_metric(phase, writes, "number of written files"),
        "write.task_commit_ms": ev.sql_metric(phase, writes, "task commit time"),
        "write.job_commit_ms": ev.sql_metric(phase, writes, "job commit time"),
        "pipeline.bucket_s.p50": statistics.median(bucket) if bucket else 0.0,
        "pipeline.bucket_s.max": max(bucket) if bucket else 0.0,
        "pipeline.driver_gap_s": max(0.0, wall_s - sum(bucket)) if bucket else 0.0,
    }


def warmup_layers(ev: EventLog, phase: str) -> dict:
    arrow = "ArrowEvalPython"
    return {
        "udf.python_boot_ms": ev.sql_metric(phase, arrow, "time to start Python workers"),
        "udf.python_init_ms": ev.sql_metric(phase, arrow, "time to initialize Python workers"),
    }


# ---------------------------------------------------------------- kernels

def _dist(xs: "list[float]") -> "tuple[float, float, float]":
    """(median, highest percentile with >= 10 samples beyond it, its level)."""
    if not xs:
        return 0.0, 0.0, 0.5
    a = np.asarray(xs)
    q = max(0.5, 1.0 - 10.0 / len(a))
    return float(np.median(a)), float(np.quantile(a, q)), q


def replay_kernels(texts: "list[str]", with_ft: bool) -> dict:
    """Replay heli_udf's kernel calls over the input in distinct
    ARROW_BATCH_ROWS batches in input order.

    Timed calls, as heli_udf makes them: score_batch → pick_winner_batch →
    word_nll_batch (identify_batch's body), ft_identify_batch when the
    workload runs with_ft, text_stats_batch. Every batch is a new list and
    no batch is scored twice. Counts are taken after the timed calls from
    the public ``preprocess_batch`` (untimed) and a memo model that resets
    at ``Scorer.cache_cap`` like the word memo does."""
    import pandas as pd

    from heliport_spark.heli import Scorer
    from heliport_spark.model import get_model
    from heliport_spark.plans import ARROW_BATCH_ROWS
    from heliport_spark.textstats import text_stats_batch

    model = get_model()
    sc = Scorer(model)
    times: dict = defaultdict(list)
    cnt = dict(rows=0, chars=0, tokens=0, distinct=0, new=0, hits=0, dup=0, cjk=0)
    seen: set = set()
    memo: set = set()
    pc = time.perf_counter
    for lo in range(0, len(texts), ARROW_BATCH_ROWS):
        tl = list(texts[lo:lo + ARROW_BATCH_ROWS])
        a = pc()
        points, valid, cjk = sc.score_batch(tl)
        b = pc()
        lang, score, raw, wi = sc.pick_winner_batch(points, valid, model.confidence)
        c = pc()
        sc.word_nll_batch(tl, wi)
        d = e = pc()
        if with_ft:
            sc.ft_identify_batch(tl)
            e = pc()
        text_stats_batch(tl)
        f = pc()
        times["heli.score_batch_ms"].append((b - a) * 1e3)
        times["heli.pick_winner_ms"].append((c - b) * 1e3)
        times["heli.word_nll_ms"].append((d - c) * 1e3)
        times["heli.ft_identify_ms"].append((e - d) * 1e3)
        times["textstats.text_stats_ms"].append((f - e) * 1e3)
        times["heli.kernel_ms"].append((f - a) * 1e3)
        # counts (untimed)
        toks = sc.preprocess_batch(list(tl))[0]
        uniq = pd.unique(np.asarray(toks, dtype=object)) if toks else []
        if len(memo) > sc.cache_cap:
            memo = set()
        new_here = [w for w in uniq if w not in seen]
        cnt["hits"] += sum(1 for w in uniq if w in memo)
        seen.update(new_here)
        memo.update(uniq)
        cnt["rows"] += len(tl)
        cnt["chars"] += sum(len(t) for t in tl)
        cnt["tokens"] += len(toks)
        cnt["distinct"] += len(uniq)
        cnt["new"] += len(new_here)
        cnt["dup"] += len(tl) - len(set(tl))
        cnt["cjk"] += int(np.count_nonzero(cjk > 0.5))
    out = {}
    for name, xs in times.items():
        med, hi, q = _dist(xs)
        out[name + ".p50"] = med
        out[name + ".phi"] = hi
        out["_level." + name] = q
    out["heli.batches"] = len(times["heli.kernel_ms"])
    out["heli.kernel_total_ms"] = sum(times["heli.kernel_ms"])
    out.update({
        "heli.rows": cnt["rows"], "heli.chars": cnt["chars"],
        "heli.tokens": cnt["tokens"], "heli.distinct_tokens": cnt["distinct"],
        "heli.new_tokens": cnt["new"],
        "heli.memo_hit_ratio": cnt["hits"] / max(1, cnt["distinct"]),
        "heli.dup_row_ratio": cnt["dup"] / max(1, cnt["rows"]),
        "heli.cjk_row_ratio": cnt["cjk"] / max(1, cnt["rows"]),
    })
    return out


# ---------------------------------------------------------- stage isolation

def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def stage_isolation(spark, clips_path: str, set_phase) -> dict:
    """Wall time of scan alone, scan+scrub and scan+rules through a noop
    sink; scrub and rules are reported net of the scan."""
    from pyspark.sql import functions as F

    from heliport_spark.functions.scrub import scrub_apply
    from heliport_spark.operators.quality import (
        flags_from_conditions,
        perplexity,
        rule_conditions,
        sparse_word_langs,
    )

    meta = spark.read.parquet(clips_path).select("clip_id", "transcript", "dur_ms")

    def rules():
        # lang/score inputs are constants so only the rule expressions and
        # their text scans are measured
        d = (meta.withColumn("lang", F.lit("eng"))
             .withColumn("raw_score", F.lit(1.0).cast("float")))
        conds = rule_conditions(
            F.col("transcript"), F.col("lang"), perplexity(F.col("raw_score")),
            dur_ms=F.col("dur_ms"), word_ppl=F.lit(10.0).cast("double"),
            cjk_pct=F.lit(0.0).cast("float"),
            word_sparse_langs=sparse_word_langs(None),
        )
        _noop(d.withColumn("rule_flags", flags_from_conditions(conds)))

    stages = (("scan", lambda: _noop(meta)),
              ("scrub", lambda: _noop(scrub_apply(meta, "transcript"))),
              ("rules", rules))
    best: dict = {}
    for _ in range(2):  # min of two passes: the first also warms the codegen
        for name, fn in stages:
            set_phase("stage:" + name)
            t = time.perf_counter()
            fn()
            dt = time.perf_counter() - t
            best[name] = min(best.get(name, dt), dt)
    set_phase(None)
    return {
        "scan.ms": best["scan"] * 1e3,
        "scrub.ms": max(0.0, best["scrub"] - best["scan"]) * 1e3,
        "quality.rules_ms": max(0.0, best["rules"] - best["scan"]) * 1e3,
    }
