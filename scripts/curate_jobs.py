#!/usr/bin/env python3
"""Job table of the curation chain: one row per driver action.

Usage (from the repository root):

    python3 scripts/curate_jobs.py DOCS_DIR [--master local[4]]

``DOCS_DIR`` holds a ``documents.parquet`` table (a testdata scale-factor
directory, or a perfbench curate_docs input such as
``.perfbench_work/inputs/curate_docs-s1-v1``). The script runs the registered
``curate_corpus`` and ``remove_shared_spans`` queries, each collected in
full as perfbench does, after one untimed warm-up pass over the same
input. For every driver action the timed pass takes (each ``count``,
``collect``/``toPandas``, eager checkpoint and ``write.save``) it prints:

* the call site (first frame outside pyspark) and the action;
* the Spark jobs and stages it started;
* its wall time, and the part of it when none of its jobs was running
  (driver time between jobs: planning, py4j, job submission);
* its slowest stage, with that stage's task count.

Job and stage times come from the session's event log, written to a
temporary directory that is removed afterwards.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

QUERIES = ("curate_corpus", "remove_shared_spans")
ACTIONS = ("count", "collect", "toPandas", "localCheckpoint", "checkpoint")


class ActionLog:
    """Wraps the DataFrame actions so that each outermost call runs under
    its own job group, and records (group, site, action, t0, t1)."""

    def __init__(self, sc):
        import pyspark

        self.sc = sc
        self.pyspark_dir = os.path.dirname(pyspark.__file__)
        self.rows: "list[dict]" = []
        self.query = None
        self.depth = 0

    def _site(self) -> str:
        f = sys._getframe(2)
        while f is not None and (
            f.f_code.co_filename.startswith(self.pyspark_dir)
            or f.f_code.co_filename == __file__
        ):
            f = f.f_back
        if f is None:
            return "query result"
        path = os.path.relpath(f.f_code.co_filename, ROOT)
        return f"{path}:{f.f_lineno} {f.f_code.co_name}"

    def wrap(self, cls, name: str) -> None:
        orig = getattr(cls, name)
        log = self

        def action(df, *args, **kwargs):
            if log.depth or log.query is None:
                return orig(df, *args, **kwargs)
            group = f"curate-jobs-{len(log.rows)}"
            row = {"group": group, "query": log.query, "action": name,
                   "site": log._site()}
            log.sc.setJobGroup(group, row["site"])
            log.depth += 1
            row["t0"] = time.time()
            try:
                return orig(df, *args, **kwargs)
            finally:
                row["t1"] = time.time()
                log.depth -= 1
                log.sc.setLocalProperty("spark.jobGroup.id", None)
                log.sc.setLocalProperty("spark.job.description", None)
                log.rows.append(row)

        setattr(cls, name, action)


def read_event_log(evdir: str) -> "tuple[dict, dict]":
    """(jobs, stages) from the one event log under ``evdir``: jobs by id
    with group, submit/end (epoch s) and stage ids; stages by id with
    run time and task count (stages that ran only)."""
    (name,) = os.listdir(evdir)
    jobs: dict = {}
    stages: dict = {}
    with open(os.path.join(evdir, name)) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {
                    "group": (e.get("Properties") or {}).get(
                        "spark.jobGroup.id"),
                    "t0": e["Submission Time"] / 1e3,
                    "stages": e["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                stages[info["Stage ID"]] = {
                    "s": (info["Completion Time"]
                          - info["Submission Time"]) / 1e3,
                    "tasks": info["Number of Tasks"],
                }
    return jobs, stages


def busy_time(spans: "list[tuple[float, float]]", lo: float,
              hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def table(rows: "list[dict]", jobs: dict, stages: dict) -> "list[str]":
    by_group: dict = {}
    for jid, j in jobs.items():
        by_group.setdefault(j["group"], []).append(j)
    out = [f"{'query':<20} {'call site':<58} {'action':<15} "
           f"{'jobs':>4} {'stages':>6} {'time_s':>7} {'gap_s':>6}  "
           f"slowest stage"]
    totals: dict = {}
    for r in rows:
        js = by_group.get(r["group"], [])
        if not js:
            continue  # a lazy cut or a cached read: no job started
        ran = [stages[s] for j in js for s in j["stages"] if s in stages]
        wall = r["t1"] - r["t0"]
        gap = wall - busy_time([(j["t0"], j.get("t1", r["t1"])) for j in js],
                               r["t0"], r["t1"])
        slow = max(ran, key=lambda s: s["s"], default=None)
        slow_s = (f"{slow['s']:.2f} s on {slow['tasks']} tasks"
                  if slow else "-")
        out.append(f"{r['query']:<20} {r['site'][-58:]:<58} "
                   f"{r['action']:<15} {len(js):>4} {len(ran):>6} "
                   f"{wall:>7.3f} {gap:>6.3f}  {slow_s}")
        t = totals.setdefault(r["query"], [0, 0, 0.0, 0.0])
        t[0] += len(js)
        t[1] += len(ran)
        t[2] += wall
        t[3] += gap
    for q, (nj, ns, wall, gap) in totals.items():
        out.append(f"{q:<20} {'TOTAL over actions':<58} {'':<15} "
                   f"{nj:>4} {ns:>6} {wall:>7.3f} {gap:>6.3f}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("docs_dir")
    ap.add_argument("--master",
                    default=f"local[{min(4, os.cpu_count() or 1)}]")
    args = ap.parse_args(argv)
    if not os.path.exists(os.path.join(args.docs_dir, "documents.parquet")):
        ap.error(f"{args.docs_dir} has no documents.parquet")

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.chdir(ROOT)  # the worker daemon imports heliport_spark from the cwd
    import __spark_entry__ as entry
    from heliport_spark.plans import get_spark

    qs = {**entry.queries(), **entry.extra_queries()}
    evdir = tempfile.mkdtemp(prefix="curate_jobs_ev_")
    try:
        spark = get_spark(app_name="curate_jobs", master=args.master,
                          extra_conf={
                              "spark.eventLog.enabled": "true",
                              "spark.eventLog.dir": "file://" + evdir,
                              "spark.eventLog.compress": "false",
                              "spark.eventLog.rolling.enabled": "false",
                              "spark.ui.showConsoleProgress": "false",
                          })
        spark.sparkContext.setLogLevel("ERROR")
        for q in QUERIES:  # the untimed warm-up pass
            qs[q](spark, args.docs_dir).toPandas()
        log = ActionLog(spark.sparkContext)
        for name in ACTIONS:
            log.wrap(type(spark.range(1)), name)  # the classic DataFrame
        log.wrap(type(spark.range(1).write), "save")
        walls = {}
        for q in QUERIES:
            log.query = q
            t = time.time()
            qs[q](spark, args.docs_dir).toPandas()
            walls[q] = time.time() - t
        log.query = None
        spark.stop()
        jobs, stages = read_event_log(evdir)
    finally:
        shutil.rmtree(evdir, ignore_errors=True)
    print("\n".join(table(log.rows, jobs, stages)))
    for q, wall in walls.items():
        acts = sum(r["t1"] - r["t0"] for r in log.rows if r["query"] == q)
        print(f"{q}: {wall:.3f} s wall, {wall - acts:.3f} s of it outside "
              "the actions (building and analysing the plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
