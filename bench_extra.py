#!/usr/bin/env python3
"""Extra benchmarks for optimization work (guide §1.4) — NOT the driver
contract (bench.py is frozen; this file is where isolation/profiling
numbers cited in OPTIMIZATION_r08.md come from).

Modes:
  --explain          write .explain("formatted") for every headline query to
                     plans/r08/<query>_<tag>.txt (tag from --tag, default
                     "before")
  --noop [names...]  time each named headline query (default: all) with the
                     noop sink (forces every column; no count() pruning),
                     min-of-N interleaved
  --pipeline-stages  stage-isolation of the flagship pipeline over the
                     materialized scaling clips table: scan-only, +identify,
                     +scrub, +rules, full (each via noop sink)
  --manifest-commits N [DIR]
                     time N TableManifest.commit_bucket calls in a fresh
                     temporary directory under DIR (default: the current
                     directory, i.e. the filesystem output roots live on),
                     next to N durable writes onto one existing file (the
                     pointer rewrite the manifest no longer does); prints
                     p50, max and total of each. No Spark.

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS as bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

HEADLINE = (
    "quality_filter_clips", "heli_identify_docs", "heli_topk_docs",
    "q1_pricing_summary", "region_revenue", "events_sessions",
    "char_trigrams", "dedup_minhash_lsh", "ann_bruteforce", "simhash",
)


def _spark():
    from heliport_spark.plans import get_spark

    spark = get_spark(app_name="heliport_spark_bench_extra",
                      master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, label, fn):
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    fn()
    dt = time.time() - t0
    spark.sparkContext.setJobDescription(None)
    return dt


def run_noop(names):
    import __spark_entry__ as entrymod

    spark = _spark()
    qs = {**entrymod.queries(), **entrymod.extra_queries()}
    names = names or list(HEADLINE)
    qs["heli_identify_docs"](spark, SF_DIR).count()  # JVM/model warmup
    times: dict = {}
    for _ in range(REPS):
        for name in names:
            dt = _timed(spark, f"noop:{name}",
                        lambda: _noop(qs[name](spark, SF_DIR)))
            times[name] = min(times.get(name, dt), dt)
    print(json.dumps({"mode": "noop", "sf_dir": SF_DIR, "reps": REPS,
                      "queries": {k: round(v, 3) for k, v in times.items()}}))
    spark.stop()


def run_explain(tag):
    import __spark_entry__ as entrymod
    from heliport_spark.plans import explain_str

    spark = _spark()
    qs = {**entrymod.queries(), **entrymod.extra_queries()}
    outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "plans", "r08")
    os.makedirs(outdir, exist_ok=True)
    for name in HEADLINE:
        df = qs[name](spark, SF_DIR)
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(explain_str(df))
    # the frozen bench also times pipeline_materialized over the scaling table
    import bench
    from pyspark.sql import functions as F

    from heliport_spark.pipeline import quality_filter

    path = bench.ensure_scaling_clips(spark)
    clips = spark.read.parquet(path)
    out = quality_filter(clips, with_ft=False).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("keep").cast("int")).alias("kept"),
        F.sum(F.length("scrubbed_text")).alias("scrub_len"),
        F.sum("quality.scrub_spans").alias("spans"),
        F.sum(F.length("lang")).alias("lang_len"),
    )
    with open(os.path.join(outdir, f"pipeline_materialized_{tag}.txt"), "w") as fh:
        fh.write(explain_str(out))
    print(f"wrote plans to {outdir} (tag={tag})")
    spark.stop()


def run_pipeline_stages():
    """Stage isolation over the SAME materialized input bench.py times."""
    import bench
    from pyspark.sql import functions as F

    from heliport_spark.functions.scrub import scrub_apply
    from heliport_spark.operators.identify import identify_df
    from heliport_spark.operators.quality import (
        perplexity, rule_flags, sparse_word_langs,
    )

    spark = _spark()
    path = bench.ensure_scaling_clips(spark)
    clips = spark.read.parquet(path)
    meta = clips.select("clip_id", "transcript", "dur_ms")

    def scan_only():
        _noop(meta)

    def identify_only():
        _noop(identify_df(meta, with_ft=False, with_word_nll=True))

    def identify_no_wnll():
        _noop(identify_df(meta, with_ft=False, with_word_nll=False))

    def scrub_only():
        _noop(scrub_apply(meta, "transcript"))

    def rules_only():
        # rules need lang/ppl columns; feed constants so ONLY the text
        # regex work is measured (lang rules are cheap literals)
        d = meta.withColumn("lang", F.lit("eng")).withColumn(
            "raw_score", F.lit(1.0).cast("float")
        ).withColumn("word_nll", F.lit(1.0).cast("float")).withColumn(
            "cjk_pct", F.lit(0.0).cast("float")
        )
        ppl = perplexity(F.col("raw_score"))
        wppl = F.pow(F.lit(10.0), F.col("word_nll").cast("double"))
        flags = rule_flags(
            F.col("transcript"), F.col("lang"), ppl,
            dur_ms=F.col("dur_ms"), word_ppl=wppl, cjk_pct=F.col("cjk_pct"),
            word_sparse_langs=sparse_word_langs(None),
        )
        _noop(d.withColumn("rule_flags", flags))

    def full():
        bench._timed_pipeline_run(spark, path)

    stages = [
        ("scan_only", scan_only),
        ("identify_no_wnll", identify_no_wnll),
        ("identify_wnll", identify_only),
        ("scrub_only", scrub_only),
        ("rules_only", rules_only),
        ("full_pipeline", full),
    ]
    # warmup pass
    bench._timed_pipeline_run(spark, path)
    times: dict = {}
    for _ in range(REPS):
        for name, fn in stages:
            dt = _timed(spark, f"stage:{name}", fn)
            times[name] = min(times.get(name, dt), dt)
    print(json.dumps({"mode": "pipeline_stages", "sf_dir": SF_DIR,
                      "reps": REPS,
                      "stages": {k: round(v, 3) for k, v in times.items()}}))
    spark.stop()


def run_manifest_commits(n, where):
    """Filesystem cost of a commit loop of n buckets, measured in place."""
    import shutil
    import statistics
    import tempfile
    from pathlib import Path

    from heliport_spark.sources.manifest import TableManifest

    def timed(fn):
        ts = []
        for i in range(n):
            t0 = time.perf_counter()
            fn(i)
            ts.append(time.perf_counter() - t0)
        return {"p50_ms": round(statistics.median(ts) * 1e3, 3),
                "max_ms": round(max(ts) * 1e3, 3),
                "total_s": round(sum(ts), 4)}

    root = tempfile.mkdtemp(prefix="manifest_commits_", dir=where)
    try:
        mf = TableManifest(os.path.join(root, "table"))
        commits = timed(lambda b: mf.commit_bucket(
            b, rows=b, counters={"clips_seen": b},
            lineage={"n_buckets": n, "source": "clips", "bucket": b}))
        pointer = Path(root, "pointer")
        replaces = timed(lambda i: mf._durable_write(
            pointer, f"snapshot-{i}.json"))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"mode": "manifest_commits", "n": n,
                      "dir": os.path.abspath(where),
                      "commit_bucket": commits,
                      "replace_existing": replaces}))


if __name__ == "__main__":
    args = sys.argv[1:]
    if "--explain" in args:
        i = args.index("--explain")
        tag = "before"
        if "--tag" in args:
            tag = args[args.index("--tag") + 1]
        run_explain(tag)
    elif "--pipeline-stages" in args:
        run_pipeline_stages()
    elif "--manifest-commits" in args:
        rest = args[args.index("--manifest-commits") + 1:]
        run_manifest_commits(int(rest[0]), rest[1] if len(rest) > 1 else ".")
    elif "--noop" in args:
        names = [a for a in args[args.index("--noop") + 1:]
                 if not a.startswith("--")]
        run_noop(names)
    else:
        print(__doc__)
