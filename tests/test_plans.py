"""Physical-plan quality gates — the 100 TB posture, asserted.

These tests pin the plan properties the engine's scale story depends on:
filters/column-pruning reach the parquet scan, small dimensions broadcast,
the langid stage is exactly ONE ArrowEvalPython node (no duplicate UDF
evaluation, no extra shuffle), and the PCM bytes column never enters a
Python stage.
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)" in plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_broadcast_join_for_small_dims(spark):
    import __spark_entry__ as e

    plan = plan_of(e.extra_queries()["region_revenue"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region
    assert "SortMergeJoin" not in plan


def test_identify_single_arrow_eval(spark):
    from heliport_spark.pipeline import quality_filter

    clips = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("clip_id"),
        F.col("text").alias("transcript"),
        F.lit(bytearray(b"\x00\x00")).alias("bytes"),
        F.lit(16000).alias("sr_hz"),
        F.lit(1000).alias("dur_ms"),
        F.lit("pcm_s16le").alias("codec"),
    )
    out = quality_filter(clips, with_ft=False)
    plan = plan_of(out)
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan  # no shuffle in the per-row pipeline


def test_signal_gated_pipeline_two_python_stages(spark):
    """with_signal_gate=True adds exactly ONE more Python stage (the Arrow
    PCM decode via mapInPandas) on top of the langid ArrowEvalPython —
    still zero shuffles; the gate is per-row inside that one pass, never a
    split/union re-read of the input."""
    from heliport_spark.pipeline import quality_filter

    clips = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("clip_id"),
        F.col("text").alias("transcript"),
        F.lit(bytearray(b"\x00\x00")).alias("bytes"),
        F.lit(16000).alias("sr_hz"),
        F.lit(1000).alias("dur_ms"),
        F.lit("pcm_s16le").alias("codec"),
    )
    out = quality_filter(clips, with_ft=False, with_signal_gate=True)
    plan = plan_of(out)
    n_python = plan.count("ArrowEvalPython") + plan.count("MapInPandas")
    assert n_python == 2, plan
    assert "Exchange" not in plan


def test_bytes_pruned_from_python_stage(spark):
    """The langid UDF input is only the transcript column — the binary
    payload must not be an argument to any Python evaluation node."""
    from heliport_spark.operators.identify import identify_df

    clips = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("text").alias("transcript"),
        F.col("text").cast("binary").alias("bytes"),
    )
    out = identify_df(clips).select("lang")
    plan = plan_of(out)
    import re

    m = re.search(r"ArrowEvalPython \[heli_udf\(([^)]*)\)", plan)
    assert m, plan
    assert "bytes" not in m.group(1)
    # and bytes is pruned from the scan entirely for this projection
    assert "ReadSchema: struct<text:string>" in plan


def test_count_aggregation_is_partial(spark):
    """T1 counting must emit a map-side partial aggregate before the
    shuffle (hash-agg combine), not a raw-row shuffle."""
    from heliport_spark.operators.train import count_words

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(count_words(d, "text"))
    first_agg = plan.index("HashAggregate")
    exchange = plan.index("Exchange")
    assert plan.count("HashAggregate") >= 2
    assert first_agg < exchange or "partial_count" in plan


def test_jaccard_verify_never_forces_broadcast(spark):
    """The LSH candidate set scales with corpus size; nothing in the Jaccard
    verification may FORCE a broadcast (VERDICT r01 #4). With the broadcast
    threshold disabled, the plan must contain zero BroadcastExchange — proving
    broadcasts only ever come from Catalyst size estimates, not hints."""
    from heliport_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        d = spark.read.parquet(f"{SF}/documents.parquet")
        cands = minhash_lsh_candidates(d)
        q = ngram_jaccard_pairs(d, candidates=cands, threshold=0.3)
        plan = plan_of(q)
        assert "BroadcastExchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ann_scale_paths_never_force_broadcast(spark):
    """The ANN query side scales with the caller's query set (corpus-vs-
    corpus joins); neither scale path may FORCE a broadcast (VERDICT r02 #2).
    Same proof shape as the jaccard test above: with the broadcast threshold
    disabled, zero BroadcastExchange means any broadcast ever taken comes
    from Catalyst/AQE size estimates, not hints."""
    from pyspark.sql import functions as F

    from heliport_spark.operators.similarity import ivf_ann_topk, lsh_ann_topk

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        q = e.filter(F.col("vec_id") < 10)
        assert "BroadcastExchange" not in plan_of(lsh_ann_topk(e, q, k=5))
        assert "BroadcastExchange" not in plan_of(
            ivf_ann_topk(e, q, k=5, n_centroids=4)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_scrub_is_whole_stage_codegen(spark):
    from heliport_spark.functions.scrub import scrub_expr

    d = spark.read.parquet(f"{SF}/documents.parquet")
    s, n = scrub_expr("text")
    plan = plan_of(d.select(s.alias("s"), n.alias("n")))
    # codegen'd stages print as "*(n) Project ..." in executedPlan.toString
    assert plan.lstrip().startswith("*(")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

def test_winnow_plan_single_window_no_python(spark):
    """Winnowing stays whole-stage-codegen JVM: pruned 2-column scan, ONE
    Window exec (the repartition exchange doubles as the window's
    partitioning — no second pre-window shuffle), zero Python stages."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["winnow_fingerprints"](spark, SF))
    assert plan.count("Window") == 1
    assert "EvalPython" not in plan and "FlatMapsInPandas" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_incremental_dedup_plan_no_forced_broadcast(spark):
    """The incremental-dedup gate must not FORCE a broadcast of the
    reference signatures (at 100 TB the curated corpus is the big side):
    any BroadcastExchange present comes from Catalyst/AQE size estimates
    on the sf0.01 fixture, so the logical plan carries no hint."""
    import __spark_entry__ as e

    df = e.queries()["dedup_incremental"](spark, SF)
    assert "ResolvedHint" not in df._jdf.queryExecution().logical().toString()
    plan = plan_of(df)
    assert "CartesianProduct" not in plan and "EvalPython" not in plan


def test_fingerprint_match_plan_capped_mapside_and_cached(spark):
    """The landmark matcher's 100 TB posture: the hot-bucket cap truncates
    map-side BEFORE the hash shuffle (WindowGroupLimit Partial under the
    exchange), the offset vote is a partial (map-side-combinable)
    aggregate, and the fingerprint extraction feeds every join branch from
    the persisted table (InMemoryTableScan) instead of re-running
    decode+FFT per branch — mapInPandas stages are not canonicalized as
    deterministic, so without the persist Spark would plan three
    independent FFT passes."""
    import numpy as np

    from heliport_spark.functions.audio import (
        audio_fingerprints_df,
        encode_pcm_s16le,
    )
    from heliport_spark.operators.similarity import audio_fingerprint_matches

    df = spark.createDataFrame(
        [("a", bytes(encode_pcm_s16le(np.zeros(1600))), "pcm_s16le")],
        ["clip_id", "bytes", "codec"],
    )
    fp = audio_fingerprints_df(df)
    m = audio_fingerprint_matches(fp)
    plan = plan_of(m)
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert "partial_count" in plan
    assert plan.count("InMemoryTableScan") >= 2  # both join sides + overflow
    assert "ResolvedHint" not in m._jdf.queryExecution().logical().toString()
    fp.unpersist()


def _window_stage_tasks(df, marker: str) -> int:
    """Tasks of the stage that runs the executed plan's Window exec whose
    description contains ``marker`` (call after ``df`` has run, so the
    adaptive plan is final)."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window" and marker in node.simpleString(1000):
            # a Window is narrow over its input: its RDD's partitions are
            # its stage's tasks
            return node.execute().getNumPartitions()
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif node.getClass().getSimpleName().endswith("QueryStageExec"):
            stack.append(node.plan())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    raise AssertionError(f"no Window exec with {marker!r} in the plan")


def test_shared_span_window_runs_on_every_core(spark):
    """remove_shared_spans' match join fans a small pair list out to every
    matching fingerprint position, then segments the matches with a
    (pair, delta) window. The pair list's exchange is sized from its
    pre-fan-out size, so unless the operator sizes it from
    defaultParallelism, the fan-out, sort and window all run on the few
    tasks AQE coalesced it to."""
    import __spark_entry__ as e

    df = e.extra_queries()["remove_shared_spans"](spark, SF)
    df.collect()  # the whole plan: count() would drop the LEFT JOIN
    par = spark.sparkContext.defaultParallelism
    assert _window_stage_tasks(df, "lag(a_pos") >= par
