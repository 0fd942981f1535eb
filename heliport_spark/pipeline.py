"""End-to-end quality-filter pipeline over clips tables (D2-D9).

One declarative DataFrame graph, run as one Spark job per pipeline run:

    scan (column-pruned) → langid mapInPandas (Arrow) → Catalyst decision
    exprs (ppl, rules, scrub, keep) → observe(per-bucket counters) →
    write partitioned by bucket into a staging directory

then a driver-side commit loop moves each bucket's staged directory into
place and commits it to the manifest, bucket by bucket.

Scale design (north_rule):
* **partitioning**: rows are hash-bucketed on ``clip_id``
  (``pmod(xxhash64(clip_id), n_buckets)``) — the unit of checkpoint/resume
  and the Iceberg partition transform on a real cluster (D8). Like an
  Iceberg append that commits many data files from one write, the buckets
  share one job; only the commits are per bucket.
* **skew**: language is a *derived*, heavily-skewed key (web data is
  eng-dominated). Any lang-keyed aggregation goes through
  ``lang_stats`` which salts the key before the wide shuffle (AQE's
  skew-join split does not cover aggregations).
* **resume**: already-committed buckets are skipped by manifest lookup —
  an anti-join against committed work at metadata cost, not data cost (D9);
  their rows are filtered out of the input before scoring.
* **counters**: ``clips_seen``, ``dropped_by_rule``, ``scrubbed_spans`` via
  one ``df.observe`` holding conditional sums per bucket (exact, no extra
  action), persisted per bucket in the manifest for lineage.
* **passthrough**: ``bytes`` is never touched by any transform — it is
  column-pruned out of the langid stage input and re-joined by... nothing:
  it simply rides along the row through ``mapInPandas``, asserted
  byte-identical + SNR≥30dB in tests (D2).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .functions.scrub import scrub_apply
from .operators.identify import identify_df
from .operators.quality import (
    flags_from_conditions,
    keep_from_conditions,
    perplexity,
    rule_conditions,
    sparse_word_langs,
)
from .sources.manifest import TableManifest

BUCKET_COL = "_bucket"
# per-bucket counters: name → aggregate over bucket {b}'s rows, as SQL text,
# because one F.expr is ~4 py4j round trips and the same aggregate composed
# from F.col/F.when/alias objects ~40 (3·n of them per run)
COUNTERS = {
    "clips_seen": f"count(CASE WHEN {BUCKET_COL} = {{b}} THEN 1 END)",
    "dropped_by_rule":
        f"count(CASE WHEN {BUCKET_COL} = {{b}} AND NOT keep THEN 1 END)",
    "scrubbed_spans":
        f"sum(CASE WHEN {BUCKET_COL} = {{b}} THEN quality.scrub_spans END)",
}


def quality_filter(
    df: DataFrame,
    text_col: str = "transcript",
    model_dir: "str | None" = None,
    with_ft: bool = True,
    with_signal_gate: bool = False,
    with_denoise: bool = False,
    with_classifier: bool = False,
) -> DataFrame:
    """clips → clips + (lang, confidence, keep, scrubbed_text, quality).

    ``quality`` is the diagnostic struct from the north_star:
    struct<heli_score:float, ppl:float, word_ppl:float,
    rule_flags:array<string>, scrub_spans:int, cjk_pct:float> —
    ``word_ppl`` is the INDEPENDENT word-LM perplexity (order-0 table only,
    heli.py::word_nll_batch) behind the ``high_word_ppl`` rule; ``ppl``
    stays the char-backoff re-expression of the HeLI score (D4 notes in
    operators/quality.py).

    ``with_signal_gate=True`` additionally decodes the PCM of rows that
    SURVIVED the transcript gate and ANDs the signal-level flags
    (silence/clipping/metadata drift, functions/audio.py) into ``keep`` —
    ordered so the expensive decode never touches rows already dropped by
    the cheap Catalyst-side rules. Off by default: the reference's keep
    decision (the F1 gate) is transcript-only.

    ``with_denoise=True`` appends ``bytes_dn``/``noise_db`` (spectral-
    subtraction denoise, functions/audio.py) as the LAST stage, gated on
    the final ``keep`` — dropped rows emit NULL and never pay the FFT.

    ``with_classifier=True`` additionally scores every transcript with the
    trained quality classifier (operators/quality.py::classifier_score_df,
    lineage in quality_train.py) and folds a ``low_quality_classifier``
    DROP rule into the decision; ``qc_score`` stays as a diagnostic
    column. Off by default: the reference's keep decision (the F1 gate)
    predates the classifier, and enabling it requires the qc artifact in
    ``model_dir``. One more scalar-pandas-UDF pass shipping only the text
    column (stateless — works identically on streaming frames)."""
    # with_text_stats: the per-char rule statistics (digit/alpha ratios,
    # repetition + scrub-gate candidates) ride in the SAME Arrow pass as
    # the scorer — one vectorized numpy sweep replaces the JVM regex stack
    # that measured larger than the scorer itself at sf1.0 (textstats.py;
    # guide §4.2). Bit-compatible by the textstats exactness contract.
    scored = identify_df(
        df, text_col=text_col, model_dir=model_dir, with_ft=with_ft,
        with_word_nll=True, with_text_stats=True,
    )
    if with_classifier:
        from .operators.quality import classifier_score_df

        scored = classifier_score_df(scored, text_col=text_col,
                                     model_dir=model_dir)
    ppl = perplexity(F.col("raw_score"))
    word_ppl = F.pow(F.lit(10.0), F.col("word_nll").cast("double"))
    conds = rule_conditions(
        F.col(text_col),
        F.col("lang"),
        ppl,
        dur_ms=F.col("dur_ms") if "dur_ms" in df.columns else None,
        ft_lang=F.col("ft_lang") if with_ft else None,
        word_ppl=word_ppl,
        cjk_pct=F.col("cjk_pct"),
        word_sparse_langs=sparse_word_langs(model_dir),
        qc_keep=F.col("qc_keep") if with_classifier else None,
        digit_ratio=F.col("digit_ratio"),
        alpha_ratio=F.col("alpha_ratio"),
        rep_cand=F.col("rep_cand"),
    )
    # scrub_apply (not the inline scrub_expr twins): evaluates the dirty
    # gate once per row — measured 5× on the clean-heavy 800k-clip bench.
    # keep is derived DIRECTLY from the rule conditions (not from the
    # rule_flags array), so consumers that never read quality.rule_flags —
    # the flagship bench agg, the pipeline counters — let Catalyst prune
    # the per-row string-array construction entirely; consumers that do
    # read it get the identical array (keep_from_conditions docstring).
    out = (
        scrub_apply(scored.withColumn("ppl", ppl), text_col,
                    gate_extra=F.col("scrub_cand"))
        .withColumn("rule_flags", flags_from_conditions(conds))
    )
    out = out.withColumn("keep", keep_from_conditions(conds))
    if with_signal_gate:
        from .functions.audio import audio_features_df, audio_signal_flags

        # one pass: the decode itself is skipped per-row for clips the
        # transcript gate already dropped (gate_col), then signal flags are
        # masked to NULL for those rows so they never claim e.g.
        # "mostly_silent" about audio that was never decoded
        gated = audio_signal_flags(audio_features_df(out, gate_col="keep"))
        out = (
            gated.withColumn(
                "signal_flags",
                F.when(F.col("keep"), F.col("signal_flags")),
            )
            .withColumn(
                "keep_signal", F.when(F.col("keep"), F.col("keep_signal"))
            )
            .withColumn(
                "keep", F.col("keep") & F.coalesce(F.col("keep_signal"), F.lit(True))
            )
            .drop("n_samples", "rms", "peak", "clip_ratio", "silence_ratio")
        )
    out = out.withColumn(
        "quality",
        F.struct(
            F.col("raw_score").alias("heli_score"),
            F.col("ppl").cast("float").alias("ppl"),
            word_ppl.cast("float").alias("word_ppl"),
            F.col("rule_flags"),
            F.col("scrub_spans"),
            F.col("cjk_pct"),
        ),
    )
    drop_cols = ["raw_score", "ppl", "word_nll", "scrub_spans", "rule_flags",
                 "cjk_pct", "digit_ratio", "alpha_ratio", "rep_cand",
                 "scrub_cand"]
    if with_ft:
        drop_cols += ["ft_lang", "ft_prob"]
    if with_classifier:
        drop_cols += ["qc_keep"]  # folded into rule_flags; qc_score stays
    out = out.drop(*drop_cols).withColumnRenamed("score", "confidence")
    if with_denoise:
        from .functions.audio import denoise_audio_df

        # LAST stage, gated on the final keep: the FFT only ever touches
        # clips every other gate admitted; source bytes pass through
        # untouched (bytes_dn is a new column, per the loudness policy)
        out = denoise_audio_df(out, gate_col="keep")
    return out


def run_pipeline(
    spark: SparkSession,
    clips: DataFrame,
    out_root: str,
    n_buckets: int = 16,
    model_dir: "str | None" = None,
    with_ft: bool = True,
    resume: bool = True,
    fail_after_buckets: "int | None" = None,
    with_signal_gate: bool = False,
    with_denoise: bool = False,
    with_classifier: bool = False,
) -> dict:
    """Bucketed checkpoint/resume driver (D9): one job, then per-bucket
    commits.

    One Spark job scores every bucket not yet committed: input → (rows of
    uncommitted buckets only, when some are committed) → quality_filter →
    observe(per-bucket counters) → write partitioned by bucket into
    ``<out_root>/_staging``, cleared first in case a crashed run left one.
    The commit loop then takes the buckets in order: it moves each staged
    directory onto ``bucket_path(b)`` and commits the bucket to the
    manifest, so readers only ever see committed buckets. A bucket that got
    no rows is committed as a copy of one schema-only directory (one small
    extra job, only when some bucket is empty) with zero counters.
    Rerun with ``resume=True`` to skip committed buckets via the manifest;
    their rows are never scored again. ``fail_after_buckets`` injects a
    crash into the commit loop for the resume tests.

    Trade-offs of the single job:

    * a crash inside the job loses that job's work for every uncommitted
      bucket, not just one bucket's; the bucket stays the unit of resume;
    * Spark's planned partitioned write adds a task-local ``Sort`` on the
      bucket column, and the sorted rows carry the passthrough ``bytes``.
      The sort spills rather than running out of memory, but on real audio
      tables it copies the PCM through the sorter. On the filter_default
      benchmark input (12,021 clips, 4.9 MiB written, local[4]) it took
      1–6 ms of sort time summed over tasks, peaked at 16.1 MiB per task
      and spilled nothing.

    Returns aggregated counters.
    """
    mf = TableManifest(out_root)
    if not resume:
        # a fresh run over a used output root must NOT union with the stale
        # manifest (old buckets would survive alongside new ones and
        # read_pipeline_output would return rows twice)
        mf.reset()
    committed = mf.committed_buckets() if resume else {}
    # resume is only sound under the SAME bucketing: committed bucket ids
    # refer to pmod(xxhash64(clip_id), n_buckets) — rerunning with a
    # different n_buckets would skip ids that now hash elsewhere (silent
    # row loss). The lineage recorded at commit time exists for this check.
    for b, meta in committed.items():
        prev_n = meta.get("lineage", {}).get("n_buckets")
        if prev_n is not None and prev_n != n_buckets:
            raise ValueError(
                f"resume with n_buckets={n_buckets} but bucket {b} was "
                f"committed under n_buckets={prev_n}; rerun with "
                f"n_buckets={prev_n} or a fresh output root"
            )
    todo = [b for b in range(n_buckets) if b not in committed]
    if not todo:
        return mf.aggregate_counters()
    bucket = F.pmod(F.xxhash64(F.col("clip_id")), F.lit(n_buckets))
    if committed:
        clips = clips.filter(bucket.isin(todo))
    out = quality_filter(
        clips, model_dir=model_dir, with_ft=with_ft,
        with_signal_gate=with_signal_gate, with_denoise=with_denoise,
        with_classifier=with_classifier,
    )
    # derived on the output, so no opt-in stage has to carry it
    withb = out.withColumn(BUCKET_COL, bucket)
    obs = Observation()
    per_bucket = [F.expr(f"{agg.format(b=b)} AS {k}_{b}")
                  for b in todo for k, agg in COUNTERS.items()]
    staging = os.path.join(out_root, "_staging")
    shutil.rmtree(staging, ignore_errors=True)
    withb.observe(obs, *per_bucket).write.partitionBy(BUCKET_COL).parquet(staging)
    got = obs.get
    for processed, b in enumerate(todo, 1):
        dst = mf.bucket_path(b)
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        staged = os.path.join(staging, f"{BUCKET_COL}={b}")
        if os.path.isdir(staged):
            os.replace(staged, dst)
        else:
            # a partitioned write makes no directory for a bucket that got
            # no rows: commit a schema-only copy so readers can still read it
            empty = os.path.join(staging, "_empty")
            if not os.path.isdir(empty):
                out.limit(0).write.parquet(empty)
            shutil.copytree(empty, dst)
        counters = {k: int(got.get(f"{k}_{b}") or 0) for k in COUNTERS}
        mf.commit_bucket(
            b,
            rows=counters["clips_seen"],
            counters=counters,
            lineage={"n_buckets": n_buckets, "source": "clips", "bucket": b},
        )
        if fail_after_buckets is not None and processed >= fail_after_buckets:
            raise RuntimeError(f"injected failure after {processed} buckets")
    shutil.rmtree(staging)
    return mf.aggregate_counters()


def read_pipeline_output(spark: SparkSession, out_root: str) -> DataFrame:
    """Read back all committed buckets (manifest-gated, like an Iceberg scan)."""
    mf = TableManifest(out_root)
    paths = [mf.bucket_path(b) for b in sorted(mf.committed_buckets())]
    if not paths:
        raise ValueError(f"no committed buckets under {out_root}")
    return spark.read.parquet(*paths)


def lang_stats(df: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Per-language aggregate with skew salting (D8): partial aggregate on
    (lang, salt) first, then final on lang — bounds the biggest reducer at
    1/salt_buckets of the hottest language instead of all of it."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("clip_id")), F.lit(salt_buckets))
    )
    partial = salted.groupBy("lang", "_salt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept"),
        F.sum("confidence").alias("conf_sum"),
    )
    return (
        partial.groupBy("lang")
        .agg(
            F.sum("n").alias("n_clips"),
            F.sum("kept").alias("n_kept"),
            (F.sum("conf_sum") / F.sum("n")).alias("avg_confidence"),
        )
        .orderBy(F.desc("n_clips"))
    )
