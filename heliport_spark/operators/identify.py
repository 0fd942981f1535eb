"""Distributed language identification: DataFrame -> DataFrame.

The Spark twin of the reference's batched parallel driver loop
(``/root/reference/src/cli/identify.rs:177-200`` + ``par_identify``,
``src/identifier.rs:333-359``): Spark tasks replace rayon threads, Arrow
record batches replace the 100k-line chunks, and a per-Python-worker
``Scorer`` (mmap-shared model, persistent distinct-word memo) replaces the
thread-local Identifier clones sharing an ``Arc<Model>``.

Design notes for 100 TB:
* one scalar-pandas-UDF stage (ArrowEvalPython) — no shuffle is introduced;
  upstream filters and column pruning stay pushed down to the scan, and only
  the text column crosses into Python (passthrough columns ride along
  JVM-side).
* partitions must carry at least one full Arrow batch (10k rows): the
  scorer's per-batch fixed costs amortize over the batch — sub-sized
  partitions measured 2× slower end-to-end (BENCH.md, docs/SCALE.md).
* the model is NOT a Spark broadcast variable: broadcasting 158 MB through
  the JVM would copy it per-worker; instead every Python worker mmaps the
  same artifact files (``HELIPORT_MODEL_DIR`` or a cluster-shared path /
  ``SparkFiles`` archive), so resident cost is one page-cached copy per host.
* ``spark.python.worker.reuse=true`` keeps the word memos warm across tasks.
* one context per Arrow batch (``heli.BatchContext``): the UDF dedups the
  batch's texts once, joins and lowers them once, runs P1-P4 and the token
  span hashing once, and scoring, word-NLL, the fastText cross-check and
  textstats all read that context over the distinct texts; the outputs are
  scattered back to the batch rows once. Nothing keyed on batch contents
  outlives the call — the only cross-call state is the per-worker word
  memos.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import FloatType, StringType, StructField, StructType

from ..model import DEFAULT_MODEL_DIR

_WORKER_SCORERS: dict = {}


def _get_worker_scorer(model_dir: str, exact: bool,
                       langs: "tuple[str, ...] | None" = None):
    """Per-process scorer singleton (survives across tasks via worker reuse)."""
    key = (model_dir, exact, langs)
    sc = _WORKER_SCORERS.get(key)
    if sc is None:
        from ..heli import Scorer
        from ..model import get_model

        sc = Scorer(
            get_model(model_dir, langs=list(langs) if langs else None),
            exact=exact,
        )
        _WORKER_SCORERS[key] = sc
    return sc


def identify_columns(scorer, texts, ignore_confidence: bool = False,
                     with_ft: bool = False, with_word_nll: bool = False,
                     with_text_stats: bool = False) -> pd.DataFrame:
    """The body of ``identify_df``'s UDF for one batch of texts (str or
    None): every output column, computed from one ``BatchContext``."""
    ctx = scorer.context(texts)
    res = scorer.identify_context(ctx, ignore_confidence, with_word_nll)
    cols = dict(zip(("lang", "score", "raw_score", "cjk_pct"), res))
    if with_ft:
        cols["ft_lang"], cols["ft_prob"] = scorer.ft_identify(ctx)
    if with_word_nll:
        cols["word_nll"] = res[4]
    if with_text_stats:
        from ..textstats import text_stats_joined

        stats = text_stats_joined(ctx.texts, ctx.raw, ctx.low)
        cols.update(zip(
            ("digit_ratio", "alpha_ratio", "rep_cand", "scrub_cand"), stats
        ))
    return pd.DataFrame({k: ctx.scatter(v) for k, v in cols.items()})


def resolve_model_dir(model_dir: "str | None" = None) -> str:
    return str(model_dir or os.environ.get("HELIPORT_MODEL_DIR") or DEFAULT_MODEL_DIR)


def identify_df(
    df: DataFrame,
    text_col: str = "transcript",
    ignore_confidence: bool = False,
    model_dir: "str | None" = None,
    exact: bool = False,
    with_ft: bool = False,
    prefix: str = "",
    langs: "list[str] | None" = None,
    with_word_nll: bool = False,
    with_text_stats: bool = False,
) -> DataFrame:
    """Append langid columns: ``lang``, ``score``, ``raw_score``, ``cjk_pct``
    (+ ``ft_lang``, ``ft_prob`` when ``with_ft``; + ``word_nll`` — the
    independent order-0 word-LM score, heli.py::word_nll_batch — when
    ``with_word_nll``).

    ``score`` follows the reference CLI semantics
    (/root/reference/src/cli/identify.rs:43-46): confidence margin when
    thresholds are applied, raw HeLI score when ``ignore_confidence``.
    ``langs`` restricts scoring to a language subset (reference T8 /
    ``relevant_langs``, languagemodel.rs:62-83 — the DataFrame twin of the
    CLI ``-l``): each worker loads the posting-filtered model once.

    ``with_text_stats`` additionally emits the quality-rule text statistics
    (``digit_ratio``, ``alpha_ratio``, ``rep_cand``, ``scrub_cand`` — see
    heliport_spark/textstats.py for the exactness contract): the text is
    already crossing the Arrow boundary for scoring, so these per-character
    counts ride in the SAME single UDF pass as one vectorized numpy sweep
    instead of a stack of JVM regex scans (guide §4.2).

    Implementation: a *scalar* pandas UDF returning a struct — only the text
    column crosses the JVM↔Python Arrow boundary. (An earlier mapInPandas
    version serialized every passthrough column — for audio rows that shipped
    megabytes of PCM through Python per row and capped the pipeline at the
    Arrow transfer rate, not the scorer.)
    """
    mdir = resolve_model_dir(model_dir)
    fields = [
        StructField("lang", StringType()),
        StructField("score", FloatType()),
        StructField("raw_score", FloatType()),
        StructField("cjk_pct", FloatType()),
    ]
    if with_ft:
        fields += [
            StructField("ft_lang", StringType()),
            StructField("ft_prob", FloatType()),
        ]
    if with_word_nll:
        fields += [StructField("word_nll", FloatType())]
    if with_text_stats:
        from pyspark.sql.types import BooleanType, DoubleType

        fields += [
            StructField("digit_ratio", DoubleType()),
            StructField("alpha_ratio", DoubleType()),
            StructField("rep_cand", BooleanType()),
            StructField("scrub_cand", BooleanType()),
        ]
    struct_type = StructType(fields)

    # `if langs` would collapse [] into None (full model) — the empty
    # subset must instead propagate to get_model's ValueError
    langs_key = tuple(sorted(langs)) if langs is not None else None

    @F.pandas_udf(returnType=struct_type)
    def heli_udf(texts: pd.Series) -> pd.DataFrame:
        return identify_columns(
            _get_worker_scorer(mdir, exact, langs_key), texts.tolist(),
            ignore_confidence, with_ft, with_word_nll, with_text_stats,
        )

    # Non-deterministic marking (guide §4.4): a downstream filter on a
    # UDF-derived column (the pipeline's `keep`, the LID gate's lang
    # drop-list) is otherwise pushed below the projection AND re-evaluated
    # above it — the plan grows TWO ArrowEvalPython nodes for the same
    # heli_udf(text) call and every surviving row pays the scorer twice
    # (measured in the curate_clips gate plan: nodes (5)+(8) both
    # heli_udf(transcript)). The scorer is pure, so this changes planning
    # only, not values; applied to the expensive UDF alone, not blanket.
    heli_nd = heli_udf.asNondeterministic()
    tmp = "_heli_" + prefix
    out = df.withColumn(tmp, heli_nd(F.col(text_col)))
    for f in fields:
        out = out.withColumn(prefix + f.name, F.col(f"{tmp}.{f.name}"))
    return out.drop(tmp)


def identify_topk_df(
    df: DataFrame,
    text_col: str = "transcript",
    k: int = 3,
    model_dir: "str | None" = None,
) -> DataFrame:
    """Append ``topk: array<struct<lang:string, score:float>>`` (C6 semantics:
    raw scores ascending, macrolang-collapsed, no confidence). Same lean
    transfer shape as identify_df: only the text column enters Python."""
    from pyspark.sql.types import ArrayType

    mdir = resolve_model_dir(model_dir)
    elem = StructType(
        [StructField("lang", StringType()), StructField("score", FloatType())]
    )

    @F.pandas_udf(returnType=ArrayType(elem))
    def topk_udf(texts: pd.Series) -> pd.Series:
        scorer = _get_worker_scorer(mdir, False)
        tl = ["" if t is None else str(t) for t in texts]
        return pd.Series(scorer.identify_topk_batch(tl, k))

    return df.withColumn("topk", topk_udf(F.col(text_col)))
