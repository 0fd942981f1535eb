"""Corpus-profiling, quality-rule, decontamination, and sampling operators.

Standard large-scale training-data pipeline steps that sit alongside dedup
and quality filtering:

* ``length_stats`` — per-group exact length/token percentiles (corpus
  profiling before/after filtering). Exact ``percentile`` (continuous
  interpolation), not approx_percentile, so the DuckDB oracle
  (``quantile_cont``) matches bit-for-bit after rounding.
* ``hash_split`` — deterministic train/val/test assignment from a portable
  md5-derived hash of the id (no RNG: the same row lands in the same split
  on any engine, any run, any partitioning — reproducibility at 100 TB).
  Scale note: the split column is a pure projection (no shuffle); the
  per-split counts here are just the oracle-checkable summary.
* ``gopher_quality`` — Gopher-style document-level quality rules (word-count
  bounds, mean-word-length bounds, stopword presence): pure-projection
  metrics + a keep flag, summarized per group.
* ``decontaminate`` — benchmark n-gram overlap detection (the eval-set
  decontamination step every LLM data pipeline runs): distinct word n-grams
  of the corpus semi-joined against the benchmark's n-gram set. Scale
  shape: explode → distinct → equi-join on the gram (the benchmark side is
  small and AQE broadcasts it from size estimates — never forced).
* ``quota_sample`` — deterministic per-group quota sampling: rank rows by
  the portable md5 hash of their id and keep the first k per group — a
  reproducible "take N docs per domain" data-mixing primitive (no RNG, no
  global sort; one window shuffle on the group key).

All pure Catalyst; at scale the aggregates are map-side combinable (counts)
or single-shuffle sorted aggregations (percentile).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import n_tokens

# split boundaries over h mod 10: [0,8) train, 8 val, 9 test
SPLIT_BUCKETS = (("train", 0, 8), ("val", 8, 9), ("test", 9, 10))


def split_expr(id_col: Column) -> Column:
    """Deterministic split label from the portable 60-bit md5 hash."""
    from .dedup import h60

    b = F.pmod(h60(id_col.cast("string")), F.lit(10))
    out = F.lit(None).cast("string")
    expr = None
    for name, lo, hi in SPLIT_BUCKETS:
        cond = (b >= lo) & (b < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return expr.otherwise(out)


def hash_split(df: DataFrame, id_col: str = "doc_id",
               group_cols: "tuple[str, ...]" = ("source",)) -> DataFrame:
    """Per-(group, split) row counts after deterministic assignment."""
    out = df.withColumn("split", split_expr(F.col(id_col)))
    return out.groupBy(*group_cols, "split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# Gopher-style doc-quality thresholds (Rae et al. 2021 §A1.1 shape, bounds
# tuned to the synthetic fixtures so both outcomes occur).
GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 1_000
GOPHER_MIN_MEAN_WORD_LEN = 2.0
GOPHER_MAX_MEAN_WORD_LEN = 12.0
GOPHER_MIN_STOPWORD_HITS = 1


def gopher_metrics(text: Column) -> "dict[str, Column]":
    """Per-doc quality metrics (pure projections)."""
    from ..functions.text import mean_word_len, n_tokens, stopword_hits

    return {
        "n_words": n_tokens(text),
        "mean_word_len": mean_word_len(text),
        "stop_hits": stopword_hits(text),
    }


def gopher_keep_expr(text: Column, m: "dict[str, Column] | None" = None) -> Column:
    """The per-doc Gopher keep predicate (shared by gopher_quality and the
    end-to-end curate_corpus composition — ONE definition, both call sites)."""
    m = m if m is not None else gopher_metrics(text)
    return (
        (m["n_words"] >= GOPHER_MIN_WORDS)
        & (m["n_words"] <= GOPHER_MAX_WORDS)
        & (m["mean_word_len"] >= GOPHER_MIN_MEAN_WORD_LEN)
        & (m["mean_word_len"] <= GOPHER_MAX_MEAN_WORD_LEN)
        & (m["stop_hits"] >= GOPHER_MIN_STOPWORD_HITS)
    )


# C4-style page filters (Raffel et al. 2020 §2.2) — a SECOND public-heuristic
# rule family next to Gopher, so D5 keep/drop isn't a single-source monoculture.
# The badword list is a tiny stand-in for the public blocklist C4 used (the
# same placeholder tokens the scrub stage's fixtures plant).
C4_BADWORDS: "tuple[str, ...]" = ("badword", "slurword", "expletive")
C4_MIN_SENTENCES = 3      # drop pages with fewer kept lines than this
C4_MIN_LINE_WORDS = 5     # a kept line needs ≥ this many words
C4_TERMINAL_RE = r'[.!?"]\s*$'  # kept lines end in terminal punctuation
C4_BADWORD_RE = r"(?i)\b(" + "|".join(C4_BADWORDS) + r")\b"
C4_LOREM_RE = r"(?i)lorem ipsum"


def c4_metrics(text: Column) -> "dict[str, Column]":
    """Per-doc C4 signals as pure projections: line counts under the
    terminal-punctuation + min-words line rule, and the three page-level
    flags (badword, lorem ipsum, curly brace). Engine-portable: the same
    regexes drive the DuckDB twin."""
    lines = F.split(text, r"\n")
    kept = F.filter(
        lines,
        lambda line: line.rlike(C4_TERMINAL_RE)
        & (
            F.size(F.split(F.trim(line), r"\s+")) >= C4_MIN_LINE_WORDS
        ),
    )
    return {
        "n_lines": F.size(lines),
        "n_kept_lines": F.size(kept),
        "has_badword": text.rlike(C4_BADWORD_RE),
        "has_lorem": text.rlike(C4_LOREM_RE),
        "has_brace": text.contains("{"),
    }


def c4_keep_expr(text: Column, m: "dict[str, Column] | None" = None) -> Column:
    """The C4 page keep predicate: no badword, no boilerplate marker, no
    code brace, and at least C4_MIN_SENTENCES lines surviving the line rule
    (terminal punctuation + ≥ C4_MIN_LINE_WORDS words)."""
    m = m if m is not None else c4_metrics(text)
    return (
        ~m["has_badword"]
        & ~m["has_lorem"]
        & ~m["has_brace"]
        & (m["n_kept_lines"] >= C4_MIN_SENTENCES)
    )


def c4_rules(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Per-doc C4 rule outcomes — (id, n_lines, n_kept_lines, has_badword,
    has_lorem, has_brace, keep). Pure whole-stage-codegen projections, no
    shuffle, map-side trivially at any scale (the same T-shape as
    gopher_quality's per-doc half)."""
    m = c4_metrics(F.col(text_col))
    return df.select(
        F.col(id_col).alias("id"),
        m["n_lines"].alias("n_lines"),
        m["n_kept_lines"].alias("n_kept_lines"),
        m["has_badword"].alias("has_badword"),
        m["has_lorem"].alias("has_lorem"),
        m["has_brace"].alias("has_brace"),
        c4_keep_expr(F.col(text_col), m).alias("keep"),
    )


def gopher_quality(df: DataFrame, text_col: str = "text",
                   group_cols: "tuple[str, ...]" = ("source",)) -> DataFrame:
    """Per-group Gopher-rule summary: doc count, keep count, mean metrics."""
    m = gopher_metrics(F.col(text_col))
    keep = gopher_keep_expr(F.col(text_col), m)
    rows = df.select(
        *[F.col(g) for g in group_cols],
        m["n_words"].alias("n_words"),
        m["mean_word_len"].alias("mwl"),
        keep.cast("int").alias("keep"),
    )
    return rows.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("keep").alias("n_keep"),
        F.round(F.avg("n_words"), 4).alias("avg_words"),
        F.round(F.avg("mwl"), 4).alias("avg_word_len"),
    )


def decontaminate(df: DataFrame, benchmark: DataFrame, n: int = 8,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Benchmark-overlap detection: for each corpus doc, the number of
    distinct word ``n``-grams it shares with the benchmark set. Output
    (id, n_shared) for contaminated docs only.

    Scale shape: both sides explode to distinct (id, gram) / (gram) rows;
    the join key is the gram string — high cardinality, well-distributed;
    the benchmark gram set is typically small enough that AQE broadcasts it
    (never forced, same rule as the dedup/ANN paths)."""
    from ..functions.text import word_ngrams_exploded

    grams = word_ngrams_exploded(
        df, n, text_col=text_col, id_col=id_col
    ).distinct()
    bench_grams = (
        word_ngrams_exploded(benchmark, n, text_col=text_col, id_col=id_col)
        .select("gram")
        .distinct()
    )
    return (
        grams.join(bench_grams, "gram")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def decontaminate_bloom(df: DataFrame, benchmark: DataFrame, n: int = 8,
                        m_bits: int = 1 << 23, k: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Bloom-filter decontamination — the 100 TB scale path of
    :func:`decontaminate`: the benchmark's n-gram set is compressed into an
    ``m_bits``-bit Bloom filter (``k`` portable md5-derived hash functions)
    that is collected once (m_bits/64 longs — 1 MiB at the 2^23 default,
    bounded by construction like the langid model broadcast) and broadcast,
    so the corpus never shuffles AGAINST THE BENCHMARK — the corpus-vs-
    benchmark join is replaced by a map-side broadcast-bitmap probe (each
    corpus gram tests its k precomputed bit positions in a vectorized
    pandas UDF); the corpus side still pays its own gram ``distinct()``
    and per-id count shuffles, same as the exact operator. Output
    (id, n_maybe_shared) — a SUPERSET of the exact operator's contaminated
    ids (Bloom filters have no false negatives; the false-positive rate is
    ≈ (1-e^(-k·n_grams/m_bits))^k — size m_bits ≥ ~8× the benchmark gram
    count for <3% FP). Use the exact join when the benchmark side is small
    enough to broadcast as strings; use this when it is not (real benchmark
    suites reach 10^7+ grams ≈ GBs of strings vs a fixed-size bitmap).

    Deterministic and engine-portable: positions use the same md5-derived
    h60 as every other oracle-checked hash primitive, so a DuckDB twin can
    replay the exact bit-membership semantics (position-set join)."""
    from pyspark.sql.functions import pandas_udf

    from ..functions.text import word_ngrams_exploded
    from .dedup import h60

    def positions(gram):
        # salt each of the k hash functions via a distinct prefix; h60 is
        # non-negative (60-bit) so % == pmod on both engines
        return [
            F.pmod(h60(F.concat_ws("#", F.lit(str(j)), gram)), F.lit(m_bits))
            for j in range(k)
        ]

    bench_pos = (
        word_ngrams_exploded(benchmark, n, text_col=text_col, id_col=id_col)
        .select("gram")
        .distinct()
        .select(F.explode(F.array(*positions(F.col("gram")))).alias("pos"))
        .distinct()
    )
    words = (
        bench_pos.groupBy(F.shiftright(F.col("pos"), 6).alias("wi"))
        .agg(F.expr("bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))").alias("bits"))
        .collect()
    )
    bitmap = np.zeros(m_bits >> 6, dtype=np.int64)
    for r in words:
        bitmap[r["wi"]] = r["bits"]
    bc = df.sparkSession.sparkContext.broadcast(bitmap)

    grams = word_ngrams_exploded(
        df, n, text_col=text_col, id_col=id_col
    ).distinct()
    cand = grams.select(
        "id", *[p.alias(f"p{j}") for j, p in enumerate(positions(F.col("gram")))]
    )

    @pandas_udf("boolean")
    def maybe_in(col: pd.Series) -> pd.Series:
        bits = bc.value
        p = col.to_numpy(np.int64)
        # arithmetic >> keeps the target bit's value; & 1 masks the rest
        return pd.Series(((bits[p >> 6] >> (p & 63)) & 1).astype(bool))

    # one single-Series probe per hash function, ANDed JVM-side — varargs
    # pandas UDF signatures are not supported, and k probes of the same
    # Arrow batch cost the same as one k-column probe would
    probe = maybe_in(F.col("p0"))
    for j in range(1, k):
        probe = probe & maybe_in(F.col(f"p{j}"))
    return (
        cand.filter(probe)
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_maybe_shared"))
    )


# unit presets for remove_boilerplate_lines: split regex + reassembly glue
_BOILER_UNITS = {
    "line": (r"\n", "\n"),
    # paragraph = blank-line-separated block (RefinedWeb dedups at line AND
    # paragraph scope — a shared footer BLOCK is one unit here even when
    # its individual lines vary in count across docs)
    "paragraph": (r"\n\s*\n", "\n\n"),
}


def remove_boilerplate_lines(df: DataFrame, min_docs: int = 2,
                             text_col: str = "text", id_col: str = "doc_id",
                             unit: str = "line",
                             line_sep: "str | None" = None,
                             join_sep: "str | None" = None) -> DataFrame:
    """Unit-level boilerplate removal (the CCNet/RefinedWeb line-dedup
    step, VERDICT r6 next #8 adds ``unit="paragraph"``): split each
    document into units (lines, blank-line-separated paragraphs, or a
    custom ``line_sep``/``join_sep`` override), count the number of
    DISTINCT documents each exact unit occurs in, drop every unit occurring
    in ≥ ``min_docs`` docs (nav bars, cookie banners, footers), and
    reassemble the survivors in their original order. Output one row per
    input doc: (id_col, text_clean, n_lines, n_removed) — ``n_lines``
    counts UNITS of the chosen granularity; a doc whose every unit is
    boilerplate survives with text_clean = ''.

    Scale shape: one posexplode → distinct (line, id) → line hash-agg with
    map-side combine (T1's shuffle shape); the frequent-line set is the
    heavy-hitter TAIL of that aggregate (tiny by construction — only lines
    repeated across ≥ min_docs docs), so AQE broadcasts the marker join;
    reassembly is one groupBy(id) whose collect_list is bounded by the
    original document length. No self-join, no all-pairs."""
    if unit not in _BOILER_UNITS:
        raise ValueError(f"unknown unit {unit!r} (line|paragraph)")
    preset_sep, preset_join = _BOILER_UNITS[unit]
    line_sep = preset_sep if line_sep is None else line_sep
    join_sep = preset_join if join_sep is None else join_sep
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias("i", "line"),
    )
    hot = (
        lines.select("line", "id")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("line", F.lit(1).alias("boiler"))
    )
    marked = lines.join(hot, "line", "left")
    kept_struct = F.when(
        F.col("boiler").isNull(), F.struct(F.col("i"), F.col("line"))
    )
    return (
        marked.groupBy("id")
        .agg(
            F.concat_ws(
                join_sep,
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["line"],
                ),
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("n_lines"),
            F.count("boiler").alias("n_removed"),
        )
        .select(
            F.col("id").alias(id_col), "text_clean", "n_lines", "n_removed"
        )
    )


def ngram_repetition(df: DataFrame, n: int = 2, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document duplicated word-n-gram fraction — the WITHIN-doc
    repetition signal of the Gopher repetition rules ([Rae et al. 2021]
    §A1.1 "duplicate n-gram fraction"; the cross-doc twin is
    dedup.duplicate_ngram_spans): of all word-n-gram occurrences in a doc,
    the fraction belonging to grams occurring more than once in that doc.
    Output one row per doc: (id_col, dup_ngram_frac@6dp, n_grams); docs
    with fewer than ``n`` words have no grams → 0.0.

    Scale shape: one codegen'd explode (word_ngrams_exploded) → (id, gram)
    hash-agg with map-side combine → per-id sum — T1's shuffle shape, no
    self-join; the doc-list left join restores gram-less docs at the cost
    of the small id-only side."""
    from ..functions.text import word_ngrams_exploded

    grams = word_ngrams_exploded(df, n, text_col=text_col, id_col=id_col)
    per = grams.groupBy("id", "gram").agg(F.count(F.lit(1)).alias("c"))
    rep = per.groupBy("id").agg(
        F.sum("c").alias("total"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup"),
    )
    base = df.select(F.col(id_col).alias("id"))
    return base.join(rep, "id", "left").select(
        F.col("id").alias(id_col),
        F.round(
            F.coalesce(F.col("dup").cast("double") / F.col("total"), F.lit(0.0)),
            6,
        ).alias("dup_ngram_frac"),
        F.coalesce(F.col("total"), F.lit(0)).cast("bigint").alias("n_grams"),
    )


def quota_sample(df: DataFrame, k: int = 5, id_col: str = "doc_id",
                 group_cols: "tuple[str, ...]" = ("source",)) -> DataFrame:
    """Deterministic per-group quota sample: the k rows with the smallest
    portable md5 hash of their id (id as tiebreak). Reproducible on any
    engine/run/partitioning — no RNG."""
    from pyspark.sql import Window

    from .dedup import h60

    h = h60(F.col(id_col).cast("string"))
    w = Window.partitionBy(*group_cols).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.select(*[F.col(g) for g in group_cols], F.col(id_col))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(*group_cols, id_col)
    )


def token_budget_sample(df: DataFrame, budget_tokens: int,
                        id_col: str = "doc_id", text_col: str = "text",
                        group_cols: "tuple[str, ...]" = ("source",)) -> DataFrame:
    """Per-group TOKEN-budget sampling: training mixtures are budgeted in
    tokens, not documents (a doc-count quota over-weights short docs), so
    each group admits docs in portable-hash order until the cumulative
    token count reaches ``budget_tokens``. The doc that CROSSES the budget
    is still admitted (its predecessors left head-room) — the standard
    greedy fill; admission is by `cum_before < budget`, an exact integer
    comparison.

    Deterministic on any engine/run/partitioning (same md5-hash rank as
    quota_sample, no RNG). Output (group_cols…, id_col, n_tokens).

    Scale shape: one window shuffle (rank + running sum share the single
    partitionBy(group) sort) — identical cost to quota_sample; token counts
    are a pure projection."""
    from pyspark.sql import Window

    from ..functions.text import n_tokens
    from .dedup import h60

    h = h60(F.col(id_col).cast("string"))
    w = Window.partitionBy(*group_cols).orderBy(h.asc(), F.col(id_col).asc())
    cum_before = (
        F.sum("n_tokens").over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
    )
    return (
        df.select(
            *[F.col(g) for g in group_cols],
            F.col(id_col),
            n_tokens(F.col(text_col)).cast("bigint").alias("n_tokens"),
        )
        .withColumn("cum_before", F.coalesce(cum_before, F.lit(0)))
        .filter(F.col("cum_before") < budget_tokens)
        .select(*group_cols, id_col, "n_tokens")
    )


def pack_sequences(df: DataFrame, seq_len: int = 2048,
                   id_col: str = "doc_id", text_col: str = "text",
                   group_cols: "tuple[str, ...]" = ("source",)) -> DataFrame:
    """Concatenate-and-chunk sequence packing (the GPT-style pretraining
    step that turns variable-length documents into fixed-``seq_len`` token
    windows): stream the documents of each group back-to-back in ``id_col``
    order and record, for each doc, the window its FIRST token lands in
    (``seq_id = ⌊cum_before / seq_len⌋``) and the offset inside that window
    (``seq_off = cum_before % seq_len``). A doc longer than the remaining
    window space spills into the next window(s) — exactly the
    concatenate-then-cut semantics of packed pretraining batches (no
    padding, no doc reordering). Output (group_cols…, id_col, n_tokens,
    seq_id, seq_off); the global sequence key is (group_cols…, seq_id).

    Deterministic on any engine/run/partitioning: the order is the id, not
    a hash, because packing must preserve corpus order within a shard.

    Scale shape: ONE window shuffle partitioned by ``group_cols`` — the
    running sum and the projection share it. The window is per-group, so
    parallelism is the number of groups (shards/sources); at 100 TB pack
    per file-shard (the natural unit — each shard's windows are
    independent), never with a global single-partition window."""
    from pyspark.sql import Window

    from ..functions.text import n_tokens

    w = Window.partitionBy(*group_cols).orderBy(F.col(id_col).asc())
    cum_before = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    return (
        df.select(
            *[F.col(g) for g in group_cols],
            F.col(id_col),
            n_tokens(F.col(text_col)).cast("bigint").alias("n_tokens"),
        )
        .withColumn("cum_before", cum_before)
        .select(
            *group_cols,
            id_col,
            "n_tokens",
            # integer DIV, not float /: a group's running token count can
            # exceed 2^53 at scale and a double quotient would misbin
            F.expr(f"cum_before DIV {int(seq_len)}").alias("seq_id"),
            (F.col("cum_before") % F.lit(seq_len)).alias("seq_off"),
        )
    )


# Temperature resampling (multilingual data mixing, XLM-R/mC4 style):
# group g gets quota ∝ n_g^alpha. Weights are quantized to bigints
# (round(sqrt(n)·1e6)) BEFORE the cross-group sum so the normalization and
# division are exact integer arithmetic — float summation order can differ
# between engines/partitionings and a last-ulp drift would flip a floor().
TEMP_TOTAL = 200
TEMP_WEIGHT_SCALE = 1_000_000


def temperature_resample(df: DataFrame, total: int = TEMP_TOTAL,
                         alpha: float = 0.5, id_col: str = "doc_id",
                         group_col: str = "lang") -> DataFrame:
    """Deterministic temperature-based resampling of a grouped corpus: the
    per-group quota is ``min(n_g, ⌊total · w_g / Σw⌋)`` with weight
    ``w_g = round(n_g^alpha · 1e6)`` (bigint), and the quota is filled by
    the rows with the smallest portable md5 hash of their id (the same
    rank as quota_sample) — reproducible on any engine/run/partitioning,
    no RNG. ``alpha < 1`` flattens skewed language distributions (the
    standard multilingual-LLM mixing step; alpha=0.5 uses IEEE ``sqrt`` so
    the Spark and DuckDB weights agree bit-for-bit).

    Scale shape: one tiny counts aggregate (broadcast by AQE into the
    quota join) + the one window shuffle the rank needs — same cost as
    quota_sample."""
    from pyspark.sql import Window

    from .dedup import h60

    rows = df.select(F.col(group_col).alias("g"), F.col(id_col).alias("id"))
    nd = F.col("n").cast("double")
    wcol = F.sqrt(nd) if alpha == 0.5 else F.pow(nd, F.lit(alpha))
    counts = rows.groupBy("g").agg(F.count(F.lit(1)).alias("n")).withColumn(
        "wq", F.round(wcol * TEMP_WEIGHT_SCALE).cast("bigint")
    )
    tot = counts.agg(F.sum("wq").alias("s"))
    targets = counts.crossJoin(tot).select(
        "g",
        F.least(
            F.col("n").cast("bigint"),
            F.expr(f"CAST({int(total)} AS BIGINT) * wq DIV s"),
        ).alias("target"),
    )
    w = Window.partitionBy("g").orderBy(
        h60(F.col("id").cast("string")).asc(), F.col("id").asc()
    )
    ranked = rows.withColumn("rk", F.row_number().over(w))
    return (
        ranked.join(targets, "g")
        .filter(F.col("rk") <= F.col("target"))
        .select(F.col("g").alias(group_col), F.col("id").alias(id_col))
    )


def source_reputation_filter(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id",
                             group_col: str = "source",
                             min_keep_num: int = 9,
                             min_keep_den: int = 10) -> DataFrame:
    """RefinedWeb/C4-style domain-reputation gate: drop EVERY document from
    a source (domain) whose Gopher keep rate falls below
    ``min_keep_num/min_keep_den`` — a domain that is mostly junk poisons
    even its passing pages (boilerplate farms, SEO spam). Survivors are
    docs from reputable sources that themselves pass ``gopher_keep_expr``
    (:func:`reputable_sources` is the source-level gate alone).

    The threshold is an exact-integer cross-multiplication
    (``n_keep * den >= n_docs * num``) so the decision is bit-portable
    across engines — no float division at the boundary.

    Scale shape: one map-side-combinable per-source count aggregate (the
    same T1 shuffle shape as gopher_quality), then an equi-join of docs
    against the surviving-source list. The source table is corpus-distinct
    domains (~10^8 rows at web scale) — deliberately NOT a forced
    broadcast; AQE picks broadcast when it fits (it does at test scale).
    """
    keep = gopher_keep_expr(F.col(text_col))
    rows = df.select(
        F.col(group_col), F.col(id_col), keep.cast("int").alias("_k")
    )
    good = reputable_sources(df, text_col, group_col, min_keep_num,
                             min_keep_den)
    return (
        rows.join(good, group_col)
        .filter(F.col("_k") == 1)
        .select(id_col, group_col)
    )


def reputable_sources(df: DataFrame, text_col: str = "text",
                      group_col: str = "source", min_keep_num: int = 9,
                      min_keep_den: int = 10) -> DataFrame:
    """The reputable sources of :func:`source_reputation_filter`, one
    ``group_col`` row each. A source-level gate semi-joins its documents on
    this directly, with no join back through the doc ids."""
    keep = gopher_keep_expr(F.col(text_col)).cast("int")
    return (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_n"), F.sum(keep).alias("_nk"))
        .filter(
            F.col("_nk") * F.lit(int(min_keep_den))
            >= F.col("_n") * F.lit(int(min_keep_num))
        )
        .select(group_col)
    )


BUCKET_LABELS_3 = ("head", "middle", "tail")


def quality_buckets(df: DataFrame, score_col: str,
                    group_col: str = "lang", id_col: str = "doc_id",
                    n_buckets: int = 3, ascending: bool = True,
                    mode: str = "cutoff",
                    accuracy: int = 10_000) -> DataFrame:
    """CCNet-style per-group quality bucketing (Wenzek et al. 2020): split
    each group (language) into ``n_buckets`` equal-population tiers of a
    quality score — with 3 buckets the classic head/middle/tail, where
    *head* is the best-scoring tier (lowest score when ``ascending``,
    e.g. perplexity; highest when not, e.g. stopword ratio). Appends
    ``bucket`` (1 = head) and, for n_buckets=3, ``bucket_label``.

    Two modes:

    * ``mode="ntile"`` — exact equal-population NTILE over
      ``(score, id)`` (deterministic total order, engine-portable:
      DuckDB's NTILE buckets identically). One window shuffle with a
      PER-GROUP SORT: correct, but the sort for a hot language (web data
      is eng-dominated) lands on one task — the small-data/oracle twin.
    * ``mode="cutoff"`` (default) — the 100 TB path: per-group quantile
      cutoffs via ``approx_percentile`` (KLL-style mergeable sketch,
      map-side combinable, bounded state), broadcast the one-row-per-group
      cutoff table back, label with a codegen comparison chain. No sort
      anywhere; the only shuffle is the tiny sketch aggregate. Bucket
      populations are equal within the sketch's rank error (exact when the
      group fits the sketch, i.e. below ``accuracy`` rows).

    Ties: rows equal to a cutoff go to the lower bucket in cutoff mode;
    ntile mode breaks ties by ``id_col``.

    NULL scores: unscored rows get ``bucket`` = NULL (and a NULL label) in
    BOTH modes — they are excluded from the tile population / the cutoff
    sketch, never silently labeled head (NULLs would otherwise sort first
    in ntile mode and fall through every cutoff comparison).
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    from pyspark.sql import Window

    sgn = 1.0 if ascending else -1.0
    skey = (F.col(score_col) * F.lit(sgn)).cast("double")
    scored = df.filter(F.col(score_col).isNotNull())
    unscored = df.filter(F.col(score_col).isNull()).withColumn(
        "bucket", F.lit(None).cast("int")
    )
    if mode == "ntile":
        w = Window.partitionBy(group_col).orderBy(
            skey.asc(), F.col(id_col).asc()
        )
        out = scored.withColumn("bucket", F.ntile(n_buckets).over(w))
    elif mode == "cutoff":
        probs = [i / n_buckets for i in range(1, n_buckets)]
        cuts = scored.groupBy(group_col).agg(
            F.percentile_approx(
                skey, F.array(*[F.lit(p) for p in probs]), F.lit(accuracy)
            ).alias("_cuts")
        )
        bucket = F.lit(1)
        for i in range(n_buckets - 1):
            bucket = bucket + F.when(
                skey > F.col("_cuts").getItem(i), 1
            ).otherwise(0)
        out = (
            scored.join(F.broadcast(cuts), group_col)
            .withColumn("bucket", bucket)
            .drop("_cuts")
        )
    else:
        raise ValueError(f"unknown mode {mode!r}")
    out = out.withColumn("bucket", F.col("bucket").cast("int")).unionByName(
        unscored
    )
    if n_buckets == 3:
        out = out.withColumn(
            "bucket_label",
            F.element_at(
                F.array(*[F.lit(x) for x in BUCKET_LABELS_3]), F.col("bucket")
            ),
        )
    return out


def corpus_sketches(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    group_cols: "tuple[str, ...]" = ("source",)) -> DataFrame:
    """Sketch-based corpus profile — the 100 TB companion to the exact
    ``length_stats``: HyperLogLog distinct counts (``approx_count_distinct``,
    fixed relative error, O(1) state per group) and quantile summaries
    (``approx_percentile``, bounded-error mergeable sketch) instead of exact
    count-distinct / sorted-aggregation percentiles. Driver-checked
    rows-only: sketch results are estimate-valued by design (and their
    merge order varies with partitioning), so there is no bit-exact SQL
    oracle — accuracy bounds are pinned in tests against the exact
    operators instead."""
    c = F.col(text_col)
    gcols = [F.col(g) for g in group_cols]
    # doc-level sketches BEFORE any explode (percentiles over exploded rows
    # would weight each doc by its word count — caught by the accuracy test)
    doc_level = df.select(
        *gcols, F.col(id_col).alias("id"), F.length(c).alias("len")
    ).groupBy(*group_cols).agg(
        F.approx_count_distinct("id").alias("approx_docs"),
        F.approx_percentile("len", F.lit(0.5), F.lit(2000)).alias("p50_len_approx"),
        F.approx_percentile("len", F.lit(0.95), F.lit(2000)).alias("p95_len_approx"),
    )
    from ..functions.text import ws_strip

    vocab = df.select(
        *gcols, F.explode(F.split(F.lower(ws_strip(c)), r"\s+")).alias("w")
    ).filter(F.col("w") != "").groupBy(*group_cols).agg(
        F.approx_count_distinct("w").alias("approx_vocab")
    )
    # null-SAFE join: a NULL group key (e.g. source IS NULL) aggregates on
    # both sides but a plain equi-join would drop it — the sketch companion
    # must report every group the exact operator reports
    cond = None
    for g in group_cols:
        eq = doc_level[g].eqNullSafe(vocab[g])
        cond = eq if cond is None else cond & eq
    return doc_level.join(vocab, cond).select(
        *[doc_level[g] for g in group_cols],
        "approx_docs", "p50_len_approx", "p95_len_approx", "approx_vocab",
    )


def length_stats(df: DataFrame, text_col: str = "text",
                 group_cols: "tuple[str, ...]" = ("source",)) -> DataFrame:
    """Per-group corpus profile: doc count, exact length percentiles
    (p50/p95), mean length and mean token count."""
    c = F.col(text_col)
    lens = df.select(
        *[F.col(g) for g in group_cols],
        F.length(c).alias("len"),
        n_tokens(c).alias("toks"),
    )
    return lens.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile("len", F.lit(0.5)), 4).alias("p50_len"),
        F.round(F.percentile("len", F.lit(0.95)), 4).alias("p95_len"),
        F.round(F.avg("len"), 4).alias("avg_len"),
        F.round(F.avg("toks"), 4).alias("avg_tokens"),
    )


# ------------------------------------------------------------------- DSIR

DSIR_BUCKETS = 1 << 16   # hashed-bigram feature space (the paper uses 10^4)
DSIR_ALPHA = 1.0         # Laplace smoothing per bucket
DSIR_GUMBEL_M = 1_000_000  # uniform-grid resolution for the seeded Gumbel
DSIR_SEED = 42             # ONE seed constant — generates both engines


def dsir_resample(
    df: DataFrame,
    n_select: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    target: "Column | None" = None,
    gram_n: int = 2,
    buckets: int = DSIR_BUCKETS,
    alpha: float = DSIR_ALPHA,
    seed: int = DSIR_SEED,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS 2023)
    — select ``n_select`` docs whose hashed word-``gram_n``-gram
    distribution looks like the TARGET subset's rather than the raw
    corpus's. ``target`` is a boolean Column over the input rows naming
    the target domain (default: the Gopher keep predicate — "resample
    toward what the quality gate admits", a self-contained formulation
    whose target needs no external corpus); per-doc importance weight =
    Σ over gram occurrences of log p̂_target(bucket) − log p̂_raw(bucket)
    (Laplace-smoothed), and selection is the paper's Gumbel top-k —
    sampling without replacement ∝ exp(weight) — with DETERMINISTIC
    seeded noise: u = (md5-hash(seed#id) mod M + 0.5)/M, key = weight +
    (−ln(−ln u)). Output the selected rows ``(id_col, dsir_score)``
    ordered by the key.

    Engine-portable (oracle-exact): hashing is the house 60-bit md5,
    per-bucket log-ratios round to 10 dp before the per-doc sum (kills
    libm 1-ulp drift between JVM and C), scores/keys round to 6 dp, ties
    break on id. Gram-less docs score 0 and still compete via their
    Gumbel noise — DSIR weights, not a quality gate, decide.

    Scale shape: one T1-style hash-agg over (bucket) for the two
    distributions (map-side combinable; the target flag rides the gram
    rows as an int), a ≤``buckets``-row log-ratio table joined back to
    the gram stream (AQE broadcasts it — ~1.5 MB at 2^16, never forced),
    one per-doc sum, and a distributed top-``n_select``
    (TakeOrderedAndProject — no global sort materialization). The only
    crossJoin is the 1-row totals frame."""
    from ..functions.text import word_ngrams_exploded
    from .dedup import h60

    tgt_col = target if target is not None else gopher_keep_expr(
        F.col(text_col)
    )
    flags = df.select(
        F.col(id_col).alias("id"), tgt_col.cast("int").alias("_tgt")
    )
    grams = word_ngrams_exploded(df, gram_n, text_col=text_col,
                                 id_col=id_col)
    bk = grams.select(
        "id", F.pmod(h60(F.col("gram")), F.lit(buckets)).alias("bk")
    ).join(flags, "id")
    # the gram/bucket stream feeds BOTH the distribution agg (keyed bk)
    # and the per-doc score join (keyed id) — different exchange keys, so
    # ReusedExchange can't dedup the corpus-wide gram scan; materialize it
    # once (the winnow_shared_spans fps contract — code-review r7 #2)
    bk = bk.localCheckpoint(eager=True)
    bc = bk.groupBy("bk").agg(
        F.count(F.lit(1)).alias("rc"), F.sum("_tgt").alias("tc")
    )
    tot = bc.agg(F.sum("rc").alias("rt"), F.sum("tc").alias("tt"))
    lr = bc.crossJoin(F.broadcast(tot)).select(
        "bk",
        F.round(
            F.log((F.col("tc") + F.lit(alpha))
                  / (F.col("tt") + F.lit(alpha * buckets)))
            - F.log((F.col("rc") + F.lit(alpha))
                    / (F.col("rt") + F.lit(alpha * buckets))),
            10,
        ).alias("lrat"),
    )
    sc = (
        bk.join(lr, "bk")
        .groupBy("id")
        .agg(F.round(F.sum("lrat"), 6).alias("dsir_score"))
    )
    allsc = (
        df.select(F.col(id_col).alias("id"))
        .join(sc, "id", "left")
        .na.fill({"dsir_score": 0.0})
    )
    u = (
        F.pmod(
            h60(F.concat(F.lit(f"{seed}#"), F.col("id").cast("string"))),
            F.lit(DSIR_GUMBEL_M),
        ).cast("double") + F.lit(0.5)
    ) / F.lit(float(DSIR_GUMBEL_M))
    keyed = allsc.withColumn(
        "_key", F.round(F.col("dsir_score") - F.log(-F.log(u)), 6)
    )
    return (
        keyed.orderBy(F.desc("_key"), F.asc("id"))
        .limit(n_select)
        .select(F.col("id").alias(id_col), "dsir_score")
    )
