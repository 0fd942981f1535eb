"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: the full audio quality-filter pipeline over a
clips table derived from sf0.001 documents (langid + perplexity + rules +
scrub + keep decision), per BASELINE.json north_star.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator family
(SURVEY.md §2): relational (joins/aggs/windows), training ops T1-T7, text
quality, scrub, dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding), similarity search, and the langid operators (rows-only where
genuinely not SQL-expressible).

All hash primitives in oracle-checked queries are md5-derived so Spark and
DuckDB agree bit-for-bit; float aggregates are rounded to fixed precision.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: quality-filter pipeline on clips derived from sf0.001."""
    from heliport_spark.pipeline import quality_filter
    from heliport_spark.sources.clips import clips_from_documents

    # with_bytes=False: this projection never reads the PCM payload, and the
    # synthesis is inside an opaque mapInPandas Catalyst can't prune (§4.1)
    clips = clips_from_documents(spark, "/root/testdata/sf0.001",
                                 with_bytes=False)
    out = quality_filter(clips)
    # stable projection (drop the binary payload for the smoke check)
    return out.select(
        "clip_id", "transcript", "lang", "confidence", "keep",
        "scrubbed_text", "quality.heli_score", "quality.ppl",
        "quality.scrub_spans", "quality.cjk_pct",
    )


# ------------------------------------------------------------------- queries

def _q1_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q3_top_orders(spark, sf):
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def _region_revenue(spark, sf):
    r = _t(spark, sf, "region")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    # orders is a FACT-sized side (1.5M rows at sf1.0, corpus-scaled):
    # auto-broadcast picked it under the 64 MB file-size estimate, paying a
    # single-threaded driver hash-relation build (measured 1.73 → 1.14 s
    # with the hint at sf1.0, guide §3.1); at 100 TB orders could never
    # broadcast, so shuffle-hash is also the scale-honest strategy. The
    # dimension joins below stay explicit broadcasts.
    return (
        li.join(o.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _events_sessions(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ → epoch ms via a timezone-INDEPENDENT expression: timestampdiff on
    # two NTZ operands never consults the session timezone, so this matches
    # the DuckDB oracle's epoch_ms (UTC) under ANY driver session timezone —
    # no session-conf mutation (an earlier version set
    # spark.sql.session.timeZone=UTC here, permanently leaking the setting
    # into the caller's session; ADVICE r02)
    ms = F.expr("timestampdiff(MILLISECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    gap = ms - F.lag(ms).over(w)
    return (
        e.withColumn("new_session", F.when(gap > 1_800_000, 1).otherwise(0))
        .groupBy("user_id")
        .agg(
            (F.sum("new_session") + 1).alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def _doc_quality(spark, sf):
    from heliport_spark.functions import text as T

    d = _t(spark, sf, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        T.n_chars(c).alias("len_chars"),
        T.n_tokens(c).alias("n_tokens"),
        F.round(T.digit_ratio(c), 6).alias("digit_ratio"),
        F.round(T.alpha_ratio(c), 6).alias("alpha_ratio"),
        F.round(T.stopword_ratio(c), 6).alias("stopword_ratio"),
        T.fingerprint(c).alias("fp"),
    )


def _word_counts(spark, sf):
    from heliport_spark.operators.train import count_words

    d = _docs_repart(spark, sf)
    return (
        count_words(d, "text")
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(100)
    )


def _char_trigrams(spark, sf):
    from heliport_spark.operators.train import count_char_ngrams

    # documents is one small parquet file (≤2 input splits even at sf1.0) —
    # without the repartition the explode+partial-agg stage, the expensive
    # part, runs on ≤2 cores (guide §2.5 input skew; measured 8.1 s → sub-
    # second at sf1.0 on local[32])
    d = _docs_repart(spark, sf)
    return (
        count_char_ngrams(d, 3, "text")
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(100)
    )


def _ngram_probs(spark, sf):
    from heliport_spark.operators.train import count_words, prune_and_probs

    d = _t(spark, sf, "documents")
    counts = count_words(d, "text", group_cols=["lang"])
    probs = prune_and_probs(counts, ["lang"])
    return probs.select(
        "lang", "gram", "cnt", F.round("prob", 6).alias("prob")
    )


def _posting_lists(spark, sf):
    from heliport_spark.operators.train import count_words, posting_lists

    d = _t(spark, sf, "documents")
    counts = count_words(d, "text", group_cols=["lang"]).select("lang", "gram").distinct()
    return posting_lists(counts).filter(F.col("n_langs") > 1)


def _scrub_stats(spark, sf):
    from heliport_spark.functions.scrub import scrub_expr

    d = _t(spark, sf, "documents")
    _, spans = scrub_expr("text")
    return (
        d.withColumn("spans", spans)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("spans").alias("total_spans"),
            F.sum(F.when(F.col("spans") > 0, 1).otherwise(0)).alias("docs_with_pii"),
        )
    )


def _keep_drop_rules(spark, sf):
    from heliport_spark.functions import text as T

    d = _t(spark, sf, "documents")
    c = F.col("text")
    keep = (
        (T.n_chars(c) >= 2)
        & (T.n_chars(c) <= 20000)
        & (T.digit_ratio(c) <= 0.3)
        & (T.alpha_ratio(c) >= 0.4)
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep.cast("int")).alias("n_keep"),
    )


def _dedup_exact(spark, sf):
    from heliport_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf, "documents"))


def _docs_repart(spark, sf):
    """documents is one small file = one split; spread explode-heavy stages."""
    par = spark.sparkContext.defaultParallelism
    return _t(spark, sf, "documents").repartition(par, "doc_id")


def _dedup_minhash_lsh(spark, sf):
    from heliport_spark.operators.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(_docs_repart(spark, sf))


def _dedup_ngram_jaccard(spark, sf):
    from heliport_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    d = _docs_repart(spark, sf)
    cands = minhash_lsh_candidates(d)
    return ngram_jaccard_pairs(d, candidates=cands, threshold=0.3)


def _simhash(spark, sf):
    from heliport_spark.operators.dedup import simhash

    return simhash(_docs_repart(spark, sf))


def _dedup_minhash_estimate(spark, sf):
    """Broder minhash Jaccard estimate over the LSH candidates — the
    signature-only verify that never re-touches shingle sets (coarse 1/12
    granularity; the exact ngram_jaccard_pairs is the precise twin)."""
    from heliport_spark.operators.dedup import minhash_jaccard_estimate

    return minhash_jaccard_estimate(_docs_repart(spark, sf))


def _dedup_clusters(spark, sf):
    """Connected components over the (oracle-exact) simhash near-dup pairs:
    (id, cluster_id=min id in component, is_canonical) — the step that turns
    candidate pairs into an actual dedup decision."""
    from heliport_spark.operators.dedup import dup_clusters, simhash_pairs

    return dup_clusters(simhash_pairs(_docs_repart(spark, sf)))


def _dedup_materialize(spark, sf):
    """End-to-end dedup as a user runs it: near-dup pairs → clusters →
    anti-join the non-canonical members out of the corpus. Output is the
    surviving (doc_id, lang, source) rows."""
    from heliport_spark.operators.dedup import dup_clusters, simhash_pairs

    d = _docs_repart(spark, sf)
    losers = dup_clusters(simhash_pairs(d)).filter(
        F.col("is_canonical") == 0
    ).select(F.col("id").alias("doc_id"))
    return d.join(losers, "doc_id", "left_anti").select("doc_id", "lang", "source")


def _simhash_pairs(spark, sf):
    """Near-dup pairs at Hamming ≤ bands−1 — exact (pigeonhole), so fully
    oracle-checked unlike the recall<1 ANN paths."""
    from heliport_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_docs_repart(spark, sf))


def _winnow_fingerprints(spark, sf):
    """Winnowing (MOSS) local fingerprints: (doc_id, pos, fp) — the
    substring-level dedup signal (any shared run ≥ w+k−1 chars is
    guaranteed a shared fp). Oracle = the same window-min over k-gram
    hashes in DuckDB, bit-exact."""
    from heliport_spark.operators.dedup import winnow_fingerprints

    return winnow_fingerprints(_docs_repart(spark, sf)).select(
        F.col("id").alias("doc_id"), "pos", "fp"
    )


# incremental-dedup driver split: ref corpus = every 7th doc (previously
# curated), new corpus = the rest (today's crawl); high self-similarity in
# the synthetic docs guarantees real cross-corpus collisions.
INC_MOD = 7


def _dedup_incremental(spark, sf):
    """Admission gate for appending a crawl to an already-deduped corpus:
    new docs that share NO MinHash band signature with the reference split
    survive. The decision joins against one representative per (band, sig)
    — linear at any skew, bit-identical to the uncapped join."""
    from heliport_spark.operators.dedup import incremental_dedup

    d = _docs_repart(spark, sf)
    ref = d.filter(F.col("doc_id") % INC_MOD == 0)
    new = d.filter(F.col("doc_id") % INC_MOD != 0)
    return incremental_dedup(new, ref).select("doc_id", "lang", "source")


def _ann_bruteforce(spark, sf):
    from heliport_spark.operators.similarity import brute_force_topk

    # embeddings is one small parquet file (≤2 input splits even at sf1.0);
    # without the repartition the whole O(n·q) pair scoring runs on ≤2
    # cores (guide §2.5 — same single-split trap as char_trigrams)
    par = spark.sparkContext.defaultParallelism
    e = _t(spark, sf, "embeddings").repartition(par, "vec_id")
    q = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 10)
    return brute_force_topk(e, q, k=5)


def _embedding_neardup(spark, sf):
    """Exhaustive variant (oracle-checked); the LSH-bucketed variant is the
    scale path and is checked rows-only (recall < 1 by construction).

    Norms are hoisted out of the O(n²) pair loop (once per row instead of
    once per pair — the aggregate() norm is an interpreted HOF, guide §4.1)
    and the ≤2-split embeddings scan is repartitioned so pair scoring uses
    all cores (guide §2.5). Bit-exact: ``dot/(norm_a*norm_b)`` keeps
    cosine_expr's operand order. Measured 76 s → ~4 s at sf0.1."""
    from heliport_spark.operators.similarity import _dot, _norm

    par = spark.sparkContext.defaultParallelism
    e = _t(spark, sf, "embeddings").repartition(par, "vec_id")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
                 _norm(F.col("embedding")).alias("na"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
                 _norm(F.col("embedding")).alias("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            F.round(
                F.try_divide(_dot(F.col("va"), F.col("vb")),
                             F.col("na") * F.col("nb")),
                4,
            ),
        )
        .filter(F.col("sim") >= 0.4)
        .select("id_a", "id_b", "sim")
    )


def _embedding_neardup_lsh(spark, sf):
    """The LSH-bucketed scale path of embedding near-dup (multi-table sign
    prefilter + exact cosine verify) — rows-only: recall < 1 by construction
    (the exhaustive twin ``embedding_neardup`` above is the oracle-checked
    one; the recall floor vs it is pinned in tests/test_functions.py)."""
    from heliport_spark.operators.similarity import embedding_neardup

    e = _t(spark, sf, "embeddings")
    return embedding_neardup(e, threshold=0.4, n_tables=8)


def _events_json(spark, sf):
    """JSON scalar extraction + aggregation (props is a JSON string)."""
    e = _t(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


def _orders_by_month(spark, sf):
    """Date/math scalar functions over timestamps."""
    o = _t(spark, sf, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.round(F.sqrt(F.avg("o_totalprice")), 4).alias("sqrt_avg"),
        )
    )


def _revenue_rollup(spark, sf):
    """ROLLUP over (region, nation) with grouping-id (SURVEY §2.5 category)."""
    r = _t(spark, sf, "region")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    j = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return j.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


def _parts_never_ordered(spark, sf):
    """Left-anti join (NOT EXISTS): parts never ordered in large quantity
    (the filter is pushed below the anti-join's build side)."""
    p = _t(spark, sf, "part")
    li = (
        _t(spark, sf, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_partkey")
        .distinct()
    )
    return (
        p.join(li, F.col("p_partkey") == F.col("l_partkey"), "left_anti")
        .select("p_partkey", "p_name", "p_brand")
    )


def _customer_set_ops(spark, sf):
    """INTERSECT / EXCEPT (SURVEY §2.5 category): customers with orders vs
    high-balance customers, tagged and unioned."""
    c = _t(spark, sf, "customer").select("c_custkey")
    with_orders = (
        _t(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey")).distinct()
    )
    rich = _t(spark, sf, "customer").filter(F.col("c_acctbal") > 5000).select("c_custkey")
    both = with_orders.intersect(rich).withColumn("tag", F.lit("active_rich"))
    idle = c.exceptAll(with_orders).withColumn("tag", F.lit("no_orders"))
    return both.unionByName(idle)


# ------- langid / pipeline operators (genuinely not ANSI-SQL-expressible) ---

def _heli_identify_docs(spark, sf):
    from heliport_spark.operators.identify import identify_df

    # documents is one small parquet file = one input split; spread the
    # CPU-heavy scoring stage across cores (at 100 TB the scan has thousands
    # of splits and this repartition is unnecessary — keyed on id, not data
    # size, it stays harmless)
    par = spark.sparkContext.defaultParallelism
    d = _t(spark, sf, "documents").select("doc_id", "text").repartition(par, "doc_id")
    return identify_df(d, text_col="text").select(
        "doc_id", "lang", "score", "raw_score"
    )


def _heli_topk_docs(spark, sf):
    from heliport_spark.operators.identify import identify_topk_df

    # flat scalar columns only: the driver canonicalizer sorts/hashes rows in
    # pandas, which cannot hash array cells — emit CSV lang list + 4-dp scores
    par = spark.sparkContext.defaultParallelism
    d = _t(spark, sf, "documents").select("doc_id", "text").repartition(par, "doc_id")
    topk = identify_topk_df(d, text_col="text", k=3)
    return topk.select(
        "doc_id",
        F.concat_ws(",", F.col("topk.lang")).alias("langs"),
        F.concat_ws(
            ",",
            F.transform(F.col("topk.score"), lambda s: F.format_string("%.4f", s)),
        ).alias("scores"),
    )


def _quality_filter_clips(spark, sf):
    from heliport_spark.pipeline import quality_filter
    from heliport_spark.sources.clips import clips_from_documents

    # with_bytes=False: the selected columns never touch the PCM payload;
    # without the flag the opaque mapInPandas synthesizes + Arrow-ships
    # ~20 GB of audio at sf1.0 that Catalyst cannot prune (guide §4.1) —
    # measured 15.2 s → the transcript-only cost for this query. dur_ms
    # (which the rate rule reads) is bit-identical either way.
    clips = clips_from_documents(spark, sf, with_bytes=False)
    return quality_filter(clips).select(
        "clip_id", "lang", "confidence", "keep", "scrubbed_text",
        "quality.scrub_spans",
    )


def _audio_features(spark, sf):
    """Waveform statistics over the binary PCM column (multimodal plumbing:
    decode happens in Arrow batches, bytes never leave the executor)."""
    from heliport_spark.functions.audio import audio_features_df
    from heliport_spark.sources.clips import clips_from_documents

    clips = clips_from_documents(spark, sf, with_golden=False, max_pcm_ms=500)
    feats = audio_features_df(clips)
    return feats.groupBy("sr_hz").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.round(F.avg("rms"), 4).alias("avg_rms"),
        F.round(F.avg("peak"), 4).alias("avg_peak"),
        F.sum("n_samples").alias("total_samples"),
    )


def _audio_signal_rules(spark, sf):
    """Signal-level keep/drop gate (silence/clipping/metadata-drift) over
    decoded PCM — rows-only (the decode is not ANSI-SQL-expressible). The
    flags themselves are pure-Catalyst projections on the Arrow-batch
    waveform stats; in the full pipeline this runs after the metadata and
    transcript gates so only survivors pay the decode."""
    from heliport_spark.functions.audio import audio_features_df, audio_signal_flags
    from heliport_spark.sources.clips import (
        clips_from_documents,
        signal_adversarial_clips,
    )

    clips = clips_from_documents(spark, sf, with_golden=False, max_pcm_ms=500)
    clips = clips.unionByName(signal_adversarial_clips(spark))
    gated = audio_signal_flags(audio_features_df(clips))
    return gated.groupBy("signal_flags", "keep_signal").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.round(F.avg("silence_ratio"), 4).alias("avg_silence"),
        F.round(F.avg("clip_ratio"), 4).alias("avg_clip_ratio"),
    )


def _audio_chunks(spark, sf):
    """Fixed-window audio segmentation (ASR long-audio prep) — rows-only;
    verifies the per-row fan-out shape (one Arrow pass, no shuffle) and
    that chunk metadata stays consistent with the sliced bytes."""
    from heliport_spark.functions.audio import chunk_audio_df
    from heliport_spark.sources.clips import clips_from_documents

    clips = clips_from_documents(spark, sf, with_golden=False, max_pcm_ms=500)
    chunks = chunk_audio_df(clips, window_ms=200, min_tail_ms=50)
    return chunks.groupBy("sr_hz").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("clip_id").alias("n_clips"),
        F.sum(F.length("bytes")).alias("total_bytes"),
        F.round(F.avg("dur_ms"), 2).alias("avg_chunk_ms"),
    )


def _audio_loudness(spark, sf):
    """Loudness normalization (gain to target RMS, capped, clip-free) —
    rows-only; verifies the engine can rewrite the audio payload into a new
    column while the source bytes pass through untouched."""
    from heliport_spark.functions.audio import audio_features_df, normalize_loudness_df
    from heliport_spark.sources.clips import clips_from_documents

    clips = clips_from_documents(spark, sf, with_golden=False, max_pcm_ms=500)
    norm = normalize_loudness_df(clips)
    # re-measure the stats on the NORMALIZED bytes
    stats = audio_features_df(
        norm.drop("bytes").withColumnRenamed("bytes_norm", "bytes")
    )
    return stats.groupBy("sr_hz").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.round(F.avg("rms"), 4).alias("avg_rms_after"),
        F.round(F.avg("gain_db"), 2).alias("avg_gain_db"),
        F.round(F.max("clip_ratio"), 4).alias("max_clip_ratio"),
    )


def _audio_resample(spark, sf):
    """Sample-rate unification (ASR prep): every clip resampled to 8 kHz
    (all synthetic clips are 16 kHz, so every row does real interpolation
    work) — rows-only; correctness (length, tone preservation, passthrough)
    is pinned in tests/test_functions.py::test_resample_audio_df."""
    from heliport_spark.functions.audio import resample_audio_df
    from heliport_spark.sources.clips import clips_from_documents

    clips = clips_from_documents(spark, sf, with_golden=False, max_pcm_ms=500)
    rs = resample_audio_df(clips, target_sr=8000)
    return rs.groupBy("sr_rs").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum("n_samples_rs").alias("total_samples_rs"),
        F.sum(F.length("bytes_rs")).alias("total_bytes_rs"),
    )


def _audio_neardup(spark, sf):
    """AUDIO near-duplicate pairs: acoustic embedding (time-mean log-mel)
    composed with the multi-table embedding near-dup operator — the
    engine's similarity machinery applied to the audio payload itself
    (rows-only; the pairing behavior is pinned on planted fixtures in
    tests/test_functions.py::test_audio_embedding_neardup_composition)."""
    from heliport_spark.functions.audio import audio_embedding_df
    from heliport_spark.sources.clips import clips_from_documents

    clips = clips_from_documents(spark, sf, with_golden=False, max_pcm_ms=300)
    # cap the pair explosion: the synthetic corpus is one 440 Hz tone family,
    # so near-dup density is high by construction — 60 clips suffice to
    # exercise embed → bucket → verify end-to-end
    sub = clips.filter(F.col("clip_id") < "clip-000000000060")
    emb = audio_embedding_df(sub).select("clip_id", "aemb")
    from heliport_spark.operators.similarity import embedding_neardup

    return embedding_neardup(
        emb, threshold=0.999, id_col="clip_id", vec_col="aemb",
        dim=16, n_planes=4,
    )


def _audio_vad(spark, sf):
    """Voice-activity detection composed with silence trimming: clips are
    edge-trimmed (trim_silence_df) and the surviving PCM is segmented into
    speech runs (vad_segments_df). Tone clips pass through whole (one
    segment), the adversarial silent/malformed clips exercise the drop
    paths — rows-only (frame-RMS VAD is not ANSI-SQL-expressible);
    segment-boundary exactness is pinned in
    tests/test_functions.py::test_vad_segments_df / test_trim_silence_df."""
    from heliport_spark.functions.audio import trim_silence_df, vad_segments_df
    from heliport_spark.sources.clips import (
        clips_from_documents,
        signal_adversarial_clips,
    )

    clips = clips_from_documents(spark, sf, with_golden=False, max_pcm_ms=500)
    clips = clips.unionByName(signal_adversarial_clips(spark))
    # sr_trim is the effective rate of the trimmed PCM (the WAV container's
    # embedded rate when it drifts from the sr_hz metadata) — authoritative
    # for all ms math downstream of the trim
    trimmed = (
        trim_silence_df(clips)
        .drop("bytes", "sr_hz")
        .withColumnRenamed("bytes_trim", "bytes")
        .withColumnRenamed("sr_trim", "sr_hz")
    )
    segs = vad_segments_df(trimmed, codec_col=None)
    return segs.select(
        "clip_id", "seg_idx", "start_ms", "end_ms", "dur_ms",
        F.round("seg_rms", 4).alias("seg_rms"),
    )


def _audio_mel(spark, sf):
    """REAL log-mel feature extraction (numpy STFT + Slaney filterbank) over
    the PCM column — rows-only (FFT is not ANSI-SQL-expressible)."""
    from heliport_spark.functions.audio import mel_stats_df
    from heliport_spark.sources.clips import clips_from_documents

    clips = clips_from_documents(spark, sf, with_golden=False, max_pcm_ms=500)
    feats = mel_stats_df(clips)
    return feats.groupBy("sr_hz").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.round(F.avg("mel_mean"), 4).alias("avg_mel_mean"),
        F.sum("n_frames").alias("total_frames"),
        F.round(F.avg("mel_dom_bin"), 2).alias("avg_dom_bin"),
    )


def _audio_suite(spark, sf):
    """The audio prep chain END-TO-END in one driver entry: resample to
    8 kHz → loudness-normalize → 200 ms chunking → log-mel features over
    the chunks. Each stage is the standalone operator the individual
    `audio_resample` / `audio_loudness` / `audio_chunks` / `audio_mel`
    queries (now in extra_queries, still benched + pytest-pinned) run in
    isolation; chaining them here keeps all four inside the driver's
    50-entry correctness cap AND verifies the stages compose (each stage
    consumes the previous one's output bytes, so a schema/contract break
    anywhere in the chain fails this query). Rows-only (FFT/resample are
    not ANSI-SQL-expressible). Per north-rule/ADVICE: un-resamplable rows
    (sr_rs NULL) are filtered before treating bytes_rs as PCM."""
    from heliport_spark.functions.audio import (
        chunk_audio_df,
        mel_stats_df,
        normalize_loudness_df,
        resample_audio_df,
    )
    from heliport_spark.sources.clips import clips_from_documents

    clips = clips_from_documents(spark, sf, with_golden=False, max_pcm_ms=500)
    # bound the bench cost: the chain decodes each clip once per stage (4x),
    # so cap the subset — 1000 clips exercise every stage contract at any sf
    # (sf0.01's 500 docs are unaffected; correctness is sf0.01)
    clips = clips.filter(F.col("clip_id") < "clip-000000001000")
    rs = (
        resample_audio_df(clips, target_sr=8000)
        .filter(F.col("sr_rs").isNotNull())
        .select("clip_id", F.col("bytes_rs").alias("bytes"),
                F.col("sr_rs").alias("sr_hz"))
    )
    norm = normalize_loudness_df(rs).drop("bytes").withColumnRenamed(
        "bytes_norm", "bytes"
    )
    chunks = chunk_audio_df(norm, window_ms=200, min_tail_ms=50)
    feats = mel_stats_df(chunks)
    return feats.groupBy("sr_hz").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("clip_id").alias("n_clips"),
        F.sum("n_frames").alias("total_frames"),
        F.round(F.avg("mel_mean"), 4).alias("avg_mel_mean"),
        F.round(F.avg("mel_dom_bin"), 2).alias("avg_dom_bin"),
    )


def _audio_fingerprints(spark, sf):
    """Landmark (Shazam/Wang-2003) audio fingerprint matching: constellation
    peaks → (f1,f2,dt) landmark hashes → capped hash self-join → offset
    vote. Finds PARTIAL audio overlaps with their time alignment — the
    planted 2 s slice fixture must surface at its true 31-frame offset
    against broadband background clips plus the corpus' 440 Hz tone family
    (the degenerate shared-hum bucket, flowing through MAX_BUCKET).
    Rows-only (FFT not ANSI-SQL-expressible); offset exactness, repeat-cap
    and false-pair separation are pinned in
    tests/test_functions.py::test_audio_fingerprint_matches."""
    from heliport_spark.functions.audio import audio_fingerprints_df
    from heliport_spark.operators.similarity import audio_fingerprint_matches
    from heliport_spark.sources.clips import (
        clips_from_documents,
        fingerprint_fixture_clips,
    )

    clips = clips_from_documents(spark, sf, with_golden=False, max_pcm_ms=300)
    # 40 tone-family clips exercise the hum bucket; the fixture plants the
    # true overlap pair
    sub = clips.filter(F.col("clip_id") < "clip-000000000040")
    sub = sub.unionByName(fingerprint_fixture_clips(spark))
    fp = audio_fingerprints_df(sub)
    return audio_fingerprint_matches(fp).orderBy("id_a", "id_b")


# boilerplate span width — ONE constant generates both the Spark query and
# the DuckDB twin (same discipline as DECON_N; a literal on each side would
# silently desynchronize on a width change)
BOILERPLATE_N = 8


def _boilerplate_spans(spark, sf):
    from heliport_spark.operators.dedup import duplicate_ngram_spans

    spans = duplicate_ngram_spans(_docs_repart(spark, sf), n=BOILERPLATE_N)
    return spans.orderBy(F.desc("n_docs"), F.asc("gram")).limit(100)


def _corpus_stats(spark, sf):
    from heliport_spark.operators.corpus import length_stats

    return length_stats(_t(spark, sf, "documents"))


def _deterministic_split(spark, sf):
    from heliport_spark.operators.corpus import hash_split

    return hash_split(_t(spark, sf, "documents"))


def _gopher_rules(spark, sf):
    from heliport_spark.operators.corpus import gopher_quality

    return gopher_quality(_t(spark, sf, "documents"))


# C4-rules fixture structuring: the documents text is punctuation- and
# newline-free word salad, so the C4 line rules would be vacuously uniform
# on it. The entry therefore derives a STRUCTURED text first — same
# determinism discipline as the DECON_MOD benchmark split: a plain
# (non-regex) token replace turns every ' value ' into a sentence break,
# and three doc_id residues plant the page-level flags, identically in
# both engines.
C4_BREAK_TOKEN = " value "
C4_LOREM_MOD, C4_BRACE_MOD, C4_BADWORD_MOD = 17, 13, 19


def _c4_structured(spark, sf):
    d = _t(spark, sf, "documents")
    t = F.replace(F.col("text"), F.lit(C4_BREAK_TOKEN), F.lit(".\n"))
    t = F.when(F.col("doc_id") % C4_LOREM_MOD == 0,
               F.concat(t, F.lit(" lorem ipsum"))).otherwise(t)
    t = F.when(F.col("doc_id") % C4_BRACE_MOD == 0,
               F.concat(t, F.lit(" {"))).otherwise(t)
    t = F.when(F.col("doc_id") % C4_BADWORD_MOD == 0,
               F.concat(t, F.lit(" badword"))).otherwise(t)
    return d.select("doc_id", t.alias("text"))


def _c4_rules(spark, sf):
    """C4-style page filters (Raffel et al. 2020 §2.2) — the second
    public-heuristic keep/drop family next to Gopher; oracle-exact over the
    deterministically structured fixture text."""
    from heliport_spark.operators.corpus import c4_rules

    return c4_rules(_c4_structured(spark, sf))


# token-budget sampling budget — ONE constant generates both engines
TOKEN_BUDGET = 800


def _token_budget_sample(spark, sf):
    """Per-source token-budget fill (training mixtures are budgeted in
    TOKENS, not docs): hash-ranked greedy admit until the cumulative token
    count crosses the budget — deterministic, no RNG, oracle-exact."""
    from heliport_spark.operators.corpus import token_budget_sample

    return token_budget_sample(
        _t(spark, sf, "documents"), budget_tokens=TOKEN_BUDGET
    )


def _curate_corpus(spark, sf, eager=True):
    """END-TO-END corpus curation — the full path a training-data team runs,
    composed from the already-oracle-exact stages and their SHARED constants:
    (0a) SOURCE-reputation gate first (RefinedWeb order: drop whole junk
        domains before paying any per-doc work; ``reputable_sources`` —
        source-level only, the per-doc Gopher predicate stays at stage 3 so
        the stages remain orthogonal);
    (0b) EXACT dedup (VERDICT r04 #3): one cheap fingerprint hash-agg
        collapses byte-identical piles before any banding, which
        structurally removes the degenerate (band, sig) buckets the
        MAX_BUCKET cap guards against;
    (1) near-dup removal over the exact survivors: simhash pairs →
        connected components → drop non-canonical members
        (dedup_materialize's chain);
    (2) benchmark decontamination: drop survivors sharing any DECON_N-gram
        with the held-out benchmark subset (doc_id % DECON_MOD == 0);
    (3) Gopher quality gate (gopher_keep_expr — same predicate as
        gopher_rules);
    (4) per-language temperature resampling of what remains;
    (5) CCNet head/middle/tail quality bucketing of the FINAL corpus
        (labels, not drops — ntile mode for the oracle; the 100 TB path is
        mode="cutoff", see quality_buckets).
    Output (lang, doc_id, sw_ratio, bucket, bucket_label) — oracle-exact:
    the DuckDB twin chains the SAME CTE blocks each standalone oracle uses.
    Stage counts at sf0.01: 500 → 325 (source gate: junk-heavy synthetic
    sources dropped whole) → 325 (exact — the fixture's near-dups are not
    byte-identical; the stage matters on duplicate-heavy data, where it
    collapses exact piles before they can form degenerate simhash buckets)
    → 319 (near-dup) → 288 (benchmark split) → 258 (decon) → 245 (gopher)
    → 195 (resample, then bucketed 3-way per language).

    Implementation: operators/curate.py::curate_documents with the
    oracle-twin options (exact decon, ntile buckets, no LID gate) — the
    same chain the 100 TB entry (curate_corpus_lid) runs with the scale
    options flipped on."""
    from heliport_spark.operators.curate import curate_documents

    return curate_documents(
        _docs_repart(spark, sf),
        decon="exact", decon_mod=DECON_MOD, decon_n=DECON_N,
        bucket_mode="ntile", eager=eager,
    )


def _curate_corpus_lid(spark, sf, eager=True):
    """The 100 TB personality of the curation chain — what a RefinedWeb-
    style run over a real crawl looks like, with the engine's FLAGSHIP
    operator (the HeLI language identifier, /root/reference/src/
    identifier.rs) gating the corpus right after the source gate:

    source gate → LID gate (drop und/zxx; the PREDICTED language drives
    every downstream per-language stage — web data has no ground-truth
    lang column) → exact dedup → simhash near-dup → BLOOM decontamination
    (broadcast bitmap probe, the corpus never joins the benchmark) →
    Gopher → temperature resample (per predicted lang) → CCNet buckets in
    mode="cutoff" (sketch cutoffs, no per-language sort — en-skew immune).

    The fixture documents are English-like word salad throughout (the LID
    correctly says eng for all of them), so the table is supplemented with
    a deterministic per-language corpus built from the reference's own
    published word models (sources/multilingual.py) — the predicted
    languages then genuinely drive the per-language resample and buckets.

    Rows-only (the HeLI scorer is not ANSI-SQL-expressible); stage counts,
    exact≡bloom decon agreement, and multilingual LID-gate recovery are
    pinned in tests/test_curate.py."""
    from heliport_spark.operators.curate import curate_documents
    from heliport_spark.sources.multilingual import multilingual_documents

    d = _docs_repart(spark, sf)
    extra = multilingual_documents(spark)
    if extra is not None:
        d = d.unionByName(extra)
    return curate_documents(
        d,
        lid=True,
        decon="bloom", decon_mod=DECON_MOD, decon_n=DECON_N,
        bloom_m_bits=BLOOM_M_BITS, bloom_k=BLOOM_K,
        bucket_mode="cutoff", eager=eager,
    )


def _curate_clips(spark, sf, eager=True):
    """END-TO-END curation over the CLIPS table — the BASELINE.json
    north_star as ONE registered query (VERDICT r6 missing #2): the
    flagship quality-filter pipeline (HeLI langid + fastText cross-check +
    perplexity + heuristic rules + PII scrub, one Arrow pass) is the gate;
    its survivors' SCRUBBED transcripts then flow through exact dedup →
    simhash near-dup clustering → Bloom decontamination (hash-held-out
    benchmark split), the kept clips' AUDIO through log-mel embedding →
    sign-LSH near-dup clustering (the same recording re-uploaded under a
    new id is not new training data), and what remains is
    temperature-resampled per PREDICTED language.

    Fixture: audio_style="varied" gives every clip a per-id spectral
    identity with planted audio near-dups (ids ≡ 1 mod 29 reuse the
    previous id's spectrum re-noised, same sr) — the tone-family default
    is the degenerate case where every clip is an audio near-dup of every
    other. Rows-only (the HeLI scorer is not ANSI-SQL-expressible); stage
    counts and planted-dup capture are pinned in tests/test_curate.py."""
    from heliport_spark.operators.curate import curate_clips
    from heliport_spark.sources.clips import clips_from_documents

    # NO max_pcm_ms cap: capping the audio would make dur_ms disagree with
    # the transcript length and the pipeline's rate-anomaly rule would
    # (correctly) drop every capped clip — the gate must see honest clips
    clips = clips_from_documents(spark, sf, audio_style="varied")
    return curate_clips(clips, audio_neardup=True, eager=eager)


# per-doc repetition gram width — ONE constant generates both engines
# (bigrams: the synthetic small-vocab corpus genuinely repeats them)
REP_N = 2


def _doc_ngram_repetition(spark, sf):
    """Within-doc duplicated n-gram fraction (Gopher repetition rules) —
    oracle-exact per-doc quality signal, the per-doc twin of
    boilerplate_spans."""
    from heliport_spark.operators.corpus import ngram_repetition

    return ngram_repetition(_t(spark, sf, "documents"), n=REP_N)


# decontamination query params: every 11th doc is "benchmark", 4-gram
# overlap — chosen so the sf0.01 fixture genuinely exercises the operator
# (71 contaminated docs; 8-grams/sparser benchmarks matched zero rows)
DECON_MOD = 11
DECON_N = 4
# Bloom decontamination: 2^20 bits vs ~15k benchmark grams → FP rate ~0 on
# the fixture (oracle bit-exact); k=4 md5-salted hash functions.
BLOOM_M_BITS = 1 << 20
BLOOM_K = 4


def _decontaminate(spark, sf):
    """Eval-set decontamination: distinct word-n-gram overlap between the
    corpus and a deterministic benchmark subset."""
    from heliport_spark.operators.corpus import decontaminate

    d = _docs_repart(spark, sf)
    bench = d.filter(F.col("doc_id") % DECON_MOD == 0)
    corpus = d.filter(F.col("doc_id") % DECON_MOD != 0)
    return decontaminate(corpus, bench, n=DECON_N)


def _decontaminate_bloom(spark, sf):
    """Bloom-filter decontamination — same corpus/benchmark split as
    ``decontaminate`` but the benchmark gram set is compressed into a
    broadcast bitmap probed map-side (the 100 TB path: the corpus side never
    shuffles). At BLOOM_M_BITS = 2^20 on this fixture the filter has no
    false positives, so the oracle (position-set join — the exact
    bit-membership semantics) is bit-exact, and the superset/saturation
    directions are pinned in tests/test_functions.py."""
    from heliport_spark.operators.corpus import decontaminate_bloom

    d = _docs_repart(spark, sf)
    bench = d.filter(F.col("doc_id") % DECON_MOD == 0)
    corpus = d.filter(F.col("doc_id") % DECON_MOD != 0)
    return decontaminate_bloom(corpus, bench, n=DECON_N,
                               m_bits=BLOOM_M_BITS, k=BLOOM_K)


# boilerplate-line removal driver params: the synthetic docs are single-line,
# so each whitespace token is treated as a "line" (the operator's
# line_sep/join_sep generality); min_docs=450 of 500 removes only the
# near-universal tokens — the stopword-like boilerplate of this corpus.
BOILER_MIN_DOCS = 450
# paragraph scope: a per-source footer block (25 docs/source at sf0.01) is
# exactly the boilerplate this unit targets — far below the token-level
# 450 threshold that guards the whitespace-token line entry
BOILER_PAR_MIN_DOCS = 10
# sequence packing: windows of 64 tokens over ~35-token docs → most windows
# span document boundaries, exercising the spill math.
PACK_SEQ_LEN = 64


def _boilerplate_lines(spark, sf):
    """CCNet/RefinedWeb line-level boilerplate removal: drop every exact
    line occurring in ≥ min_docs distinct documents, reassemble survivors
    in original order."""
    from heliport_spark.operators.corpus import remove_boilerplate_lines

    return remove_boilerplate_lines(
        _docs_repart(spark, sf), min_docs=BOILER_MIN_DOCS,
        line_sep=r"\s+", join_sep=" ",
    )


def _boilerplate_paragraphs(spark, sf):
    """Paragraph-granularity boilerplate removal (VERDICT r6 next #8 —
    RefinedWeb dedups at line AND paragraph scope). The fixture docs are
    single-line, so the entry derives a paragraph-bearing table both
    engines share: body ∥ per-source footer paragraph (25 docs each) ∥ a
    corpus-wide notice paragraph (all 500) — the two planted footers are
    the boilerplate the paragraph unit must drop whole while the unique
    body survives."""
    from heliport_spark.operators.corpus import remove_boilerplate_lines

    docs = _docs_repart(spark, sf).withColumn(
        "text",
        F.concat(
            F.col("text"), F.lit("\n\nshared footer for "), F.col("source"),
            F.lit("\n\nunsubscribe notice common to all documents"),
        ),
    )
    return remove_boilerplate_lines(
        docs, min_docs=BOILER_PAR_MIN_DOCS, unit="paragraph"
    )


def _pack_sequences(spark, sf):
    """GPT-style sequence packing: concatenate each source's docs in doc_id
    order and record the fixed-size token window (seq_id) and offset
    (seq_off) where each document starts."""
    from heliport_spark.operators.corpus import pack_sequences

    return pack_sequences(_t(spark, sf, "documents"), seq_len=PACK_SEQ_LEN,
                          group_cols=("source",))


def _corpus_sketches(spark, sf):
    """HLL distinct counts + quantile-summary percentiles (rows-only:
    sketches are estimate-valued by design, no bit-exact oracle; accuracy
    floors vs the exact operators are pinned in tests)."""
    from heliport_spark.operators.corpus import corpus_sketches

    return corpus_sketches(_t(spark, sf, "documents"))


def _quota_sample(spark, sf):
    from heliport_spark.operators.corpus import quota_sample

    return quota_sample(_t(spark, sf, "documents"), k=5)


def _temperature_resample(spark, sf):
    """XLM-R/mC4-style temperature resampling of the skewed per-language
    corpus (quota ∝ n^0.5, exact-integer normalization, hash-ranked fill —
    no RNG, reproducible on any engine/partitioning)."""
    from heliport_spark.operators.corpus import temperature_resample

    return temperature_resample(_t(spark, sf, "documents"))


def _wrap_final_cte(sql: str, as_cte: "str | None") -> str:
    """Turn a '...CTEs...\\nSELECT ...' block's trailing SELECT into a named
    CTE so compositions can keep chaining after it."""
    if as_cte is None:
        return sql
    head, _, final = sql.rpartition("\nSELECT ")
    return f"{head},\n{as_cte} AS (SELECT {final})"


def _temperature_resample_sql(src: str = "documents",
                              with_kw: str = "WITH",
                              as_cte: "str | None" = None) -> str:
    """DuckDB twin of operators/corpus.py::temperature_resample — generated
    from the SAME constants (TEMP_TOTAL, TEMP_WEIGHT_SCALE; alpha=0.5 via
    IEEE sqrt, weights quantized to bigint BEFORE the exact integer
    normalization so no float-sum ordering can flip a floor). ``src``
    parameterizes the source relation so the curate_corpus composition can
    resample ITS survivors with the identical quota math; ``with_kw``
    lets a caller splice these CTEs into an existing WITH chain;
    ``as_cte`` wraps the final SELECT as a named CTE so the composition can
    keep chaining (curate_corpus buckets the resampled survivors)."""
    from heliport_spark.operators.corpus import TEMP_TOTAL, TEMP_WEIGHT_SCALE

    return _wrap_final_cte(f"""
{with_kw} rows_ AS (SELECT lang AS g, doc_id AS id FROM {src}),
c AS (SELECT g, count(*) AS n FROM rows_ GROUP BY g),
cw AS (SELECT g, n,
              CAST(round(sqrt(n::DOUBLE) * {TEMP_WEIGHT_SCALE}) AS BIGINT) AS wq
       FROM c),
t AS (SELECT g, least(n::BIGINT,
                      ({TEMP_TOTAL}::BIGINT * wq) // (SELECT sum(wq) FROM cw)
                ) AS target
      FROM cw),
r AS (SELECT g, id,
             row_number() OVER (
               PARTITION BY g
               ORDER BY ('0x' || substr(md5(id::VARCHAR), 1, 15))::BIGINT, id
             ) AS rk
      FROM rows_)
SELECT r.g AS lang, r.id AS doc_id FROM r JOIN t USING (g) WHERE rk <= target""",
                           as_cte)


def _ann_lsh(spark, sf):
    from heliport_spark.operators.similarity import lsh_ann_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return lsh_ann_topk(e, q, k=5)


def _ann_ivf(spark, sf):
    """IVF coarse-quantizer ANN (rows-only: recall < 1 by construction,
    like ann_lsh; the recall floor vs brute force is pinned in tests)."""
    from heliport_spark.operators.similarity import ivf_ann_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return ivf_ann_topk(e, q, k=5, n_probe=4)


def _ann_ivfpq(spark, sf):
    """IVF-PQ compressed-vector ANN (VERDICT r5 #3) — rows-only (recall < 1
    by construction like ann_lsh/ann_ivf; the per-assign recall floors vs
    ann_bruteforce and the 32× candidate-byte reduction are pinned in
    tests/test_functions.py::test_ann_ivfpq_*). Default assign=2 closure
    assignment: the hard-regime recall loss is the coarse probe, not the
    code — see ivfpq_ann_topk's docstring for the measured evidence."""
    from heliport_spark.operators.similarity import ivfpq_ann_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return ivfpq_ann_topk(e, q, k=5, n_probe=4, rerank=32)


def _winnow_shared_spans(spark, sf):
    """Shared-span extraction over winnowing overlap pairs (VERDICT r6
    next #7): WHERE two docs share content — (id_a, id_b, a_off, b_off,
    span_len, n_fps), offsets into the normalized text — so boilerplate
    can be span-scrubbed instead of doc-dropped. Oracle = the same
    fingerprint CTE + capped pair list + delta-vote segmentation in
    DuckDB, bit-exact. Entry thresholds (min_shared=12, min_fps=6 ≈ a
    ≥ ~5w+k-char shared run) target BOILERPLATE-sized spans: the
    small-vocab fixture makes incidental word-run matches ubiquitous, and
    the operator defaults emit 112M noise rows at sf0.1 vs 56k here —
    the same tuning a web corpus needs (common phrases are the fixture's
    common 5-grams writ large)."""
    from heliport_spark.operators.dedup import winnow_shared_spans

    return winnow_shared_spans(
        _docs_repart(spark, sf), min_shared=WSS_MIN_SHARED,
        min_fps=WSS_MIN_FPS,
    )


DSIR_N = 200  # docs the DSIR entry selects — ONE constant, both engines


def _dsir_resample(spark, sf):
    """DSIR importance resampling (Xie et al. 2023): select DSIR_N docs
    whose hashed-bigram distribution matches the Gopher-passing subset's
    rather than the raw corpus's, via deterministic seeded Gumbel top-k.
    Oracle = the same gram/bucket/log-ratio/Gumbel chain in DuckDB,
    bit-exact (log-ratios rounded at 10 dp kill libm 1-ulp drift)."""
    from heliport_spark.operators.corpus import dsir_resample

    return dsir_resample(_docs_repart(spark, sf), n_select=DSIR_N)


def _remove_shared_spans(spark, sf):
    """Span SCRUBBING — the consumer of winnow_shared_spans: merged span
    intervals are removed from the non-canonical (higher-id) member of
    each overlap pair, per-doc; output (doc_id, text_clean, n_spans,
    chars_removed) over the normalized text. Oracle = the same window
    chain in DuckDB (interval merge + lag gaps + ordered string_agg),
    bit-exact."""
    from heliport_spark.operators.dedup import (
        remove_shared_spans,
        winnow_shared_spans,
    )

    docs = _docs_repart(spark, sf)
    spans = winnow_shared_spans(
        docs, min_shared=WSS_MIN_SHARED, min_fps=WSS_MIN_FPS
    )
    return remove_shared_spans(docs, spans)


def _quality_classifier(spark, sf):
    """Trained quality-classifier scores over documents (CCNet/GPT-3/DCLM
    lineage, VERDICT r6 next #4) — rows-only (the hashed-bucket logistic
    regression is not ANSI-SQL-expressible; the held-out accuracy floor,
    numpy≡Spark parity, and the curation-chain gate behavior are pinned in
    tests/test_classifier.py). One scalar-pandas-UDF pass; weights ride a
    1 MB broadcast."""
    from heliport_spark.operators.quality import classifier_score_df

    docs = _t(spark, sf, "documents")
    return classifier_score_df(docs).select(
        "doc_id",
        F.round(F.col("qc_score"), 4).alias("qc_score"),
        "qc_keep",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # EXACTLY 50 entries — the driver's correctness pass covers the first 50
    # registered queries, so the registry is consolidated to fit (VERDICT r04
    # #2: 53 entries silently dropped the last three) and ORDERED so that,
    # should the count ever creep past the cap again, the TPC-H-style
    # warm-ups at the tail are what falls off — never an operator query.
    # (supplier_balance / parts_by_brand duplicated q1's hash-agg shape,
    # top_order_per_customer duplicated the events_sessions window shape —
    # dropped, not moved.)
    return {
        # dedup family (oracle-exact)
        "dedup_exact": _dedup_exact,
        "dedup_minhash_lsh": _dedup_minhash_lsh,
        "dedup_ngram_jaccard": _dedup_ngram_jaccard,
        "simhash": _simhash,
        "simhash_pairs": _simhash_pairs,
        "dedup_minhash_estimate": _dedup_minhash_estimate,
        "dedup_clusters": _dedup_clusters,
        "dedup_materialize": _dedup_materialize,
        # similarity / ANN
        "ann_bruteforce": _ann_bruteforce,
        "embedding_neardup": _embedding_neardup,
        "ann_lsh": _ann_lsh,                              # rows-only
        "ann_ivf": _ann_ivf,                              # rows-only
        "embedding_neardup_lsh": _embedding_neardup_lsh,  # rows-only
        # corpus curation
        "boilerplate_spans": _boilerplate_spans,
        "corpus_stats": _corpus_stats,
        "corpus_sketches": _corpus_sketches,              # rows-only
        "deterministic_split": _deterministic_split,
        "gopher_rules": _gopher_rules,
        "decontaminate_bloom": _decontaminate_bloom,
        "boilerplate_lines": _boilerplate_lines,
        "pack_sequences": _pack_sequences,
        "quota_sample": _quota_sample,
        "temperature_resample": _temperature_resample,
        "doc_ngram_repetition": _doc_ngram_repetition,
        "token_budget_sample": _token_budget_sample,
        "curate_corpus": _curate_corpus,
        "curate_corpus_lid": _curate_corpus_lid,          # rows-only
        "curate_clips": _curate_clips,                    # rows-only
        # langid / quality / scrub
        "heli_identify_docs": _heli_identify_docs,        # rows-only
        "heli_topk_docs": _heli_topk_docs,                # rows-only
        "quality_filter_clips": _quality_filter_clips,    # rows-only
        "doc_quality": _doc_quality,
        "quality_classifier": _quality_classifier,        # rows-only
        "scrub_stats": _scrub_stats,
        "keep_drop_rules": _keep_drop_rules,
        # training-side aggregates
        "word_counts": _word_counts,
        "char_trigrams": _char_trigrams,
        "ngram_probs": _ngram_probs,
        "posting_lists": _posting_lists,
        # audio (rows-only; resample/loudness/chunks/mel run CHAINED inside
        # audio_suite — their standalone queries live in extra_queries)
        "audio_features": _audio_features,
        "audio_suite": _audio_suite,
        "audio_signal_rules": _audio_signal_rules,
        "audio_fingerprints": _audio_fingerprints,
        "audio_neardup": _audio_neardup,
        "audio_vad": _audio_vad,
        # round-5 curation operators (oracle-exact)
        "quality_buckets_cutoff": _quality_buckets_cutoff,
        "source_reputation": _source_reputation,
        "winnow_fingerprints": _winnow_fingerprints,
        "dedup_incremental": _dedup_incremental,
        # round-6 scale-path entries (fund: the three relational warm-ups
        # events_sessions / events_json / orders_by_month moved to
        # extra_queries — still bit-exact via tests/test_queries.py like
        # the six r5 warm-ups; the cap policy comment above applies)
        "ann_ivfpq": _ann_ivfpq,                          # rows-only
    }


def _quality_buckets(spark, sf):
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020) per language,
    on the engine-portable rounded stopword ratio (higher = more fluent =
    head, so ascending=False). ntile mode here because the oracle needs the
    exact equal-population semantics; the 100 TB path is mode="cutoff"
    (sketch cutoffs + broadcast, no per-language sort) — see
    operators/corpus.py::quality_buckets and test_quality_buckets_cutoff."""
    from heliport_spark.functions import text as T
    from heliport_spark.operators.corpus import quality_buckets

    d = _t(spark, sf, "documents")
    scored = d.select(
        "doc_id", "lang",
        F.round(T.stopword_ratio(F.col("text")), 6).alias("sw_ratio"),
    )
    return quality_buckets(
        scored, "sw_ratio", ascending=False, mode="ntile"
    ).select("doc_id", "lang", "sw_ratio", "bucket", "bucket_label")


def _quality_buckets_cutoff(spark, sf):
    """The 100 TB bucketing path DRIVER-GATED (VERDICT r5 #2): sketch
    cutoffs (percentile_approx, map-side-combinable KLL summary) broadcast
    back and labeled with a codegen comparison chain — NO per-language
    sort anywhere, so the eng-skew of real web data (half the corpus on
    one NTILE sort partition) cannot exist. Oracle-EXACT here, not just
    rows-only: every language group at sf0.01 fits the sketch's accuracy
    (10k), where percentile_approx is in its exact regime and returns the
    same discrete quantile element as DuckDB's quantile_disc (verified
    bit-for-bit across all groups × both cutoffs); the ntile-vs-cutoff
    agreement ≥0.95 on skewed data stays pinned in
    tests/test_functions.py::test_quality_buckets_cutoff."""
    from heliport_spark.functions import text as T
    from heliport_spark.operators.corpus import quality_buckets

    d = _t(spark, sf, "documents")
    scored = d.select(
        "doc_id", "lang",
        F.round(T.stopword_ratio(F.col("text")), 6).alias("sw_ratio"),
    )
    return quality_buckets(
        scored, "sw_ratio", ascending=False, mode="cutoff"
    ).select("doc_id", "lang", "sw_ratio", "bucket", "bucket_label")


def _source_reputation(spark, sf):
    """Domain-reputation gate (RefinedWeb stage: drop whole low-quality
    domains before per-doc filtering) — sources below a 9/10 Gopher keep
    rate lose ALL their docs, survivors also pass the per-doc rule."""
    from heliport_spark.operators.corpus import source_reputation_filter

    return source_reputation_filter(_t(spark, sf, "documents"))


def _lang_mix(spark, sf):
    """Mixed-language detection (CCNet-style per-segment LID) over a
    deterministic documents subset — rows-only (segment-level langid is the
    HeLI core, not ANSI-SQL-expressible); tie-break determinism and mix
    arithmetic are pinned in tests/test_multilingual.py::test_lang_mix_df."""
    from heliport_spark.operators.quality import lang_mix_df

    d = _t(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    return lang_mix_df(d).select(
        "id", "n_segs", "maj_lang", "maj_segs", "n_langs",
        F.round("lang_mix_ratio", 6).alias("lang_mix_ratio"),
    )


def _audio_denoise(spark, sf):
    """Spectral-subtraction denoise over the clips table — rows-only; SNR
    improvement and noise-floor calibration are pinned in
    tests/test_functions.py::test_spectral_denoise_improves_snr_and_calibration."""
    from heliport_spark.functions.audio import audio_features_df, denoise_audio_df
    from heliport_spark.sources.clips import clips_from_documents

    clips = clips_from_documents(spark, sf, with_golden=False, max_pcm_ms=500)
    clips = clips.filter(F.col("clip_id") < "clip-000000001000")
    dn = denoise_audio_df(clips)
    stats = audio_features_df(
        dn.filter(F.col("bytes_dn").isNotNull())
        .select("clip_id", "sr_hz", "noise_db",
                F.col("bytes_dn").alias("bytes"))
        , codec_col=None
    )
    return stats.groupBy("sr_hz").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.round(F.avg("noise_db"), 2).alias("avg_noise_db"),
        F.round(F.avg("rms"), 4).alias("avg_rms_dn"),
    )


def _audio_fingerprints_incremental(spark, sf):
    """Two-corpus landmark matching (today's crawl vs the curated corpus):
    REFERENCE = 40 corpus clips + the fixture's full broadband recording,
    NEW = its noisy 2 s slice + unrelated background. The planted overlap
    must surface from the cross-corpus capped join at its true (negative)
    offset — rows-only; exactness pinned in
    tests/test_functions.py::test_audio_fingerprint_matches_incremental."""
    from heliport_spark.functions.audio import audio_fingerprints_df
    from heliport_spark.operators.similarity import (
        audio_fingerprint_matches_incremental,
    )
    from heliport_spark.sources.clips import (
        clips_from_documents,
        fingerprint_fixture_clips,
    )

    clips = clips_from_documents(spark, sf, with_golden=False, max_pcm_ms=300)
    fixture = fingerprint_fixture_clips(spark)
    ref = clips.filter(F.col("clip_id") < "clip-000000000040").unionByName(
        fixture.filter(F.col("clip_id") == "clip-000030000000")
    )
    new = fixture.filter(F.col("clip_id") != "clip-000030000000")
    fp_ref = audio_fingerprints_df(ref)
    fp_new = audio_fingerprints_df(new)
    return audio_fingerprint_matches_incremental(fp_new, fp_ref).orderBy(
        "id_a", "id_b"
    )


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Oracle-checked queries OUTSIDE the driver's 50-entry correctness cap
    (VERDICT r04 #2). These six SQL warm-ups duplicate plan shapes already
    covered by registered queries (q1/revenue_rollup = hash-agg and rollup
    over lineitem, q3/region_revenue = the multi-way broadcast join chain,
    customer_set_ops = set ops over the same join, parts_never_ordered =
    the anti-join that dedup_materialize/curate_corpus exercise at scale),
    so the driver slots go to real operators instead; tests/test_queries.py
    still verifies all six bit-exactly against extra_oracle_sql(), and
    bench.py still times the union. The four standalone audio-prep queries
    run chained inside the registered `audio_suite` entry; their isolated
    forms stay here for bench continuity + pytest."""
    return {
        "quality_buckets": _quality_buckets,
        "decontaminate": _decontaminate,
        "winnow_shared_spans": _winnow_shared_spans,
        "remove_shared_spans": _remove_shared_spans,
        "dsir_resample": _dsir_resample,
        "boilerplate_paragraphs": _boilerplate_paragraphs,
        "q1_pricing_summary": _q1_pricing_summary,
        "q3_top_orders": _q3_top_orders,
        "region_revenue": _region_revenue,
        "revenue_rollup": _revenue_rollup,
        "customer_set_ops": _customer_set_ops,
        "parts_never_ordered": _parts_never_ordered,
        "events_sessions": _events_sessions,
        "events_json": _events_json,
        "orders_by_month": _orders_by_month,
        "audio_mel": _audio_mel,
        "audio_loudness": _audio_loudness,
        "audio_chunks": _audio_chunks,
        "audio_resample": _audio_resample,
        "lang_mix": _lang_mix,
        "audio_denoise": _audio_denoise,
        "audio_fingerprints_incremental": _audio_fingerprints_incremental,
        "c4_rules": _c4_rules,
    }


# -------------------------------------------------------------------- oracles

def _minhash_sig_cte() -> str:
    """Shared DuckDB CTE chain documents → per-doc (band, sig) MinHash band
    signatures (mirrors dedup._minhash_wide + _band_sigs bit-exactly);
    ends at the ``sig`` CTE so both the self-join (dedup_minhash_lsh) and
    the two-corpus (dedup_incremental) oracles build on it."""
    from heliport_spark.operators.dedup import (
        LSH_BANDS,
        MERSENNE_P,
        MINHASH_PARAMS,
    )

    rows_per_band = len(MINHASH_PARAMS) // LSH_BANDS
    params = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_PARAMS))
    return f"""
WITH docs AS (
  SELECT doc_id AS id,
         lower(regexp_replace(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+', ' ', 'g')) AS norm
  FROM documents
),
sh0 AS (
  SELECT id, substr(norm, i::INT, 5) AS sh
  FROM (SELECT id, norm,
               unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i
        FROM docs)
),
sh AS (SELECT DISTINCT id, sh FROM sh0),
hh AS (
  SELECT id, (('0x' || substr(md5(sh), 1, 15))::BIGINT) % {MERSENNE_P} AS h
  FROM sh
),
params(i, a, b) AS (VALUES {params}),
mh AS (
  SELECT id, p.i AS i, min((p.a * h + p.b) % {MERSENNE_P}) AS mh
  FROM hh, params p GROUP BY id, p.i
),
sig AS (
  SELECT id, (i // {rows_per_band}) AS band,
         string_agg(mh::VARCHAR, ',' ORDER BY i) AS sig
  FROM mh GROUP BY id, (i // {rows_per_band})
)"""


def _winnow_cte_sql() -> str:
    from heliport_spark.operators.dedup import winnow_sql_cte

    return winnow_sql_cte()


# winnow_shared_spans entry thresholds — ONE copy generates both engines
WSS_MIN_SHARED = 12
WSS_MIN_FPS = 6


def _winnow_spans_cte() -> str:
    """Shared CTE chain for the two winnow-span oracles (spans +
    remove_shared_spans), ending in ``sp(id_a, id_b, a_off, b_off,
    span_len, n_fps)`` at the driver-entry thresholds: the wf CTE, the
    capped overlap-pair list (the same first-K + representative-link
    semantics as _minhash_sql_parts), then the delta-vote segmentation —
    lag/running-sum windows per (pair, delta), split at gaps > w."""
    from heliport_spark.operators.dedup import (
        MAX_BUCKET,
        WINNOW_K,
        WINNOW_W,
        winnow_sql_cte,
    )

    return "WITH " + winnow_sql_cte() + f""",
fpd AS (SELECT DISTINCT id, fp FROM wf),
fpk AS (SELECT id, fp,
               row_number() OVER (PARTITION BY fp ORDER BY id) AS rk,
               min(id) OVER (PARTITION BY fp) AS rep
        FROM fpd),
cl AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.id < b.id
  WHERE a.rk <= {MAX_BUCKET} AND b.rk <= {MAX_BUCKET}
  UNION ALL
  SELECT rep AS id_a, id AS id_b FROM fpk WHERE rk > {MAX_BUCKET}
),
prs AS (SELECT id_a, id_b FROM cl GROUP BY id_a, id_b
        HAVING count(*) >= {WSS_MIN_SHARED}),
mt AS (SELECT p.id_a, p.id_b, a.pos AS a_pos, b.pos AS b_pos,
              a.pos - b.pos AS delta
       FROM prs p
       JOIN wf a ON a.id = p.id_a
       JOIN wf b ON b.id = p.id_b AND b.fp = a.fp),
sg AS (SELECT *,
              CASE WHEN lag(a_pos) OVER
                     (PARTITION BY id_a, id_b, delta ORDER BY a_pos)
                   IS NULL
                   OR a_pos - lag(a_pos) OVER
                     (PARTITION BY id_a, id_b, delta ORDER BY a_pos)
                   > {WINNOW_W} THEN 1 ELSE 0 END AS brk
       FROM mt),
sg2 AS (SELECT *,
               sum(brk) OVER (PARTITION BY id_a, id_b, delta
                              ORDER BY a_pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS seg
        FROM sg),
sp AS (SELECT id_a, id_b, min(a_pos) AS a_off, min(b_pos) AS b_off,
              (max(a_pos) - min(a_pos) + {WINNOW_K})::BIGINT AS span_len,
              count(*) AS n_fps
       FROM sg2 GROUP BY id_a, id_b, delta, seg
       HAVING count(*) >= {WSS_MIN_FPS})"""


def _winnow_spans_sql() -> str:
    return _winnow_spans_cte() + """
SELECT id_a, id_b, a_off, b_off, span_len, n_fps FROM sp"""


def _remove_spans_sql() -> str:
    """DuckDB twin of dedup.remove_shared_spans over the driver-entry
    spans: interval merge via the classic running-max window trick, kept
    gaps via one lag window, ordered string_agg reassembly + tail, left
    join restoring span-free docs with their normalized text."""
    return _winnow_spans_cte() + """,
iv AS (SELECT DISTINCT id_b AS id, b_off AS off, b_off + span_len AS e
       FROM sp),
gi AS (SELECT id, off, e,
              max(e) OVER (PARTITION BY id ORDER BY off, e
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS run_end
       FROM iv),
gi2 AS (SELECT *,
               sum(CASE WHEN run_end IS NULL OR off > run_end
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY id ORDER BY off, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS grp
        FROM gi),
mg AS (SELECT id, grp, min(off) AS m_off, max(e) AS m_end
       FROM gi2 GROUP BY id, grp),
gp AS (SELECT *, coalesce(lag(m_end) OVER (PARTITION BY id
                                           ORDER BY m_off), 1) AS seg_start
       FROM mg),
pid AS (SELECT gp.id,
               string_agg(substr(n.norm, seg_start::INT,
                                 (m_off - seg_start)::INT),
                          '' ORDER BY m_off) AS mid,
               max(m_end) AS tail_start,
               count(*)::BIGINT AS n_spans,
               sum(m_end - m_off)::BIGINT AS chars_removed
        FROM gp JOIN nrm n ON n.id = gp.id GROUP BY gp.id)
SELECT n.id AS doc_id,
       CASE WHEN p.id IS NULL THEN n.norm
            ELSE p.mid || substr(n.norm, p.tail_start::INT,
                                 len(n.norm) - p.tail_start::INT + 1)
       END AS text_clean,
       coalesce(p.n_spans, 0)::BIGINT AS n_spans,
       coalesce(p.chars_removed, 0)::BIGINT AS chars_removed
FROM nrm n LEFT JOIN pid p ON p.id = n.id"""


def _dsir_sql() -> str:
    """DuckDB twin of corpus.dsir_resample at the entry defaults: word
    bigrams → 60-bit-md5 buckets, target flag = the gopher_rules oracle's
    keep predicate, Laplace-smoothed per-bucket log-ratio (rounded 10 dp),
    per-doc sum (6 dp), seeded Gumbel key, top-DSIR_N by (key, doc_id)."""
    from heliport_spark.operators.corpus import (
        DSIR_ALPHA,
        DSIR_BUCKETS,
        DSIR_GUMBEL_M,
        DSIR_SEED,
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_STOPWORD_HITS,
        GOPHER_MIN_WORDS,
    )
    from heliport_spark.functions.text import STOPWORDS

    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    B, A, M = DSIR_BUCKETS, DSIR_ALPHA, DSIR_GUMBEL_M
    stripped = "regexp_replace(text, '^\\s+|\\s+$', '', 'g')"
    return f"""
WITH tok AS (SELECT doc_id, string_split_regex({stripped}, '\\s+') AS toks
             FROM documents),
g AS (SELECT doc_id, toks[i::INT] || ' ' || toks[(i + 1)::INT] AS gram
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM tok WHERE len(toks) >= 2)),
met AS (SELECT doc_id,
               CASE WHEN {stripped} = '' THEN 0
                    ELSE len(string_split_regex({stripped}, '\\s+')) END AS nw,
               CASE WHEN {stripped} = '' THEN 0.0
                    ELSE length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                         / len(string_split_regex({stripped}, '\\s+')) END AS mwl,
               CASE WHEN {stripped} = '' THEN 0 ELSE
                 len(list_filter(string_split_regex(lower({stripped}), '\\s+'),
                                 x -> list_contains([{stop_list}], x))) END AS sh
        FROM documents),
tgtf AS (SELECT doc_id,
                CASE WHEN nw BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                     AND mwl BETWEEN {GOPHER_MIN_MEAN_WORD_LEN}
                                 AND {GOPHER_MAX_MEAN_WORD_LEN}
                     AND sh >= {GOPHER_MIN_STOPWORD_HITS}
                     THEN 1 ELSE 0 END AS tgt
         FROM met),
bkt AS (SELECT g.doc_id,
               ('0x' || substr(md5(gram), 1, 15))::BIGINT % {B} AS bk, tgt
        FROM g JOIN tgtf ON tgtf.doc_id = g.doc_id),
bc AS (SELECT bk, count(*) AS rc, sum(tgt) AS tc FROM bkt GROUP BY bk),
tot AS (SELECT sum(rc) AS rt, sum(tc) AS tt FROM bc),
lr AS (SELECT bk, round(ln((tc + {A}) / (tt + {A} * {B}))
                        - ln((rc + {A}) / (rt + {A} * {B})), 10) AS lrat
       FROM bc, tot),
sc AS (SELECT bkt.doc_id, round(sum(lrat), 6) AS dsir_score
       FROM bkt JOIN lr USING (bk) GROUP BY bkt.doc_id),
al AS (SELECT d.doc_id, coalesce(sc.dsir_score, 0.0) AS dsir_score
       FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id),
ky AS (SELECT doc_id, dsir_score,
              round(dsir_score - ln(-ln(
                ((('0x' || substr(md5('{DSIR_SEED}#' || doc_id::VARCHAR), 1, 15))::BIGINT
                  % {M}) + 0.5) / {M}.0)), 6) AS k
       FROM al)
SELECT doc_id, dsir_score FROM ky ORDER BY k DESC, doc_id LIMIT {DSIR_N}"""


def _minhash_sql_parts() -> str:
    from heliport_spark.operators.dedup import MAX_BUCKET

    # `cands` mirrors dedup.capped_bucket_pairs bit-exactly: first-K-by-id
    # members of each (band, sig) bucket pair exhaustively, overflow members
    # link only to the bucket representative (min id) — see dedup.MAX_BUCKET
    return _minhash_sig_cte() + f""",
sigk AS (
  SELECT id, band, sig,
         row_number() OVER (PARTITION BY band, sig ORDER BY id) AS rk,
         min(id) OVER (PARTITION BY band, sig) AS rep
  FROM sig
),
cands AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT a.id AS id_a, b.id AS id_b
    FROM sigk a JOIN sigk b
      ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
    WHERE a.rk <= {MAX_BUCKET} AND b.rk <= {MAX_BUCKET}
    UNION ALL
    SELECT rep AS id_a, id AS id_b FROM sigk WHERE rk > {MAX_BUCKET}
  )
)"""


# Same-operator SECOND MODES parked outside the driver's 50-entry
# correctness cap to fund new operator entries (curate_clips,
# quality_classifier): their scale-mode twins stay registered
# (quality_buckets_cutoff, decontaminate_bloom) and tests/test_queries.py
# still checks the demoted pair bit-exactly via extra_queries().
_DEMOTED = ("quality_buckets", "decontaminate")


def oracle_sql() -> dict[str, str]:
    full = _oracle_sql_full()
    return {k: v for k, v in full.items() if k not in _DEMOTED}


def _oracle_sql_full() -> dict[str, str]:
    from heliport_spark.functions.scrub import scrub_sql
    from heliport_spark.functions.text import STOPWORDS

    _, spans_sql = scrub_sql("text")
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    from heliport_spark.functions.text import fingerprint_sql

    fp_sql = fingerprint_sql("text")

    from heliport_spark.operators.dedup import (
        SIMHASH_BANDS,
        SIMHASH_BITS,
        simhash_sql_cte,
    )

    _simhash_cte = simhash_sql_cte()
    import math as _math

    from heliport_spark.operators.dedup import MINHASH_PARAMS as _MHP

    from heliport_spark.operators.dedup import MERSENNE_P as _MH_P

    _mh_H = len(_MHP)
    _mh_min_match = _math.ceil(0.5 * _mh_H)
    _sh_bands = SIMHASH_BANDS
    _sh_rows = SIMHASH_BITS // SIMHASH_BANDS
    _sh_mask = (1 << _sh_rows) - 1
    from heliport_spark.operators.dedup import MAX_BUCKET as _MAXB

    # shared banded-candidate block (mirrors dedup.capped_bucket_pairs:
    # first-K-by-id bucket members pair exhaustively, overflow members link
    # to the bucket representative only), ending in the Hamming-verified
    # pair CTE `p`
    _sh_cand_cte = f""",
bk AS (
  SELECT id, g.b AS band,
         (simhash >> (g.b * {_sh_rows})::INT) & {_sh_mask} AS key
  FROM sig, generate_series(0, {_sh_bands - 1}) AS g(b)
),
bkr AS (
  SELECT id, band, key,
         row_number() OVER (PARTITION BY band, key ORDER BY id) AS rk,
         min(id) OVER (PARTITION BY band, key) AS rep
  FROM bk
),
candp AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT a.id AS id_a, b.id AS id_b
    FROM bkr a JOIN bkr b ON a.band = b.band AND a.key = b.key AND a.id < b.id
    WHERE a.rk <= {_MAXB} AND b.rk <= {_MAXB}
    UNION ALL
    SELECT rep AS id_a, id AS id_b FROM bkr WHERE rk > {_MAXB}
  )
),
p AS (
  SELECT c.id_a, c.id_b,
         bit_count(xor(sa.simhash, sb.simhash))::INT AS hamming
  FROM candp c JOIN sig sa ON sa.id = c.id_a JOIN sig sb ON sb.id = c.id_b
  WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {_sh_bands - 1}
)"""
    # shared CTE chain for the connected-component queries: simhash sig →
    # capped banded candidate pairs p → undirected edges e →
    # min-reachable-label walk (recursive)
    _walk_sql = """,
e AS (SELECT id_a AS src, id_b AS dst FROM p
      UNION SELECT id_b, id_a FROM p),
walk(id, lab) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.dst, w.lab FROM walk w JOIN e ON e.src = w.id
)"""
    _sh_component_cte = _simhash_cte.replace(
        "\nWITH ", "\nWITH RECURSIVE ", 1
    ) + _sh_cand_cte + _walk_sql
    from heliport_spark.operators.dedup import simhash_sql_cte as _sh_cte_fn

    from heliport_spark.operators.corpus import (
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_STOPWORD_HITS,
        GOPHER_MIN_WORDS,
    )

    _g = dict(
        minw=GOPHER_MIN_WORDS, maxw=GOPHER_MAX_WORDS,
        minl=GOPHER_MIN_MEAN_WORD_LEN, maxl=GOPHER_MAX_MEAN_WORD_LEN,
        minsh=GOPHER_MIN_STOPWORD_HITS,
    )
    # curate_corpus twin: the SAME component chain, but over the source-gate
    # + exact-dedup survivors (stages 0a/0b — srck/goodsrc/repdocs then
    # fdup/exd CTEs injected ahead of the simhash block; the keep expression
    # is the same Gopher predicate source_reputation's oracle uses, and
    # fp_sql is the same shared fingerprint dedup_exact's oracle uses)
    _sh_component_cte_exd = _sh_cte_fn(src="exd").replace(
        "\nWITH ",
        f"""\nWITH RECURSIVE srck AS (
  SELECT doc_id, source,
         CASE WHEN (CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0
                    ELSE len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END)
              BETWEEN {_g["minw"]} AND {_g["maxw"]}
              AND (CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0.0
                   ELSE length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                        / len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END)
              BETWEEN {_g["minl"]} AND {_g["maxl"]}
              AND (CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0 ELSE
                   len(list_filter(string_split_regex(lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')), '\\s+'),
                                   x -> list_contains([{stop_list}], x))) END)
              >= {_g["minsh"]} THEN 1 ELSE 0 END AS keep
  FROM documents
),
goodsrc AS (SELECT source FROM srck GROUP BY source
            HAVING sum(keep) * 10 >= count(*) * 9),
repdocs AS (SELECT d.* FROM documents d JOIN goodsrc USING (source)),
fdup AS (SELECT doc_id, {fp_sql} AS fp FROM repdocs),
exd AS (SELECT * FROM repdocs WHERE doc_id IN
        (SELECT min(doc_id) FROM fdup GROUP BY fp)),
""",
        1,
    ) + _sh_cand_cte + _walk_sql

    # word-n-gram CTE for decontaminate (mirrors boilerplate_spans' shape)
    _gramn = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+') AS toks FROM documents
),
g AS (
  SELECT doc_id,
         array_to_string(list_slice(toks, i::INT, i::INT + {DECON_N - 1}), ' ') AS gram
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks) - {DECON_N - 1}, 0))) AS i
        FROM w)
),
d AS (SELECT DISTINCT doc_id, gram FROM g)"""

    return {
        "doc_quality": f"""
SELECT doc_id,
       length(text) AS len_chars,
       CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0
            ELSE len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS n_tokens,
       round(CASE WHEN length(text) > 0
             THEN len(regexp_extract_all(text, '[0-9]'))::DOUBLE / length(text)
             ELSE 0 END, 6) AS digit_ratio,
       round(CASE WHEN length(text) > 0
             THEN len(regexp_extract_all(text, '\\p{{L}}'))::DOUBLE / length(text)
             ELSE 0 END, 6) AS alpha_ratio,
       round(CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0 ELSE
         len(list_filter(string_split_regex(lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')), '\\s+'),
                         x -> list_contains([{stop_list}], x)))::DOUBLE
         / len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END, 6) AS stopword_ratio,
       {fp_sql} AS fp
FROM documents""",
        "word_counts": """
SELECT w AS gram, count(*) AS cnt
FROM (SELECT unnest(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) AS w FROM documents
      WHERE regexp_replace(text, '^\\s+|\\s+$', '', 'g') <> '')
GROUP BY w ORDER BY cnt DESC, gram LIMIT 100""",
        "char_trigrams": """
WITH words AS (
  SELECT ' ' || unnest(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) || ' ' AS pw
  FROM documents WHERE regexp_replace(text, '^\\s+|\\s+$', '', 'g') <> ''
),
idx AS (SELECT pw, unnest(generate_series(1, length(pw) - 2)) AS i FROM words)
SELECT substr(pw, i::INT, 3) AS gram, count(*) AS cnt
FROM idx GROUP BY gram ORDER BY cnt DESC, gram LIMIT 100""",
        "ngram_probs": """
WITH wc AS (
  SELECT lang, w AS gram, count(*) AS cnt
  FROM (SELECT lang, unnest(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) AS w
        FROM documents WHERE regexp_replace(text, '^\\s+|\\s+$', '', 'g') <> '')
  GROUP BY lang, w
),
tot AS (SELECT *, sum(cnt) OVER (PARTITION BY lang) AS total FROM wc),
ret AS (SELECT lang, gram, cnt FROM tot WHERE cnt::DOUBLE / total > 0.0000005),
la AS (SELECT *, sum(cnt) OVER (PARTITION BY lang) AS langamount FROM ret)
SELECT lang, gram, cnt, round(-log10(cnt::DOUBLE / langamount), 6) AS prob
FROM la""",
        "posting_lists": """
WITH lg AS (
  SELECT DISTINCT lang, w AS gram
  FROM (SELECT lang, unnest(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) AS w
        FROM documents WHERE regexp_replace(text, '^\\s+|\\s+$', '', 'g') <> '')
)
SELECT gram, count(DISTINCT lang) AS n_langs,
       string_agg(lang, ',' ORDER BY lang) AS langs_csv
FROM lg GROUP BY gram HAVING count(DISTINCT lang) > 1""",
        "scrub_stats": f"""
WITH s AS (SELECT source, {spans_sql} AS spans FROM documents)
SELECT source, count(*) AS n_docs, sum(spans)::BIGINT AS total_spans,
       sum(CASE WHEN spans > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_with_pii
FROM s GROUP BY source""",
        "keep_drop_rules": """
WITH q AS (
  SELECT source,
         CASE WHEN length(text) BETWEEN 2 AND 20000
              AND (CASE WHEN length(text) > 0 THEN
                   len(regexp_extract_all(text, '[0-9]'))::DOUBLE / length(text)
                   ELSE 0 END) <= 0.3
              AND (CASE WHEN length(text) > 0 THEN
                   len(regexp_extract_all(text, '\\p{L}'))::DOUBLE / length(text)
                   ELSE 0 END) >= 0.4
         THEN 1 ELSE 0 END AS keep
  FROM documents
)
SELECT source, count(*) AS n_docs, sum(keep)::BIGINT AS n_keep FROM q GROUP BY source""",
        "dedup_exact": f"""
WITH f AS (SELECT doc_id, {fp_sql} AS fp FROM documents),
g AS (SELECT doc_id, fp,
             count(*) OVER (PARTITION BY fp) AS dup_count,
             min(doc_id) OVER (PARTITION BY fp) AS keeper
      FROM f)
SELECT doc_id, fp, dup_count FROM g WHERE doc_id = keeper""",
        "dedup_minhash_lsh": _minhash_sql_parts() + """
SELECT id_a, id_b FROM cands""",
        # winnowing: window-min over packed (hash<<20 | inverted-pos) keys —
        # see dedup.winnow_sql_cte for the shared generator
        "winnow_fingerprints": "WITH " + _winnow_cte_sql() + """
SELECT id AS doc_id, pos, fp FROM wf""",
        # incremental dedup: hit = the new doc's (band, sig) appears in the
        # reference split — membership only, so the oracle needs no cap
        # mirroring (the Spark side joins one representative per bucket,
        # which is the same hit/no-hit decision)
        "dedup_incremental": _minhash_sig_cte() + f""",
refsig AS (SELECT DISTINCT band, sig FROM sig WHERE id % {INC_MOD} = 0),
hits AS (SELECT DISTINCT s.id FROM sig s
         JOIN refsig r USING (band, sig) WHERE s.id % {INC_MOD} <> 0)
SELECT d.doc_id, d.lang, d.source FROM documents d
WHERE d.doc_id % {INC_MOD} <> 0
  AND d.doc_id NOT IN (SELECT id FROM hits)""",
        # candidates from the cheap affine banding (capped `cands` CTE),
        # estimate from per-function SALTED md5 signatures (smh) — see
        # dedup.py::_minhash_wide_salted for the min-wise-independence bias
        # the salt removes
        "dedup_minhash_estimate": _minhash_sql_parts() + f""",
smh AS (
  SELECT id, g.i AS i,
         min((('0x' || substr(md5(g.i::VARCHAR || '|' || sh), 1, 15))::BIGINT)
             % {_MH_P}) AS mh
  FROM sh, generate_series(0, {_mh_H - 1}) AS g(i)
  GROUP BY id, g.i
),
m AS (
  SELECT c.id_a, c.id_b, sum((ma.mh = mb.mh)::INT) AS matches
  FROM cands c
  JOIN smh ma ON ma.id = c.id_a
  JOIN smh mb ON mb.id = c.id_b AND mb.i = ma.i
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, round(matches::DOUBLE / {_mh_H}, 4) AS est_jaccard
FROM m WHERE matches >= {_mh_min_match}""",
        "dedup_ngram_jaccard": _minhash_sql_parts() + """,
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT c.id_a, c.id_b,
       round(i::DOUBLE / (sa.sz + sb.sz - i), 4) AS jaccard
FROM cands c JOIN inter ON c.id_a = inter.id_a AND c.id_b = inter.id_b
JOIN sizes sa ON c.id_a = sa.id JOIN sizes sb ON c.id_b = sb.id
WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), 4) >= 0.3""",
        "simhash": _simhash_cte + "\nSELECT id, simhash FROM sig",
        "simhash_pairs": _simhash_cte + _sh_cand_cte + """
SELECT id_a, id_b, hamming FROM p""",
        # connected components over the simhash near-dup pairs — recursive
        # CTE twin of dedup.py::dup_clusters (label = min id in component);
        # ONE shared graph block generates both cluster queries (CLAUDE.md:
        # shared constants generate both sides)
        "dedup_clusters": _sh_component_cte + """
SELECT id, min(lab) AS cluster_id,
       (id = min(lab))::INT AS is_canonical
FROM walk GROUP BY id""",
        "dedup_materialize": _sh_component_cte + """,
losers AS (SELECT id FROM walk GROUP BY id HAVING id <> min(lab))
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT id FROM losers)""",
        "ann_bruteforce": """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
px AS (SELECT query_id, neighbor_id,
              unnest(qv)::DOUBLE AS qe, unnest(cv)::DOUBLE AS ce
       FROM q, c WHERE neighbor_id <> query_id),
s AS (SELECT query_id, neighbor_id,
        round(sum(qe * ce) / (sqrt(sum(qe * qe)) * sqrt(sum(ce * ce))), 4) AS sim
      FROM px GROUP BY query_id, neighbor_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rk FROM s)
SELECT query_id, neighbor_id, sim FROM r WHERE rk <= 5""",
        "boilerplate_spans": f"""
WITH w AS (
  SELECT doc_id, string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+') AS toks FROM documents
),
g AS (
  SELECT doc_id, array_to_string(list_slice(toks, i::INT, i::INT + {BOILERPLATE_N - 1}), ' ') AS gram
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks) - {BOILERPLATE_N - 1}, 0))) AS i
        FROM w)
),
d AS (SELECT DISTINCT doc_id, gram FROM g)
SELECT gram, count(*) AS n_docs FROM d GROUP BY gram HAVING count(*) >= 2
ORDER BY n_docs DESC, gram LIMIT 100""",
        "corpus_stats": """
WITH l AS (
  SELECT source, length(text) AS len,
         CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0
              ELSE len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS toks
  FROM documents
)
SELECT source, count(*) AS n_docs,
       round(quantile_cont(len, 0.5), 4) AS p50_len,
       round(quantile_cont(len, 0.95), 4) AS p95_len,
       round(avg(len), 4) AS avg_len,
       round(avg(toks), 4) AS avg_tokens
FROM l GROUP BY source""",
        "deterministic_split": """
WITH s AS (
  SELECT source,
         CASE
           WHEN h < 8 THEN 'train'
           WHEN h < 9 THEN 'val'
           ELSE 'test'
         END AS split
  FROM (SELECT source,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10 AS h
        FROM documents)
)
SELECT source, split, count(*) AS n_docs FROM s GROUP BY source, split""",
        "gopher_rules": f"""
WITH m AS (
  SELECT source,
         CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0
              ELSE len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS nw,
         CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0.0
              ELSE length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                   / len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS mwl,
         CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0 ELSE
           len(list_filter(string_split_regex(lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')), '\\s+'),
                           x -> list_contains([{stop_list}], x))) END AS sh
  FROM documents
)
SELECT source, count(*) AS n_docs,
       sum(CASE WHEN nw BETWEEN {_g["minw"]} AND {_g["maxw"]}
                AND mwl BETWEEN {_g["minl"]} AND {_g["maxl"]}
                AND sh >= {_g["minsh"]} THEN 1 ELSE 0 END)::BIGINT AS n_keep,
       round(avg(nw), 4) AS avg_words,
       round(avg(mwl), 4) AS avg_word_len
FROM m GROUP BY source""",
        "decontaminate": _gramn + f""",
bench AS (SELECT DISTINCT gram FROM d WHERE doc_id % {DECON_MOD} = 0),
corp AS (SELECT doc_id, gram FROM d WHERE doc_id % {DECON_MOD} <> 0)
SELECT corp.doc_id AS id, count(*) AS n_shared
FROM corp JOIN bench USING (gram) GROUP BY corp.doc_id""",
        # Bloom decontamination oracle = the EXACT bit-membership semantics
        # (position-set join): a corpus gram is "maybe shared" iff all
        # BLOOM_K salted-md5 positions are set by some benchmark gram. At
        # m=2^20 vs ~15k bench grams the filter has no false positives on
        # this fixture, so this matches the Spark bitmap probe bit-exactly;
        # the FP direction is pinned separately in tests (saturated filter).
        "decontaminate_bloom": _gramn + f""",
bench AS (SELECT DISTINCT gram FROM d WHERE doc_id % {DECON_MOD} = 0),
corp AS (SELECT DISTINCT doc_id, gram FROM d WHERE doc_id % {DECON_MOD} <> 0),
hs(j) AS (VALUES {", ".join(f"('{j}')" for j in range(BLOOM_K))}),
bpos AS (SELECT DISTINCT
           ('0x' || substr(md5(j || '#' || gram), 1, 15))::BIGINT % {BLOOM_M_BITS} AS pos
         FROM bench CROSS JOIN hs),
cpos AS (SELECT doc_id, gram,
           ('0x' || substr(md5(j || '#' || gram), 1, 15))::BIGINT % {BLOOM_M_BITS} AS pos
         FROM corp CROSS JOIN hs),
hit AS (SELECT doc_id, gram FROM cpos JOIN bpos USING (pos)
        GROUP BY doc_id, gram HAVING count(*) = {BLOOM_K})
SELECT doc_id AS id, count(*) AS n_maybe_shared FROM hit GROUP BY doc_id""",
        "boilerplate_lines": f"""
WITH w AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
l AS (SELECT doc_id, i, toks[i::INT] AS line
      FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM w)),
hot AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS nd
                          FROM l GROUP BY line) t
        WHERE nd >= {BOILER_MIN_DOCS}),
m AS (SELECT l.doc_id, l.i, l.line, (hot.line IS NOT NULL) AS boiler
      FROM l LEFT JOIN hot ON l.line = hot.line)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN NOT boiler THEN line END, ' ' ORDER BY i),
                '') AS text_clean,
       count(*) AS n_lines,
       sum(CASE WHEN boiler THEN 1 ELSE 0 END)::BIGINT AS n_removed
FROM m GROUP BY doc_id""",
        "pack_sequences": f"""
WITH t AS (
  SELECT source, doc_id,
         (CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0
               ELSE len(string_split_regex(
                        regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'))
          END)::BIGINT AS n_tokens
  FROM documents
),
c AS (
  SELECT source, doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM t
)
SELECT source, doc_id, n_tokens,
       (cum_before // {PACK_SEQ_LEN})::BIGINT AS seq_id,
       (cum_before % {PACK_SEQ_LEN})::BIGINT AS seq_off
FROM c""",
        "quota_sample": """
WITH r AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT,
                    doc_id) AS rk
  FROM documents
)
SELECT source, doc_id FROM r WHERE rk <= 5""",
        "temperature_resample": _temperature_resample_sql(),
        # end-to-end curation: the SAME graph block (walk), decon gram CTEs,
        # gopher predicate, and temperature-resample CTEs the standalone
        # oracles use, chained. CTE names chosen to avoid the temperature
        # block's rows_/c/cw/t/r.
        "curate_corpus": _sh_component_cte_exd + f""",
losers AS (SELECT id FROM walk GROUP BY id HAVING id <> min(lab)),
surv AS (SELECT * FROM exd
         WHERE doc_id NOT IN (SELECT id FROM losers)),
svb AS (SELECT * FROM surv WHERE doc_id % {DECON_MOD} = 0),
svc AS (SELECT * FROM surv WHERE doc_id % {DECON_MOD} <> 0),
dtk AS (SELECT doc_id, string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+') AS toks FROM svc),
dgr AS (SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, i::INT, i::INT + {DECON_N - 1}), ' ') AS gram
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, greatest(len(toks) - {DECON_N - 1}, 0))) AS i
              FROM dtk)),
btk AS (SELECT doc_id, string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+') AS toks FROM svb),
bgr AS (SELECT DISTINCT
               array_to_string(list_slice(toks, i::INT, i::INT + {DECON_N - 1}), ' ') AS gram
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, greatest(len(toks) - {DECON_N - 1}, 0))) AS i
              FROM btk)),
cont AS (SELECT DISTINCT dgr.doc_id FROM dgr JOIN bgr USING (gram)),
clean AS (
  SELECT * FROM svc
  WHERE doc_id NOT IN (SELECT doc_id FROM cont)
    AND (CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0
              ELSE len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END)
        BETWEEN {_g["minw"]} AND {_g["maxw"]}
    AND (CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0.0
              ELSE length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                   / len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END)
        BETWEEN {_g["minl"]} AND {_g["maxl"]}
    AND (CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0 ELSE
           len(list_filter(string_split_regex(lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')), '\\s+'),
                           x -> list_contains([{stop_list}], x))) END)
        >= {_g["minsh"]}
)""" + _temperature_resample_sql(src="clean", with_kw=",", as_cte="kept") + f""",
scored AS (
  SELECT c.doc_id, c.lang,
         round(CASE WHEN regexp_replace(c.text, '^\\s+|\\s+$', '', 'g') = '' THEN 0 ELSE
           len(list_filter(string_split_regex(lower(regexp_replace(c.text, '^\\s+|\\s+$', '', 'g')), '\\s+'),
                           x -> list_contains([{stop_list}], x)))::DOUBLE
           / len(string_split_regex(regexp_replace(c.text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END, 6) AS sw_ratio
  FROM clean c JOIN kept USING (doc_id)
),
qbk AS (
  SELECT doc_id, lang, sw_ratio,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY sw_ratio DESC, doc_id) AS bucket
  FROM scored
)
SELECT lang, doc_id, sw_ratio, bucket,
       CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket_label
FROM qbk""",
        "token_budget_sample": f"""
WITH t AS (
  SELECT source, doc_id,
         (CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0
               ELSE len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END)::BIGINT AS n_tokens,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM documents
),
r AS (
  SELECT source, doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM t
)
SELECT source, doc_id, n_tokens FROM r WHERE cum_before < {TOKEN_BUDGET}""",
        "doc_ngram_repetition": f"""
WITH w AS (
  SELECT doc_id, string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+') AS toks FROM documents
),
g AS (
  SELECT doc_id,
         array_to_string(list_slice(toks, i::INT, i::INT + {REP_N - 1}), ' ') AS gram
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks) - {REP_N - 1}, 0))) AS i
        FROM w)
),
c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
r AS (SELECT doc_id, sum(c) AS total,
             sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
      FROM c GROUP BY doc_id)
SELECT d.doc_id,
       round(coalesce(dup::DOUBLE / total, 0), 6) AS dup_ngram_frac,
       coalesce(total, 0)::BIGINT AS n_grams
FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id""",
        "embedding_neardup": """
WITH px AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   unnest(a.embedding)::DOUBLE AS ae,
                   unnest(b.embedding)::DOUBLE AS be
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
s AS (SELECT id_a, id_b,
        round(sum(ae * be) / (sqrt(sum(ae * ae)) * sqrt(sum(be * be))), 4) AS sim
      FROM px GROUP BY id_a, id_b)
SELECT id_a, id_b, sim FROM s WHERE sim >= 0.4""",
        # the exact stopword_ratio expression doc_quality's oracle uses
        # (same STOPWORDS constant generates both engines)
        "quality_buckets": f"""
WITH s AS (
  SELECT doc_id, lang,
         round(CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0 ELSE
           len(list_filter(string_split_regex(lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')), '\\s+'),
                           x -> list_contains([{stop_list}], x)))::DOUBLE
           / len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END, 6) AS sw_ratio
  FROM documents
),
b AS (
  SELECT doc_id, lang, sw_ratio,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY sw_ratio DESC, doc_id) AS bucket
  FROM s
)
SELECT doc_id, lang, sw_ratio, bucket,
       CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket_label
FROM b""",
        # cutoff-mode twin: quantile_disc == percentile_approx's exact
        # regime (groups fit the 10k sketch); same scored CTE, the bucket
        # is the same >-comparison chain the Spark side codegens. The
        # negated key mirrors ascending=False (sgn = -1.0) bit-for-bit.
        "quality_buckets_cutoff": f"""
WITH s AS (
  SELECT doc_id, lang,
         round(CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0 ELSE
           len(list_filter(string_split_regex(lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')), '\\s+'),
                           x -> list_contains([{stop_list}], x)))::DOUBLE
           / len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END, 6) AS sw_ratio
  FROM documents
),
c AS (
  SELECT lang,
         quantile_disc(-sw_ratio, 1.0/3) AS c1,
         quantile_disc(-sw_ratio, 2.0/3) AS c2
  FROM s GROUP BY lang
)
SELECT s.doc_id, s.lang, s.sw_ratio,
       (1 + CASE WHEN -s.sw_ratio > c.c1 THEN 1 ELSE 0 END
          + CASE WHEN -s.sw_ratio > c.c2 THEN 1 ELSE 0 END) AS bucket,
       CASE (1 + CASE WHEN -s.sw_ratio > c.c1 THEN 1 ELSE 0 END
               + CASE WHEN -s.sw_ratio > c.c2 THEN 1 ELSE 0 END)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket_label
FROM s JOIN c USING (lang)""",
        # same per-doc metric + keep expressions gopher_rules' oracle uses
        "source_reputation": f"""
WITH m AS (
  SELECT doc_id, source,
         CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0
              ELSE len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS nw,
         CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0.0
              ELSE length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                   / len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS mwl,
         CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = '' THEN 0 ELSE
           len(list_filter(string_split_regex(lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')), '\\s+'),
                           x -> list_contains([{stop_list}], x))) END AS sh
  FROM documents
),
k AS (
  SELECT doc_id, source,
         CASE WHEN nw BETWEEN {_g['minw']} AND {_g['maxw']}
              AND mwl BETWEEN {_g['minl']} AND {_g['maxl']}
              AND sh >= {_g['minsh']} THEN 1 ELSE 0 END AS keep
  FROM m
),
good AS (
  SELECT source FROM k GROUP BY source
  HAVING sum(keep) * 10 >= count(*) * 9
)
SELECT doc_id, source FROM k JOIN good USING (source) WHERE keep = 1""",
    }


def _c4_rules_sql() -> str:
    """DuckDB twin of the c4_rules extra query — the SAME shared constants
    (operators/corpus.py C4_* + the structuring residues above) generate
    both engines (CLAUDE.md oracle discipline)."""
    from heliport_spark.operators.corpus import (
        C4_BADWORDS,
        C4_MIN_LINE_WORDS,
        C4_MIN_SENTENCES,
    )

    bad_re = r"\b(" + "|".join(C4_BADWORDS) + r")\b"
    return f"""
WITH s AS (
  SELECT doc_id,
    replace(text, '{C4_BREAK_TOKEN}', '.' || chr(10))
    || CASE WHEN doc_id % {C4_LOREM_MOD} = 0 THEN ' lorem ipsum' ELSE '' END
    || CASE WHEN doc_id % {C4_BRACE_MOD} = 0 THEN ' {{' ELSE '' END
    || CASE WHEN doc_id % {C4_BADWORD_MOD} = 0 THEN ' badword' ELSE '' END AS text
  FROM documents
),
m AS (
  SELECT doc_id, string_split(text, chr(10)) AS lines,
         regexp_matches(text, '{bad_re}', 'i') AS has_badword,
         regexp_matches(text, 'lorem ipsum', 'i') AS has_lorem,
         contains(text, '{{') AS has_brace
  FROM s
),
k AS (
  SELECT doc_id, len(lines)::INT AS n_lines,
         len(list_filter(lines, l -> regexp_matches(l, '[.!?"]\\s*$')
             AND len(string_split_regex(trim(l), '\\s+')) >= {C4_MIN_LINE_WORDS}
         ))::INT AS n_kept_lines,
         has_badword, has_lorem, has_brace
  FROM m
)
SELECT doc_id AS id, n_lines, n_kept_lines, has_badword, has_lorem, has_brace,
       (NOT has_badword AND NOT has_lorem AND NOT has_brace
        AND n_kept_lines >= {C4_MIN_SENTENCES}) AS keep
FROM k"""


def extra_oracle_sql() -> dict[str, str]:
    """DuckDB twins for :func:`extra_queries` — bit-exactness still enforced
    by tests/test_queries.py, just outside the driver's 50-entry cap. The
    four audio entries in extra_queries are rows-only (no SQL twin)."""
    full = _oracle_sql_full()
    return {
        **{k: full[k] for k in _DEMOTED},
        "winnow_shared_spans": _winnow_spans_sql(),
        "remove_shared_spans": _remove_spans_sql(),
        "dsir_resample": _dsir_sql(),
        # paragraph twin of boilerplate_lines: same derived paragraph
        # table (body + per-source footer + corpus-wide notice), units
        # split on blank-line runs
        "boilerplate_paragraphs": f"""
WITH d2 AS (SELECT doc_id,
                   text || e'\\n\\nshared footer for ' || source ||
                   e'\\n\\nunsubscribe notice common to all documents' AS text
            FROM documents),
l AS (SELECT doc_id, i, pars[i::INT] AS line FROM (
        SELECT doc_id, string_split_regex(text, '\\n\\s*\\n') AS pars,
               unnest(generate_series(1, len(string_split_regex(
                   text, '\\n\\s*\\n')))) AS i
        FROM d2)),
hot AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS nd
                          FROM l GROUP BY line) t
        WHERE nd >= {{BOILER_MIN_DOCS}}),
m AS (SELECT l.doc_id, l.i, l.line, (hot.line IS NOT NULL) AS boiler
      FROM l LEFT JOIN hot ON l.line = hot.line)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN NOT boiler THEN line END, e'\\n\\n'
                           ORDER BY i), '') AS text_clean,
       count(*) AS n_lines,
       sum(CASE WHEN boiler THEN 1 ELSE 0 END)::BIGINT AS n_removed
FROM m GROUP BY doc_id""".replace("{BOILER_MIN_DOCS}",
                                  str(BOILER_PAR_MIN_DOCS)),
        "q1_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus""",
        "q3_top_orders": """
SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""",
        "events_sessions": """
WITH g AS (
  SELECT user_id, value,
         epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)) AS gap
  FROM events
)
SELECT user_id,
       (sum(CASE WHEN gap > 1800000 THEN 1 ELSE 0 END) + 1)::BIGINT AS n_sessions,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM g GROUP BY user_id""",
        "events_json": """
SELECT event_type, count(*) AS n,
       sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
       round(avg(json_extract(props, '$.k')::BIGINT), 4) AS avg_k,
       max(json_extract(props, '$.k')::BIGINT) AS max_k
FROM events GROUP BY event_type""",
        "orders_by_month": """
SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total,
       round(sqrt(avg(o_totalprice)), 4) AS sqrt_avg
FROM orders GROUP BY yr, mo""",
        "c4_rules": _c4_rules_sql(),
        "region_revenue": """
SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name""",
        "revenue_rollup": """
SELECT r_name, n_name, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)""",
        "customer_set_ops": """
SELECT c_custkey, 'active_rich' AS tag FROM (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders
  INTERSECT
  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
)
UNION ALL
SELECT c_custkey, 'no_orders' AS tag FROM (
  SELECT c_custkey FROM customer
  EXCEPT ALL
  SELECT DISTINCT o_custkey FROM orders
)""",
        "parts_never_ordered": """
SELECT p_partkey, p_name, p_brand FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_partkey = p_partkey AND l_quantity > 45)""",
    }
