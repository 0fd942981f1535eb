#!/usr/bin/env python3
"""Structured-Streaming throughput micro-benchmark (ROADMAP item: streaming).

Drives the two streaming operators with the built-in ``rate`` source
(deterministic synthetic transcripts derived from the row id — no files,
no external data):

* pipeline  — rate → synthetic clips → streaming_quality_filter →
              noop sink; reports end-to-end rows/s from query progress.
* dedup     — same input where half the rows are forced duplicates →
              streaming_exact_dedup (per-fingerprint state) → noop sink;
              reports rows/s and final state size.
* minhash_candidates / minhash_verify — the two near-dup lanes, fed the
              same 10×-lower rate: band keys alone vs band keys plus the
              fused signature verify (both hash through
              minhash_features_udf).

Usage: python scripts/streaming_bench.py [rows_per_sec] [seconds]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def synthetic_clips(stream, with_event_time: bool = False):
    """rate-source rows → clips schema (deterministic text from the id).

    ``with_event_time`` appends an OUT-OF-ORDER ``ts_event`` column: each
    row's event time lags its arrival time by (id % 20) seconds, so a
    10-second watermark sees a deterministic mix of on-time and genuinely
    late (dropped) rows — the event-time replay lane VERDICT r5 #7 asked
    for, without files or external data."""
    from pyspark.sql import functions as F

    words = (
        "the quick brown fox jumps over lazy dog and runs through green "
        "fields while birds sing in morning light near quiet river banks"
    ).split()
    arr = F.array(*[F.lit(w) for w in words])
    # 12-word deterministic sentence: word i = words[(id*7 + i*3) % n]
    idx = F.sequence(F.lit(0), F.lit(11))
    text = F.concat_ws(
        " ",
        F.transform(
            idx,
            lambda i: F.element_at(
                arr,
                (
                    ((F.col("value") % 1000) * 7 + i * 3) % F.lit(len(words)) + 1
                ).cast("int"),
            ),
        ),
    )
    cols = [
        F.concat(F.lit("clip-"), F.col("value")).alias("clip_id"),
        text.alias("transcript"),
        F.lit(bytearray(b"\x00\x00")).alias("bytes"),
        F.lit(16000).alias("sr_hz"),
        F.lit(750).alias("dur_ms"),
        F.lit("pcm_s16le").alias("codec"),
    ]
    if with_event_time:
        cols.append(
            (F.col("timestamp")
             - F.make_interval(secs=(F.col("value") % 20).cast("double"))
             ).alias("ts_event")
        )
    return stream.select(*cols)


def synthetic_audio_clips(stream, n_blobs: int = 8, dur_s: float = 0.5):
    """rate-source rows → REAL-PCM clips: n_blobs deterministic half-second
    tone+noise blobs baked in as literals, assigned round-robin by row id.
    Only n_blobs distinct recordings repeat forever, so every landmark hash
    bucket is HOT — the first-k state cap is what the fingerprint lane
    exercises (same worst-case doctrine as the minhash lane's 1000-id
    text cycle)."""
    import numpy as np
    from pyspark.sql import functions as F

    from heliport_spark.functions.audio import encode_pcm_s16le

    sr = 16000
    blobs = []
    for i in range(n_blobs):
        rng = np.random.default_rng(100 + i)
        t = np.arange(int(sr * dur_s)) / sr
        w = (0.2 * np.sin(2 * np.pi * (300 + 40 * i) * t)
             + 0.1 * rng.standard_normal(len(t)))
        blobs.append(encode_pcm_s16le(w.astype(np.float32)))
    arr = F.array(*[F.lit(bytearray(b)) for b in blobs])
    return stream.select(
        F.concat(F.lit("clip-"), F.col("value")).alias("clip_id"),
        F.element_at(
            arr, (F.col("value") % n_blobs + 1).cast("int")
        ).alias("bytes"),
        F.lit("pcm_s16le").alias("codec"),
    )


def run(rows_per_sec: int, seconds: int) -> None:
    from pyspark.sql import functions as F  # noqa: F401

    from heliport_spark.plans import get_spark
    from heliport_spark.streaming.stream import (
        streaming_exact_dedup,
        streaming_fingerprint_links,
        streaming_minhash_candidates,
        streaming_minhash_verified,
        streaming_quality_filter,
    )

    spark = get_spark(app_name="heliport_streaming_bench")
    spark.sparkContext.setLogLevel("ERROR")

    def clips_at(rps: int, with_event_time: bool = False):
        rate = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", str(rps))
            .option("numPartitions", "8")
            .load()
        )
        return synthetic_clips(rate, with_event_time)

    results = {}
    for name, df in (
        ("pipeline", streaming_quality_filter(clips_at(rows_per_sec))),
        ("dedup", streaming_exact_dedup(clips_at(rows_per_sec))),
        # event-time lane: out-of-order replay (events lag arrival by
        # id%20 s) against a 10 s watermark + 30 s state TTL — rows later
        # than the watermark are dropped, state expires as the watermark
        # advances (bounded even on an unbounded key space)
        ("dedup_event_time", streaming_exact_dedup(
            clips_at(rows_per_sec, with_event_time=True),
            event_time_col="ts_event", watermark_delay="10 seconds",
            ttl_ms=30_000,
        )),
        # fused near-dup verify: ~13 md5-hash families over every shingle
        # per row, so its ceiling is far below the cheap streams' — feed it
        # a 10×-lower oversubscribed rate so the first batch completes
        # inside the window and recentProgress reflects steady state. The
        # synthetic text repeats every 1000 ids, so buckets are
        # deliberately HOT: the k-capped state is what's being exercised
        # (worst-case boilerplate stream).
        ("minhash_verify",
         streaming_minhash_verified(clips_at(max(1, rows_per_sec // 10)))),
        # the same rate and text into the candidates-only lane: the same
        # shingle hashing without the signature verify
        ("minhash_candidates",
         streaming_minhash_candidates(clips_at(max(1, rows_per_sec // 10)))),
        # per-row FFT + per-landmark state probes: feed 200×-lower rate
        # (each clip explodes to dozens of landmark hashes and every hot
        # bucket links against its k stored entries — deliberate worst case)
        ("fingerprint_links", streaming_fingerprint_links(
            synthetic_audio_clips(
                spark.readStream.format("rate")
                .option("rowsPerSecond", str(max(1, rows_per_sec // 200)))
                .option("numPartitions", "8").load()
            ),
            max_entries_per_hash=4,
        )),
    ):
        q = df.writeStream.format("noop").outputMode("append").start()
        try:
            time.sleep(seconds)
            progress = [p for p in q.recentProgress if p and p["numInputRows"]]
            rows = sum(p["numInputRows"] for p in progress)
            secs = sum(p["batchDuration"] for p in progress) / 1000.0
            results[name] = (rows, rows / secs if secs else 0.0)
            if name in ("dedup", "dedup_event_time", "minhash_candidates",
                        "minhash_verify", "fingerprint_links") \
                    and progress and progress[-1]["stateOperators"]:
                results[f"{name}_state_rows"] = progress[-1][
                    "stateOperators"
                ][0]["numRowsTotal"]
        finally:
            q.stop()
    for k, v in results.items():
        print(f"{k}: {v}")
    spark.stop()


if __name__ == "__main__":
    rps = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    secs = int(sys.argv[2]) if len(sys.argv) > 2 else 25
    run(rps, secs)
