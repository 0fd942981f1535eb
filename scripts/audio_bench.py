#!/usr/bin/env python3
"""Audio-operator benchmark with the fixture MATERIALIZED once (VERDICT r5
#5: the ~6 s of in-driver PCM synthesis inside every audio driver query
swamped per-operator timings — here the synthetic clips table is written to
parquet ONCE, its cost reported separately, and every operator is timed
reading the same parquet, which is also the realistic 100 TB shape: decode
pipelines read clip tables, they don't synthesize them).

Per-operator timings are min-of-N interleaved passes (CLAUDE.md: this VM's
hypervisor steal makes single runs untrustworthy).

Usage: python scripts/audio_bench.py [reps]   (default 3; prints ONE JSON line)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _recipe_key() -> str:
    """Fingerprint of the synthesis recipe: the clips source module bytes +
    the synthesis params. A cached /tmp fixture from an older recipe must
    never be silently re-benchmarked after the generator changes
    (code-review r6 finding)."""
    import hashlib

    import heliport_spark.sources.clips as clips_mod

    h = hashlib.md5()
    with open(clips_mod.__file__, "rb") as fh:
        h.update(fh.read())
    h.update(b"max_pcm_ms=500;adversarial=1")
    return h.hexdigest()[:10]


FIXTURE = (
    f"/tmp/heliport_audio_bench_clips_"
    f"{os.path.basename(SF_DIR.rstrip('/'))}_{_recipe_key()}"
)


def ensure_fixture(spark) -> "tuple[str, float]":
    """Materialize the audio clips table once; returns (path, synth_sec —
    0.0 when reused from a previous run)."""
    from heliport_spark.sources.clips import (
        clips_from_documents,
        signal_adversarial_clips,
    )

    if os.path.exists(os.path.join(FIXTURE, "_SUCCESS")):
        return FIXTURE, 0.0
    t0 = time.time()
    clips = clips_from_documents(spark, SF_DIR, with_golden=False,
                                 max_pcm_ms=500)
    clips = clips.unionByName(signal_adversarial_clips(spark))
    clips.write.mode("overwrite").parquet(FIXTURE)
    return FIXTURE, round(time.time() - t0, 3)


def operators(spark, path):
    """name → thunk returning a DataFrame over the MATERIALIZED clips —
    operator work only, no synthesis."""
    from pyspark.sql import functions as F

    from heliport_spark.functions.audio import (
        audio_features_df,
        audio_fingerprints_df,
        denoise_audio_df,
        mel_stats_df,
        trim_silence_df,
        vad_segments_df,
    )
    from heliport_spark.operators.similarity import audio_fingerprint_matches

    clips = spark.read.parquet(path)
    small = clips.filter(F.col("clip_id") < "clip-000000002000")

    def vad():
        t = (trim_silence_df(clips).drop("bytes", "sr_hz", "codec")
             .withColumnRenamed("bytes_trim", "bytes")
             .withColumnRenamed("sr_trim", "sr_hz"))
        return vad_segments_df(t)

    def fp_matches():
        fp = audio_fingerprints_df(small)
        return audio_fingerprint_matches(fp)

    return {
        "audio_features": lambda: audio_features_df(clips),
        "audio_trim_vad": vad,
        "audio_mel": lambda: mel_stats_df(clips),
        "audio_denoise": lambda: denoise_audio_df(small).select(
            "clip_id", "noise_db",
            F.length("bytes_dn").alias("n_dn")),
        "audio_fingerprint_match": fp_matches,
    }


def main(reps: int) -> dict:
    from heliport_spark.plans import get_spark

    spark = get_spark(app_name="heliport_audio_bench",
                      master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    path, synth_sec = ensure_fixture(spark)
    n_clips = spark.read.parquet(path).count()
    ops = operators(spark, path)
    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name, thunk in ops.items():  # warmup pass (JIT + python workers)
        thunk().count()
    for _ in range(reps):
        for name, thunk in ops.items():
            t0 = time.time()
            rows[name] = thunk().count()
            dt = round(time.time() - t0, 3)
            times[name] = min(times.get(name, dt), dt)
    out = {
        "metric": "audio_operator_suite",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "rows": rows,
        "n_clips": n_clips,
        "fixture_synth_sec": synth_sec,
        "fixture": path,
        "cpus": CPUS,
        "sf": SF_DIR,
    }
    spark.stop()
    return out


if __name__ == "__main__":
    print(json.dumps(main(int(sys.argv[1]) if len(sys.argv) > 1 else 3)))
