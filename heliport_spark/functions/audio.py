"""Audio/multimodal column handling: PCM/WAV decode, waveform statistics,
mel features, resampling, VAD, denoise and landmark fingerprints.

The engine's input rows carry audio as an opaque ``bytes: binary`` column
with typed metadata (``sr_hz``, ``dur_ms``, ``codec``) — BASELINE.json
input_hint. The quality-filter pipeline must pass PCM through *untouched*
(allclose / SNR ≥ 30 dB after a decode→re-encode round trip), which these
helpers implement and the tests assert.

One decode path: every audio operator reads the clips table's own columns
by name (``bytes``, ``sr_hz``, ``codec``, ``clip_id``) through ONE row
reader, ``_clip_rows``, which yields each row's (waveform, rate) per Arrow
batch. ``decode_by_codec`` is the only code that knows the codec dispatch
and what counts as malformed; it never raises. The operators come in
two shapes built on the reader, each keeping only its per-clip function,
its output fields and its own NULL/zero defaults:

* append-columns (``_append_columns``): ``audio_features_df``,
  ``resample_audio_df``, ``audio_embedding_df``, ``normalize_loudness_df``,
  ``trim_silence_df``, ``mel_stats_df``, ``denoise_audio_df``;
* fan-out (``_explode_clips``): ``chunk_audio_df``, ``vad_segments_df``,
  ``audio_fingerprints_df``.

Derived ``bytes_*`` columns are raw PCM; a chain that renames one onto
``bytes`` drops the source's ``codec`` column.

Real in this container (pure numpy / stdlib — no native libs needed):
* PCM s16le decode/encode and waveform statistics,
* WAV (RIFF) container parse → (waveform, sample rate, channels),
* linear resampling,
* log-mel features: Hann-windowed STFT (``np.fft.rfft``) → power spectrum
  → Slaney-style triangular mel filterbank → log.

Only lossy codec decode (opus/mp3), image decode, and video frame sampling
genuinely need native libs absent here — those entry points are STUBBED with
``NotImplementedError``.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def decode_pcm_s16le(raw: bytes) -> np.ndarray:
    """PCM s16le bytes → float32 waveform in [-1, 1); a trailing partial
    sample (odd byte count) is dropped."""
    return np.frombuffer(raw, dtype="<i2", count=len(raw) // 2).astype(
        np.float32) / 32768.0


def encode_pcm_s16le(wave: np.ndarray) -> bytes:
    """float32 waveform → PCM s16le bytes (clip + round-to-even like most
    encoders; exact inverse of decode for in-range values)."""
    q = np.clip(np.rint(wave * 32768.0), -32768, 32767).astype("<i2")
    return q.tobytes()


def decode_by_codec(raw: bytes, codec: "str | None") -> "tuple[np.ndarray, int | None]":
    """The one decode rule of the audio operators: a clips-table row's
    ``bytes`` and ``codec`` → (mono float32 waveform, container sample rate
    or None). Never raises.

    * ``wav`` → full RIFF parse (``decode_wav``); multi-channel audio is
      mean-downmixed to mono; the container's own sample rate is returned
      (authoritative over drifted ``sr_hz`` metadata).
    * anything else (``pcm_s16le``/``pcm``/NULL) → raw PCM16 samples.
      Derived ``bytes_*`` columns (resampled, normalized, trimmed,
      denoised, chunked) are raw PCM: a chain that renames one onto
      ``bytes`` drops the source's ``codec`` column.
    * A trailing partial sample or multi-channel frame is dropped.
    * A malformed container yields an EMPTY waveform: every operator then
      emits its documented NULL/zero/drop output for the row — a
      10^12-clip job must not die on one corrupt container, and the signal
      gate already drops "0 samples" rows."""
    if codec is not None and str(codec).lower().startswith("wav"):
        import struct

        try:
            wave, sr, ch = decode_wav(raw)
        except (ValueError, struct.error):
            # struct.error: a chunk header declaring more bytes than the
            # file holds (truncated container) — NOT a ValueError subclass
            return np.zeros(0, dtype=np.float32), None
        if ch > 1:
            wave = wave[: len(wave) - len(wave) % ch]
            wave = wave.reshape(-1, ch).mean(axis=1).astype(np.float32)
        return wave, sr
    return decode_pcm_s16le(raw), None


# Rate assumed for a decoded row whose container and ``sr_hz`` carry none;
# the operators that need a true rate (resample, chunk) skip such rows.
FALLBACK_SR = 16_000


def _clip_rows(pdf: pd.DataFrame, gate_col: "str | None" = None,
               fallback_sr: "int | None" = FALLBACK_SR) -> Iterator[tuple]:
    """The one row reader: yield ``(wave, sr)`` for each row of one Arrow
    batch of the clips table, ``wave`` from ``decode_by_codec`` and ``sr``
    the container's rate, else a positive ``sr_hz``, else ``fallback_sr``.
    Yields ``(None, None)`` for NULL or empty ``bytes``, rows whose
    ``gate_col`` is false, undecodable rows and rows of unknown rate. A
    frame without ``sr_hz`` or ``codec`` reads them as NULL."""
    n = len(pdf)
    codecs = pdf["codec"] if "codec" in pdf else [None] * n
    srs = pdf["sr_hz"] if "sr_hz" in pdf else [None] * n
    gates = pdf[gate_col] if gate_col else [True] * n
    for raw, codec, meta_sr, gate in zip(pdf["bytes"], codecs, srs, gates):
        if not gate or raw is None or not len(raw):
            yield None, None
            continue
        wave, sr = decode_by_codec(raw, codec)
        if not sr and not pd.isna(meta_sr):  # NULL sr_hz is NaN: truthy
            sr = int(meta_sr)
        if not sr or sr < 0:
            sr = fallback_sr
        yield (wave, sr) if len(wave) and sr else (None, None)


# pandas dtypes that carry NULL into the Spark type (None → NA / NaN)
_PANDAS_DTYPE = {IntegerType: "Int32", FloatType: "float32"}


def _append_columns(df: DataFrame, fields: "list[tuple[StructField, object]]",
                    clip_fn: Callable, gate_col: "str | None" = None,
                    fallback_sr: "int | None" = FALLBACK_SR) -> DataFrame:
    """Append-columns shape: ``df`` plus one column per ``(field, default)``
    in ``fields``. A decoded row takes ``clip_fn(wave, sr)``'s tuple of
    values, every other row the defaults. One Arrow pass, no shuffle; the
    input columns (``bytes`` included) pass through untouched."""
    out_schema = StructType(list(df.schema.fields) + [f for f, _ in fields])
    defaults = tuple(d for _, d in fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = [
                defaults if w is None else clip_fn(w, sr)
                for w, sr in _clip_rows(pdf, gate_col, fallback_sr)
            ]
            cols = list(zip(*vals)) or [()] * len(fields)
            pdf = pdf.copy(deep=False)
            for (f, _), col in zip(fields, cols):
                pdf[f.name] = pd.Series(
                    col, dtype=_PANDAS_DTYPE.get(type(f.dataType), object),
                    index=pdf.index,
                )
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def _explode_clips(df: DataFrame, id_name: str, fields: "list[StructField]",
                   clip_fn: Callable, carry_cols: "tuple[str, ...]" = (),
                   fallback_sr: "int | None" = FALLBACK_SR) -> DataFrame:
    """Fan-out shape: ``clip_fn(wave, sr)`` returns the rows (sequences
    over ``fields``) one decoded clip emits; each row gets the clip's
    ``clip_id`` as ``id_name`` in front and its ``carry_cols`` behind.
    Other rows emit nothing. One Arrow pass, no shuffle."""
    out_schema = StructType(
        [StructField(id_name, StringType())] + fields
        + [df.schema[c] for c in carry_cols]
    )
    names = [f.name for f in fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list = []
            owner: "list[int]" = []
            for i, (w, sr) in enumerate(_clip_rows(pdf, None, fallback_sr)):
                if w is not None:
                    out = clip_fn(w, sr)
                    rows.extend(out)
                    owner.extend([i] * len(out))
            at = np.asarray(owner, dtype=np.int64)
            frame = pd.DataFrame(rows, columns=names)
            frame.insert(0, id_name, pdf["clip_id"].to_numpy()[at])
            for c in carry_cols:
                frame[c] = pdf[c].to_numpy()[at]
            yield frame

    return df.mapInPandas(run, schema=out_schema)


def snr_db(reference: np.ndarray, test: np.ndarray) -> float:
    """Signal-to-noise ratio of ``test`` against ``reference`` in dB."""
    if len(reference) != len(test):
        return float("-inf")
    noise = reference - test
    ps = float(np.sum(reference.astype(np.float64) ** 2))
    pn = float(np.sum(noise.astype(np.float64) ** 2))
    if pn == 0.0:
        return float("inf")
    if ps == 0.0:
        return float("-inf")
    return 10.0 * np.log10(ps / pn)


# Frame length for silence detection (ms) and the frame-RMS floor below
# which a frame counts as silent ([-1,1) float scale). The synthetic corpus
# sits at RMS ≈ 0.21 (0.3·sine + noise), so only genuinely quiet audio trips
# these.
SILENCE_FRAME_MS = 20
SILENCE_RMS = 0.01


def audio_features_df(df: DataFrame,
                      gate_col: "str | None" = None) -> DataFrame:
    """Append cheap waveform statistics (n_samples, rms, peak, clip_ratio,
    silence_ratio). ``silence_ratio`` is the fraction of 20 ms frames whose
    RMS falls below ``SILENCE_RMS`` (framed at the row's rate, 16 kHz when
    unknown) — the VAD-lite input to the signal keep/drop gate
    (audio_signal_flags). Rows that yield no wave (NULL/empty/malformed)
    keep the zero/silent defaults, so the signal gate drops them instead of
    the job dying.

    ``gate_col`` (boolean): rows where it is false skip the decode entirely
    (stats stay at their zero/silent defaults) — lets the pipeline decode
    only rows that survived the cheap transcript gate, in ONE pass with no
    split/union re-read."""

    def stats(w, sr):
        w64 = w.astype(np.float64)
        rms = float(np.sqrt(np.mean(w64 ** 2)))
        frame = max(1, sr * SILENCE_FRAME_MS // 1000)
        nfr = len(w) // frame
        if nfr:
            fr = w64[: nfr * frame].reshape(nfr, frame)
            sil = float(np.mean(np.sqrt(np.mean(fr * fr, axis=1)) < SILENCE_RMS))
        else:
            sil = 1.0 if rms < SILENCE_RMS else 0.0
        return (len(w), rms, float(np.max(np.abs(w))),
                float(np.mean(np.abs(w) >= 32767.0 / 32768.0)), sil)

    return _append_columns(df, [
        (StructField("n_samples", IntegerType()), 0),
        (StructField("rms", FloatType()), 0.0),
        (StructField("peak", FloatType()), 0.0),
        (StructField("clip_ratio", FloatType()), 0.0),
        (StructField("silence_ratio", FloatType()), 1.0),  # no audio = silent
    ], stats, gate_col)


def resample_audio_df(df: DataFrame, target_sr: int = 16_000) -> DataFrame:
    """Resample every clip to ``target_sr`` (the sample-rate unification
    step every ASR/audio-training pipeline runs before feature extraction):
    decode (WAV containers downmixed, their OWN sample rate used) →
    ``resample_linear`` → re-encode into ``bytes_rs``, RAW PCM s16le at
    ``sr_rs`` (wav rows lose their container — the point of unification).
    Raw-PCM clips already at ``target_sr`` come out BYTE-IDENTICAL (decode
    and encode are exact inverses on PCM16).

    ``bytes_rs`` is therefore UNIFORMLY raw PCM s16le or NULL: rows that
    CANNOT be resampled (NULL/empty audio, unknown rate, malformed
    container) emit ``bytes_rs`` NULL alongside ``sr_rs`` NULL and
    ``n_samples_rs`` 0 (ADVICE r04: container bytes must never masquerade
    as samples). The original is never lost — the source ``bytes`` column
    is untouched."""

    def resample(w, sr):
        w = resample_linear(w, sr, target_sr)
        return encode_pcm_s16le(w), target_sr, len(w)

    return _append_columns(df, [
        (StructField("bytes_rs", BinaryType()), None),
        (StructField("sr_rs", IntegerType()), None),
        (StructField("n_samples_rs", IntegerType()), 0),
    ], resample, fallback_sr=None)


def audio_embedding_df(df: DataFrame, n_mels: int = 16) -> DataFrame:
    """Append ``aemb``, a fixed-size ACOUSTIC embedding per clip: the
    time-mean log-mel energy vector (``array<float>``, length ``n_mels``)
    from the real ``mel_features`` STFT path — a timbre signature that makes
    the engine's embedding operators (brute_force_topk / lsh_ann_topk /
    embedding_neardup) work on AUDIO content, not just text: near-identical
    recordings land at cosine ≈ 1 regardless of length, different spectral
    content separates. Empty/NULL/malformed audio → NULL embedding (the
    similarity ops already NULL-propagate)."""

    def embed(w, sr):
        return ([float(x) for x in mel_features(w, sr, n_mels=n_mels).mean(axis=0)],)

    return _append_columns(
        df, [(StructField("aemb", ArrayType(FloatType())), None)], embed
    )


# Loudness normalization: target RMS on the [-1,1) float scale and the gain
# cap that keeps near-silence from being amplified into noise.
TARGET_RMS = 0.1
MAX_GAIN = 20.0


def normalize_loudness_df(df: DataFrame, target_rms: float = TARGET_RMS,
                          max_gain: float = MAX_GAIN) -> DataFrame:
    """Gain-normalize each clip to ``target_rms`` (standard pre-ASR
    conditioning): decode → scale by ``min(max_gain, target/rms)`` → clip to
    [-1, 1) → re-encode into ``bytes_norm`` (raw mono PCM16). The original
    ``bytes`` column is untouched (the pipeline's passthrough invariant);
    the applied ``gain_db`` is emitted per clip. Rows that yield no wave
    (NULL/empty/malformed) emit ``bytes_norm`` NULL and ``gain_db`` 0 (the
    resample_audio_df contract — NULL marks not-PCM)."""

    def normalize(w, sr):
        rms = float(np.sqrt(np.mean(w.astype(np.float64) ** 2)))
        g = min(max_gain, target_rms / rms) if rms > 0 else 1.0
        return (20.0 * np.log10(g) if g > 0 else 0.0,
                encode_pcm_s16le(np.clip(w * g, -1.0, 1.0 - 1.0 / 32768)))

    return _append_columns(df, [
        (StructField("gain_db", FloatType()), 0.0),
        (StructField("bytes_norm", BinaryType()), None),
    ], normalize)


def chunk_bounds(n_samples: int, win: int, min_tail: int) -> "list[tuple[int, int]]":
    """Pure chunk-boundary computation (property-tested): [start, end) sample
    ranges of length ``win`` except the last, which absorbs a tail shorter
    than ``min_tail``; ranges exactly cover [0, n_samples)."""
    if n_samples <= 0:
        return []
    starts = list(range(0, n_samples, max(1, win)))
    if len(starts) > 1 and n_samples - starts[-1] < min_tail:
        starts.pop()
    return [
        (s0, starts[i + 1] if i + 1 < len(starts) else n_samples)
        for i, s0 in enumerate(starts)
    ]


def chunk_audio_df(df: DataFrame, window_ms: int = 30_000,
                   min_tail_ms: int = 1_000) -> DataFrame:
    """Segment each clip into fixed ``window_ms`` windows (the standard
    long-audio prep for ASR training): emits one row per chunk with
    (chunk_id, clip_id, chunk_idx, start_ms, sr_hz, dur_ms, bytes), the
    chunk ``bytes`` raw mono PCM16 at ``sr_hz`` (a WAV row's container rate).
    A final tail shorter than ``min_tail_ms`` is merged into the previous
    chunk rather than emitted as a sliver. Rows that yield no wave or have
    no known rate emit no chunks.

    Transcripts CANNOT be split without word-level alignment, which the
    input schema doesn't carry — so chunks keep no transcript column;
    callers needing aligned text must join alignment data themselves (the
    honest contract, same policy as the stubbed lossy codecs).

    Scale shape: per-row fan-out inside one Arrow pass, no shuffle;
    downstream ops re-partition on chunk_id as usual."""

    def chunks(w, sr):
        win = max(1, sr * window_ms // 1000)
        bounds = chunk_bounds(len(w), win, sr * min_tail_ms // 1000)
        return [
            (idx, s0 * 1000 // sr, sr, (e0 - s0) * 1000 // sr,
             encode_pcm_s16le(w[s0:e0]))
            for idx, (s0, e0) in enumerate(bounds)
        ]

    out = _explode_clips(df, "clip_id", [
        StructField("chunk_idx", IntegerType()),
        StructField("start_ms", IntegerType()),
        StructField("sr_hz", IntegerType()),
        StructField("dur_ms", IntegerType()),
        StructField("bytes", BinaryType()),
    ], chunks, fallback_sr=None)
    return out.select(
        F.format_string("%s#%04d", "clip_id", "chunk_idx").alias("chunk_id"),
        *out.columns,
    )


def speech_segments(speech: "np.ndarray", min_speech_frames: int = 2,
                    max_gap_frames: int = 1) -> "list[tuple[int, int]]":
    """Pure frame-level VAD segment merge (property-tested): given a boolean
    per-frame speech mask, return [start, end) frame runs after (a) bridging
    silent gaps of ≤ ``max_gap_frames`` between speech runs and (b) dropping
    merged runs shorter than ``min_speech_frames``."""
    idx = np.flatnonzero(np.asarray(speech, dtype=bool))
    if idx.size == 0:
        return []
    # split where the gap between consecutive speech frames exceeds the
    # bridgeable maximum (gap = diff - 1 silent frames in between)
    brk = np.flatnonzero(np.diff(idx) > max_gap_frames + 1) + 1
    runs = np.split(idx, brk)
    return [
        (int(r[0]), int(r[-1]) + 1)
        for r in runs
        if int(r[-1]) + 1 - int(r[0]) >= min_speech_frames
    ]


def _frame_speech_mask(w: "np.ndarray", sr: int, frame_ms: int,
                       speech_rms: float) -> "tuple[np.ndarray, int]":
    """Per-frame boolean speech mask (frame RMS ≥ speech_rms) and the frame
    length in samples; a ragged tail shorter than one frame becomes its own
    final frame so trailing speech is never silently discarded."""
    frame = max(1, sr * frame_ms // 1000)
    nfr = len(w) // frame
    full = w[: nfr * frame].astype(np.float64).reshape(nfr, frame)
    frms = np.sqrt(np.mean(full * full, axis=1)) if nfr else np.empty(0)
    tail = w[nfr * frame :]
    if len(tail):
        trms = float(np.sqrt(np.mean(tail.astype(np.float64) ** 2)))
        frms = np.append(frms, trms)
    return frms >= speech_rms, frame


def vad_segments_df(df: DataFrame,
                    frame_ms: int = SILENCE_FRAME_MS,
                    speech_rms: float = SILENCE_RMS,
                    min_speech_frames: int = 2,
                    max_gap_frames: int = 1) -> DataFrame:
    """Energy-based voice-activity detection: one output row per detected
    speech segment — (clip_id, seg_idx, start_ms, end_ms, dur_ms, seg_rms).
    The frame mask is RMS ≥ ``speech_rms`` over ``frame_ms`` frames;
    segments bridge silent gaps of ≤ ``max_gap_frames`` and must span ≥
    ``min_speech_frames`` (see :func:`speech_segments`). Undecodable or
    silent clips emit no rows (the signal gate already flags them).

    Scale shape: ONE Arrow pass, frame math vectorized per row in numpy, no
    shuffle; the fan-out is bounded by clip duration / frame_ms.
    (Engine-side addition — the reference has no audio path; VAD is the
    standard speech-corpus prep between codec decode and chunking.)"""

    def segments(w, sr):
        mask, frame = _frame_speech_mask(w, sr, frame_ms, speech_rms)
        rows = []
        for k, (f0, f1) in enumerate(
            speech_segments(mask, min_speech_frames, max_gap_frames)
        ):
            s0, s1 = f0 * frame, min(f1 * frame, len(w))
            seg = w[s0:s1].astype(np.float64)
            rows.append((
                k, s0 * 1000 // sr, s1 * 1000 // sr, (s1 - s0) * 1000 // sr,
                float(np.sqrt(np.mean(seg * seg))),
            ))
        return rows

    return _explode_clips(df, "clip_id", [
        StructField("seg_idx", IntegerType()),
        StructField("start_ms", IntegerType()),
        StructField("end_ms", IntegerType()),
        StructField("dur_ms", IntegerType()),
        StructField("seg_rms", FloatType()),
    ], segments)


def trim_silence_df(df: DataFrame,
                    frame_ms: int = SILENCE_FRAME_MS,
                    speech_rms: float = SILENCE_RMS,
                    pad_frames: int = 1) -> DataFrame:
    """Strip leading/trailing silence: appends ``bytes_trim`` (raw mono
    PCM16 of the span from the first to the last speech frame, padded by
    ``pad_frames`` frames of context on each side), ``sr_trim`` (the
    EFFECTIVE sample rate of ``bytes_trim`` — the container's embedded rate
    for WAV input, which can drift from the ``sr_hz`` metadata column; the
    same contract as ``resample_audio_df``'s ``sr_rs``, and what downstream
    consumers must use for ms math over the trimmed PCM), ``n_samples_trim``,
    and ``trim_head_ms`` / ``trim_tail_ms``. Rows that cannot be decoded
    emit ``bytes_trim`` = NULL and ``sr_trim`` = NULL (the resample_audio_df
    contract: NULL marks not-PCM, consumers must gate on it); fully-silent
    clips emit an EMPTY ``bytes_trim`` with the whole duration accounted to
    head trim.

    One Arrow pass, no shuffle; a clip already starting and ending in
    speech passes its samples through byte-identically."""

    def trim(w, sr):
        mask, frame = _frame_speech_mask(w, sr, frame_ms, speech_rms)
        idx = np.flatnonzero(mask)
        if idx.size == 0:
            return b"", sr, 0, len(w) * 1000 // sr, 0
        s0 = max(0, (int(idx[0]) - pad_frames)) * frame
        s1 = min(len(w), (int(idx[-1]) + 1 + pad_frames) * frame)
        return (encode_pcm_s16le(w[s0:s1]), sr, s1 - s0, s0 * 1000 // sr,
                (len(w) - s1) * 1000 // sr)

    return _append_columns(df, [
        (StructField("bytes_trim", BinaryType()), None),
        (StructField("sr_trim", IntegerType()), None),
        (StructField("n_samples_trim", IntegerType()), 0),
        (StructField("trim_head_ms", IntegerType()), 0),
        (StructField("trim_tail_ms", IntegerType()), 0),
    ], trim)


# Signal-gate thresholds (audio twin of operators/quality.py rule_flags).
MAX_CLIP_RATIO = 0.01      # >1% full-scale samples ⇒ clipped / distorted
MAX_SILENCE_RATIO = 0.5    # mostly-silent audio can't back its transcript
MIN_RMS = 0.005            # essentially digital silence end-to-end
MAX_DUR_DRIFT = 0.02       # |n_samples/sr − dur_ms/1000| tolerance (2%)


def audio_signal_flags(df: DataFrame) -> DataFrame:
    """Pure-Catalyst keep/drop gate over the waveform statistics emitted by
    ``audio_features_df`` and the clips table's ``sr_hz``/``dur_ms`` — the
    signal-level twin of the transcript rules (operators/quality.py).
    Appends ``signal_flags`` (comma-joined, '' = clean) and boolean
    ``keep_signal``.

    Scale shape: runs AFTER the metadata + transcript gates in a real
    pipeline so the expensive PCM decode only touches survivors; the flags
    themselves are codegen'd projections — no Python, no shuffle."""
    dur_s = F.col("dur_ms").cast("double") / 1000.0
    decoded_s = F.col("n_samples").cast("double") / F.col("sr_hz").cast("double")
    drift = F.abs(decoded_s - dur_s) > (dur_s * MAX_DUR_DRIFT + 1e-3)
    flags = F.array(
        F.when(F.col("rms") < MIN_RMS, F.lit("digital_silence")),
        F.when(F.col("silence_ratio") > MAX_SILENCE_RATIO, F.lit("mostly_silent")),
        F.when(F.col("clip_ratio") > MAX_CLIP_RATIO, F.lit("clipped")),
        F.when((F.col("dur_ms") > 0) & drift, F.lit("metadata_drift")),
        F.when(F.col("n_samples") <= 0, F.lit("no_audio")),
    )
    flags = F.array_compact(flags)
    return df.withColumn(
        "signal_flags", F.concat_ws(",", flags)
    ).withColumn("keep_signal", F.size(flags) == 0)


# --------------------------------------------------------- WAV (RIFF) parse

def decode_wav(raw: bytes) -> "tuple[np.ndarray, int, int]":
    """Parse a WAV/RIFF container → (float32 waveform in [-1, 1), sample
    rate, channels). Pure stdlib/numpy chunk walk: reads the ``fmt `` chunk
    (PCM16 only — format tag 1), then the ``data`` chunk; multi-channel data
    stays interleaved → (frames, channels) is ``wave.reshape(-1, ch)``.

    Raises ValueError on a malformed container or a non-PCM16 format (lossy
    codecs are ``decode_compressed_audio``'s stub territory)."""
    import struct

    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(raw):
        cid, sz = raw[pos:pos + 4], struct.unpack("<I", raw[pos + 4:pos + 8])[0]
        body = raw[pos + 8:pos + 8 + sz]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    tag, channels, sr_hz, _byte_rate, _block_align, bits = fmt
    if tag != 1 or bits != 16:
        raise ValueError(f"unsupported WAV format tag={tag} bits={bits} "
                         "(only PCM16)")
    wave = decode_pcm_s16le(data)
    return wave, int(sr_hz), int(channels)


def encode_wav(wave: np.ndarray, sr_hz: int, channels: int = 1) -> bytes:
    """float32 waveform → minimal PCM16 WAV container (decode_wav inverse)."""
    import struct

    data = encode_pcm_s16le(wave)
    block = channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sr_hz, sr_hz * block, block, 16)
    chunks = b"".join([
        b"fmt ", struct.pack("<I", len(fmt)), fmt,
        b"data", struct.pack("<I", len(data)), data,
    ])
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def resample_linear(wave: np.ndarray, sr_in: int, sr_out: int) -> np.ndarray:
    """Linear-interpolation resample (mono). Deterministic, numpy-only —
    adequate for feature extraction; swap for a polyphase filter when a DSP
    lib is available."""
    if sr_in == sr_out or len(wave) == 0:
        return wave.astype(np.float32, copy=False)
    n_out = max(1, int(round(len(wave) * sr_out / sr_in)))
    x_out = np.arange(n_out, dtype=np.float64) * (sr_in / sr_out)
    return np.interp(
        x_out, np.arange(len(wave), dtype=np.float64), wave
    ).astype(np.float32)


# ------------------------------------------------------------- mel features

def hz_to_mel(f):
    """Slaney-style mel scale (linear below 1 kHz, log above) — the
    librosa/matlab auditory-toolbox convention."""
    f = np.asarray(f, dtype=np.float64)
    mel = np.where(
        f < 1000.0,
        f * 3.0 / 200.0,
        15.0 + np.log(np.maximum(f, 1000.0) / 1000.0) / (np.log(6.4) / 27.0),
    )
    return mel


def mel_to_hz(m):
    m = np.asarray(m, dtype=np.float64)
    return np.where(
        m < 15.0,
        m * 200.0 / 3.0,
        1000.0 * np.exp((m - 15.0) * (np.log(6.4) / 27.0)),
    )


def mel_filterbank(sr_hz: int, n_fft: int, n_mels: int) -> np.ndarray:
    """(n_mels, n_fft//2+1) triangular filters on the Slaney mel scale."""
    f_max = sr_hz / 2.0
    mel_pts = np.linspace(0.0, float(hz_to_mel(f_max)), n_mels + 2)
    hz_pts = mel_to_hz(mel_pts)
    fft_freqs = np.arange(n_fft // 2 + 1, dtype=np.float64) * sr_hz / n_fft
    fb = np.zeros((n_mels, len(fft_freqs)), dtype=np.float64)
    for i in range(n_mels):
        lo, ctr, hi = hz_pts[i], hz_pts[i + 1], hz_pts[i + 2]
        up = (fft_freqs - lo) / max(ctr - lo, 1e-12)
        down = (hi - fft_freqs) / max(hi - ctr, 1e-12)
        fb[i] = np.maximum(0.0, np.minimum(up, down))
    return fb.astype(np.float32)


def mel_features(wave: np.ndarray, sr_hz: int, n_mels: int = 80,
                 n_fft: int = 400, hop: int = 160) -> np.ndarray:
    """Log-mel spectrogram (n_frames, n_mels), REAL implementation:
    Hann-windowed framed ``np.fft.rfft`` → power spectrum → mel filterbank →
    ``log(1 + mel)``. Pure numpy — no DSP libs required. 25 ms window /
    10 ms hop at 16 kHz with the librosa-convention Slaney filterbank."""
    wave = np.asarray(wave, dtype=np.float64)
    if len(wave) < n_fft:
        wave = np.pad(wave, (0, n_fft - len(wave)))
    n_frames = 1 + (len(wave) - n_fft) // hop
    idx = np.arange(n_fft)[None, :] + hop * np.arange(n_frames)[:, None]
    frames = wave[idx] * np.hanning(n_fft)[None, :]
    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    mel = power @ mel_filterbank(sr_hz, n_fft, n_mels).T.astype(np.float64)
    return np.log1p(mel).astype(np.float32)


def mel_stats_df(df: DataFrame, n_mels: int = 80) -> DataFrame:
    """Append log-mel summary columns (n_frames, mel_mean, mel_dom_bin)
    computed with the REAL ``mel_features`` at the row's rate (16 kHz when
    unknown) — the feature-extraction stage of an audio training-data
    pipeline. Bytes stay executor-side; the summary keeps the driver-facing
    schema flat-scalar (the full (frames × mels) matrix would be per-clip
    payload, not a query result). Rows that yield no wave keep zeros."""

    def summary(w, sr):
        mel = mel_features(w, sr, n_mels=n_mels)
        return mel.shape[0], float(mel.mean()), int(np.argmax(mel.mean(axis=0)))

    return _append_columns(df, [
        (StructField("n_frames", IntegerType()), 0),
        (StructField("mel_mean", FloatType()), 0.0),
        (StructField("mel_dom_bin", IntegerType()), 0),
    ], summary)


# --------------------------------------- spectral-subtraction noise removal

def spectral_denoise(wave: "np.ndarray", noise_pct: float = 10.0,
                     alpha: float = 2.0, floor: float = 0.05,
                     n_fft: int = 512) -> "tuple[np.ndarray, float]":
    """Classic spectral-subtraction denoise (Boll '79), pure numpy: STFT at
    50 % Hann overlap, per-bin noise magnitude estimated as the
    ``noise_pct`` percentile of frame magnitudes (robust — silence/noise
    frames dominate the low percentiles without needing a VAD), subtract
    ``alpha``× the estimate with a ``floor``× spectral floor, resynthesize
    with the original phase via overlap-add. Returns (denoised wave, noise
    RMS estimate in dBFS). Hann at hop = n_fft/2 satisfies COLA, so OLA
    divides by the exact window-sum envelope (center-padded so edges are
    covered) — a clean signal WITH pauses passes through near-identically
    (the percentile then estimates ≈0 noise). Caveat inherent to
    minimum-statistics estimation: a signal active in every frame on the
    same bins (e.g. one unbroken stationary tone) is itself counted as
    noise floor; speech/audio with natural pauses is the intended input."""
    wave = np.asarray(wave, dtype=np.float64)
    n = len(wave)
    if n == 0:
        return wave.astype(np.float32), float("-inf")
    hop = n_fft // 2
    # center-pad by one hop on each side: without it the window-sum
    # envelope → 0 at the signal edges and the envelope division amplifies
    # the (no-longer-proportional) subtracted frames into edge spikes
    padded = n + 2 * hop
    tail = hop + ((-(padded - n_fft)) % hop if padded >= n_fft
                  else n_fft - padded + hop)
    w = np.pad(wave, (hop, tail))
    n_frames = 1 + (len(w) - n_fft) // hop
    idx = np.arange(n_fft)[None, :] + hop * np.arange(n_frames)[:, None]
    win = np.hanning(n_fft)
    spec = np.fft.rfft(w[idx] * win[None, :], axis=1)
    mag, phase = np.abs(spec), np.angle(spec)
    noise_mag = np.percentile(mag, noise_pct, axis=0)
    clean = np.maximum(mag - alpha * noise_mag[None, :], floor * mag)
    frames = np.fft.irfft(clean * np.exp(1j * phase), n=n_fft, axis=1)
    out = np.zeros(len(w))
    env = np.zeros(len(w))
    for f in range(n_frames):
        s = f * hop
        out[s:s + n_fft] += frames[f] * win
        env[s:s + n_fft] += win * win
    out = out / np.maximum(env, 1e-8)
    # dBFS calibration of the per-bin percentile estimate: for white noise
    # of time-domain RMS σ, each Hann-windowed rfft bin magnitude is
    # Rayleigh with scale σ_c = σ·sqrt(Σwin²/2), whose p-quantile is
    # σ_c·sqrt(−2·ln(1−p)) — invert both factors so noise_db reads in the
    # same [-1,1) full-scale units as the waveform (validated within ~1 dB
    # on synthetic white noise in tests)
    p = min(max(noise_pct / 100.0, 1e-6), 1 - 1e-6)
    rayleigh_q = np.sqrt(-2.0 * np.log(1.0 - p))
    scale = rayleigh_q * np.sqrt(np.sum(win * win) / 2.0)
    noise_rms = float(np.sqrt(np.mean(noise_mag**2)) / scale)
    noise_db = 20.0 * np.log10(noise_rms) if noise_rms > 0 else float("-inf")
    return out[hop:hop + n].astype(np.float32), noise_db


def denoise_audio_df(df: DataFrame, noise_pct: float = 10.0,
                     alpha: float = 2.0, floor: float = 0.05,
                     gate_col: "str | None" = None) -> DataFrame:
    """Append ``bytes_dn`` (spectral-subtraction-denoised raw mono PCM16)
    and ``noise_db`` (the per-clip noise-floor estimate in dBFS). Rows that
    cannot be decoded emit ``bytes_dn`` = NULL and ``noise_db`` = NULL (the
    resample_audio_df contract — NULL marks not-PCM). One Arrow pass, no
    shuffle; the source bytes column passes through untouched (same
    new-column policy as loudness normalization). ``gate_col`` (boolean):
    rows where it is false skip the decode+FFT entirely and emit NULLs —
    the pipeline uses it so only keep-survivors pay the transform."""

    def denoise(w, sr):
        dn, ndb = spectral_denoise(w, noise_pct, alpha, floor)
        return encode_pcm_s16le(dn), ndb

    return _append_columns(df, [
        (StructField("bytes_dn", BinaryType()), None),
        (StructField("noise_db", FloatType()), None),
    ], denoise, gate_col)


# --------------------------------- landmark (Shazam-style) fingerprinting

FP_N_FFT = 512
FP_HOP = 256
FP_PEAKS = 3        # constellation peaks kept per STFT frame
FP_FAN = 5          # landmark pairs fanned out per anchor peak
FP_MAX_DT = 63      # max frame gap anchor→target (6 bits in the hash)
FP_MAG_FLOOR = 0.01  # absolute peak-magnitude floor (silence emits nothing)
FP_MAX_REPEAT = 3   # occurrences kept per (clip, hash) — see landmark_hashes


def spectral_peaks(wave: "np.ndarray", n_fft: int = FP_N_FFT,
                   hop: int = FP_HOP,
                   peaks_per_frame: int = FP_PEAKS) -> "np.ndarray":
    """Constellation peaks of a waveform: per Hann-windowed STFT frame, the
    ``peaks_per_frame`` largest frequency-local-maxima bins above an
    absolute magnitude floor. Returns an (n, 2) int32 array of (frame, bin)
    sorted by (frame, bin) — fully deterministic (magnitude ties break to
    the LOWER bin via stable argsort over the bin axis)."""
    wave = np.asarray(wave, dtype=np.float64)
    if len(wave) < n_fft:
        wave = np.pad(wave, (0, n_fft - len(wave)))
    n_frames = 1 + (len(wave) - n_fft) // hop
    idx = np.arange(n_fft)[None, :] + hop * np.arange(n_frames)[:, None]
    mag = np.abs(np.fft.rfft(wave[idx] * np.hanning(n_fft)[None, :], axis=1))
    # frequency-local maxima (strictly above the left neighbour, at least
    # the right — a flat-top pair yields exactly its left member)
    local = np.zeros_like(mag, dtype=bool)
    local[:, 1:-1] = (mag[:, 1:-1] > mag[:, :-2]) & (mag[:, 1:-1] >= mag[:, 2:])
    cand = np.where(local & (mag > FP_MAG_FLOOR), mag, 0.0)
    # top-k per frame, deterministic: stable argsort of (-mag) keeps lower
    # bins first among ties
    order = np.argsort(-cand, axis=1, kind="stable")[:, :peaks_per_frame]
    rows = np.repeat(np.arange(n_frames), peaks_per_frame)
    cols = order.ravel()
    keep = cand[rows, cols] > 0.0
    pts = np.stack([rows[keep], cols[keep]], axis=1).astype(np.int32)
    return pts[np.lexsort((pts[:, 1], pts[:, 0]))]


def landmark_hashes(peaks: "np.ndarray", fan_out: int = FP_FAN,
                    max_dt: int = FP_MAX_DT) -> "np.ndarray":
    """Pair each constellation peak with its next ``fan_out`` peaks within
    ``max_dt`` frames → (hash, t1) landmark rows (int64). The hash packs
    (f1, f2, dt) as ``f1 << 15 | f2 << 6 | dt`` — 9+9+6 bits, so it is
    translation-invariant: the same audio shifted by k frames emits the
    same hashes with t1 shifted by k (the matcher's offset vote)."""
    out = []
    n = len(peaks)
    for i in range(n):
        t1, f1 = int(peaks[i, 0]), int(peaks[i, 1])
        taken = 0
        for j in range(i + 1, n):
            dt = int(peaks[j, 0]) - t1
            if dt <= 0:
                continue
            if dt > max_dt:
                break
            out.append(((f1 << 15) | (int(peaks[j, 1]) << 6) | dt, t1))
            taken += 1
            if taken >= fan_out:
                break
    lm = np.asarray(out, dtype=np.int64).reshape(-1, 2)
    if len(lm) > FP_MAX_REPEAT:
        # Cap repeats of the SAME hash within one clip at FP_MAX_REPEAT
        # (first occurrences by t1). A sustained tone emits one identical
        # (f1,f2,dt) hash per anchor frame; matched against another clip's
        # sustained tone those repeats vote a consistent diagonal offset
        # band, manufacturing false matches between unrelated clips
        # (measured: 40 votes a↔c on disjoint random tone sequences,
        # vs 6 after the cap, with the true-overlap votes intact).
        # Repeats carry no extra landmark information, and capping HERE —
        # inside the per-clip numpy pass — costs no shuffle, whereas a
        # (id, hash) window downstream would re-shuffle the whole
        # fingerprint table on a key the matcher's hash join can't reuse.
        srt = lm[np.lexsort((lm[:, 1], lm[:, 0]))]
        new_h = np.flatnonzero(np.diff(srt[:, 0]) != 0) + 1
        starts = np.concatenate([[0], new_h])
        occ = np.arange(len(srt)) - np.repeat(starts, np.diff(
            np.concatenate([starts, [len(srt)]])))
        kept = srt[occ < FP_MAX_REPEAT]
        lm = kept[np.lexsort((kept[:, 0], kept[:, 1]))]
    return lm


def audio_fingerprints_df(df: DataFrame,
                          carry_cols: "tuple[str, ...]" = ()) -> DataFrame:
    """Explode each clip into its landmark-fingerprint table
    ``(id, hash, t1)`` — the audio twin of the text shingle explode.
    One Arrow pass (mapInPandas may change row count); undecodable rows
    emit nothing, mirroring the codec-dispatch row-drop contract.
    Downstream: ``operators.similarity.audio_fingerprint_matches`` joins
    on ``hash`` behind the MAX_BUCKET cap and offset-votes — detects
    PARTIAL overlaps (the same recording embedded in a longer clip) that
    whole-clip embedding near-dup cannot localize.

    ``carry_cols``: per-clip columns replicated onto every emitted
    landmark row (the streaming matcher carries its event-time column
    through the extraction this way — the watermark is re-declared on the
    carried column afterwards, since a mapInPandas output is a fresh
    attribute set and cannot inherit the annotation)."""
    return _explode_clips(df, "id", [
        StructField("hash", LongType()),
        StructField("t1", IntegerType()),
    ], lambda w, sr: landmark_hashes(spectral_peaks(w)).tolist(), carry_cols)


# ------------------------------------------------------------------ stubs

def decode_compressed_audio(raw: bytes, codec: str) -> np.ndarray:
    """Decode opus/mp3/flac → waveform. STUB: no codec libs in this container."""
    raise NotImplementedError(
        f"codec '{codec}' decode requires libsndfile/ffmpeg (not in container); "
        "pcm_s16le is handled by decode_pcm_s16le and WAV containers by "
        "decode_wav"
    )


def sample_video_frames(raw: bytes, every_ms: int = 1000) -> "list[bytes]":
    """Frame sampling from a video container. STUB: no ffmpeg in container."""
    raise NotImplementedError("video frame sampling requires ffmpeg (not in container)")
