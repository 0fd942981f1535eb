#!/usr/bin/env python3
"""Single-core scorer micro-benchmark (the number BENCH.md quotes against the
reference's 42.9k sents/s single-thread figure).

Synthesizes deterministic real-language sentences from the model's own word
tables (top order-0 words per language — the same trick ft_train uses), then
times identify_batch over 10k-text batches:

* cold  — fresh Scorer, empty memo: measures preprocessing + n-gram hashing +
          lookup + scatter (the cache-miss path ROADMAP item 4 targets)
* warm  — second pass over the same distinct vocabulary: measures the
          steady-state memo-hit path

``--parquet DIR`` instead replays the identify UDF's body
(``operators.identify.identify_columns``, every output on) once per parquet
file of DIR's ``transcript`` column, with a fresh Scorer per file, the shape
of one pipeline task per input file on a cold worker. It prints the min over
``SCORER_BENCH_REPS`` passes of each kernel's ms summed over the files:
context (dedup, P1-P4, span hashing), score (C1-C5), word-NLL, ft,
textstats, and the whole call.

Usage: python scripts/scorer_bench.py [n_texts] [words_per_text]
       python scripts/scorer_bench.py --parquet DIR
"""

from __future__ import annotations

import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(v, "1")


def synth_corpus(model, n_texts: int, words_per_text: int) -> "list[str]":
    """Deterministic sentences: for each of 24 well-resourced languages, draw
    words from that language's top-1500 ranked words (``vocab.top_words``)."""
    import numpy as np

    from heliport_spark.langs import LANGS
    from heliport_spark.vocab import top_words

    rng = random.Random(1234)
    langs = [
        "eng", "spa", "fra", "deu", "por", "ita", "nld", "pol", "rus", "ukr",
        "ces", "ron", "swe", "dan", "fin", "hun", "tur", "vie", "ind", "cat",
        "nor", "slk", "bul", "ell",
    ]
    li = {l: i for i, l in enumerate(LANGS)}
    o0 = model.orders[0]
    # invert postings: per target lang, grams whose posting list contains it
    # (order-0 keys are hashes; we need actual words — read the ranked word
    # lists: the reference's word models, else the recovered models/vocab)
    vocab: dict[str, list[str]] = {}
    for l in langs:
        try:
            words = [w for w in top_words(l, 1500) if w]
        except FileNotFoundError:
            continue
        if words:
            vocab[l] = words
    have = sorted(vocab)
    texts = []
    for i in range(n_texts):
        l = have[i % len(have)]
        ws = vocab[l]
        texts.append(" ".join(rng.choice(ws) for _ in range(words_per_text)))
    return texts


KERNELS = ("context", "score", "word_nll", "ft", "textstats", "total")


def _timed(fn, acc: dict, key: str):
    def wrapped(*a, **kw):
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            acc[key] += time.perf_counter() - t0
    return wrapped


def replay_parquet(path: str, reps: int) -> dict:
    """Min-of-``reps`` ms per kernel of identify_columns over DIR's files."""
    import glob

    import pyarrow.parquet as pq

    import heliport_spark.textstats as ts
    from heliport_spark.heli import Scorer
    from heliport_spark.model import get_model
    from heliport_spark.operators.identify import identify_columns

    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) or [path]
    batches = [pq.read_table(f, columns=["transcript"]).column(0).to_pylist()
               for f in files]
    model = get_model()
    best = dict.fromkeys(KERNELS, float("inf"))
    stats = ts.text_stats_joined
    methods = ("context", "identify_context", "word_nll", "ft_identify")
    for _ in range(reps):
        acc = dict.fromkeys(methods + ("textstats", "total"), 0.0)
        ts.text_stats_joined = _timed(stats, acc, "textstats")
        try:
            for texts in batches:
                sc = Scorer(model)
                for m in methods:
                    setattr(sc, m, _timed(getattr(sc, m), acc, m))
                t0 = time.perf_counter()
                identify_columns(sc, texts, False, True, True, True)
                acc["total"] += time.perf_counter() - t0
        finally:
            ts.text_stats_joined = stats
        # identify_context calls word_nll: score is the rest of it
        acc["score"] = acc.pop("identify_context") - acc["word_nll"]
        acc["ft"] = acc.pop("ft_identify")
        for k in KERNELS:
            best[k] = min(best[k], acc[k] * 1e3)
    return {"files": len(files), "rows": sum(map(len, batches)), **best}


def main():
    if len(sys.argv) > 2 and sys.argv[1] == "--parquet":
        reps = int(os.environ.get("SCORER_BENCH_REPS", "3"))
        res = replay_parquet(sys.argv[2], reps)
        print(f"identify_columns replay: {res['files']} files, "
              f"{res['rows']} rows, fresh Scorer per file, min of {reps} (ms)")
        for k in KERNELS:
            print(f"{k:>10} {res[k]:>10.1f}")
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--sweep":
        # length sweep: the engine is length-linear, so texts/s alone is
        # meaningless without words/text — report words/s alongside (the
        # reference's 42.9k sents/s is on OpenLID sentences, whose length
        # is NOT 45 words; per-word rate is the length-fair comparison)
        from heliport_spark.heli import Scorer
        from heliport_spark.model import get_model

        model = get_model()
        reps = int(os.environ.get("SCORER_BENCH_REPS", "3"))
        print(f"{'wpt':>4} {'texts/s warm':>14} {'words/s warm':>14}")
        for wpt in (8, 12, 18, 25, 45):
            n = 20_000
            texts = synth_corpus(model, n, wpt)
            batches = [texts[i : i + 10_000] for i in range(0, n, 10_000)]
            sc = Scorer(model)
            _timed_pass(sc, batches)  # fill memo
            warm = min(_timed_pass(sc, batches) for _ in range(reps))
            tps = n / warm
            print(f"{wpt:>4} {tps:>14,.0f} {tps * wpt:>14,.0f}")
        return

    n_texts = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    wpt = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    from heliport_spark.heli import Scorer
    from heliport_spark.model import get_model

    model = get_model()
    texts = synth_corpus(model, n_texts, wpt)
    batches = [texts[i : i + 10_000] for i in range(0, len(texts), 10_000)]

    sc = Scorer(model)
    sc.identify_batch(texts[:256])  # numpy/JIT-ish warmup, tiny memo seed
    reps = int(os.environ.get("SCORER_BENCH_REPS", "3"))
    # min-of-N: hypervisor steal on this host is bursty (up to 2× per run)
    cold = min(
        _timed_pass(Scorer(model), batches) for _ in range(reps)
    )  # fresh memo each rep
    sc = Scorer(model)
    _timed_pass(sc, batches)  # fill memo
    warm = min(_timed_pass(sc, batches) for _ in range(reps))

    distinct = len({w for t in texts for w in t.split()})
    print(
        f"texts={n_texts} words/text={wpt} distinct_words={distinct}\n"
        f"cold: {cold:.2f}s = {n_texts / cold:,.0f} texts/s (min of {reps})\n"
        f"warm: {warm:.2f}s = {n_texts / warm:,.0f} texts/s (min of {reps})"
    )


def _timed_pass(sc, batches) -> float:
    t0 = time.time()
    for b in batches:
        sc.identify_batch(b)
    return time.time() - t0


if __name__ == "__main__":
    main()
