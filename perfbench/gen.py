"""Seeded input generators for the three benchmark workloads.

Every input is a pure function of (workload, seed, GEN_VERSION): it is
written once under the work directory and reused by later runs with the
same key. No download is needed; the multilingual vocabulary comes from
per-language character Markov chains trained on the reference's 13 golden
sentences (``heliport_spark.sources.clips.GOLDEN_SENTS``).

Run as a script (``python3 perfbench/gen.py WORKLOAD SEED OUT_DIR``) it writes
the inputs plus ``props.json`` (the input's stated properties) and, for
``curate_docs``, the DuckDB oracle results of the two timed queries.
"""

from __future__ import annotations

import inspect
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_VERSION = 1

# filter_hot: a ~32-word English-like vocabulary (the bench.py corpus shape)
HOT_VOCAB = (
    "the a data table spark query value batch window stream column row "
    "order group filter merge scan join sort hash key part line big small "
    "fast slow customer vector agg select index"
).split()

# warm-up words are "qxz" + letters from this alphabet: no golden sentence
# has a "qxz" bigram chain (and HOT_VOCAB no such word), so warm-up words
# never become memo entries of the timed input
WARM_ALPHABET = "qxzjkvw"

CLIP_FIELDS = [
    ("clip_id", pa.string()), ("bytes", pa.binary()), ("sr_hz", pa.int32()),
    ("dur_ms", pa.int32()), ("codec", pa.string()), ("transcript", pa.string()),
]
CLIP_SCHEMA = pa.schema([pa.field(n, t, nullable=(n != "clip_id"))
                         for n, t in CLIP_FIELDS])
CHARS_PER_SEC = 15.0
PCM_SAMPLES = 64  # short PCM: the default pipeline never decodes audio


def _pcm_variants(rng: np.random.Generator, k: int = 16) -> "list[bytes]":
    t = np.arange(PCM_SAMPLES) / 16000.0
    out = []
    for _ in range(k):
        w = 0.3 * np.sin(2 * np.pi * rng.uniform(200, 800) * t)
        w += 0.02 * rng.standard_normal(PCM_SAMPLES)
        out.append((np.clip(w, -1, 1) * 32767).astype("<i2").tobytes())
    return out


def _clips_table(texts: "list[str] | pa.Array", ids: np.ndarray,
                 rng: np.random.Generator, rate_outlier: np.ndarray) -> pa.Table:
    """clips rows for the given transcripts: dur_ms tracks the transcript
    length at CHARS_PER_SEC except on the planted rate outliers."""
    tarr = pa.array(texts, pa.string()) if not isinstance(texts, pa.Array) else texts
    nch = pc.utf8_length(tarr).to_numpy(zero_copy_only=False).astype(np.int64)
    dur = np.maximum(200, (nch * 1000 / CHARS_PER_SEC).astype(np.int64))
    dur = np.where(rate_outlier, np.where(ids % 2 == 0, 3_600_000, 20), dur)
    pcm = _pcm_variants(rng)
    pick = rng.integers(0, len(pcm), len(ids))
    return pa.table({
        "clip_id": pa.array([f"clip-{int(i):012d}" for i in ids], pa.string()),
        "bytes": pa.array([pcm[j] for j in pick], pa.binary()),
        "sr_hz": pa.array(np.full(len(ids), 16000, np.int32)),
        "dur_ms": pa.array(dur.astype(np.int32)),
        "codec": pa.array(["pcm_s16le"] * len(ids), pa.string()),
        "transcript": tarr,
    }, schema=CLIP_SCHEMA)


def _join_tokens(words: pa.Array, tok: np.ndarray, bounds: np.ndarray) -> pa.Array:
    """Row strings = space-joined words[tok[bounds[i]:bounds[i+1]]]."""
    flat = words.take(pa.array(tok))
    lists = pa.ListArray.from_arrays(pa.array(bounds.astype(np.int32)), flat)
    return pc.binary_join(lists, " ")


# ------------------------------------------------------------ Markov chains

def _chain(sentence: str, cjk: bool):
    """Character bigram chain of one sentence: (codepoint of each state,
    next-state lookup table of shape (states, 1024), the sentence's word
    lengths). State 0 is the word boundary."""
    s = sentence.lower()
    if cjk:
        words = [c for c in s if c.isalpha()]
        words = ["".join(words[i:i + 2]) for i in range(0, len(words), 2)]
    else:
        words = ["".join(c for c in w if c.isalpha()) for w in s.split()]
        words = [w for w in words if w]
    alpha = sorted({c for w in words for c in w})
    ix = {c: i + 1 for i, c in enumerate(alpha)}  # 0 = start/end
    A = len(alpha) + 1
    cnt = np.full((A, A), 0.05)  # smoothing keeps every letter reachable
    for w in words:
        seq = [0] + [ix[c] for c in w] + [0]
        for a, b in zip(seq, seq[1:]):
            cnt[a, b] += 1.0
    cnt[0, 0] = 0.0  # no empty words
    cum = np.cumsum(cnt / cnt.sum(axis=1, keepdims=True), axis=1)
    grid = (np.arange(1024) + 0.5) / 1024  # quantized inverse CDF per state
    table = np.minimum([np.searchsorted(c, grid) for c in cum], A - 1)
    table = np.asarray(table, np.int32)
    lens = np.array([len(w) for w in words])
    cps = np.array([0] + [ord(c) for c in alpha], np.uint32)
    return cps, table, lens


def _chain_words(chain, n: int, rng: np.random.Generator,
                 max_len: int = 12) -> np.ndarray:
    """n candidate words (may repeat) from a chain, as a (n, max_len)
    codepoint matrix padded with 0."""
    cps, table, lens = chain
    R = table.shape[1]
    mat = np.zeros((n, max_len), np.uint32)
    state = np.zeros(n, np.int32)
    alive = np.ones(n, bool)
    # a per-word length cap drawn from the sentence's own word lengths
    cap = np.clip(rng.choice(lens, n) + rng.integers(-1, 3, n), 1, max_len)
    u = rng.integers(0, R, (max_len, n), dtype=np.uint16)
    for t in range(max_len):
        nxt = table[state, u[t]]
        if t == 0:
            nxt = np.where(nxt == 0, 1, nxt)
        alive &= (nxt != 0) & (t < cap)
        mat[:, t] = np.where(alive, cps[nxt], 0)
        state = nxt
    return mat


def _vocab(chain, target: int, rng: np.random.Generator) -> np.ndarray:
    """Up to ``target`` distinct words in random rank order (fewer when the
    chain cannot produce that many from 2x as many draws)."""
    import pandas as pd

    mat = _chain_words(chain, 2 * target, rng)
    mult = np.random.default_rng(7).integers(1, 2**63, mat.shape[1], dtype=np.uint64) | 1
    h = (mat.astype(np.uint64) * mult).sum(axis=1)  # wraps mod 2**64
    first = np.sort(pd.Series(h).drop_duplicates().index.to_numpy())
    words = np.ascontiguousarray(mat[first]).view(f"<U{mat.shape[1]}").ravel()
    words = words[rng.permutation(len(words))[:target]]
    return words


def _zipf_ranks(rng: np.random.Generator, n: int, V: int) -> np.ndarray:
    """Continuous Zipf(s=1) ranks in [0, V): P(rank < r) = ln(r+1)/ln(V+1)."""
    r = np.floor(np.exp(rng.random(n) * np.log(V + 1.0))).astype(np.int64) - 1
    return np.clip(r, 0, V - 1)


# ------------------------------------------------------------ workloads

GOLDEN_ID0 = 900_000_000  # golden rows; adversarial rows follow them


def _salt_golden(texts: pa.Array, ids: np.ndarray, props: dict):
    """Append the golden and adversarial sentences as clips with known ids."""
    from heliport_spark.sources.clips import ADVERSARIAL_SENTS, GOLDEN_SENTS

    extra = list(GOLDEN_SENTS) + list(ADVERSARIAL_SENTS)
    props.update(golden_rows=len(GOLDEN_SENTS),
                 adversarial_rows=len(ADVERSARIAL_SENTS))
    eids = GOLDEN_ID0 + np.arange(len(extra))
    return (pa.concat_arrays([texts, pa.array(extra, pa.string())]),
            np.concatenate([ids, eids]))


def gen_filter_hot(seed: int, rows: int = 150_000):
    rng = np.random.default_rng([seed, 1])
    words = pa.array(HOT_VOCAB, pa.string())
    nw = rng.integers(38, 48, rows)  # ~300 characters
    bounds = np.zeros(rows + 1, np.int64)
    np.cumsum(nw, out=bounds[1:])
    tok = rng.integers(0, len(HOT_VOCAB), int(bounds[-1]))
    body = _join_tokens(words, tok, bounds)
    # a numeric salt makes every transcript distinct without adding a word:
    # the tokenizer drops digits, so the word memo stays 100% hot. '/'
    # splits it into short digit runs, which no scrub pattern (phone, ssn)
    # matches
    salt = pa.array([f" {seed % 1000}/{i // 1000}/{i % 1000:03d}"
                     for i in range(rows)], pa.string())
    texts = pc.binary_join_element_wise(body, salt, "")
    # no golden rows: their ~260 one-off words would be the only memo misses
    ids = np.arange(rows, dtype=np.int64)
    props = {"rows": rows, "golden_rows": 0, "adversarial_rows": 0,
             "vocab_words": len(HOT_VOCAB), "distinct_words": len(HOT_VOCAB),
             "dup_share": 0.0, "pii_share": 0.0, "cjk_share": 0.0,
             "rate_outlier_share": 0.0}
    return {"clips": [_clips_table(texts, ids, rng, np.zeros(rows, bool))]}, props


# filter_default row shares (stated, planted exactly)
DEFAULT_ROWS = 12_000
DUP_SHARE = 0.22       # exact-duplicate utterances, clustered in one file
PII_SHARE = 0.03       # rows carrying a PII/toxicity target
CJK_SHARE = 0.04       # majority-CJK rows
RATE_OUTLIER_SHARE = 0.004
N_FILES = 4
LANG_WEIGHTS = {  # golden sentence index -> row share among non-CJK rows
    0: 0.03, 1: 0.03, 2: 0.12, 4: 0.12, 5: 0.08, 6: 0.08, 7: 0.03,
    8: 0.13, 9: 0.08, 10: 0.10, 11: 0.13, 12: 0.03,
}
CJK_IDX = 3
PII_TEMPLATES = (
    "contact me at {w}.{n}@example.com or +1 (555) {n3}-{n4} now",
    "visit https://example.com/{w}?ref={n} and follow @{w}_{n}",
    "my ssn is {n3}-{n2}-{n4} ok",
    "this badword sentence has a slurword in it",
    "write to {w}@mail.example.org",
)


def _pii(rng, w: str) -> str:
    t = PII_TEMPLATES[int(rng.integers(len(PII_TEMPLATES)))]
    return t.format(w=w, n=int(rng.integers(1, 10**6)),
                    n2=f"{int(rng.integers(0, 100)):02d}",
                    n3=f"{int(rng.integers(100, 1000))}",
                    n4=f"{int(rng.integers(0, 10**4)):04d}")


def gen_filter_default(seed: int, rows: int = DEFAULT_ROWS,
                       vocab_per_weight: int = 600_000):
    from heliport_spark.sources.clips import GOLDEN_SENTS

    rng = np.random.default_rng([seed, 2])
    chains = {i: _chain(s, cjk=(i == CJK_IDX)) for i, s in enumerate(GOLDEN_SENTS)}
    vocabs = {i: _vocab(chains[i], int(vocab_per_weight * wgt), rng)
              for i, wgt in LANG_WEIGHTS.items()}
    vocabs[CJK_IDX] = _vocab(chains[CJK_IDX], 60_000, rng)
    langs = np.array(list(LANG_WEIGHTS))
    w = np.array([LANG_WEIGHTS[i] for i in langs])
    row_lang = rng.choice(langs, rows, p=w / w.sum())
    is_cjk = rng.random(rows) < CJK_SHARE
    row_lang[is_cjk] = CJK_IDX
    # log-normal length in words: 1 word .. ~2k characters
    nw = np.clip(np.round(rng.lognormal(np.log(18), 0.95, rows)), 1, 260).astype(np.int64)
    bounds = np.zeros(rows + 1, np.int64)
    np.cumsum(nw, out=bounds[1:])
    T = int(bounds[-1])
    tok_lang = np.repeat(row_lang, nw)
    # one flat word array: language blocks at fixed offsets
    order = sorted(vocabs)
    off = {}
    o = 0
    for i in order:
        off[i] = o
        o += len(vocabs[i])
    words_np = np.concatenate([vocabs[i] for i in order])
    tok = np.empty(T, np.int64)
    for i in order:
        m = tok_lang == i
        tok[m] = off[i] + _zipf_ranks(rng, int(m.sum()), len(vocabs[i]))
    words = pa.array(words_np.tolist(), pa.string())
    body = _join_tokens(words, tok, bounds)
    # CJK rows are written without spaces (majority-CJK → the CJK gate fires)
    texts = body.to_pylist()
    for r in np.flatnonzero(is_cjk).tolist():
        texts[r] = texts[r].replace(" ", "")
    pii_rows = np.flatnonzero(rng.random(rows) < PII_SHARE)
    for r in pii_rows.tolist():
        texts[r] = texts[r] + " " + _pii(rng, str(words_np[tok[bounds[r]]]))
    # exact duplicates: a re-upload burst fills most of one input file
    n_dup = int(round(DUP_SHARE * rows))
    per_file = rows // N_FILES
    burst_file = int(rng.integers(N_FILES))
    lo = burst_file * per_file
    dup_rows = lo + np.sort(rng.choice(per_file, min(n_dup, per_file), replace=False))
    originals = rng.choice(np.setdiff1d(np.arange(rows), dup_rows), 400, replace=False)
    src = originals[rng.integers(0, len(originals), len(dup_rows))]
    for r, s in zip(dup_rows.tolist(), src.tolist()):
        texts[r] = texts[s]
    props: dict = {}
    tarr, ids = _salt_golden(pa.array(texts, pa.string()),
                             np.arange(rows, dtype=np.int64), props)
    outlier = np.zeros(len(ids), bool)
    outlier[rng.choice(rows, int(RATE_OUTLIER_SHARE * rows), replace=False)] = True
    tbl = _clips_table(tarr, ids, rng, outlier)
    files = [tbl.slice(k * per_file, per_file if k < N_FILES - 1 else None)
             for k in range(N_FILES)]
    # per-worker distinct words against the word memo's cap: the token
    # stream split into k equal shares, one per Spark task slot
    from heliport_spark.heli import Scorer

    k = task_slots()
    V = len(words_np)
    shares = [np.count_nonzero(np.bincount(tok[a * T // k:(a + 1) * T // k], minlength=V))
              for a in range(k)]
    props.update({
        "rows": len(ids), "tokens": T, "vocab_words": V,
        "distinct_words": int(np.count_nonzero(np.bincount(tok, minlength=V))),
        "distinct_words_per_worker_min": int(min(shares)), "workers": k,
        "memo_cache_cap": inspect.signature(Scorer).parameters["cache_cap"].default,
        "dup_share": round(len(dup_rows) / rows, 4),
        "pii_share": round(len(pii_rows) / rows, 4),
        "cjk_share": round(float(is_cjk.mean()), 4),
        "rate_outlier_share": RATE_OUTLIER_SHARE,
    })
    return {"clips": files}, props


# curate_docs: small-vocabulary salad (the winnow vote exchange grows with
# how many documents share each fingerprint)
CURATE_DOCS = 300
DOC_LANGS = ("en", "zh", "es", "de", "fr")
DOC_LANG_P = (0.44, 0.15, 0.14, 0.14, 0.13)
N_SOURCES = 24
JUNK_SOURCES = 3
EXACT_DUP_SHARE = 0.06
NEAR_DUP_SHARE = 0.08
BOILER_SHARE = 0.12
BOILERPLATE = (
    "subscribe to the newsletter for the latest data table news and updates",
    "all rights reserved the customer agrees to the terms of the order",
    "click the big button below to join the stream and merge your key",
)


def gen_curate_docs(seed: int, n: int = CURATE_DOCS, vocab=tuple(HOT_VOCAB)):
    rng = np.random.default_rng([seed, 3])
    V = len(vocab)
    nw = np.clip(rng.normal(48, 20, n).round(), 12, 110).astype(int)
    texts = [" ".join(vocab[j] for j in rng.integers(0, V, k)) for k in nw]
    source = rng.integers(0, N_SOURCES, n)
    junk = source < JUNK_SOURCES
    for i in np.flatnonzero(junk).tolist():
        if rng.random() < 0.7:  # Gopher fails: too few words, no stopword
            texts[i] = " ".join(rng.choice(["xx", "zz", "qq", "kk"], 5))
    order = rng.permutation(n)
    n_ex = int(EXACT_DUP_SHARE * n)
    n_nd = int(NEAR_DUP_SHARE * n)
    n_bp = int(BOILER_SHARE * n)
    ex, nd, bp = order[:n_ex], order[n_ex:n_ex + n_nd], order[n_ex + n_nd:n_ex + n_nd + n_bp]
    for i in ex.tolist():
        texts[i] = texts[int(rng.integers(n))]
    for i in nd.tolist():
        t = texts[int(rng.integers(n))].split()
        for _ in range(2):
            t[int(rng.integers(len(t)))] = vocab[int(rng.integers(V))]
        texts[i] = " ".join(t)
    for i in bp.tolist():
        b = BOILERPLATE[int(rng.integers(len(BOILERPLATE)))]
        texts[i] = texts[i] + " " + b if rng.random() < 0.5 else b + " " + texts[i]
    lang = np.array(DOC_LANGS)[rng.choice(len(DOC_LANGS), n, p=DOC_LANG_P)]
    tbl = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([f"src{s}" for s in source], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })
    props = {"rows": n, "distinct_words": V, "exact_dup_share": EXACT_DUP_SHARE,
             "near_dup_share": NEAR_DUP_SHARE, "boilerplate_share": BOILER_SHARE,
             "junk_sources": JUNK_SOURCES, "sources": N_SOURCES,
             "junk_doc_share": round(float(junk.mean()), 4)}
    return {"documents": [tbl]}, props


def _warm_vocab(rng, n: int) -> "list[str]":
    letters = np.array(list(WARM_ALPHABET))
    return ["qxz" + "".join(rng.choice(letters, int(k)))
            for k in rng.integers(3, 8, n)]


def gen_warmup(seed: int, rows: int = 2_000) -> pa.Table:
    """Warm-up clips over a 1.5k-word vocabulary disjoint from every timed
    input (see WARM_ALPHABET)."""
    rng = np.random.default_rng([seed, 9])
    vocab = _warm_vocab(rng, 1500)
    nw = rng.integers(5, 30, rows)
    texts = [" ".join(vocab[j] for j in rng.integers(0, len(vocab), k)) for k in nw]
    ids = 800_000_000 + np.arange(rows, dtype=np.int64)
    return _clips_table(texts, ids, rng, np.zeros(rows, bool))


def task_slots() -> int:
    """k of the local[k] master every run uses."""
    return max(1, min(4, os.cpu_count() or 1))


GENERATORS = {"filter_hot": gen_filter_hot, "filter_default": gen_filter_default,
              "curate_docs": gen_curate_docs}


def _write_table(out_dir: str, name: str, parts: "list[pa.Table]") -> int:
    """One parquet directory per table (Spark and DuckDB both read it)."""
    d = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(d)
    for k, p in enumerate(parts):
        pq.write_table(p, os.path.join(d, f"part-{k:03d}.parquet"),
                       row_group_size=16_384)
    return sum(p.nbytes for p in parts)


def write_inputs(workload: str, seed: int, out_dir: str) -> dict:
    from oracle import curate_oracle, scrub_totals

    os.makedirs(out_dir)
    tables, props = GENERATORS[workload](seed)
    props["bytes"] = sum(_write_table(out_dir, n, t) for n, t in tables.items())
    props["gen_version"] = GEN_VERSION
    if workload == "curate_docs":
        # warm-up documents: same shape, disjoint words (+ the stopwords
        # the Gopher gate needs)
        rng = np.random.default_rng([seed, 10])
        warm, _ = gen_curate_docs(seed, 100, tuple(_warm_vocab(rng, 30)) + ("the", "a"))
        _write_table(os.path.join(out_dir, "warmup_docs"), "documents", warm["documents"])
        curate_oracle(out_dir)
    else:
        _write_table(out_dir, "warmup", [gen_warmup(seed)])
        props["id_sum"] = int(sum(
            pc.sum(pc.cast(pc.utf8_slice_codeunits(t.column("clip_id"), 5),
                           pa.int64())).as_py()
            for t in tables["clips"]))
        props["scrub_len"], props["scrub_spans"] = scrub_totals(
            os.path.join(out_dir, "clips.parquet", "*.parquet"))
    with open(os.path.join(out_dir, "props.json"), "w") as fh:
        json.dump(props, fh)
    return props


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    wl, sd, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    write_inputs(wl, sd, tmp)
    os.replace(tmp, out)
