"""HeLI-style n-gram language identification — vectorized numpy core.

From-scratch reimplementation of the reference's scoring dataflow
(``/root/reference/src/identifier.rs``), restructured for columnar batches:

* P1 lowercase (identifier.rs:176)
* P2 non-alpha → space via codepoint keep-table (identifier.rs:177, utils.rs:8-11)
* P3 CJK boundary split + cjk/mystery counting (identifier.rs:180-217)
* P4 whitespace tokenize (identifier.rs:224-228)
* P5 char n-gram shingles over " word " (identifier.rs:244-253)
* C1 gram lookup-accumulate with penalty 7.0 (identifier.rs:139-168)
* C2 word→hexagram→…→unigram back-off, normalize by found-gram count
  (identifier.rs:238-266)
* C3 per-text normalization + CJK mass-penalty 8.0 (identifier.rs:281-298)
* C4 winner argmin with the reference's ``<=`` scan (last index wins ties,
  identifier.rs:56-69), macrolang collapse
* C5 confidence = second-best (collapse-distinct) − best, thresholded → und
  (identifier.rs:72-96)
* C6 top-k ranking with collapse-dedup (identifier.rs:101-136)
* C7 empty/no-word fallback → (zxx, 7.0) (identifier.rs:309-315)

One batch, one context: ``BatchContext`` holds everything the consumers of
a batch share — the exact-duplicate factorize of the raw texts, the raw
``'\\n'`` join and its lowered copy, P1-P4 over the distinct texts and the
token span hashes. HeLI scoring, the word-NLL signal, the fastText
cross-check and (in the identify UDF) textstats are functions of it,
computed once per distinct text and scattered back by the dedup codes. The
identify UDF runs the fastText cross-check on ``BatchContext.subset`` of
the texts whose HeLI label is determined (operators/identify.py). The
public ``*_batch`` calls each build their own context and score every text.

Two accumulation modes:

* ``exact=True``: float32 additions in the reference's exact sequential order
  (gram-by-gram, word-by-word) — reproduces the Rust golden scores to 4
  decimals. Used for parity tests and reference-label generation.
* fast (default): fully codepoint-level — tokens are SPANS over one cleaned
  codepoint buffer, interned by a 64-bit span hash that doubles as the
  order-0 model key; cascade n-grams are hashed straight out of a padded
  codepoint buffer (no substring objects anywhere); scored words live in a
  CSR-style cross-batch vocab bank so per-batch assembly is one vectorized
  gather. A text's score is the f64 sum of its words' vectors
  (``_row_sums``), rounded to f32 once, so it does not depend on which
  texts share its batch. Same labels as exact except in pathological float
  ties; this is the 100 TB path (~78k short texts/s/core, see BENCH.md).

No Spark imports here — this module runs inside Arrow-batch UDFs.
"""

from __future__ import annotations

import numpy as np

from .ft_train import FT_BUCKETS, FT_NGRAMS
from .langs import CJK_LANG_MASK, COLLAPSE, LANGS_ARR, N_LANGS, UND, ZXX
from .model import (
    _FNV_OFFSET,
    _FNV_PRIME,
    _SM1,
    _SM2,
    PENALTY,
    HeliModel,
    get_model,
    hash_grams,
    sorted_probe,
)

MAX_NGRAM = 6  # identifier.rs:38
CJK_OVERRIDE = PENALTY + np.float32(1.0)  # 8.0 (identifier.rs:296)
_COLLAPSE_I = COLLAPSE.astype(np.int64)
_EMPTY_I16 = np.empty(0, np.int16)
_EMPTY_F32 = np.empty(0, np.float32)

# word-NLL gathers from a dense (distinct word × winner lang) matrix built
# this many cells at a time (32 MB of f32), one block of winner columns each
_WNLL_BLOCK_CELLS = 8_000_000
# _seq_row_sums sums length-sorted segments this many at a time, and a
# segment left alone in its block's tail finishes this many rows per chunk
_SEQ_BLOCK = 256
_SEQ_CHUNK = 4096


def _shingles(wordspace: str, t: int) -> "list[str]":
    """Char windows of width t over an already space-padded word (P5)."""
    n = len(wordspace) - t + 1
    return [wordspace[i : i + t] for i in range(n)] if n > 0 else []


def _splitmix(h: np.ndarray) -> np.ndarray:
    h = (h ^ (h >> np.uint64(30))) * _SM1
    h = (h ^ (h >> np.uint64(27))) * _SM2
    return h ^ (h >> np.uint64(31))


def _hash_spans(cp: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """``hash_grams``-identical FNV-1a + splitmix over variable-length spans
    of a codepoint buffer — no substring materialization (ROADMAP item 4:
    the cold-cache path hashes straight from codepoints)."""
    n = len(starts)
    if n == 0:
        return np.full(n, _FNV_OFFSET, dtype=np.uint64)
    # sort spans by length (radix argsort, O(n) for ints): at char j the
    # still-live spans are then exactly the tail lens_sorted > j, so every
    # FNV step is ONE in-place xor-mul over a contiguous slice — no per-lane
    # masks, no np.where allocations (measured 83 → ~30 ms on a 450k-token
    # batch of mean-6 words). Work is Σ lens element-ops + max_len numpy
    # calls: one pathological 100k-char token costs O(its length) calls on
    # 1-element tails, never O(length × batch width).
    # narrowest radix key that holds max(lens): uint8 keys make the radix
    # argsort a single byte-pass (measured 17.6 → ~4 ms on a 562k-token
    # batch vs int32; token lengths exceed 255 only on pathological input,
    # which falls back to the wider key — same stable order either way)
    max_len = int(lens.max())
    key_dtype = np.uint8 if max_len <= 0xFF else (
        np.uint16 if max_len <= 0xFFFF else np.int32
    )
    order = np.argsort(lens.astype(key_dtype, copy=False), kind="stable")
    ls = lens[order]
    ss = starts[order]
    hs = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    # running start cursor incremented in place on the live tail: one fewer
    # index-array temporary per char step than `ss[sl] + j`
    ssj = ss.astype(np.int64, copy=True)
    with np.errstate(over="ignore"):
        for j in range(max_len):
            lo = int(np.searchsorted(ls, j + 1))
            sl = slice(lo, n)
            tail = hs[sl]  # contiguous basic slice — a view, ops in place
            np.bitwise_xor(tail, cp[ssj[sl]], out=tail)
            np.multiply(tail, _FNV_PRIME, out=tail)
            ssj[sl] += 1
        hs = _splitmix(hs)
    h = np.empty(n, dtype=np.uint64)
    h[order] = hs
    return h


def _hash_windows(buf: np.ndarray, wstart: np.ndarray, t: int) -> np.ndarray:
    """FNV-1a + splitmix over all fixed-width-t windows (P5 shingles) of a
    codepoint buffer; every window is exactly t chars so no masking."""
    h = np.full(len(wstart), _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(t):
            h = (h ^ buf[wstart + j].astype(np.uint64)) * _FNV_PRIME
        h = _splitmix(h)
    return h


def _pad_spans(cp: np.ndarray, starts: np.ndarray, lens: np.ndarray):
    """``' w '`` for every span, packed into one codepoint buffer by one
    scatter → (pbuf uint32[], pstart int64[k+1], lenp int64[k])."""
    lenp = lens + 2
    pstart = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lenp, out=pstart[1:])
    pbuf = np.full(int(pstart[-1]), 0x20, dtype=np.uint32)
    cum0 = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=cum0[1:])
    ar = np.arange(int(lens.sum()))
    pbuf[np.repeat(pstart[:-1] + 1 - cum0, lens) + ar] = \
        cp[np.repeat(starts - cum0, lens) + ar]
    return pbuf, pstart, lenp


def _padded_windows(pbuf: np.ndarray, pstart: np.ndarray, lenp: np.ndarray,
                    rows: np.ndarray, t: int):
    """Hashes of every width-t window of the padded spans ``rows`` (P5), in
    (span, offset) order → (hashes, owner — index into ``rows`` —, nwin)."""
    nwin = np.maximum(lenp[rows] - t + 1, 0)
    cumw = np.zeros(len(rows), dtype=np.int64)
    np.cumsum(nwin[:-1], out=cumw[1:])
    wstart = np.repeat(pstart[rows] - cumw, nwin) + np.arange(int(nwin.sum()))
    return (_hash_windows(pbuf, wstart, t),
            np.repeat(np.arange(len(rows)), nwin), nwin)


def _seq_row_sums(M: np.ndarray, idx: np.ndarray, seg_start: np.ndarray,
                  seg_len: np.ndarray, dtype=None) -> np.ndarray:
    """Per segment s: Σ_j M[idx[seg_start[s] + j]] over j < seg_len[s],
    added sequentially from +0.0 in j order into a ``dtype`` accumulator
    (default ``M.dtype``) — bit-identical to numpy's axis-0 sum of the
    segment's rows and to ``np.add.at`` over them (``np.add.reduceat`` is
    not). Segments are sorted by length and summed in blocks of
    ``_SEQ_BLOCK``; inside a block a shrinking-tail loop over j adds the
    live segments' rows (a contiguous tail) through two reused buffers, so
    every step gathers into cache-sized memory instead of allocating a
    fresh (tail × columns) temporary. A segment left alone in its block's
    tail (one long word or text) finishes in sequential chunks instead of
    one numpy call per row."""
    k = len(seg_len)
    dt = np.dtype(dtype or M.dtype)
    out = np.empty((k, M.shape[1]), dtype=dt)
    order = np.argsort(seg_len, kind="stable")
    ls = seg_len[order]
    base = seg_start[order]
    M = np.asarray(M)  # a memmap's subclass indexing stays off the path
    acc = np.empty((min(k, _SEQ_BLOCK), M.shape[1]), dtype=dt)
    buf = np.empty(acc.shape, dtype=M.dtype)
    for b0 in range(0, k, _SEQ_BLOCK):
        lb, bb = ls[b0 : b0 + _SEQ_BLOCK], base[b0 : b0 + _SEQ_BLOCK]
        nb = len(lb)
        a = acc[:nb]
        a.fill(0)
        for j in range(int(lb[-1])):
            lo = int(np.searchsorted(lb, j + 1))
            if lo == nb - 1:
                rest = idx[bb[lo] + j : bb[lo] + lb[lo]]
                r = a[lo]
                for c in range(0, len(rest), _SEQ_CHUNK):
                    r = np.vstack([r[None], M[rest[c : c + _SEQ_CHUNK]]]).sum(axis=0)
                a[lo] = r
                break
            # mode="clip": take buffers its output under the default "raise";
            # every index is in range
            g = np.take(M, idx[bb[lo:] + j], axis=0, out=buf[: nb - lo],
                        mode="clip")
            a[lo:] += g
        out[order[b0 : b0 + nb]] = a
    return out


def _ft_word_sums(M: np.ndarray, cp: np.ndarray, starts: np.ndarray,
                  lens: np.ndarray):
    """Per-word fastText features for token spans: (Σ M[buckets] f32[k,242],
    bucket count f32[k]), bit-identical to ``M[word_buckets(w)].sum(axis=0)``
    and ``len(word_buckets(w))`` (ft_train.py, the training-side definition).
    Buckets come from the padded-word windows; a stable sort by word of the
    per-width window runs lays them out in ``word_buckets`` order (all
    2-grams, then 3-, 4-, 5-grams) — four presorted runs, so the sort is a
    cheap merge."""
    k = len(starts)
    pbuf, pstart, lenp = _pad_spans(cp, starts, lens)
    win = [_padded_windows(pbuf, pstart, lenp, np.arange(k), t)
           for t in FT_NGRAMS]
    owner = np.concatenate([w[1] for w in win])
    order = np.argsort(owner, kind="stable")
    bk = (np.concatenate([w[0] for w in win])[order]
          % np.uint64(FT_BUCKETS)).astype(np.int64)
    cnt = np.bincount(owner, minlength=k)
    start = np.zeros(k, dtype=np.int64)
    np.cumsum(cnt[:-1], out=start[1:])
    return _seq_row_sums(M, bk, start, cnt), cnt.astype(np.float32)


def _dedup(texts: "list[str]"):
    """Exact-duplicate factorize of raw texts → (codes int[n] | None, distinct
    texts in first-appearance order); codes is None when every text is
    distinct (the distinct list is then ``texts`` itself).

    ``pyarrow.compute.dictionary_encode`` hashes length-delimited UTF-8, so
    it is NUL-safe by construction (pandas hashes ``str`` as C strings and
    would merge ``'A\\x00B'`` with ``'A'``)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    enc = pc.dictionary_encode(pa.array(texts, type=pa.string()))
    if len(enc.dictionary) == len(texts):
        return None, texts
    return enc.indices.to_numpy(), enc.dictionary.to_pylist()


def _preprocess(model: HeliModel, texts: "list[str]"):
    """P1-P4 for a batch of str in one numpy pass — codepoint-level.

    Returns (raw, low, core): the raw ``'\\n'`` join, its lowered copy (None
    when a text embeds ``'\\n'``) and core = (cp, s_idx, e_idx, tok_text,
    bounds, cjk_pct, valid):
      cp        uint32[] cleaned codepoint buffer of all texts joined
      s_idx     int64[n_tokens] token start offsets into cp
      e_idx     int64[n_tokens] token end offsets (inclusive)
      tok_text  int64[n_tokens] owning-text index
      bounds    int64[n+1] token offsets per text
      cjk_pct   float32[n]
      valid     bool[n] (≥1 token)
    Texts are lowered (P1) then joined with '\\n' (never in the kept set →
    becomes a space → a guaranteed token boundary)."""
    n = len(texts)
    cjk_pct = np.zeros(n, dtype=np.float32)
    valid = np.zeros(n, dtype=bool)
    # P1 fast path: ONE C-level .lower() over the joined buffer instead
    # of n Python calls (24 → ~3 ms per 10k batch). Safe because '\n' is
    # neither cased nor case-ignorable, so even the conditional
    # final-sigma mapping sees the same context at text boundaries as it
    # would per-text; boundaries are recovered from the actual separator
    # positions AFTER lowering (length-changing mappings like 'İ'→'i̇'
    # shift offsets, never create or destroy '\n'). Texts that embed a
    # newline take the per-text path.
    raw = "\n".join(texts)
    low = raw.lower() if raw.count("\n") == n - 1 else None
    joined = low
    if joined:
        cp = np.frombuffer(joined.encode("utf-32-le"), dtype="<u4")
        text_start = np.empty(n + 1, dtype=np.int64)
        text_start[0] = 0
        text_start[1:n] = np.flatnonzero(cp == 0x0A) + 1
        text_start[n] = len(cp) + 1
    else:
        lowered = [t.lower() for t in texts]
        # char offsets of each text inside the joined buffer
        lens = np.fromiter((len(t) for t in lowered), dtype=np.int64, count=n)
        text_start = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens + 1, out=text_start[1:])  # +1 for the separator
        joined = "\n".join(lowered)
        if joined:
            cp = np.frombuffer(joined.encode("utf-32-le"), dtype="<u4")
    if not joined:
        z = np.empty(0, np.int64)
        return raw, low, (np.empty(0, np.uint32), z, z, z,
                          np.zeros(n + 1, np.int64), cjk_pct, valid)
    cp = np.where(model.keep_table[cp], cp, np.uint32(0x20))
    # CJK fast path: the lowest CJK block starts at 0x2E80 (chartables
    # CJK_BLOCK_RANGES), so a batch whose max cleaned codepoint is below
    # it — or whose cjk-table gather comes back all-False (e.g. Hangul
    # syllables sit above 0x2E80 but outside the 17 blocks) — skips the
    # cjk prefix sum and both transition terms. Outputs are identical:
    # with iscjk all-False every cjk-derived term is False/0 and
    # cjk_pct keeps its +0.0 initialization (= 0/mystery bit-for-bit).
    iscjk = None
    if int(cp.max()) >= 0x2E80:
        iscjk = model.cjk_table[cp]
        if not iscjk.any():
            iscjk = None
    nonspace = cp != 0x20
    # per-text counts via prefix sums (robust to empty texts); int32 is
    # plenty (counts ≤ buffer length < 2^31 per Arrow batch) and halves
    # the traffic of the buffer-wide cumsums
    cs_ns = np.zeros(len(cp) + 1, dtype=np.int32)
    np.cumsum(nonspace, out=cs_ns[1:])
    t0 = text_start[:-1]
    t1 = np.minimum(text_start[1:] - 1, len(cp))  # exclude separator
    mystery = cs_ns[t1] - cs_ns[t0]
    nz = mystery > 0
    if iscjk is not None:
        cs_cjk = np.zeros(len(cp) + 1, dtype=np.int32)
        np.cumsum(iscjk, out=cs_cjk[1:])
        cjk_n = cs_cjk[t1] - cs_cjk[t0]
        cjk_pct[nz] = cjk_n[nz] / mystery[nz]
    # token boundaries: break at spaces and CJK↔non-CJK transitions (P3)
    prev_ns = np.empty_like(nonspace)
    prev_ns[0] = False
    prev_ns[1:] = nonspace[:-1]
    next_ns = np.empty_like(nonspace)
    next_ns[-1] = False
    next_ns[:-1] = nonspace[1:]
    if iscjk is not None:
        prev_cjk = np.empty_like(iscjk)
        prev_cjk[0] = False
        prev_cjk[1:] = iscjk[:-1]
        starts = nonspace & (~prev_ns | (iscjk != prev_cjk))
        next_cjk = np.empty_like(iscjk)
        next_cjk[-1] = False
        next_cjk[:-1] = iscjk[1:]
        ends = nonspace & (~next_ns | (iscjk != next_cjk))
    else:
        starts = nonspace & ~prev_ns
        ends = nonspace & ~next_ns
    s_idx = np.flatnonzero(starts)
    e_idx = np.flatnonzero(ends)
    tok_text = np.searchsorted(text_start[1:], s_idx, side="right")
    bounds = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(tok_text, minlength=n), out=bounds[1:])
    valid = bounds[1:] > bounds[:-1]
    return raw, low, (cp, s_idx, e_idx, tok_text, bounds, cjk_pct, valid)


def _token_strings(cp: np.ndarray, s_idx: np.ndarray, e_idx: np.ndarray):
    cleaned = cp.tobytes().decode("utf-32-le")
    return [cleaned[a : b + 1] for a, b in zip(s_idx.tolist(), e_idx.tolist())]


def _grow(arr: np.ndarray, need: int) -> np.ndarray:
    """``arr``, or a copy with room for ``need`` rows (capacity doubles)."""
    if need <= len(arr):
        return arr
    new = np.empty((max(need, 2 * len(arr)),) + arr.shape[1:], arr.dtype)
    new[: len(arr)] = arr
    return new


class _WordIndex:
    """Word-hash → slot map of a word memo: a SORTED key snapshot probed with
    ``sorted_probe``, one vectorized searchsorted (a per-unique dict.get
    generator measured ~20 ms per warm 10k×45-word batch; the probe is
    ~2 ms). Words are added once per batch; hashes are never re-added, so
    concatenate-and-sort needs no dedup."""

    def __init__(self):
        self.keys = np.empty(0, np.uint64)
        self.slots = np.empty(0, np.int64)

    def __len__(self) -> int:
        return len(self.keys)

    def lookup(self, h: np.ndarray) -> np.ndarray:
        """Slot of each hash, -1 for unknown."""
        p = sorted_probe(self.keys, h)
        hit = p >= 0
        p[hit] = self.slots[p[hit]]
        return p

    def add(self, h: np.ndarray, slots: np.ndarray) -> None:
        keys = np.concatenate([self.keys, h])
        order = np.argsort(keys)
        self.keys = keys[order]
        self.slots = np.concatenate([self.slots, slots])[order]


class BatchContext:
    """Everything the consumers of ONE batch of texts share, built once.

    Rows are the batch's DISTINCT texts (``texts``, first-appearance order);
    ``scatter`` maps a per-distinct-row output back to the batch rows. The
    fields are pure functions of the batch — nothing here outlives the
    call, so no cache keyed on batch contents exists anywhere:

      codes     int[n] dedup codes, None when every text is distinct
      texts     list[str] distinct texts (non-str rows count as '')
      raw, low  the raw '\\n' join of ``texts`` and its lowered copy (None
                when a text embeds '\\n': P1 then lowers per text)
      cp … valid  P1-P4 over ``texts`` (see ``_preprocess``)
      flat_ids, uniq_h, first_idx  token span hashes, first-appearance
                factorized, and each distinct token's first occurrence
    """

    def __init__(self, model: HeliModel, texts):
        tl = [t if isinstance(t, str) else "" for t in texts]
        self.n = len(tl)
        self.codes, self.texts = _dedup(tl)
        self.raw, self.low, core = _preprocess(model, self.texts)
        (self.cp, self.s_idx, self.e_idx, self.tok_text, self.bounds,
         self.cjk_pct, self.valid) = core
        self.tok_len = self.e_idx - self.s_idx + 1
        # distinct tokens by 64-bit span hash — the SAME hash the model keys
        # use (order-0 lookup consumes it directly) and the word memos' key
        # (a 64-bit collision merging two words is ~(d²/2)·2⁻⁶⁴, far below
        # the model's own hash-collision tolerance)
        self._set_words(_hash_spans(self.cp, self.s_idx, self.tok_len))

    def _set_words(self, tok_h: np.ndarray) -> None:
        """flat_ids, uniq_h and first_idx from the per-token span hashes.
        Hash factorize, not np.unique: no argsort (63 → 9 ms per 10k×45-word
        batch)."""
        import pandas as pd

        flat_ids, uniq_h = pd.factorize(tok_h)
        self.flat_ids = flat_ids.astype(np.int64, copy=False)
        self.uniq_h = np.asarray(uniq_h, dtype=np.uint64)
        # each distinct token's first occurrence: reversed scatter, the
        # last write per slot is the smallest index
        self.first_idx = np.empty(len(self.uniq_h), dtype=np.int64)
        self.first_idx[self.flat_ids[::-1]] = np.arange(
            len(self.flat_ids) - 1, -1, -1, dtype=np.int64
        )

    def scatter(self, a: np.ndarray) -> np.ndarray:
        return a if self.codes is None else a[self.codes]

    def subset(self, rows: np.ndarray) -> "BatchContext":
        """The context of the distinct texts ``rows`` (ascending indices into
        ``texts``), cut out of this one without a second P1-P4 or hashing
        pass: every field equals that of a context built from those texts,
        except that ``cp`` is this context's buffer (the token offsets index
        it) and ``raw``/``low`` are None (textstats cannot read a subset)."""
        sub = object.__new__(BatchContext)
        sub.n = len(rows)
        sub.codes, sub.raw, sub.low = None, None, None
        sub.texts = [self.texts[i] for i in rows]
        cnt = np.diff(self.bounds)[rows]
        sub.bounds = np.zeros(len(rows) + 1, dtype=np.int64)
        np.cumsum(cnt, out=sub.bounds[1:])
        tk = np.repeat(self.bounds[rows] - sub.bounds[:-1], cnt) + \
            np.arange(int(sub.bounds[-1]))
        sub.cp = self.cp
        sub.s_idx, sub.e_idx, sub.tok_len = (
            self.s_idx[tk], self.e_idx[tk], self.tok_len[tk])
        sub.tok_text = np.repeat(np.arange(len(rows)), cnt)
        sub.cjk_pct, sub.valid = self.cjk_pct[rows], self.valid[rows]
        sub._set_words(self.uniq_h[self.flat_ids[tk]])
        return sub


def _row_sums(ctx: BatchContext, X: np.ndarray) -> np.ndarray:
    """Per distinct text of ``ctx``: Σ X[word] over its tokens, accumulated
    in float64 → (n, m) f64, for a (distinct word × m) matrix ``X``. The
    one accumulation behind the HeLI and fastText text scores; callers
    round to f32 once.

    The method follows the batch's cost: the dense (text × distinct word)
    counts matrix times ``X`` in one BLAS dgemm when it has no more cells
    than the batch has tokens (repeated vocabularies), else the sequential
    per-text sum in token order. Both add the same f32 terms in f64, so
    they differ by f64 rounding only, which the one rounding to f32 hides:
    a text's sums do not depend on which texts share its batch."""
    n, u = len(ctx.texts), len(ctx.uniq_h)
    if n * u <= len(ctx.flat_ids):
        C = np.bincount(ctx.tok_text * u + ctx.flat_ids, minlength=n * u)
        return C.reshape(n, u).astype(np.float64) @ X.astype(np.float64)
    return _seq_row_sums(X, ctx.flat_ids, ctx.bounds[:-1],
                         np.diff(ctx.bounds), np.float64)


class Scorer:
    """Batch scorer holding the model + per-worker word memos.

    One instance per Python worker process (see operators/identify.py). Its
    only cross-call state is the word memos — the HeLI vocab bank (fast
    path), the exact path's word vectors and the fastText word bank — which
    mirror the reference's thread-local Identifier clones sharing an
    Arc<Model> (identifier.rs:333-359): state is per-worker, the model is
    shared via mmap. Everything per-batch lives in a ``BatchContext``.
    """

    def __init__(self, model: "HeliModel | None" = None, exact: bool = False,
                 cache_cap: int = 400_000):
        self.model = model if model is not None else get_model()
        self.exact = exact
        self.cache_cap = cache_cap
        self._bank_reset()
        # exact memo: word -> dense (N_LANGS,) f32 word-score vector
        self._memo_exact: dict = {}
        # fastText word bank: word-hash -> row of _ft_VK, each row a word's
        # Σ M[buckets] (N_LANGS columns) then its bucket count
        self._ft_index = _WordIndex()
        self._ft_VK = np.empty((0, N_LANGS + 1), np.float32)
        self._ft: "tuple | None" = None

    def context(self, texts) -> BatchContext:
        return BatchContext(self.model, texts)

    # ------------------------------------------------------------ vocab bank
    # Scored distinct words live in flat growable arrays (sparse CSR-style):
    # slot -> (base scalar, nnz, start into idx/val). Batch assembly is then
    # a pure-numpy gather instead of a per-unique-word Python loop.

    def _bank_reset(self) -> None:
        self._memo = _WordIndex()  # word-hash -> slot in the vocab bank
        self._vb_n = 0
        self._vb_len = 0
        self._vb_base = np.empty(4096, np.float32)
        self._vb_nnz = np.empty(4096, np.int64)
        self._vb_start = np.empty(4096, np.int64)
        self._vb_idx = np.empty(16384, np.int16)
        self._vb_val = np.empty(16384, np.float32)

    def _bank_append(self, k: int, base_scalar: float,
                     flat_idx, flat_val, bnd: np.ndarray) -> None:
        """Append k words whose sparse (idx, val) vectors are the flat
        arrays split by bnd, at slots _vb_n, _vb_n + 1, …"""
        m = int(bnd[-1])
        n, L = self._vb_n, self._vb_len
        for name in ("_vb_base", "_vb_nnz", "_vb_start"):
            setattr(self, name, _grow(getattr(self, name), n + k))
        for name in ("_vb_idx", "_vb_val"):
            setattr(self, name, _grow(getattr(self, name), L + m))
        self._vb_idx[L : L + m] = flat_idx
        self._vb_val[L : L + m] = flat_val
        self._vb_base[n : n + k] = base_scalar
        self._vb_nnz[n : n + k] = np.diff(bnd)
        self._vb_start[n : n + k] = L + bnd[:-1]
        self._vb_n = n + k
        self._vb_len = L + m

    # ---------------------------------------------------------- preprocessing

    def preprocess_batch(self, texts: "list[str]"):
        """P1-P4 with materialized token strings, one entry per input row.

        Returns (tokens, tok_text, bounds, cjk_pct, valid) — see
        ``_preprocess`` for the string-free variant the scorer uses.
        """
        tl = [t if isinstance(t, str) else "" for t in texts]
        _, _, (cp, s_idx, e_idx, tok_text, bounds, cjk_pct, valid) = \
            _preprocess(self.model, tl)
        return _token_strings(cp, s_idx, e_idx), tok_text, bounds, cjk_pct, valid

    def preprocess(self, text: str) -> "tuple[list[str], float]":
        """Single-text P1-P4 → (tokens, cjk_pct)."""
        tokens, _, _, cjk_pct, _ = self.preprocess_batch([text])
        return tokens, float(cjk_pct[0])

    # ---------------------------------------------------------- word scoring

    @staticmethod
    def _flat_gather(order_table, fi: np.ndarray):
        """Gather the posting lists of table rows ``fi`` as flat arrays:
        → (plang int64[], padj f32[], bnd int64[len(fi)+1]). One fancy-index
        per mmap array instead of a slice-pair per word."""
        oo = order_table.offsets
        st = oo[fi].astype(np.int64)
        en = oo[fi + 1].astype(np.int64)
        pl = en - st
        total = int(pl.sum())
        bnd = np.zeros(len(fi) + 1, dtype=np.int64)
        np.cumsum(pl, out=bnd[1:])
        pos = np.repeat(st - bnd[:-1], pl) + np.arange(total)
        return (
            order_table.plang[pos].astype(np.int64),
            order_table.padj[pos],
            bnd,
        )

    def _score_spans_fast(self, cp: np.ndarray, starts: np.ndarray,
                          lens: np.ndarray, hashes: np.ndarray) -> None:
        """Score new distinct words given as codepoint spans (C1+C2) and fill
        the hash-keyed memo. Fully numpy: order-0 is looked up directly on
        the word hashes (they ARE the model keys); the back-off cascade
        hashes n-gram windows straight out of a padded codepoint buffer —
        no substring/shingle string objects anywhere (ROADMAP item 4).
        Words enter the bank in groups; ``done`` keeps their hashes in bank
        order for the one memo update at the end."""
        m = self.model
        n0 = self._vb_n
        done = []
        # order 0: whole-word model — word hash == model key hash
        idx = m.orders[0].lookup(hashes)
        found0 = idx >= 0
        if found0.any():
            rows0 = np.flatnonzero(found0)
            plang_f, padj_f, bnd = self._flat_gather(m.orders[0], idx[rows0])
            self._bank_append(
                rows0.size, PENALTY, plang_f.astype(np.int16), padj_f, bnd,
            )
            done.append(rows0)
        act = np.flatnonzero(~found0)
        pbuf, pstart, lenp = _pad_spans(cp, starts[act], lens[act])
        # back-off cascade t = 6 .. 1 (identifier.rs:246)
        rem_local = np.ones(len(act), dtype=bool)
        for t in range(MAX_NGRAM, 0, -1):
            rows = np.flatnonzero(rem_local)
            if rows.size == 0:
                break
            wh, gw, _ = _padded_windows(pbuf, pstart, lenp, rows, t)
            if wh.size == 0:
                continue
            ot = m.orders[t]
            gidx = ot.lookup(wh)
            fmask = gidx >= 0
            k_found = np.bincount(gw[fmask], minlength=rows.size)
            hit = np.flatnonzero(k_found)
            if hit.size == 0:
                continue
            langs_cat, adj_cat, bnd = self._flat_gather(ot, gidx[fmask])
            rows_cat = np.repeat(gw[fmask], np.diff(bnd))
            row_map = np.full(rows.size, -1, dtype=np.int64)
            row_map[hit] = np.arange(hit.size)
            M = np.zeros((hit.size, N_LANGS), dtype=np.float32)
            np.add.at(M, (row_map[rows_cat], langs_cat), adj_cat)
            M /= k_found[hit].astype(np.float32)[:, None]
            # sparse extraction of all hit rows at once (nonzero is row-major
            # so per-row cols stay ascending, matching the old per-word path)
            nzr, nzc = np.nonzero(M)
            bnd = np.zeros(hit.size + 1, dtype=np.int64)
            np.cumsum(np.bincount(nzr, minlength=hit.size), out=bnd[1:])
            self._bank_append(
                hit.size, PENALTY, nzc.astype(np.int16), M[nzr, nzc], bnd,
            )
            done.append(act[rows[hit]])
            rem_local[rows[hit]] = False
        left = np.flatnonzero(rem_local)
        if left.size:
            # never found at any order: contributes zeros
            self._bank_append(
                left.size, 0.0, _EMPTY_I16, _EMPTY_F32,
                np.zeros(left.size + 1, dtype=np.int64),
            )
            done.append(act[left])
        self._memo.add(hashes[np.concatenate(done)], np.arange(n0, self._vb_n))

    def _score_word_exact(self, word: str) -> np.ndarray:
        """Reference-order f32 accumulation for one word (parity mode)."""
        m = self.model
        h = hash_grams([word])
        j = m.orders[0].lookup(h)[0]
        if j >= 0:
            off = m.orders[0].offsets
            s, e = int(off[j]), int(off[j + 1])
            vec = np.full(N_LANGS, PENALTY, dtype=np.float32)
            vec[m.orders[0].plang[s:e]] = m.orders[0].pprob[s:e]
            return vec
        wordspace = f" {word} "
        for t in range(MAX_NGRAM, 0, -1):
            grams = _shingles(wordspace, t)
            if not grams:
                continue
            ot = m.orders[t]
            gidx = ot.lookup(hash_grams(grams))
            fi = gidx[gidx >= 0]
            if len(fi) == 0:
                continue
            w = np.zeros(N_LANGS, dtype=np.float32)
            off = ot.offsets
            for j in fi:  # sequential gram order, as the Rust loop
                s, e = int(off[j]), int(off[j + 1])
                d = np.full(N_LANGS, PENALTY, dtype=np.float32)
                d[ot.plang[s:e]] = ot.pprob[s:e]
                w += d
            w /= np.float32(len(fi))  # norm by grammaara (identifier.rs:264)
            return w
        return np.zeros(N_LANGS, dtype=np.float32)

    # ---------------------------------------------------------- text scoring

    def score(self, ctx: BatchContext):
        """C1-C3 over the context's distinct texts → (points (u,242) f32,
        valid bool[u], cjk_pct f32[u]).

        Invalid rows (no tokens) have undefined points; callers must apply C7.
        """
        points = np.zeros((len(ctx.texts), N_LANGS), dtype=np.float32)
        if self.exact:
            self._score_exact(ctx, points)
        else:
            self._score_fast(ctx, points)
        # C3: CJK mass penalty after normalization (identifier.rs:291-298)
        cjk_rows = ctx.valid & (ctx.cjk_pct > 0.5)
        if cjk_rows.any():
            points[np.ix_(cjk_rows, ~CJK_LANG_MASK)] = CJK_OVERRIDE
        return points, ctx.valid, ctx.cjk_pct

    def _score_exact(self, ctx: BatchContext, points: np.ndarray) -> None:
        tokens = _token_strings(ctx.cp, ctx.s_idx, ctx.e_idx)
        bounds = ctx.bounds
        memo = self._memo_exact
        if len(memo) > self.cache_cap:
            for k in list(memo.keys())[: self.cache_cap // 4]:
                del memo[k]
        for i in range(len(points)):
            lo, hi = bounds[i], bounds[i + 1]
            if lo == hi:
                continue
            lp = np.zeros(N_LANGS, dtype=np.float32)
            for w in tokens[lo:hi]:
                v = memo.get(w)
                if v is None:
                    v = self._score_word_exact(w)
                    memo[w] = v
                lp += v  # sequential word order (identifier.rs:270)
            lp /= np.float32(hi - lo)
            points[i] = lp

    def _score_fast(self, ctx: BatchContext, points: np.ndarray) -> None:
        uniq_h = ctx.uniq_h
        if self._vb_n > self.cache_cap:
            self._bank_reset()  # full reset beats per-entry eviction here
        u = len(uniq_h)
        slots = self._memo.lookup(uniq_h)
        miss = np.flatnonzero(slots < 0)
        if miss.size:
            fi = ctx.first_idx[miss]
            self._score_spans_fast(ctx.cp, ctx.s_idx[fi], ctx.tok_len[fi],
                                   uniq_h[miss])
            slots[miss] = self._memo.lookup(uniq_h[miss])
        # dense batch word matrix = one CSR-style gather out of the vocab bank
        nnz = self._vb_nnz[slots]
        off = np.zeros(u + 1, dtype=np.int64)
        np.cumsum(nnz, out=off[1:])
        pos = np.repeat(self._vb_start[slots] - off[:-1], nnz) + \
            np.arange(int(off[-1]))
        W = np.repeat(self._vb_base[slots][:, None], N_LANGS, axis=1)
        np.add.at(W, (np.repeat(np.arange(u), nnz), self._vb_idx[pos]),
                  self._vb_val[pos])
        nwords = np.maximum(np.diff(ctx.bounds), 1)  # invalid rows: 0 / 1
        points[:] = _row_sums(ctx, W) / nwords[:, None]

    def score_batch(self, texts: "list[str]"):
        """C1-C3 for a batch → (points (n,242) f32, valid bool[n], cjk_pct f32[n]).

        Invalid rows (no tokens) have undefined points; callers must apply C7.
        """
        ctx = self.context(texts)
        return tuple(ctx.scatter(a) for a in self.score(ctx))

    # ---------------------------------------------------------- decisions

    @staticmethod
    def pick_winner_batch(points: np.ndarray, valid: np.ndarray,
                          confidence: np.ndarray, ignore_confidence: bool = False):
        """C4+C5 vectorized → (lang_idx i64[n], score f32[n], raw f32[n],
        winner_idx i64[n] — the PRE-collapse argmin index, the id space the
        word-model posting lists use).

        Reference scan keeps the *last* index achieving the running min
        (``points <= score``, identifier.rs:62-68) ⇒ reversed argmin.
        """
        n = len(points)
        rev = points[:, ::-1]
        wi = (N_LANGS - 1) - np.argmin(rev, axis=1)
        raw = points[np.arange(n), wi]
        wcol = _COLLAPSE_I[wi]
        if ignore_confidence:
            lang = wcol.copy()
            score = raw.astype(np.float32)
        else:
            masked = np.where(
                _COLLAPSE_I[None, :] == wcol[:, None], np.float32(np.inf), points
            )
            second = masked.min(axis=1)
            conf = (second - raw).astype(np.float32)
            thr = confidence[wcol]
            lang = np.where(thr > conf, UND, wcol)
            score = conf
        lang = np.where(valid, lang, ZXX)
        score = np.where(valid, score, PENALTY).astype(np.float32)
        raw = np.where(valid, raw, PENALTY).astype(np.float32)
        return lang, score, raw, wi

    # ------------------------------------------------- independent word LM

    def word_nll(self, ctx: BatchContext, winner_idx: np.ndarray) -> np.ndarray:
        """Independent word-level LM score (the distinct D4 perplexity
        signal — VERDICT r03 #6) over the context's distinct texts: mean
        −log10 P(word | winner language) over the ORDER-0 (whole-word)
        model table only, OOV words at the 7.0 penalty, no character
        back-off.

        Why it is independent of the langid score: the identify score is the
        argmin over the char-backoff mixture, so ``10^raw`` was a monotone
        re-expression of it — ``high_ppl`` could never fire without
        ``lang_undetermined`` moving too. This signal fixes the language to
        the winner and consults ONLY the word table: fluent-but-misspelled
        text keeps a good char score (trigram soup still matches) while
        every misspelled word is word-OOV → the signals separate (pinned in
        tests/test_pipeline.py::test_word_ppl_is_independent_of_langid_score).

        Rows with no tokens return PENALTY (C7 semantics). ``winner_idx``
        (one per distinct text) is the PRE-collapse model language id (the
        argmin index) — exactly the id space of the posting lists.

        Lookup: a dense (distinct word × distinct winner lang) value matrix
        turns the per-occurrence probe into one 2-D gather. It is built in
        blocks of winner columns, ``_WNLL_BLOCK_CELLS`` cells at a time, so
        memory stays bounded on any batch. Values are gathered, never
        summed; the reversed scatter makes the FIRST posting win on a
        (word, lang) duplicate, and a word with an empty posting list keeps
        its PENALTY row."""
        n = len(ctx.texts)
        out = np.full(n, np.float32(PENALTY), dtype=np.float32)
        flat_ids, u = ctx.flat_ids, len(ctx.uniq_h)
        table = self.model.orders[0]
        fi = table.lookup(ctx.uniq_h)
        fu = np.flatnonzero(fi >= 0)
        plang, padj, bnd = self._flat_gather(table, fi[fu])
        word_of_posting = np.repeat(fu, np.diff(bnd))
        vals = padj.astype(np.float32) + np.float32(PENALTY)  # = pprob
        uw = np.unique(winner_idx)
        col = np.full(N_LANGS, -1, dtype=np.int64)
        col[uw] = np.arange(len(uw))
        pc = col[plang]
        oc = col[winner_idx[ctx.tok_text]]  # per-occurrence winner column
        occ_val = np.empty(len(flat_ids), dtype=np.float32)
        bw = max(1, _WNLL_BLOCK_CELLS // max(u, 1))
        for lo in range(0, len(uw), bw):
            hi = min(lo + bw, len(uw))
            pm = (pc >= lo) & (pc < hi)  # never a non-winner posting (-1)
            om = slice(None) if hi - lo == len(uw) else (oc >= lo) & (oc < hi)
            M = np.full((u, hi - lo), np.float32(PENALTY), dtype=np.float32)
            M[word_of_posting[pm][::-1], pc[pm][::-1] - lo] = vals[pm][::-1]
            occ_val[om] = M[flat_ids[om], oc[om] - lo]
        sums = np.bincount(ctx.tok_text, weights=occ_val.astype(np.float64),
                           minlength=n)
        cnt = np.diff(ctx.bounds)
        nz = cnt > 0
        out[nz] = (sums[nz] / cnt[nz]).astype(np.float32)
        return out

    def word_nll_batch(self, texts: "list[str]", winner_idx: np.ndarray) -> np.ndarray:
        """``word_nll`` for a batch; ``winner_idx`` has one entry per row
        (the winner of a text is a function of the text, so its first
        occurrence carries it)."""
        ctx = self.context(texts)
        wi = np.asarray(winner_idx)
        if ctx.codes is not None:  # first row of each distinct text
            wi = wi[np.unique(ctx.codes, return_index=True)[1]]
        return ctx.scatter(self.word_nll(ctx, wi))

    # ---------------------------------------------------------- public API

    def identify_context(self, ctx: BatchContext, ignore_confidence: bool = False,
                         with_word_nll: bool = False) -> list:
        """C1-C5 (+ word-NLL) over the context's distinct texts → [lang codes
        object[u], score f32[u], raw f32[u], cjk_pct f32[u] (, word_nll)]."""
        points, valid, cjk_pct = self.score(ctx)
        lang, score, raw, wi = self.pick_winner_batch(
            points, valid, self.model.confidence, ignore_confidence
        )
        out = [LANGS_ARR[lang], score, raw, cjk_pct]
        if with_word_nll:
            out.append(self.word_nll(ctx, wi))
        return out

    def identify_batch(self, texts, ignore_confidence: bool = False,
                       with_word_nll: bool = False):
        """→ (lang codes object[n], score f32[n], raw f32[n], cjk_pct f32[n]
        [, word_nll f32[n] when ``with_word_nll``])."""
        ctx = self.context(texts)
        res = self.identify_context(ctx, ignore_confidence, with_word_nll)
        return tuple(ctx.scatter(a) for a in res)

    def identify(self, text: str, ignore_confidence: bool = False):
        """Single-text (lang, score) — mirrors Identifier::identify."""
        labels, scores, _, _ = self.identify_batch([text], ignore_confidence)
        return str(labels[0]), float(scores[0])

    def _ft_params(self):
        """Lazy-load the trained fastText-style artifact (ft_train.py):
        (M (B,242) f32 mmap, bias (242,) f32)."""
        if self._ft is None:
            d = self.model.dir
            mp, bp = d / "ft_M.npy", d / "ft_b.npy"
            if not (mp.exists() and bp.exists()):
                raise FileNotFoundError(
                    f"fastText cross-check artifact missing in model dir {d}: "
                    "ft_M.npy and ft_b.npy are required (build them with "
                    "heliport_spark.ft_train.train_ft)"
                )
            self._ft = (np.load(mp, mmap_mode="r"), np.load(bp))
        return self._ft

    def _ft_rows(self, ctx: BatchContext, M: np.ndarray) -> np.ndarray:
        """Row of each distinct batch word in the fastText word bank; memo
        misses get their bucket sums from the span path (_ft_word_sums)."""
        uniq_h = ctx.uniq_h
        if len(self._ft_index) > self.cache_cap:
            # same bound as the HeLI memos: reused workers on a
            # crawl-scale vocabulary must not grow without limit
            self._ft_index = _WordIndex()
        rows = self._ft_index.lookup(uniq_h)
        miss = np.flatnonzero(rows < 0)
        if miss.size:
            fi = ctx.first_idx[miss]
            V, K = _ft_word_sums(M, ctx.cp, ctx.s_idx[fi], ctx.tok_len[fi])
            n0 = len(self._ft_index)
            rows[miss] = np.arange(n0, n0 + miss.size)
            self._ft_VK = _grow(self._ft_VK, n0 + miss.size)
            self._ft_VK[rows[miss], :N_LANGS] = V
            self._ft_VK[rows[miss], N_LANGS] = K
            self._ft_index.add(uniq_h[miss], rows[miss])
        return rows

    def ft_identify(self, ctx: BatchContext):
        """fastText-style cross-check (SURVEY.md §2.6 D3) over the context's
        distinct texts → (ft_lang object[u], ft_prob f32[u]).

        The *trained* classifier from ft_train.py: hashed char 2-5-gram
        buckets, mean-pooled bucket weights, softmax (numpy full-batch GD
        on a corpus synthesized from the word models; no fasttext binary
        is needed). Accumulated word-wise: per distinct word
        the bank holds Σ M[buckets(word)] and its bucket count; a text's
        logits = (Σ_w vec_w) / (Σ_w k_w) + bias, both sums through the same
        ``_row_sums`` as the HeLI fast path. A model dir without the ft
        artifact raises FileNotFoundError.

        Disagreement with the HeLI label is surfaced as a rule flag only —
        it never overrides the HeLI decision (F1-parity requirement). The
        identify UDF passes ``ctx.subset`` of the determined texts, the only
        rows where that flag can fire.
        """
        M, bias = self._ft_params()
        n = len(ctx.texts)
        rows = self._ft_rows(ctx, M)  # may grow the bank: index after
        S = _row_sums(ctx, self._ft_VK[rows])
        den = S[:, N_LANGS]
        has = den > 0
        L = (S[:, :N_LANGS] / np.where(has, den, 1.0)[:, None]).astype(
            np.float32) + bias
        L -= L.max(axis=1, keepdims=True)
        np.exp(L, out=L)
        L /= L.sum(axis=1, keepdims=True)
        wi = L.argmax(axis=1)
        lang_idx = np.where(has, _COLLAPSE_I[wi], ZXX)
        prob = np.where(has, L[np.arange(n), wi], 0.0).astype(np.float32)
        return LANGS_ARR[lang_idx], prob

    def ft_identify_batch(self, texts):
        """``ft_identify`` for a batch → (ft_lang object[n], ft_prob f32[n])."""
        ctx = self.context(texts)
        return tuple(ctx.scatter(a) for a in self.ft_identify(ctx))

    def identify_topk_batch(self, texts, k: int):
        """C6 batched: per text, top-k (collapsed lang, raw score) — one
        ``score_batch`` call for the whole Arrow batch (identifier.rs:101-136),
        then a VECTORIZED collapse-dedup (VERDICT r04 #7): the reference's
        per-row scan keeps the FIRST occurrence of each collapsed lang in
        (score asc, enum) order; first-occurrence is recovered batch-wide
        from one stable radix sort of (row, collapsed) int32 keys — same
        semantics (stable ⇒ scan order preserved within each (row, lang)
        group), no 242-iteration Python loop per row."""
        points, valid, _ = self.score_batch(list(texts))
        n = len(points)
        orders = np.argsort(points, axis=1, kind="stable")  # ties keep enum order
        c = _COLLAPSE_I[orders]  # n×242 collapsed ids, scan order
        # (row, collapsed) keys: first position of each distinct key per row
        # is exactly the entry the reference scan would keep
        key = (np.arange(n, dtype=np.int32)[:, None] << np.int32(8)) | c.astype(
            np.int32
        )
        flat = key.ravel()
        pos = np.argsort(flat, kind="stable")
        ks = flat[pos]
        first_sorted = np.empty(flat.size, dtype=bool)
        if flat.size:
            first_sorted[0] = True
            np.not_equal(ks[1:], ks[:-1], out=first_sorted[1:])
        first = np.empty(flat.size, dtype=bool)
        first[pos] = first_sorted
        first = first.reshape(n, -1)
        # rank within row among kept entries; k <= 0 ⇒ empty rows
        # (reference rank_langs returns [] for k <= 0)
        sel = first & (np.cumsum(first, axis=1) <= k)
        rsel, csel = np.nonzero(sel)
        l_sel = LANGS_ARR[c[rsel, csel]]
        s_sel = np.take_along_axis(points, orders, axis=1)[rsel, csel]
        bounds = np.searchsorted(rsel, np.arange(n + 1))
        out: "list[list[tuple[str, float]]]" = []
        for r in range(n):
            if not valid[r]:
                out.append([("zxx", float(PENALTY))])
                continue
            lo, hi = int(bounds[r]), int(bounds[r + 1])
            out.append(
                [(str(l_sel[j]), float(s_sel[j])) for j in range(lo, hi)]
            )
        return out

    def identify_topk(self, text: str, k: int):
        """C6: top-k (collapsed lang, raw score); no confidence applied."""
        return self.identify_topk_batch([text], k)[0]
