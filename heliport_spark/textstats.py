"""Vectorized per-text statistics for the quality-filter hot path.

The pipeline's heuristic rules and scrub gate were pure-JVM regex
expressions; at 8M rows the regex stack (digit/alpha class counts, the
possessive-backreference repetition probe, and the phone/ssn/toxicity gate
rlikes) dominated the stage (measured ~10.5 s rules + ~5.5 s gate vs 9.2 s
for the whole HeLI scorer at sf1.0 on local[32] — see OPTIMIZATION_r08.md).
Since the identify UDF already ships the text column across the Arrow
boundary, these per-character counts are computed here in ONE numpy pass
over the batch's codepoint buffer (optimization guide §4.2: hand whole
batches to vectorized native code) and returned as extra struct fields.

Exactness contract (every consumer is bit-compatible with the Catalyst
expression it replaces):

* ``digit_ratio`` / ``alpha_ratio``: same integer counts (``[0-9]`` /
  Java ``\\p{L}``), same float64 division, 0.0 for empty/NULL — IEEE-
  identical to ``functions/text.py``'s ``_ratio`` forms. The letter table
  reproduces THE JVM's ``\\p{L}`` (Java 17 ⇒ Unicode 13.0): Python's
  ``unicodedata`` (Unicode 14.0) says "letter" for 515 codepoints Java does
  not know yet, excluded below (generated by a full 0x110000-codepoint
  sweep against ``regexp_replace(ch, '\\p{L}+', '')`` in Spark; pinned by
  tests/test_textstats.py's sampled differential sweep).

* ``rep_cand`` / ``scrub_cand`` are OVER-APPROXIMATE gates — true for every
  row the corresponding regex could match, possibly for more. Consumers
  re-run the exact JVM regex behind the gate (repetition) or rely on the
  scrub chain being the identity on clean rows (gate), so false positives
  cost time, never correctness; false negatives are impossible:

  - ``rep_cand``: the repetition pattern ``(?i)\\b(\\S++)(\\s++\\1){3,}\\b``
    matches T0 R1..Rm (m ≥ 3) over m+1 consecutive ASCII-ws tokens
    a0..am, where the captured T0 is a SUFFIX of a0 (``\\S++`` is
    possessive, so it runs to the token end), R1..R(m−1) are FULL tokens
    ASCII-ci-equal to T0 (each is followed by ``\\s++``), and Rm is a
    PREFIX of am. Hence every match contains the 4-token window
    (a0, a1, a2, a3): a1 ci-equals a2 (full tokens), a0 ci-ENDS-WITH a1,
    and a3 ci-STARTS-WITH a1 (for m = 3, a3 = am; for m > 3 it is another
    full repeat). The candidate scans for ANY such window — necessary for
    every match, and selective even on small-vocabulary corpora where
    plain adjacent-duplicate tokens are common (77% of the bench rows
    have an adjacent ci-equal pair; 0.12% pass the window test).
  - phone/ssn: every match of either pattern contains ≥ 8 consecutive
    chars from the class ``[0-9()\\-. ]`` (phone: digit + {6,} class +
    digit; ssn: 11 chars of digits+hyphens ⊂ class) — the candidate scans
    for such a run.
  - toxicity: an ASCII-ci match of ``badword|slurword|expletive`` implies
    the lowercased text contains the word (A-Z→a-z is a subset of
    str.lower, and all other chars pass through unchanged).

No Spark imports — this runs inside the identify Arrow-batch UDF.
"""

from __future__ import annotations

import unicodedata

import numpy as np

N_CODEPOINTS = 0x110000

# Codepoints Python's unicodedata (Unicode 14.0) classifies as \p{L} but the
# JVM's regex (Java 17, Unicode 13.0) does not — assigned-in-14.0 scripts
# (Vithkuqi, Cypro-Minoan, Tangsa, Latin Extended-F/G, …). Generated by the
# full-codepoint sweep described in the module docstring.
_JAVA_MISSING_LETTER_RANGES: "tuple[tuple[int, int], ...]" = (
    (0x00870, 0x00887),
    (0x00889, 0x0088E),
    (0x008B5, 0x008B5),
    (0x008C8, 0x008C9),
    (0x00C5D, 0x00C5D),
    (0x00CDD, 0x00CDD),
    (0x0170D, 0x0170D),
    (0x0171F, 0x0171F),
    (0x01B4C, 0x01B4C),
    (0x02C2F, 0x02C2F),
    (0x02C5F, 0x02C5F),
    (0x09FFD, 0x09FFF),
    (0x0A7C0, 0x0A7C1),
    (0x0A7D0, 0x0A7D1),
    (0x0A7D3, 0x0A7D3),
    (0x0A7D5, 0x0A7D9),
    (0x0A7F2, 0x0A7F4),
    (0x10570, 0x1057A),
    (0x1057C, 0x1058A),
    (0x1058C, 0x10592),
    (0x10594, 0x10595),
    (0x10597, 0x105A1),
    (0x105A3, 0x105B1),
    (0x105B3, 0x105B9),
    (0x105BB, 0x105BC),
    (0x10780, 0x10785),
    (0x10787, 0x107B0),
    (0x107B2, 0x107BA),
    (0x10F70, 0x10F81),
    (0x11071, 0x11072),
    (0x11075, 0x11075),
    (0x11740, 0x11746),
    (0x11AB0, 0x11ABF),
    (0x12F90, 0x12FF0),
    (0x16A70, 0x16ABE),
    (0x1AFF0, 0x1AFF3),
    (0x1AFF5, 0x1AFFB),
    (0x1AFFD, 0x1AFFE),
    (0x1B11F, 0x1B122),
    (0x1DF00, 0x1DF1E),
    (0x1E290, 0x1E2AD),
    (0x1E7E0, 0x1E7E6),
    (0x1E7E8, 0x1E7EB),
    (0x1E7ED, 0x1E7EE),
    (0x1E7F0, 0x1E7FE),
    (0x2A6DE, 0x2A6DF),
    (0x2B735, 0x2B738),
)

_LETTER_TABLE: "np.ndarray | None" = None
_CLASS_TABLE: "np.ndarray | None" = None
_FOLD_TABLE: "np.ndarray | None" = None

# class-table bit flags (one int8 gather per batch replaces ~20 vectorized
# compare/or passes over the codepoint buffer — measured 122 → ~70 ms per
# 10k×305-char batch)
LETTER, DIGIT, WS, PHONECLS = 1, 2, 4, 8

# toxicity lexicon — kept in sync with functions/scrub.py (import-free on
# purpose: scrub.py imports pyspark, this module must not)
_TOX_WORDS = ("badword", "slurword", "expletive")


def java_letter_table() -> np.ndarray:
    """bool[0x110000]: Java-regex ``\\p{L}`` membership (lazy, built once
    per daemon and inherited by the workers it forks, see
    heliport_spark/worker_daemon.py; ~1.1 MB)."""
    global _LETTER_TABLE
    if _LETTER_TABLE is None:
        t = np.zeros(N_CODEPOINTS, dtype=bool)
        for cp in range(N_CODEPOINTS):
            if 0xD800 <= cp <= 0xDFFF:
                continue
            if unicodedata.category(chr(cp)).startswith("L"):
                t[cp] = True
        for a, b in _JAVA_MISSING_LETTER_RANGES:
            t[a : b + 1] = False
        _LETTER_TABLE = t
    return _LETTER_TABLE


def class_table() -> np.ndarray:
    """int8[0x110000] with LETTER/DIGIT/WS/PHONECLS bit flags. WS is Java
    regex ``\\s`` (ASCII only); PHONECLS is the scrub phone-pattern middle
    class ``[0-9()\\-. ]``."""
    global _CLASS_TABLE
    if _CLASS_TABLE is None:
        t = np.where(java_letter_table(), np.int8(LETTER), np.int8(0))
        t[0x30:0x3A] |= DIGIT | PHONECLS
        for c in (0x20, 0x09, 0x0A, 0x0B, 0x0C, 0x0D):
            t[c] |= WS
        for c in (0x28, 0x29, 0x2D, 0x2E, 0x20):
            t[c] |= PHONECLS
        _CLASS_TABLE = t
    return _CLASS_TABLE


def fold_table() -> np.ndarray:
    """uint32[0x110000]: identity except A-Z → a-z. One gather replaces the
    3-pass ``np.where`` fold (measured ~4 ms/batch on the two token-edge
    folds alone; the span-compare loop folds per char column too)."""
    global _FOLD_TABLE
    if _FOLD_TABLE is None:
        t = np.arange(N_CODEPOINTS, dtype=np.uint32)
        t[0x41:0x5B] += 0x20
        _FOLD_TABLE = t
    return _FOLD_TABLE


def _fold(c: np.ndarray) -> np.ndarray:
    """ASCII A-Z → a-z (exactly Java's (?i) without UNICODE_CASE)."""
    return fold_table()[c]


def _spans_eq_ci(cp: np.ndarray, sa: np.ndarray, sb: np.ndarray,
                 L: np.ndarray) -> np.ndarray:
    """bool[n]: ASCII-ci equality of the length-L spans at sa vs sb —
    the shrinking-tail loop from heli._hash_spans (sort by length; at char
    j the live lanes are the tail with L > j), so work is Σ L element-ops
    regardless of one long outlier."""
    n = len(sa)
    if n == 0:
        return np.ones(0, dtype=bool)
    order = np.argsort(L.astype(np.int32, copy=False), kind="stable")
    ls = L[order]
    sa_s = sa[order]
    sb_s = sb[order]
    eq = np.ones(n, dtype=bool)
    for j in range(int(ls[-1])):
        sl = slice(int(np.searchsorted(ls, j + 1)), n)
        eq[sl] &= _fold(cp[sa_s[sl] + j]) == _fold(cp[sb_s[sl] + j])
    out = np.empty(n, dtype=bool)
    out[order] = eq
    return out


def text_stats_batch(texts: "list") -> "tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]":
    """→ (digit_ratio f64[n], alpha_ratio f64[n], rep_cand bool[n],
    scrub_cand bool[n]) for a batch of raw texts (None/non-str → as empty:
    ratios 0.0, candidates False — matching the NULL behavior of the
    Catalyst expressions each output replaces, see module docstring)."""
    tl = [t if isinstance(t, str) else "" for t in texts]
    return text_stats_joined(tl, "\n".join(tl))


def text_stats_joined(texts: "list[str]", raw: str, low: "str | None" = None):
    """``text_stats_batch`` over str ``texts`` given their ``'\\n'`` join
    ``raw`` and, optionally, ``raw.lower()`` — the identify UDF passes the
    scorer's per-batch join so the text is joined and lowered once.

    ``'\\n'`` is ASCII whitespace and outside the phone class, so tokens
    and phone/ssn runs never cross a text boundary; every output is a
    function of its own text alone."""
    n = len(texts)
    digit_ratio = np.zeros(n, dtype=np.float64)
    alpha_ratio = np.zeros(n, dtype=np.float64)
    rep_cand = np.zeros(n, dtype=bool)
    scrub_cand = np.zeros(n, dtype=bool)
    if not raw:
        return digit_ratio, alpha_ratio, rep_cand, scrub_cand
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=n)
    cp = np.frombuffer(raw.encode("utf-32-le"), dtype="<u4")
    text_start = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens + 1, out=text_start[1:])  # +1 for the separator
    t0, t1 = text_start[:-1], text_start[1:]
    code = class_table()[cp]  # one gather; bit tests below are int8-cheap

    # ---- class ratios (exact twins of T.digit_ratio / T.alpha_ratio):
    # per-text counts via two int8-masked reduceats accumulated in int64 —
    # no packed-table gather (the int64[0x110000] table is 8.5 MB of cache
    # pressure; two 3 MB flag masks + reduceats measured 9.7 → 6.3 ms per
    # 10k batch) and no len(cp)-sized prefix-sum array. Each segment runs
    # to the next text's start, so it includes the '\n' separator (counted
    # as neither class); a trailing empty text has t0 == len(cp) (invalid
    # reduceat index) and is dropped. Integer adds: exact in any order.
    dign = np.zeros(n, dtype=np.int64)
    letn = np.zeros(n, dtype=np.int64)
    valid = t0 < len(cp)
    if valid.any():
        tv = t0[valid]
        dign[valid] = np.add.reduceat(code & DIGIT, tv, dtype=np.int64) >> 1
        letn[valid] = np.add.reduceat(code & LETTER, tv, dtype=np.int64)
    nz = lens > 0
    digit_ratio[nz] = dign[nz].astype(np.float64) / lens[nz].astype(np.float64)
    alpha_ratio[nz] = letn[nz].astype(np.float64) / lens[nz].astype(np.float64)

    # ---- repetition candidate: adjacent ASCII-ws tokens with equal
    # (len, folded-first, folded-last) signatures
    nonspace = (code & WS) == 0
    prev_ns = np.empty_like(nonspace)
    prev_ns[0] = False
    prev_ns[1:] = nonspace[:-1]
    next_ns = np.empty_like(nonspace)
    next_ns[-1] = False
    next_ns[:-1] = nonspace[1:]
    s_idx = np.flatnonzero(nonspace & ~prev_ns)
    if len(s_idx) >= 4:  # a match spans >= 4 consecutive tokens
        e_idx = np.flatnonzero(nonspace & ~next_ns)
        tlen = e_idx - s_idx + 1
        firstf = _fold(cp[s_idx])
        lastf = _fold(cp[e_idx])
        # stage 1 — cheap signature filter on adjacent pairs
        sig_eq = (
            (tlen[:-1] == tlen[1:])
            & (firstf[:-1] == firstf[1:])
            & (lastf[:-1] == lastf[1:])
        )
        p = np.flatnonzero(sig_eq)
        # the window needs tokens p-1 and p+2
        p = p[(p >= 1) & (p + 2 < len(s_idx))]
        if len(p):
            # stage 2 — exact ci equality of the pair (p, p+1)
            p = p[_spans_eq_ci(cp, s_idx[p], s_idx[p + 1], tlen[p])]
        if len(p):
            L = tlen[p]
            # neighbors must be long enough, and all four tokens in one
            # text (owners are monotone: ends equal ⟹ the span is inside)
            own_a = np.searchsorted(t1, s_idx[p - 1], side="right")
            own_b = np.searchsorted(t1, s_idx[p + 2], side="right")
            ok = (tlen[p - 1] >= L) & (tlen[p + 2] >= L) & (own_a == own_b)
            p, L, own = p[ok], L[ok], own_a[ok]
            if len(p):
                # a0 ci-ENDS-WITH the repeat, a3 ci-STARTS-WITH it
                ok = _spans_eq_ci(cp, e_idx[p - 1] - L + 1, s_idx[p], L)
                ok &= _spans_eq_ci(cp, s_idx[p + 2], s_idx[p], L)
                rep_cand[own[ok]] = True

    # ---- scrub gate candidate: phone/ssn class run >= 8, or toxicity word
    cls = (code & PHONECLS) != 0
    if len(cp) >= 8:
        # all-8 window via log-shift ANDs (3 boolean passes) instead of an
        # int32 prefix sum + windowed subtract (~11 ms → ~2 ms per 10k
        # batch): a2[i] = cls[i..i+1], a4[i] = cls[i..i+3], win[i] =
        # cls[i..i+7] — identical to (P[i+8] - P[i]) == 8
        a2 = cls[:-1] & cls[1:]
        a4 = a2[:-2] & a2[2:]
        win_full = a4[:-4] & a4[4:]  # cp[i..i+7] all in class
        # full windows are rare on clean text: list their start positions
        # and resolve owners directly instead of a second full prefix sum
        w_idx = np.flatnonzero(win_full)
        if len(w_idx):
            scrub_cand[
                np.unique(np.searchsorted(t1, w_idx, side="right"))
            ] = True
    if any(w in (raw.lower() if low is None else low) for w in _TOX_WORDS):
        # rare branch: only entered when a batch globally contains a word
        tox = np.fromiter(
            (any(w in t.lower() for w in _TOX_WORDS) for t in texts),
            dtype=bool, count=n,
        )
        scrub_cand |= tox
    return digit_ratio, alpha_ratio, rep_cand, scrub_cand
