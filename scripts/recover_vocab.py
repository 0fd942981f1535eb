"""Recover each language's frequency-ranked word list from the committed
model artifact alone and write the ``models/vocab`` fixture.

The artifact keeps, per language, ``-log10 p`` postings keyed by hashes:
order 0 by ``hash_grams(word)``, order t (1..6) by the hash of each width-t
window of the space-padded word ``' word '``. The hash is FNV-1a over
codepoints with a splitmix64 finalizer, so a word is found by growing
candidate strings and hashing them. For language L:

* the alphabet is every codepoint whose unigram hash has an L posting
  (plus the combining marks seen in L bigrams);
* ``' '``-prefixed strings grow breadth-first, one char at a time; a
  candidate lives only while every window of width 2..6 ending at its last
  char has an L posting in the matching order (a window starting on a
  combining mark is exempt: the artifact holds none);
* a candidate whose closing windows (with the trailing ``' '``) have L
  postings, and whose own hash has an L posting in order 0, is a word;
* words longer than the forward search reaches meet in the middle: FNV-1a
  and splitmix64 are invertible, so a target hash unwound through a
  candidate suffix (grown backward from the trailing ``' '``) must equal
  the FNV state of a forward prefix.

Search bound (pruning only): a window occurs at least as often as any word
containing it, so ``p_t(window) <= p_0(word) + delta_t`` with ``delta_t =
log10(A_t / A_0)`` and ``A_t`` the order's retained count total. A word of
t-2 chars is the only source of the window ``' word '``, so the top words
give ``delta_t`` exactly for t = 3..6; t = 1, 2 use a bigram estimate plus
a margin. Each order also keeps only its most frequent grams: above
``limit_t = max p_t - delta_t`` a target's window may be absent, so targets
are searched in tiers between those limits, ascending, and a window of an
order cut below the tier may be absent.

Completeness is proven by counting, not assumed from the bound: the list
is the longest run of the language's order-0 postings, taken in ascending
``p``, of which every posting was recovered. Ties (equal ``p``, i.e. equal
counts) are ordered by codepoints; at the cut, the recovered members of a
partly recovered tie follow. ``manifest.json`` records each list's length.
The budgets below (frontier width, meet states) only decide where a hard
language's list stops.

Deterministic: the output depends only on the artifact, the options and
the Unicode tables of ``unicodedata``, so a rerun reproduces
``models/vocab`` byte for byte (about 7 min with ``--jobs 3``). Usage::

    python scripts/recover_vocab.py                 # all languages
    python scripts/recover_vocab.py --langs eng,fin --out /tmp/vocab
    python scripts/recover_vocab.py --jobs 3        # languages in parallel
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import unicodedata
from multiprocessing import Pool
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from heliport_spark.heli import _splitmix  # noqa: E402
from heliport_spark.langs import LANGS, LANG_INDEX, SPECIAL_MASK  # noqa: E402
from heliport_spark.model import (  # noqa: E402
    _FNV_OFFSET,
    _FNV_PRIME,
    _SM1,
    _SM2,
    get_model,
    hash_grams,
)
from heliport_spark.quality_train import QC_VOCAB  # noqa: E402
from heliport_spark.vocab import MANIFEST, VOCAB_DIR, lang_postings  # noqa: E402

SPACE = 0x20
MAX_ORDER = 6
TOP = QC_VOCAB  # target list length: the longest any consumer reads
# margin on the bigram estimate of delta; words in the top CALIBRATE of a
# language pin the exact per-order deltas
DELTA_MARGIN = 0.3
CALIBRATE = 200
MAX_WORD_LEN = 40
MAX_FRONTIER = 2_000_000  # candidates per BFS level before a search stops
MEET_CELLS = 8_000_000  # (suffix, target) states unwound at a time
MEET_BUDGET = 300_000_000  # (suffix, target) states per search, in all
_PRIME_INV = np.uint64(pow(int(_FNV_PRIME), -1, 1 << 64))
_SM1_INV = np.uint64(pow(int(_SM1), -1, 1 << 64))
_SM2_INV = np.uint64(pow(int(_SM2), -1, 1 << 64))


def _mark_table() -> "tuple[np.ndarray, np.ndarray]":
    marks = np.array([c for c in range(0x110000)
                      if unicodedata.category(chr(c))[0] == "M"
                      or c in (0x200C, 0x200D)], dtype=np.uint32)
    table = np.zeros(0x110000, dtype=bool)
    table[marks] = True
    return marks, table


# combining marks (Unicode category M*, and the zero-width (non-)joiners):
# the artifact's char windows start only where a mark does not, so a window
# that would start on one is not required (' i̇stanbul ' has 'i̇s' but no
# '̇st')
_MARKS, _MARK = _mark_table()


def _fnv(h: np.ndarray, cps: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        return (h ^ cps.astype(np.uint64)) * _FNV_PRIME


def _hash_rows(cols: "list[np.ndarray]") -> np.ndarray:
    """hash_grams of equal-width grams given column by column."""
    h = np.full(len(cols[0]), _FNV_OFFSET, dtype=np.uint64)
    for c in cols:
        h = _fnv(h, c)
    with np.errstate(over="ignore"):
        return _splitmix(h)


def _member(sorted_keys: np.ndarray, h: np.ndarray) -> np.ndarray:
    if len(sorted_keys) == 0:
        return np.zeros(len(h), dtype=bool)
    i = np.minimum(np.searchsorted(sorted_keys, h), len(sorted_keys) - 1)
    return sorted_keys[i] == h


def _unsplitmix(h: np.ndarray) -> np.ndarray:
    """Inverse of the splitmix64 finalizer: the FNV-1a state of a hash."""
    with np.errstate(over="ignore"):
        h = h ^ (h >> np.uint64(31)) ^ (h >> np.uint64(62))
        h = h * _SM2_INV
        h = h ^ (h >> np.uint64(27)) ^ (h >> np.uint64(54))
        h = h * _SM1_INV
        return h ^ (h >> np.uint64(30)) ^ (h >> np.uint64(60))


def _unigram_codepoints(model) -> "tuple[np.ndarray, np.ndarray]":
    """(one-char hash, codepoint) for every codepoint whose one-char hash
    is an order-1 key."""
    cps = np.arange(1, 0x110000, dtype=np.uint32)
    h = _hash_rows([cps])
    hit = model.orders[1].lookup(h) >= 0
    return h[hit], cps[hit]


def _tables(model, li: int, uni, bounds: "list[float]", lenient=()):
    """Per-language search tables: key sets per order bounded by
    ``bounds[t]``, the alphabet, and bigram adjacency both ways over
    alphabet + ``' '``. In a ``lenient`` order a window may also be absent
    (the order was cut above the searched words' windows)."""
    keysets = [None]
    absent = [None] * (MAX_ORDER + 1)
    for t in range(1, MAX_ORDER + 1):
        k, p = lang_postings(model.orders[t], li)
        keysets.append(k[p <= bounds[t]])
        if t in lenient:
            absent[t] = k
    alpha = uni[1][_member(keysets[1], uni[0])]
    # a mark starts no window, so it shows only as the second char of a
    # bigram
    base = np.append(alpha, np.uint32(SPACE))
    marks = _MARKS[~np.isin(_MARKS, alpha)]
    hit = _member(keysets[2], _hash_rows(
        [np.repeat(base, len(marks)), np.tile(marks, len(base))]))
    alpha = np.sort(np.concatenate(
        [alpha, marks[hit.reshape(len(base), len(marks)).any(0)]]))
    na = len(alpha)
    sym = np.append(alpha, np.uint32(SPACE))  # index na = ' '
    tab = {"keysets": keysets, "absent": absent}
    ok2 = _window_ok(tab, 2, _hash_rows(
        [np.repeat(sym, na + 1), np.tile(sym, na + 1)])).reshape(na + 1, na + 1)
    ok2[_MARK[sym]] = True
    ok2[na, na] = False

    def csr(adj):  # rows → column indices below na (no space inside words)
        adj = adj[:, :na]
        start = np.zeros(na + 2, dtype=np.int64)
        np.cumsum(adj.sum(1), out=start[1:])
        return start, np.flatnonzero(adj) % max(na, 1)

    return {
        **tab,
        "alpha": alpha,
        "na": na,
        "fwd": csr(ok2),
        "bwd": csr(ok2.T.copy()),
        "can_end": ok2[:na, na],
    }


def _window_ok(tab: dict, t: int, h: np.ndarray) -> np.ndarray:
    ok = _member(tab["keysets"][t], h)
    if tab["absent"][t] is not None:
        ok |= ~_member(tab["absent"][t], h)
    return ok


def _bfs(tab: dict, backward: bool):
    """Grow ``' '``-prefixed word prefixes (backward: word suffixes ending
    in ``' '``) one char per level, keeping only strings whose every window
    of width 2..6 has a posting. Yields per level ``(parent, char, ctx,
    sym)``: the parent's index in the previous level, the new char, the
    newest 5 chars of the padded string (newest last) and the new char's
    alphabet index."""
    alpha, na = tab["alpha"], tab["na"]
    start, adj = tab["bwd" if backward else "fwd"]
    ctx = np.zeros((1, MAX_ORDER - 1), dtype=np.uint32)
    ctx[0, -1] = SPACE
    last = np.array([na], dtype=np.int64)
    for k in range(MAX_WORD_LEN):  # k = word chars in the parents
        deg = start[last + 1] - start[last]
        total = int(deg.sum())
        if total == 0 or total > MAX_FRONTIER:
            return
        par = np.repeat(np.arange(len(last)), deg)
        off = np.arange(total) - np.repeat(np.cumsum(deg) - deg, deg)
        nxt = adj[start[last][par] + off]
        c = alpha[nxt]
        wp = ctx[par]
        keep = np.ones(total, dtype=bool)
        for t in range(3, min(MAX_ORDER, k + 2) + 1):
            cols = [wp[:, j] for j in range(MAX_ORDER - t, MAX_ORDER - 1)]
            win = [c] + cols[::-1] if backward else cols + [c]
            keep &= _window_ok(tab, t, _hash_rows(win)) | _MARK[win[0]]
        par, nxt, c = par[keep], nxt[keep], c[keep]
        if len(par) == 0:
            return
        ctx = np.concatenate([wp[keep, 1:], c[:, None]], axis=1)
        last = nxt
        yield par, c, ctx, nxt


def _spell(levels, lvl: int, i: int) -> "list[int]":
    """Codepoints of entry ``i`` of level ``lvl``, oldest char first."""
    out = []
    for l in range(lvl, -1, -1):
        par, c = levels[l][:2]
        out.append(int(c[i]))
        i = int(par[i])
    return out[::-1]


def _is_word(tab: dict, word: str, h: int) -> bool:
    """Every window of ``' word '`` has a posting and the hash matches."""
    if int(hash_grams([word])[0]) != h:
        return False
    padded = f" {word} "
    for t in range(2, MAX_ORDER + 1):
        wins = [padded[i:i + t] for i in range(len(padded) - t + 1)
                if not _MARK[ord(padded[i])]]
        if wins and not _window_ok(tab, t, hash_grams(wins)).all():
            return False
    return True


def _search(model, li: int, uni, targets: np.ndarray,
            bounds: "list[float]", lenient=()) -> "dict[int, str]":
    """{word hash: word} of the recovered target words. Forward BFS finds
    the words it reaches whole; the rest meet in the middle: FNV-1a and
    splitmix64 are invertible, so each unfound target's hash, unwound
    through a candidate suffix, must equal a forward prefix's FNV state."""
    tab = _tables(model, li, uni, bounds, lenient)
    if tab["na"] == 0:
        return {}
    target_set = np.sort(targets)
    found: "dict[int, str]" = {}
    fwd = []
    fnv = np.full(1, _FNV_OFFSET, dtype=np.uint64)
    for par, c, ctx, nxt in _bfs(tab, backward=False):
        fnv = _fnv(fnv[par], c)
        fwd.append((par, c, fnv))
        # closing windows of ' ' + prefix + ' '
        k = len(fwd)  # word chars
        ends = tab["can_end"][nxt]
        space = np.full(len(c), SPACE, dtype=np.uint32)
        for t in range(3, min(MAX_ORDER, k + 2) + 1):
            cols = [ctx[:, j] for j in range(MAX_ORDER - t, MAX_ORDER - 1)]
            ends &= (_window_ok(tab, t, _hash_rows(cols + [space]))
                     | _MARK[cols[0]])
        with np.errstate(over="ignore"):
            h = _splitmix(fnv)
        for i in np.flatnonzero(ends & _member(target_set, h)):
            found[int(h[i])] = "".join(map(chr, _spell(fwd, k - 1, int(i))))
        if len(found) == len(target_set):
            return found
    if not fwd:
        return found
    rest = np.asarray(sorted(set(target_set.tolist()) - set(found)),
                      dtype=np.uint64)
    bwd = [(par, c) for par, c, _, _ in _bfs(tab, backward=True)]
    if len(rest) * sum(len(b[0]) for b in bwd) > MEET_BUDGET:
        return found
    pool = np.concatenate([f[2] for f in fwd])
    pool_lvl = np.repeat(np.arange(len(fwd)), [len(f[2]) for f in fwd])
    pool_idx = np.concatenate([np.arange(len(f[2])) for f in fwd])
    order = np.argsort(pool, kind="stable")
    pool = pool[order]
    widest = max(len(b[0]) for b in bwd) if bwd else 1
    chunk = max(1, MEET_CELLS // widest)
    for lo in range(0, len(rest), chunk):
        tg = rest[lo:lo + chunk]
        x = _unsplitmix(tg)[None, :]
        for j, (par, c) in enumerate(bwd):
            with np.errstate(over="ignore"):
                x = (x[par] * _PRIME_INV) ^ c.astype(np.uint64)[:, None]
            flat = x.ravel()
            at = np.minimum(np.searchsorted(pool, flat), len(pool) - 1)
            for m in np.flatnonzero(pool[at] == flat):
                s_i, col = divmod(int(m), len(tg))
                h = int(tg[col])
                if h in found:
                    continue
                f = order[at[m]]
                cps = (_spell(fwd, int(pool_lvl[f]), int(pool_idx[f]))
                       + _spell(bwd, j, s_i)[::-1])
                word = "".join(map(chr, cps))
                if _is_word(tab, word, h):
                    found[h] = word
    return found


def _deltas(model, li: int, uni, k0, p0, p_sorted) -> "list[float]":
    """``delta_t`` per order t (index 0 unused). A word ``w`` of t-2 chars
    is the only source of the window ``' w '``, so ``p_t(' w ') - p_0(w)``
    is exactly ``log10(A_t / A_0)``: read it off the words a search for the
    top ``CALIBRATE`` finds. Orders 1-2 (and any order without such a word)
    take the bigram estimate ``log10(A_2 / A_0) ~ -log10 sum_c
    10^-p_2(' c')``, one bigram ``' c'`` per padded word, plus a margin."""
    alpha = uni[1][_member(lang_postings(model.orders[1], li)[0], uni[0])]
    k2, p2 = lang_postings(model.orders[2], li)
    h = _hash_rows([np.full(len(alpha), SPACE, dtype=np.uint32), alpha])
    hit = _member(k2, h)
    mass = float(np.sum(10.0 ** -p2[np.searchsorted(k2, h[hit])]
                        .astype(np.float64)))
    est = (-np.log10(mass) if mass > 0 else 2.0) + DELTA_MARGIN
    p_cal = float(p_sorted[min(CALIBRATE, len(p_sorted)) - 1])
    found = _search(model, li, uni, k0[p0 <= p_cal], [p_cal + est] * 7)
    deltas = [est] * (MAX_ORDER + 1)
    for t in range(3, MAX_ORDER + 1):
        words = [(h, w) for h, w in found.items() if len(w) == t - 2]
        kt, pt = lang_postings(model.orders[t], li)
        hw = hash_grams([f" {w} " for _, w in words])
        ok = _member(kt, hw)
        if ok.any():
            pw = p0[np.searchsorted(k0, np.asarray(
                [h for h, _ in words], dtype=np.uint64))]
            d = pt[np.searchsorted(kt, hw[ok])].astype(np.float64) - pw[ok]
            deltas[t] = float(d.max()) + 1e-3
        else:
            deltas[t] = deltas[t - 1]
    # A_2 = A_3 + tokens and A_1 = A_2 - tokens
    deltas[1] = deltas[2] = max(est, deltas[3])
    return deltas


def recover_lang(model, lang: str, uni) -> "tuple[list[str], dict]":
    """(ranked word list, manifest entry) for one language."""
    li = LANG_INDEX[lang]
    k0, p0 = lang_postings(model.orders[0], li)
    n_req = min(TOP, len(k0))
    order = np.lexsort((k0, p0))
    p_sorted = p0[order]
    p_max = float(p_sorted[n_req - 1])
    targets = k0[p0 <= p_max]
    deltas = _deltas(model, li, uni, k0, p0, p_sorted)
    # order t keeps every window of a word with p_0 < limits[t]; above it,
    # a window may have been cut (orders keep a fixed number of grams).
    # Search in tiers between those limits, in ascending p, and stop after
    # the first tier that leaves a target unfound: the list ends there.
    limits = [np.inf] * 2 + [
        float(lang_postings(model.orders[t], li)[1].max()) - deltas[t]
        for t in range(2, MAX_ORDER + 1)]
    cuts = sorted({l for l in limits if l <= p_max}) + [np.inf]
    found: "dict[int, str]" = {}
    lo = -np.inf
    for hi in cuts:
        tier = (p0 >= lo) & (p0 < hi) & (p0 <= p_max)
        if tier.any():
            p_hi = float(p0[tier].max())
            lenient = [t for t in range(2, MAX_ORDER + 1) if limits[t] <= lo]
            got = _search(model, li, uni, k0[tier],
                          [p_hi + d for d in deltas], lenient)
            found.update(got)
            if len(got) < int(tier.sum()):
                break
        lo = hi
    # longest run of ascending-p postings all recovered; then the recovered
    # members of the tie where the run breaks
    tgt_p = p_sorted[: len(targets)]
    got = np.isin(k0[order][: len(targets)], np.fromiter(
        found.keys(), dtype=np.uint64, count=len(found)))
    miss = np.flatnonzero(~got)
    if len(miss):
        p_cut = tgt_p[miss[0]]
        keep = (tgt_p < p_cut) | ((tgt_p == p_cut) & got)
    else:
        p_cut = tgt_p[-1]
        keep = got
    words = sorted(
        ((float(p), found[int(h)])
         for h, p in zip(k0[order][: len(targets)][keep], tgt_p[keep])),
    )
    ranked = [w for _, w in words]
    tie = int(np.sum(p_sorted == p_cut))
    entry = {
        "length": len(ranked),
        "requested": n_req,
        "tie_at_cut": tie,
        "tie_listed": int(np.sum((tgt_p == p_cut) & keep)),
    }
    return ranked, entry


_MODEL = None
_UNI = None


def _work(lang):
    global _MODEL, _UNI
    if _MODEL is None:
        _MODEL = get_model()
        _UNI = _unigram_codepoints(_MODEL)
    t0 = time.time()
    words, entry = recover_lang(_MODEL, lang, _UNI)
    return lang, words, entry, time.time() - t0


def default_langs() -> "list[str]":
    model = get_model()
    have = np.bincount(np.asarray(model.orders[0].plang), minlength=len(LANGS))
    return [l for i, l in enumerate(LANGS)
            if not SPECIAL_MASK[i] and have[i] > 0]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--langs", default=None,
                    help="comma-separated codes (default: every language "
                         "with order-0 postings)")
    ap.add_argument("--out", default=str(VOCAB_DIR),
                    help="output directory; with --langs, the entries of "
                         "other languages in its manifest.json are kept")
    ap.add_argument("--jobs", type=int, default=1)
    a = ap.parse_args(argv)
    langs = a.langs.split(",") if a.langs else default_langs()
    out = Path(a.out)
    out.mkdir(parents=True, exist_ok=True)
    entries = {}
    if a.langs and (out / MANIFEST).exists():
        entries = json.loads((out / MANIFEST).read_text())["langs"]
    pool = Pool(a.jobs) if a.jobs > 1 else None
    results = pool.imap_unordered(_work, langs) if pool else map(_work, langs)
    for lang, words, entry, secs in results:
        for w in words:
            if not w or any(ch in w for ch in "\n\r\t"):
                raise ValueError(f"{lang}: unwritable word {w!r}")
        (out / f"{lang}.words").write_text(
            "".join(w + "\n" for w in words), encoding="utf-8")
        entries[lang] = entry
        print(f"{lang}\tlength {entry['length']}/{entry['requested']}\t"
              f"tie at cut {entry['tie_listed']}/{entry['tie_at_cut']}\t"
              f"{secs:.1f}s", flush=True)
    if pool:
        pool.close()
        pool.join()
    manifest = {
        "source": "models/heli",
        "top": TOP,
        "langs": {l: entries[l] for l in sorted(entries)},
    }
    (out / MANIFEST).write_text(
        json.dumps(manifest, indent=1, sort_keys=True) + "\n")
    short = [l for l in sorted(entries)
             if entries[l]["length"] < entries[l]["requested"]]
    print(f"{len(entries)} languages; short of target: {short}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
