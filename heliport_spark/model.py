"""Model artifact layout, vectorized gram hashing, and per-process loading.

The reference ships its model as bitcode-serialized WyHash hashmaps
(``/root/reference/heliport-model/src/languagemodel.rs:36-40,179-202``). We
re-materialize the same logical content — per n-gram-order inverted indexes
``gram -> [(lang, -log10 prob), ...]`` — as *sorted numpy arrays* designed for
Spark executors:

* ``order{t}.keys.npy``   sorted uint64 gram hashes
* ``order{t}.offsets.npy``uint64[n+1] posting offsets
* ``order{t}.plang.npy``  uint8 posting language ids (reference enum order)
* ``order{t}.pprob.npy``  float32 posting -log10 probabilities
* ``confidence.npy``      float32[242] per-collapsed-lang thresholds
* ``keep_table.npy`` / ``cjk_table.npy``  codepoint tables (chartables.py)
* ``meta.json``           frozen lang list + provenance

Rationale (100 TB scale): the arrays are loaded with ``np.load(mmap_mode="r")``
so all Python workers on an executor share one page-cached copy; lookups are
one ``np.searchsorted`` over the whole batch — no Python dict, no per-row
work. The batch's needles are probed in sorted order (``sorted_probe``):
ascending needles let each binary search start from the previous one's
bound and walk neighbouring keys, so k lookups touch the table's pages in
one forward sweep instead of k random descents through up to 1.8M keys.

Hashing: FNV-1a over UTF-32 codepoints with a splitmix64 finalizer,
vectorized column-wise with a length mask so a gram hashes identically
regardless of batch padding width. Collision-freedom among model grams is
*verified at compile time* (model_compile.py); a query-side false positive
requires a 64-bit collision against the ~12M model keys (p ≈ 6e-13 per gram).
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import numpy as np

from .langs import LANGS, N_LANGS

N_ORDERS = 7  # word, unigram..hexagram (languagemodel.rs:26-34)
ORDER_NAMES = ("word", "unigram", "bigram", "trigram", "quadgram", "quingram", "hexagram")
PENALTY = np.float32(7.0)  # identifier.rs:37
MAX_USED = 0.0000005       # relative-frequency pruning threshold (languagemodel.rs:44)

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)
_SM1 = np.uint64(0xBF58476D1CE4E5B9)
_SM2 = np.uint64(0x94D049BB133111EB)

DEFAULT_MODEL_DIR = Path(__file__).resolve().parent.parent / "models" / "heli"


def hash_grams(grams: "list[str] | np.ndarray") -> np.ndarray:
    """Vectorized 64-bit hash of unicode grams; padding-width independent.

    Caveat: numpy 'U' storage cannot distinguish TRAILING U+0000 codepoints
    from padding, so grams differing only by trailing NULs alias ('a\\x00'
    hashes as 'a'). Unreachable from the scorer (preprocessing strips NUL —
    not in the keep table; pinned by tests/test_properties.py), and
    model_compile validates its input grams; only a caller hashing raw
    un-preprocessed text with embedded NULs could observe it."""
    if not isinstance(grams, np.ndarray):
        grams = np.asarray(grams, dtype="U")
    elif grams.dtype.kind != "U":
        grams = grams.astype("U")
    n = grams.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    width = grams.dtype.itemsize // 4
    cp = np.ascontiguousarray(grams).view(np.uint32).reshape(n, width)
    # per-gram char length = index of last nonzero column + 1
    nz = cp != 0
    lens = width - np.argmax(nz[:, ::-1], axis=1)
    lens[~nz.any(axis=1)] = 0
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(width):
            active = lens > j
            if not active.any():
                break
            hj = (h ^ cp[:, j].astype(np.uint64)) * _FNV_PRIME
            h = np.where(active, hj, h)
        # splitmix64 finalizer for avalanche
        h = (h ^ (h >> np.uint64(30))) * _SM1
        h = (h ^ (h >> np.uint64(27))) * _SM2
        h = h ^ (h >> np.uint64(31))
    return h


def sorted_probe(keys: np.ndarray, needles: np.ndarray) -> np.ndarray:
    """Index of each needle in the sorted ``keys``, -1 where absent: the
    needles are argsorted, binary-searched in ascending order (numpy's
    ``searchsorted`` narrows each search from the previous bound) and the
    results scattered back, so the indices equal an unsorted probe's."""
    out = np.full(len(needles), -1, dtype=np.int64)
    if not len(keys) or not len(needles):
        return out
    keys = np.asarray(keys)  # a memmap's subclass indexing stays off the path
    order = np.argsort(needles)
    sn = needles[order]
    p = np.searchsorted(keys, sn)
    np.minimum(p, len(keys) - 1, out=p)
    hit = keys[p] == sn
    out[order[hit]] = p[hit]
    return out


class OrderTable:
    """One n-gram order: sorted hash keys + posting lists."""

    __slots__ = ("keys", "offsets", "plang", "pprob", "padj")

    def __init__(self, keys, offsets, plang, pprob):
        self.keys = keys
        self.offsets = offsets
        self.plang = plang
        self.pprob = pprob
        # adj = prob - PENALTY: lets the fast path express a found gram's
        # dense contribution as (PENALTY everywhere + adj at posting langs).
        self.padj = (np.asarray(pprob) - PENALTY).astype(np.float32)

    def lookup(self, hashes: np.ndarray) -> np.ndarray:
        """Return index into keys for each hash, or -1 if absent."""
        return sorted_probe(self.keys, hashes)


class HeliModel:
    """Loaded model artifact (per-process; mmap-shared across workers).

    ``langs``: optional subset (reference T8 / CLI ``--relevant-langs``,
    languagemodel.rs:62-83): postings for other languages are dropped and
    grams left with no postings are removed — matching the reference's
    from_text_langs semantics where an excluded-language gram is simply
    absent (back-off continues past it).

    ``strict_confidence``: when the model dir carries a plain-text
    ``confidenceThresholds`` file (a user-supplied override next to the
    artifact, mirroring the reference's plain-model load), it is re-parsed at
    load time; strict mode fails on a missing language, ``-n/--not-strict``
    tolerates it with threshold 0 (identify.rs:47-51, languagemodel.rs:214+).
    """

    def __init__(self, model_dir: "str | os.PathLike" = DEFAULT_MODEL_DIR,
                 langs: "list[str] | None" = None,
                 strict_confidence: bool = True):
        d = Path(model_dir)
        if not (d / "meta.json").exists():
            raise FileNotFoundError(
                f"model artifact not found at {d}; run "
                "`python -m heliport_spark compile-model` first"
            )
        self.dir = d
        meta = json.loads((d / "meta.json").read_text())
        if tuple(meta["langs"]) != LANGS:
            raise ValueError("model artifact language table mismatch")
        self.meta = meta
        lang_ids = None
        if langs is not None:
            from .langs import LANG_INDEX

            for l in langs:
                if l not in LANG_INDEX:
                    raise ValueError(f"Language code '{l}' does not exist")
            lang_ids = np.array(sorted(LANG_INDEX[l] for l in langs), dtype=np.uint8)
        self.langs_subset = langs
        self.orders: list[OrderTable] = []
        for t in range(N_ORDERS):
            keys = np.load(d / f"order{t}.keys.npy", mmap_mode="r")
            offsets = np.load(d / f"order{t}.offsets.npy", mmap_mode="r")
            plang = np.load(d / f"order{t}.plang.npy", mmap_mode="r")
            pprob = np.load(d / f"order{t}.pprob.npy", mmap_mode="r")
            if lang_ids is not None:
                keys, offsets, plang, pprob = _filter_order(
                    keys, offsets, plang, pprob, lang_ids
                )
            self.orders.append(OrderTable(keys, offsets, plang, pprob))
        thresholds_txt = d / "confidenceThresholds"
        if thresholds_txt.exists():
            from .model_compile import load_confidence

            self.confidence = load_confidence(
                thresholds_txt, strict=strict_confidence
            )
        else:
            self.confidence = np.load(d / "confidence.npy")
        assert self.confidence.shape == (N_LANGS,)
        # the two char tables are gathered batch-width (millions of fancy
        # indexes per 10k texts) EVERY batch — unlike the order tables, whose
        # mmap pays off via lazy page sharing, keeping these as memmaps costs
        # ~20 ms/batch in mmap-wrapper overhead for 1.1 MB each: materialize
        self.keep_table = np.asarray(np.load(d / "keep_table.npy", mmap_mode="r"))
        self.cjk_table = np.asarray(np.load(d / "cjk_table.npy", mmap_mode="r"))


def _filter_order(keys, offsets, plang, pprob, lang_ids):
    """Drop postings outside the language subset; remove empty grams."""
    plang = np.asarray(plang)
    pprob = np.asarray(pprob)
    offsets = np.asarray(offsets).astype(np.int64)
    mask = np.isin(plang, lang_ids)
    counts = np.diff(offsets)
    gram_of_entry = np.repeat(np.arange(len(keys)), counts)
    new_counts = np.bincount(gram_of_entry[mask], minlength=len(keys))
    keep = new_counts > 0
    new_keys = np.asarray(keys)[keep]
    new_offsets = np.zeros(int(keep.sum()) + 1, dtype=np.uint64)
    np.cumsum(new_counts[keep], out=new_offsets[1:])
    return new_keys, new_offsets, plang[mask], pprob[mask]


_MODEL_CACHE: dict = {}


def get_model(model_dir: "str | os.PathLike" = DEFAULT_MODEL_DIR,
              langs: "list[str] | None" = None,
              strict_confidence: bool = True) -> HeliModel:
    """Process-wide model singleton (mirrors python.rs:68-87's LazyLock)."""
    if langs is not None and not langs:
        # `if langs else None` would collide [] with None in the cache key
        # and poison every later get_model() with a zero-gram model that
        # scores pure penalty — and an empty subset is never meaningful
        raise ValueError("langs subset must be non-empty (or None for all)")
    key = (str(model_dir),
           tuple(sorted(langs)) if langs is not None else None,
           strict_confidence)
    m = _MODEL_CACHE.get(key)
    if m is None:
        m = HeliModel(model_dir, langs=langs,
                      strict_confidence=strict_confidence)
        _MODEL_CACHE[key] = m
    return m
