"""Scorer-internal invariants: fast ≡ exact, memo behavior, hashing."""

import numpy as np

from heliport_spark.heli import Scorer
from heliport_spark.model import hash_grams
from heliport_spark.sources.clips import ADVERSARIAL_SENTS, GOLDEN_SENTS


def _mixed_corpus():
    texts = list(GOLDEN_SENTS) + list(ADVERSARIAL_SENTS)
    # perturbations: word swaps and truncations (deterministic)
    rng = np.random.default_rng(7)
    for s in GOLDEN_SENTS:
        words = s.split()
        if len(words) > 3:
            texts.append(" ".join(rng.permutation(words)))
            texts.append(" ".join(words[: max(1, len(words) // 2)]))
    return texts


def test_fast_matches_exact_labels(exact_scorer, fast_scorer):
    texts = _mixed_corpus()
    le, se, re_, _ = exact_scorer.identify_batch(texts)
    lf, sf, rf, _ = fast_scorer.identify_batch(texts)
    assert list(le) == list(lf)
    # scores agree to 4 decimals (the reference's own precision bar)
    np.testing.assert_allclose(se, sf, atol=5e-5)


def test_batch_matches_single(fast_scorer):
    texts = _mixed_corpus()[:10]
    labels, scores, _, _ = fast_scorer.identify_batch(texts)
    for t, l, s in zip(texts, labels, scores):
        l1, s1 = fast_scorer.identify(t)
        assert l1 == l
        assert abs(s1 - s) < 1e-6


def test_memo_stable_across_batches(fast_scorer):
    t = "Hola, ¿qué tal?"
    l1, s1 = fast_scorer.identify(t)
    for _ in range(3):
        l2, s2 = fast_scorer.identify(t)
        assert (l2, s2) == (l1, s1)


def test_hash_padding_independence():
    # same gram must hash identically regardless of batch max-width padding
    h1 = hash_grams(["ab", "xylophone"])
    h2 = hash_grams(["ab"])
    h3 = hash_grams(np.array(["ab", "a" * 50]))
    assert h1[0] == h2[0] == h3[0]
    assert len({int(h) for h in hash_grams(["a", "b", "ab", "ba", "aa"])}) == 5


def test_preprocess_cjk_split(fast_scorer):
    toks, cjk_pct = fast_scorer.preprocess("abc你好def")
    assert toks == ["abc", "你好", "def"]
    assert 0.2 < cjk_pct < 0.4  # 2 of 9 non-space chars... 2/9
    toks2, _ = fast_scorer.preprocess("Hello,   World!")
    assert toks2 == ["hello", "world"]


def test_ft_cross_check(fast_scorer):
    labels, probs = fast_scorer.ft_identify_batch(
        ["the quick brown fox jumps over the lazy dog", ""]
    )
    assert labels[1] == "zxx" and probs[1] == 0.0
    assert 0.0 <= probs[0] <= 1.0


def test_vocab_bank_reset_preserves_labels(fast_scorer):
    """A tiny cache_cap forces mid-stream bank resets; labels and scores must
    be identical to an unbounded-cache scorer (the reset only costs time)."""
    from heliport_spark.heli import Scorer

    texts = [
        "Hola, ¿qué tal estás hoy?",
        "hello world this is english text",
        "das ist ein deutscher Satz",
        "ceci est une phrase française",
        "questo è un testo italiano",
    ] * 4
    small = Scorer(fast_scorer.model, cache_cap=3)  # reset nearly every batch
    l1, s1, _, _ = small.identify_batch(texts)
    # second pass re-scores everything after resets
    l2, s2, _, _ = small.identify_batch(texts)
    lr, sr, _, _ = fast_scorer.identify_batch(texts)
    assert list(l1) == list(lr) == list(l2)
    assert [float(x) for x in s1] == [float(x) for x in sr]
    # the reset fires at batch start, so the bank never exceeds one batch's
    # distinct-word count (26 here) instead of accumulating across batches
    assert small._vb_n == len({w for t in texts for w in t.lower().split()})


def test_duplicate_texts_identical_results(fast_scorer):
    """The exact-duplicate shortcut (score distinct texts once, scatter back)
    must be bit-identical to scoring every row."""
    base = [
        "Hola, ¿qué tal estás hoy?",
        "hello world this is english text",
        "das ist ein deutscher Satz",
        None,
        "",
    ]
    texts = base * 20  # 100 rows, 5 distinct -> shortcut fires
    from heliport_spark.heli import Scorer

    l1, s1, r1, c1 = fast_scorer.identify_batch(texts)
    # a scorer fed one-row-at-a-time never takes the shortcut
    ref = Scorer(fast_scorer.model)
    for i, t in enumerate(texts):
        l2, s2, r2, c2 = ref.identify_batch([t])
        assert l1[i] == l2[0]
        assert float(s1[i]) == float(s2[0])
        assert float(r1[i]) == float(r2[0])
        assert float(c1[i]) == float(c2[0])


def test_duplicate_shortcut_nul_bytes_not_merged(fast_scorer):
    """pandas 2.x hashes str objects as C strings — everything after an
    embedded NUL is invisible to pd.factorize, so '\\x00A' used to merge
    with '' in the exact-duplicate shortcut and scatter the WRONG rows'
    scores (hypothesis-found, pinned here deterministically). The per-batch
    dedup is length-delimited: NUL texts stay distinct AND the results stay
    batch-shape invariant."""
    from heliport_spark.heli import Scorer, _dedup

    import numpy as np

    # the dedup itself: NUL texts stay distinct
    codes, uniq = _dedup(["", "\x00A", "A\x00", "A", "\x00"] * 4)
    assert len(uniq) == 5
    assert len(set(codes[:5])) == 5

    base = ["", "", "", "\x00A"]
    big = base * 5  # 20 rows, 2 distinct texts
    l1, s1, r1, c1, w1 = fast_scorer.identify_batch(big, with_word_nll=True)
    ref = Scorer(fast_scorer.model)
    l0, s0, r0, c0, w0 = ref.identify_batch(base, with_word_nll=True)
    assert list(l1[:4]) == list(l0)
    assert [float(x) for x in s1[:4]] == [float(x) for x in s0]
    assert np.array_equal(w1[:4], w0)


def test_topk_k_zero_empty():
    s = Scorer()
    assert s.identify_topk("hello world", 0) == []
    assert s.identify_topk("hello world", 1) and len(s.identify_topk("hello", 1)) == 1


def test_hash_spans_long_token_matches_hash_grams():
    """Spans > 64 chars go through the compacted long-span loop — must stay
    bit-identical to hash_grams (and not cost O(len × batch))."""
    import numpy as np

    from heliport_spark.heli import _hash_spans
    from heliport_spark.model import hash_grams

    words = ["short", "x" * 65, "y" * 500, "z" * 64, "mid" * 30]
    joined = "\x00".join(words)
    cp = np.frombuffer(joined.encode("utf-32-le"), dtype="<u4")
    lens = np.array([len(w) for w in words], dtype=np.int64)
    starts = np.zeros(len(words), dtype=np.int64)
    np.cumsum(lens[:-1] + 1, out=starts[1:])
    assert _hash_spans(cp, starts, lens).tolist() == hash_grams(words).tolist()


def test_word_nll_multi_block_matches_single_block(fast_scorer, monkeypatch):
    """word_nll gathers from a dense (distinct word × winner lang) matrix
    built in blocks of winner columns. A one-cell budget (one column per
    block) must equal the single-block default on a mixed batch (known
    words, OOV, empty, CJK, duplicates)."""
    import heliport_spark.heli as H

    texts = _mixed_corpus() + ["", "zzqqxx unknownword9", "你好世界 " * 4]
    texts = texts * 3
    res_one = fast_scorer.identify_batch(texts, with_word_nll=True)

    monkeypatch.setattr(H, "_WNLL_BLOCK_CELLS", 1)
    res_many = Scorer().identify_batch(texts, with_word_nll=True)
    assert len(set(res_one[0])) > 3  # several winner columns → many blocks
    assert list(res_one[0]) == list(res_many[0])
    np.testing.assert_array_equal(res_one[4], res_many[4])


def test_word_nll_empty_posting_list_is_penalty(fast_scorer):
    """A hand-built order-0 table whose stored word has an EMPTY posting
    list (model_compile never writes one) scores that word as OOV
    (PENALTY) instead of raising IndexError."""
    import copy

    from heliport_spark.heli import PENALTY
    from heliport_spark.model import OrderTable

    h = np.sort(hash_grams(["hello", "world"]))
    w_hello = int(np.flatnonzero(h == hash_grams(["hello"])[0])[0])
    offsets = np.array([0, 0, 0], dtype=np.int64)
    offsets[w_hello + 1:] = 1  # 'hello' has one posting, 'world' none
    lang = 17
    table = OrderTable(h, offsets, np.array([lang], np.int16),
                       np.array([2.5], np.float32))
    model = copy.copy(fast_scorer.model)
    model.orders = [table] + list(fast_scorer.model.orders[1:])
    sc = Scorer(model)
    winners = np.array([lang, lang, lang])
    got = sc.word_nll_batch(["world", "hello world", "world world"], winners)
    assert got.tolist() == [PENALTY, (2.5 + PENALTY) / 2, PENALTY]


def test_ft_span_path_matches_word_buckets(fast_scorer):
    """Per-word fastText vectors and bucket counts from the span path are
    bit-identical to the training-side definition
    ``M[word_buckets(w)].sum(axis=0)`` / ``len(word_buckets(w))``."""
    from heliport_spark.ft_train import word_buckets
    from heliport_spark.heli import _ft_word_sums

    M, _ = fast_scorer._ft_params()
    words = ["a", "q" * 5000, "日本語", "é", "é́x", "ab" * 3, "i̇"]
    cp = np.frombuffer(" ".join(words).encode("utf-32-le"), dtype="<u4")
    lens = np.array([len(w) for w in words], dtype=np.int64)
    starts = np.zeros(len(words), dtype=np.int64)
    np.cumsum(lens[:-1] + 1, out=starts[1:])
    V, K = _ft_word_sums(M, cp, starts, lens)
    for i, w in enumerate(words):
        bk = word_buckets(w)
        ref = M[bk].sum(axis=0)
        assert np.array_equal(V[i].view(np.uint32), ref.view(np.uint32)), w
        assert K[i] == len(bk), w


def test_sorted_probe_matches_unsorted_searchsorted():
    """The sorted probe behind both lookups (model order tables and the
    word memos' index) returns exactly what a plain searchsorted over the
    needles in their given order returns: repeated needles, needles below
    the first key and above the last, an empty table, empty needles."""
    from heliport_spark.heli import _WordIndex
    from heliport_spark.model import OrderTable, sorted_probe

    def plain(keys, needles):
        if not len(keys):
            return np.full(len(needles), -1, np.int64)
        p = np.minimum(np.searchsorted(keys, needles), len(keys) - 1)
        return np.where(keys[p] == needles, p, -1)

    rng = np.random.default_rng(5)
    keys = np.unique(rng.integers(10, 2**63, 5000, dtype=np.uint64))
    edges = [0, 1, keys[0] - 1, keys[0], keys[-1], keys[-1] + 1, 2**64 - 1]
    needles = np.concatenate([
        rng.choice(keys, 300), rng.choice(keys, 50).repeat(4),
        rng.integers(10, 2**63, 300, dtype=np.uint64),
        np.array(edges, dtype=np.uint64).repeat(2),
    ])
    rng.shuffle(needles)
    for k, h in ((keys, needles), (keys[:1], needles), (keys, needles[:0]),
                 (keys[:0], needles), (keys[:0], needles[:0])):
        want = plain(k, h)
        assert np.array_equal(sorted_probe(k, h), want)
        table = OrderTable(k, np.arange(len(k) + 1, dtype=np.uint64),
                           np.zeros(len(k), np.uint8),
                           np.zeros(len(k), np.float32))
        assert np.array_equal(table.lookup(h), want)
        # the memo index: keys added unsorted in two batches; key k[i]
        # holds slot 7i + 3
        index = _WordIndex()
        perm = rng.permutation(len(k))
        for part in np.array_split(perm, 2):
            index.add(k[part], 7 * part.astype(np.int64) + 3)
        assert np.array_equal(index.lookup(h),
                              np.where(want >= 0, 7 * want + 3, -1))


def test_identify_columns_ft_only_on_determined_rows():
    """``identify_columns(with_ft=True)`` runs the fastText cross-check over
    the distinct texts whose lang is determined: ``ft_lang``/``ft_prob``
    are null exactly on the und/zxx rows, and every other row is bit-equal
    to the public full-batch ``ft_identify_batch`` over the same texts."""
    from heliport_spark.operators.identify import identify_columns

    edge = _edge_corpus()
    texts = (list(GOLDEN_SENTS) + edge.SENTENCES + edge.EDGE
             + list(ADVERSARIAL_SENTS)) * 2
    cols = identify_columns(Scorer(), texts, False, True, False, False)
    und = cols["lang"].isin(["und", "zxx"]).to_numpy()
    assert und.any() and (~und).any()
    assert (cols["lang"][und] == "und").any() and \
        (cols["lang"][und] == "zxx").any()
    assert np.array_equal(cols["ft_lang"].isna().to_numpy(), und)
    assert np.array_equal(cols["ft_prob"].isna().to_numpy(), und)
    fl, fp = Scorer().ft_identify_batch(texts)
    assert cols["ft_lang"][~und].tolist() == fl[~und].tolist()
    got = cols["ft_prob"].to_numpy()[~und]
    assert got.dtype == np.float32
    assert np.array_equal(got.view(np.uint32), fp[~und].view(np.uint32))


def test_ft_missing_artifact_is_explicit_error(fast_scorer, tmp_path):
    """A model dir without ft_M.npy makes the fastText cross-check raise an
    error naming the model dir (no silent fallback scorer)."""
    import pytest

    from heliport_spark.model import HeliModel

    src = fast_scorer.model.dir
    for f in src.iterdir():
        if f.name != "ft_M.npy":
            (tmp_path / f.name).symlink_to(f)
    sc = Scorer(HeliModel(tmp_path))
    assert sc.identify("hello world")[0]  # HeLI itself still works
    with pytest.raises(FileNotFoundError, match=str(tmp_path)):
        sc.ft_identify_batch(["hello world"])


def test_seq_row_sums_matches_add_at(monkeypatch):
    """The blocked shrinking-tail per-segment sum (the sequential method of
    the text-score sums in f64, the ft word bucket sums in f32) is
    bit-identical to an np.add.at loop into an accumulator of the same
    dtype: in one block, with empty segments and a long segment that
    finishes in chunks; and over several blocks, with 1,200 segments, a
    fifth of them empty, and two segments longer than ``_SEQ_CHUNK`` that
    sort into different blocks (each alone in its block's tail)."""
    import heliport_spark.heli as H
    from heliport_spark.heli import _seq_row_sums

    rng = np.random.default_rng(3)
    V = rng.standard_normal((50, 242)).astype(np.float32)

    def check(lens):
        start = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=start[1:])
        idx = rng.integers(0, 50, int(lens.sum()))
        for dtype in (np.float32, np.float64):
            ref = np.zeros((len(lens), 242), dtype=dtype)
            np.add.at(ref, np.repeat(np.arange(len(lens)), lens), V[idx])
            got = _seq_row_sums(V, idx, start, lens, dtype)
            assert got.dtype == dtype
            assert np.array_equal(got, ref)

    check(np.array([3, 0, 7, 1, 9000, 0, 2], dtype=np.int64))

    # a segment longer than _SEQ_CHUNK can sort into an earlier block only
    # below a run of ≥ _SEQ_BLOCK longer ones: shrink the chunk so that run
    # stays small. Sorted ranks 1023 and 1199 end the last two blocks.
    monkeypatch.setattr(H, "_SEQ_CHUNK", 8)
    n, blk = 1200, H._SEQ_BLOCK
    ranked = np.concatenate([
        np.zeros(240, np.int64),                  # a fifth empty
        rng.integers(1, 20, 4 * blk - 1 - 240),   # ranks 240..1022
        [60],                                     # rank 1023
        rng.integers(61, 80, n - 4 * blk - 1),    # ranks 1024..1198
        [200],                                    # rank 1199
    ])
    lens = rng.permutation(ranked)
    pos = np.argsort(np.argsort(lens, kind="stable"), kind="stable")
    assert sorted(pos[lens > 80].tolist() + pos[lens == 60].tolist()) == \
        [4 * blk - 1, n - 1]
    check(lens)


def _edge_corpus():
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                        "edge_udf", "corpus.py")
    spec = importlib.util.spec_from_file_location("edge_udf_corpus", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_identify_columns_batch_invariant():
    """Every identify-UDF output of a row is a function of that row alone:
    one multilingual mix (goldens, the edge corpus, a repeated-vocabulary
    block) scored as one batch, row by row and in 5-row chunks is
    bit-equal in every scored column. The batchings take both text-sum
    methods for the same rows: the whole mix has more (text × distinct
    word) cells than tokens (sequential), a single row or a chunk of the
    repeated block has fewer (dense counts dgemm). ``ft_lang``/``ft_prob``
    are compared null-aware: null on every und/zxx row, bit-equal on every
    determined one."""
    from heliport_spark.operators.identify import identify_columns

    edge = _edge_corpus()
    rng = np.random.default_rng(11)
    common = "the of and to in is was for on that".split()
    block = [" ".join(rng.choice(common, 40)) for _ in range(20)]
    mix = list(GOLDEN_SENTS) + edge.SENTENCES + edge.EDGE + block
    sc = Scorer()

    def dense(texts):
        ctx = sc.context(texts)
        return len(ctx.texts) * len(ctx.uniq_h) <= len(ctx.flat_ids)

    assert not dense(mix) and dense(block[:5])

    def run(chunks):
        parts = [identify_columns(sc, c, False, True, True, False)
                 for c in chunks]
        # null-aware: a null ft_prob is NaN, which equals nothing
        return {f: [None if v != v else v
                    for p in parts for v in p[f].tolist()]
                for f in parts[0].columns}

    whole = run([mix])
    # ft is null exactly on the und/zxx rows, in every batching
    und = [lang in ("und", "zxx") for lang in whole["lang"]]
    assert any(und) and not all(und)
    assert [v is None for v in whole["ft_lang"]] == und
    assert [v is None for v in whole["ft_prob"]] == und
    for chunks in ([[t] for t in mix],
                   [mix[i : i + 5] for i in range(0, len(mix), 5)]):
        got = run(chunks)
        for f in ("lang", "score", "raw_score", "cjk_pct", "word_nll",
                  "ft_lang", "ft_prob"):
            assert got[f] == whole[f], f
