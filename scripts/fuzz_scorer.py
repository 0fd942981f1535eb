"""Deep one-off fuzz of the scorer's fast paths against their reference
semantics — heavier than the in-suite property tests (which cap examples
for gate time). Run manually after touching heli.py hot paths:

    python scripts/fuzz_scorer.py [n_examples]

Targets the invariants the fast lanes rely on:
  * fast ≡ exact (label bit-equal, score within 5e-4) on arbitrary unicode;
  * bit-exact batch-shape invariance of everything the identify UDF
    computes from one per-batch context — HeLI scores, word_nll, the
    fastText cross-check and textstats — under heavy duplication (every
    batch is deduplicated before scoring; NUL bytes must not merge texts)
    and through the joined-lowercase fast path (embedded newlines force
    per-text lowering; case-expanding chars like 'İ' shift separator
    offsets);
  * the identify UDF's fastText cross-check runs only where its flag can
    fire: null on exactly the und/zxx rows of a duplicate-heavy batch,
    bit-equal to the full-batch ft_identify_batch on every other row;
  * identify_topk_batch ≡ the per-row reference scan.
Exit code 0 = all invariants held; first counterexample is printed and
re-raised.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from hypothesis import given, settings, strategies as st

from heliport_spark.heli import COLLAPSE, LANGS_ARR, PENALTY, Scorer
from heliport_spark.operators.identify import identify_columns
from heliport_spark.textstats import text_stats_batch

_FAST = Scorer()
_EXACT = Scorer(exact=True)

# skew toward the characters that exercise edge paths: NUL (pandas C-string
# hashing), newline (joined fast-path fallback), dotted-I (lowercase grows),
# final sigma (context-dependent lowercase), CJK, combining marks
_edge = st.sampled_from(["\x00", "\n", "İ", "Σς", "ẞ", "日", "あ", "́", "\r"])
_tex = st.text(alphabet=st.characters(codec="utf-8"), min_size=0, max_size=60)
text_strategy = st.one_of(
    _tex,
    st.tuples(_tex, _edge, _tex).map(lambda t: t[0] + t[1] + t[2]),
)


def big_batches():
    """Batches of more than 16 rows where every distinct text repeats."""
    return st.lists(text_strategy, min_size=2, max_size=12).flatmap(
        lambda base: st.integers(min_value=3, max_value=6).map(
            lambda k: base * k + base[:1] * max(0, 17 - len(base) * k)
        )
    )


def run(n_examples: int) -> None:
    @settings(max_examples=n_examples, deadline=None)
    @given(text_strategy)
    def fast_matches_exact(text):
        lf, sf = _FAST.identify(text)
        le, se = _EXACT.identify(text)
        assert lf == le, (repr(text), lf, le)
        assert abs(sf - se) < 5e-4, (repr(text), sf, se)

    @settings(max_examples=n_examples, deadline=None)
    @given(big_batches())
    def batch_invariant(texts):
        """Everything the identify UDF computes is a function of the row
        alone, bit for bit: labels, HeLI scores, word_nll, the fastText
        label and probability, and textstats are equal whether a text is
        scored inside a duplicate-heavy batch or on its own. Text scores
        are summed in f64 and rounded to f32 once (heli._row_sums), so
        neither the dense counts dgemm — which a single row always takes —
        nor the sequential per-text sum depends on the batch's shape."""
        l1, s1, r1, c1, w1 = _FAST.identify_batch(texts, with_word_nll=True)
        fl1, fp1 = _FAST.ft_identify_batch(texts)
        ts1 = text_stats_batch(texts)
        ref = Scorer(_FAST.model)
        for i in (0, len(texts) // 2, len(texts) - 1):
            l0, s0, r0, c0, w0 = ref.identify_batch(
                [texts[i]], with_word_nll=True
            )
            fl0, fp0 = ref.ft_identify_batch([texts[i]])
            ts0 = text_stats_batch([texts[i]])
            got = [l1[i], s1[i], r1[i], c1[i], w1[i], fl1[i], fp1[i]]
            got += [a[i] for a in ts1]
            want = [l0[0], s0[0], r0[0], c0[0], w0[0], fl0[0], fp0[0]]
            want += [b[0] for b in ts0]
            assert got == want, (repr(texts[i]), got, want)

    @settings(max_examples=n_examples, deadline=None)
    @given(big_batches())
    def ft_only_on_determined(texts):
        """identify_columns scores ft over the determined distinct texts of
        the batch's one context: ft_lang/ft_prob are null exactly where
        lang is und/zxx, and every other row equals the public full-batch
        call bit for bit."""
        cols = identify_columns(_FAST, texts, False, True, False, False)
        und = cols["lang"].isin(["und", "zxx"]).to_numpy()
        assert np.array_equal(cols["ft_lang"].isna().to_numpy(), und), texts
        assert np.array_equal(cols["ft_prob"].isna().to_numpy(), und), texts
        fl, fp = Scorer(_FAST.model).ft_identify_batch(texts)
        got = (cols["ft_lang"][~und].tolist(),
               cols["ft_prob"].to_numpy()[~und].view(np.uint32).tolist())
        want = (fl[~und].tolist(), fp[~und].view(np.uint32).tolist())
        assert got == want, (texts, got, want)

    @settings(max_examples=max(20, n_examples // 4), deadline=None)
    @given(st.lists(text_strategy, min_size=1, max_size=24), st.integers(0, 5))
    def topk_matches_reference_scan(texts, k):
        got = _FAST.identify_topk_batch(texts, k)
        points, valid, _ = _FAST.score_batch(list(texts))
        orders = np.argsort(points, axis=1, kind="stable")
        for r in range(len(points)):
            if not valid[r]:
                assert got[r] == [("zxx", float(PENALTY))]
                continue
            row, seen = [], set()
            for i in orders[r]:
                if len(row) >= k:
                    break
                c = int(COLLAPSE[i])
                if c in seen:
                    continue
                seen.add(c)
                row.append((str(LANGS_ARR[c]), float(points[r][i])))
            assert got[r] == row, (r, texts[r], got[r], row)

    for check in (fast_matches_exact, batch_invariant, ft_only_on_determined,
                  topk_matches_reference_scan):
        print(f"fuzz: {check.__name__} x{n_examples} ...", flush=True)
        check()
        print(f"fuzz: {check.__name__} OK", flush=True)


if __name__ == "__main__":
    run(int(sys.argv[1]) if len(sys.argv) > 1 else 1000)
    print("ALL FUZZ INVARIANTS HELD")
