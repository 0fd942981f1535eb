"""Train the binary QUALITY classifier (CCNet/GPT-3/DCLM-style) — from
scratch, public-knowledge design (VERDICT r6 next #4).

Wenzek et al. 2020 (CCNet) gate crawl text with a Wikipedia-trained LM;
Brown et al. 2020 (GPT-3, appendix A) and the DataComp-LM baseline gate
with a CHEAP LINEAR CLASSIFIER trained to separate reference-like text
from raw crawl. This module is that second design: binary logistic
regression over hashed char-2..5-gram buckets (the ft_train feature
family, but a dedicated 2^18 space — the shared 2^14 table is saturated
by ~100 languages' vocabularies and collisions cap what the model can
learn) PLUS three dense type-level features the bucket means are blind to
(mean pooling makes a word repeated 12× feature-identical to the word
said once): distinct-token ratio, top-token share, mean word length.

Training corpus (deterministic, synthesized from each language's
frequency-ranked vocabulary, read through ``vocab.top_words``: the
reference's public word models where they exist, else the ``models/vocab``
lists recovered from the committed artifact, with a warning naming the
languages those lists serve; ``qc_meta.json`` records the file each
language was read from):

* positives — Zipf-weighted sentences: tokens drawn with p(rank r) ∝
  1/(r+1) over each language's top-2000 frequency-ranked vocabulary
  (function words dominate, rare words appear — the natural-ish shape);
* negatives — three "corpus salad" corruption families over the SAME
  vocabulary (so the classifier cannot cheat on vocabulary alone):
  (a) tail salad — uniform draws over ranks 300+, zero function words
      (the SEO keyword-stuffing / tag-list shape),
  (b) char-shuffle — Zipf draws whose words get within-word character
      permutations (mojibake/OCR-garble: char n-grams go OOV),
  (c) repetition salad — one or two tokens repeated to sentence length
      (the template/boilerplate failure Gopher's rep rules also target).

Optimizer: full-batch Adam + decoupled weight decay on the flattened
bucket-occurrence list — no dense (n, B) matrix; forward is one bincount
segment-sum per epoch, backward one bincount over occurrences (~7M here).
Measured held-out accuracy 0.904 overall (pos 0.93 / tail 0.80 /
shuffle 0.91 / repetition 0.92) — per-family numbers land in the meta.

Artifacts (``qc_w.npy`` float32 (2^18,), ``qc_meta.json`` with the dense
weights, bias, threshold and held-out accuracies) land next to the langid
model and are loaded by :func:`load_quality_params`;
``operators/quality.py::classifier_score_df`` broadcasts them (1 MB) for
the Spark pass.
"""

from __future__ import annotations

import json
import sys
import time
import warnings
from pathlib import Path

import numpy as np

from .langs import LANGS, SPECIAL_MASK
from .model import DEFAULT_MODEL_DIR, hash_grams
from .vocab import is_fixture, read_words, vocab_source, word_list_roots

QC_BUCKETS = 1 << 18
QC_NGRAMS = (2, 3, 4, 5)
QC_THRESHOLD = 0.5  # sigmoid output; the served decision boundary
QC_VOCAB = 2000  # vocabulary window per language
QC_TAIL_FROM = 300  # tail-salad draws from ranks >= this


def tokenize(text: str) -> "list[str]":
    """ONE tokenizer for train AND serve: lowercase, whitespace split.
    (Deliberately NOT the HeLI preprocess — stripping non-alpha would
    normalize away exactly the garble the negatives model.)"""
    return text.lower().split()


def qc_word_buckets(word: str) -> np.ndarray:
    """Hashed char n-gram buckets of ``' word '`` in the 2^18 space."""
    ws = f" {word} "
    grams = [
        ws[i : i + t]
        for t in QC_NGRAMS
        for i in range(len(ws) - t + 1)
    ]
    if not grams:
        return np.empty(0, dtype=np.int64)
    return (hash_grams(grams) % np.uint64(QC_BUCKETS)).astype(np.int64)


def dense_features(tokens: "list[str]") -> "tuple[float, float, float]":
    """(distinct-token ratio, top-token share, mean word length / 20) —
    the type-level signals mean-pooled bucket features cannot see."""
    if not tokens:
        return 0.0, 0.0, 0.0
    from collections import Counter

    c = Counter(tokens)
    nt = len(tokens)
    return (
        len(c) / nt,
        max(c.values()) / nt,
        min(sum(len(w) for w in tokens) / nt, 20.0) / 20.0,
    )


def quality_vocab_sources(model_src=None) -> "dict[str, Path]":
    """{language: the word-list file ``_synth_quality_corpus`` reads for
    it}, over the non-special languages that any source has."""
    sources = {}
    for li, lang in enumerate(LANGS):
        if SPECIAL_MASK[li]:
            continue
        try:
            sources[lang] = vocab_source(lang, model_src)
        except FileNotFoundError:
            continue
    return sources


def _synth_quality_corpus(
    rng: np.random.Generator,
    per_lang: int = 96,
    model_src=None,
):
    """(texts, y, family) with y=1 fluent / y=0 salad, balanced per
    language; family tags ('pos','tail','shuf','rep') feed the per-family
    held-out accuracies in the meta. ``model_src`` is the first root
    ``vocab.top_words`` searches; a language without a word list of
    ``2 * QC_TAIL_FROM`` words is left out, and a corpus left empty
    raises ``FileNotFoundError`` naming every root searched. Languages
    served by the recovered ``models/vocab`` lists (no word model for them
    under the roots before it) are named in a warning, with those whose
    list is shorter than ``QC_VOCAB`` and those left out."""
    texts: "list[str]" = []
    y: "list[int]" = []
    fam: "list[str]" = []
    fixture, short, left_out = {}, [], []
    for lang, path in quality_vocab_sources(model_src).items():
        words = [w for w in read_words(path, QC_VOCAB) if w]
        if is_fixture(path):
            fixture[lang] = path.parent
            if len(words) < QC_VOCAB:
                short.append(lang)
        if len(words) < 2 * QC_TAIL_FROM:
            left_out.append(lang)
            continue  # too small to have a distinct tail regime
        warr = np.asarray(words, dtype=object)
        p_zipf = 1.0 / (np.arange(len(words), dtype=np.float64) + 1.0)
        p_zipf /= p_zipf.sum()
        tail = warr[QC_TAIL_FROM:]

        def _sent(prob, arr):
            n = int(rng.integers(6, 18))
            return rng.choice(arr, size=n, p=prob, replace=True)

        for _ in range(per_lang):
            texts.append(" ".join(_sent(p_zipf, warr)))
            y.append(1)
            fam.append("pos")
        n_fam, rem = divmod(per_lang, 3)
        for _ in range(n_fam + rem):  # (a) tail salad
            texts.append(" ".join(_sent(None, tail)))
            y.append(0)
            fam.append("tail")
        for _ in range(n_fam):  # (b) char-shuffled Zipf draws
            toks = []
            for w in _sent(p_zipf, warr):
                ch = list(w)
                rng.shuffle(ch)
                toks.append("".join(ch))
            texts.append(" ".join(toks))
            y.append(0)
            fam.append("shuf")
        for _ in range(n_fam):  # (c) repetition salad
            n = int(rng.integers(6, 18))
            reps = rng.choice(warr, size=int(rng.integers(1, 3)), p=p_zipf)
            texts.append(
                " ".join(str(reps[i % len(reps)]) for i in range(n))
            )
            y.append(0)
            fam.append("rep")
    roots = word_list_roots(model_src)
    if not texts:
        raise FileNotFoundError(
            f"quality corpus is empty: no language has a word list of at "
            f"least {2 * QC_TAIL_FROM} words under "
            f"{', '.join(str(r) for r in roots)}"
        )
    if fixture:
        fixture_dirs = set(fixture.values())
        warnings.warn(
            f"quality corpus: {len(fixture)} languages read from the word "
            f"lists recovered from the artifact under "
            f"{', '.join(sorted(str(d) for d in fixture_dirs))}, not from "
            f"word models under "
            f"{', '.join(str(r) for r in roots if r not in fixture_dirs)}: "
            f"{list(fixture)}; lists shorter than {QC_VOCAB} words: {short}; "
            f"left out (shorter than {2 * QC_TAIL_FROM}): {left_out}",
            stacklevel=2,
        )
    return (
        texts,
        np.asarray(y, dtype=np.float64),
        np.asarray(fam, dtype=object),
    )


def train_quality(
    out_dir: "str | Path" = DEFAULT_MODEL_DIR,
    per_lang: int = 96,
    epochs: int = 400,
    lr: float = 0.05,
    weight_decay: float = 1e-4,
    seed: int = 42,
    model_src=None,
    force: bool = False,
    verbose: bool = True,
) -> dict:
    """Fit the logistic regression and write qc_w.npy / qc_meta.json.
    Refuses to overwrite an existing committed artifact without
    ``force=True`` (CLI ``-f``) — the same discipline as model_compile
    (the artifact is test-pinned; an accidental retrain must fail loudly,
    not silently clobber it)."""
    out_probe = Path(out_dir) / "qc_w.npy"
    if out_probe.exists() and not force:
        raise FileExistsError(
            f"{out_probe} exists — pass force=True / -f to retrain over "
            f"the committed artifact"
        )
    rng = np.random.default_rng(seed)
    texts, y, fam = _synth_quality_corpus(rng, per_lang,
                                          model_src=model_src)
    n = len(texts)
    if n < 10:
        raise ValueError(
            f"quality training corpus degenerate ({n} sentences) — check "
            f"the word-model source ($HELIPORT_SPARK_WORD_MODELS)"
        )
    memo: dict = {}
    bucket_lists = []
    D = np.zeros((n, 3), dtype=np.float64)
    for i, t in enumerate(texts):
        toks = tokenize(t)
        parts = []
        for w_ in toks:
            b = memo.get(w_)
            if b is None:
                b = qc_word_buckets(w_)
                memo[w_] = b
            parts.append(b)
        bucket_lists.append(
            np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
        )
        D[i] = dense_features(toks)
    counts = np.asarray([max(len(b), 1) for b in bucket_lists],
                        dtype=np.float64)
    flat = np.concatenate(bucket_lists)
    sample_of = np.repeat(np.arange(n), [len(b) for b in bucket_lists])

    perm = rng.permutation(n)
    n_eval = n // 10
    eval_idx, train_idx = perm[:n_eval], perm[n_eval:]
    in_train = np.zeros(n, dtype=bool)
    in_train[train_idx] = True
    ntr = float(len(train_idx))

    w = np.zeros(QC_BUCKETS)
    wd = np.zeros(3)
    bias = 0.0
    mw = np.zeros(QC_BUCKETS)
    vw = np.zeros(QC_BUCKETS)
    mwd = np.zeros(3)
    vwd = np.zeros(3)
    mb = vb = 0.0
    b1, b2, eps = 0.9, 0.999, 1e-8
    t0 = time.time()

    def _forward():
        dot = (
            np.bincount(sample_of, weights=w[flat], minlength=n) / counts
            + D @ wd
        )
        return 1.0 / (1.0 + np.exp(-(dot + bias)))

    for ep in range(1, epochs + 1):
        p = _forward()
        g = np.where(in_train, p - y, 0.0) / ntr
        dw = np.bincount(flat, weights=(g / counts)[sample_of],
                         minlength=QC_BUCKETS)
        dd = (D * g[:, None]).sum(0)
        db = g.sum()
        mw = b1 * mw + (1 - b1) * dw
        vw = b2 * vw + (1 - b2) * dw * dw
        w -= lr * ((mw / (1 - b1 ** ep))
                   / (np.sqrt(vw / (1 - b2 ** ep)) + eps)
                   + weight_decay * w)
        mwd = b1 * mwd + (1 - b1) * dd
        vwd = b2 * vwd + (1 - b2) * dd * dd
        wd -= lr * (mwd / (1 - b1 ** ep)) / (
            np.sqrt(vwd / (1 - b2 ** ep)) + eps
        )
        mb = b1 * mb + (1 - b1) * db
        vb = b2 * vb + (1 - b2) * db * db
        bias -= lr * (mb / (1 - b1 ** ep)) / (
            np.sqrt(vb / (1 - b2 ** ep)) + eps
        )
        if verbose and ep % 100 == 0:
            tr = train_idx
            acc = float(((p[tr] >= QC_THRESHOLD) == (y[tr] == 1)).mean())
            print(f"epoch {ep}: train acc {acc:.4f} "
                  f"({time.time() - t0:.0f}s)", file=sys.stderr)

    p = _forward()
    pred = p >= QC_THRESHOLD
    acc_tr = float((pred[train_idx] == (y[train_idx] == 1)).mean())
    acc_ev = float((pred[eval_idx] == (y[eval_idx] == 1)).mean())
    fam_acc = {}
    for f in ("pos", "tail", "shuf", "rep"):
        msk = fam[eval_idx] == f
        if msk.any():
            fam_acc[f] = float(
                (pred[eval_idx][msk] == (y[eval_idx][msk] == 1)).mean()
            )
    if verbose:
        print(f"quality train acc {acc_tr:.4f}, held-out acc {acc_ev:.4f} "
              f"{fam_acc}", file=sys.stderr)

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    np.save(out / "qc_w.npy", w.astype(np.float32))
    (out / "qc_meta.json").write_text(
        json.dumps(
            {
                "dense_w": [float(x) for x in wd],
                "bias": float(bias),
                "buckets": QC_BUCKETS,
                "ngrams": list(QC_NGRAMS),
                "threshold": QC_THRESHOLD,
                "train_acc": acc_tr,
                "eval_acc": acc_ev,
                "family_acc": fam_acc,
                "per_lang": per_lang,
                "epochs": epochs,
                "lr": lr,
                "weight_decay": weight_decay,
                "seed": seed,
                "vocab_sources": {
                    lang: str(path) for lang, path
                    in quality_vocab_sources(model_src).items()
                },
            }
        )
    )
    return {"train_acc": acc_tr, "eval_acc": acc_ev, "family_acc": fam_acc}


def load_quality_params(model_dir: "str | Path | None" = None):
    """(w float32 (2^18,), dense_w float64 (3,), bias float, threshold
    float) — the threshold is the one the ARTIFACT was evaluated at
    (meta["threshold"]), not the compile-time constant, so an artifact
    trained at a different decision boundary gates at its own boundary
    (code-review r7). Raises if the artifact is absent (train with
    ``python -m heliport_spark.quality_train``)."""
    d = Path(model_dir) if model_dir is not None else Path(DEFAULT_MODEL_DIR)
    w = np.load(d / "qc_w.npy")
    meta = json.loads((d / "qc_meta.json").read_text())
    return (
        w,
        np.asarray(meta["dense_w"], dtype=np.float64),
        float(meta["bias"]),
        float(meta.get("threshold", QC_THRESHOLD)),
    )


def quality_scores(
    texts,
    w: np.ndarray,
    dense_w: np.ndarray,
    bias: float,
    memo: "dict | None" = None,
) -> np.ndarray:
    """Serve-side scoring (float64 (n,), sigmoid in [0,1]) — the ONE
    scoring implementation; the Spark UDF calls this per Arrow batch. Per
    DISTINCT word the bucket-weight sum and bucket count are memoized (the
    same per-word structure as Scorer.ft_identify's word bank), so a batch
    costs one hash+gather per new vocabulary word, not per token.
    Empty/whitespace text scores 0.0 (no evidence of fluency — gate-safe
    default)."""
    if memo is None:
        memo = {}
    out = np.zeros(len(texts), dtype=np.float64)
    for i, t in enumerate(texts):
        toks = tokenize(t) if isinstance(t, str) else []
        if not toks:
            continue
        tot = 0.0
        cnt = 0
        for tok in toks:
            e = memo.get(tok)
            if e is None:
                bk = qc_word_buckets(tok)
                e = (float(w[bk].sum()), len(bk))
                memo[tok] = e
            tot += e[0]
            cnt += e[1]
        z = (tot / cnt if cnt else 0.0)
        z += float(np.dot(dense_features(toks), dense_w)) + bias
        out[i] = 1.0 / (1.0 + np.exp(-z)) if cnt else 0.0
    return out


if __name__ == "__main__":  # pragma: no cover
    import sys as _sys

    print(train_quality(force="-f" in _sys.argv[1:]))
