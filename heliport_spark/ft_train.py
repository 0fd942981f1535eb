"""Train the fastText-style cross-check classifier (D3) — from scratch.

Architecture: fastText's supervised classifier is a bag of hashed char
n-grams fed through an embedding average and a linear layer; the composition
is linear in the bucket-count features, so we train the collapsed convex
form directly (numpy full-batch gradient descent — fast, deterministic):

    buckets = hash(char n-grams, n=2..5, of each space-padded word) mod B
    logits  = mean(M[buckets]) + bias      M: (B, L) bucket-weight table
    p       = softmax(logits)

(fastText's hidden dimension exists to compress B×L; at B=2^14 the full
table is 16 MB and compression is unnecessary.)

The training corpus is synthesized from the reference's own word-model
vocabularies (seeded RNG — the only public data in this sandbox). Artifacts
(ft_M.npy, ft_b.npy, ft_meta.json) land in the model directory and are
loaded lazily by heli.Scorer.ft_identify_batch.

The classifier is *advisory*: disagreement with the HeLI label sets the
``ft_disagree`` rule flag, never overrides the decision (SURVEY.md §2.6 D3).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import numpy as np

from .langs import LANGS, N_LANGS, SPECIAL_MASK
from .model import DEFAULT_MODEL_DIR, hash_grams
from .vocab import REFERENCE_WORD_MODELS, read_words

FT_BUCKETS = 1 << 14
FT_NGRAMS = (2, 3, 4, 5)


def word_buckets(word: str) -> np.ndarray:
    """Hashed char n-gram buckets of ``' word '`` (n = 2..5)."""
    ws = f" {word} "
    grams = []
    for t in FT_NGRAMS:
        grams.extend(ws[i : i + t] for i in range(len(ws) - t + 1))
    if not grams:
        return np.empty(0, dtype=np.int64)
    return (hash_grams(grams) % np.uint64(FT_BUCKETS)).astype(np.int64)


def text_buckets(tokens: "list[str]", memo: "dict | None" = None) -> np.ndarray:
    parts = []
    for w in tokens:
        if memo is not None:
            b = memo.get(w)
            if b is None:
                b = word_buckets(w)
                memo[w] = b
        else:
            b = word_buckets(w)
        parts.append(b)
    return np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)


def _synth_corpus(rng, sentences_per_lang: int, words_per_lang: int = 300):
    texts, labels = [], []
    for li, lang in enumerate(LANGS):
        if SPECIAL_MASK[li]:
            continue
        path = REFERENCE_WORD_MODELS / f"{lang}.word.model"
        if not path.exists():
            continue
        words = read_words(path, words_per_lang)
        if not words:
            continue
        for _ in range(sentences_per_lang):
            n = int(rng.integers(5, 16))
            texts.append(list(rng.choice(words, size=n)))
            labels.append(li)
    return texts, np.asarray(labels, dtype=np.int64)


def train_ft(
    out_dir: "str | Path" = DEFAULT_MODEL_DIR,
    sentences_per_lang: int = 60,
    epochs: int = 150,
    lr: float = 40.0,
    seed: int = 42,
    verbose: bool = True,
) -> dict:
    rng = np.random.default_rng(seed)
    texts, y = _synth_corpus(rng, sentences_per_lang)
    n = len(texts)
    if n < 10:
        # fail with a diagnosis instead of np.concatenate([]) /
        # nan-eval_acc downstream
        raise ValueError(
            f"ft training corpus degenerate ({n} sentences) — check "
            f"sentences_per_lang and that the model source exists"
        )
    perm = rng.permutation(n)
    n_eval = n // 10
    eval_idx, train_idx = perm[:n_eval], perm[n_eval:]

    memo: dict = {}
    bucket_lists = [text_buckets(t, memo) for t in texts]
    counts = np.asarray([max(len(b), 1) for b in bucket_lists], dtype=np.float32)
    flat = np.concatenate(bucket_lists)
    sample_of = np.repeat(
        np.arange(n), [len(b) for b in bucket_lists]
    )

    M = np.zeros((FT_BUCKETS, N_LANGS), dtype=np.float32)
    bias = np.zeros(N_LANGS, dtype=np.float32)
    vM = np.zeros_like(M)
    vb = np.zeros_like(bias)
    mom = 0.9

    def _dense_counts(idx):
        """Mean-pooled bucket-frequency matrix (len(idx), B) as float32 —
        row i = counts of sample idx[i]'s buckets / its bucket count."""
        msk = np.isin(sample_of, idx)
        rem = np.full(n, -1, dtype=np.int64)
        rem[idx] = np.arange(len(idx))
        so = rem[sample_of[msk]]
        key = so * FT_BUCKETS + flat[msk]
        C = (
            np.bincount(key, minlength=len(idx) * FT_BUCKETS)
            .reshape(len(idx), FT_BUCKETS)
            .astype(np.float32)
        )
        C /= counts[idx][:, None]
        return C

    tr = train_idx
    y_tr = y[tr]
    ntr = len(tr)
    rows = np.arange(ntr)
    # chunked dense count matrices (kept resident: ~64 MB per 1000 samples)
    CH = 2000
    chunks = [
        (lo, _dense_counts(tr[lo : lo + CH]))
        for lo in range(0, ntr, CH)
    ]

    t0 = time.time()
    for ep in range(epochs):
        P = np.empty((ntr, N_LANGS), dtype=np.float32)
        for lo, C in chunks:  # forward via sgemm
            P[lo : lo + len(C)] = C @ M
        P += bias
        P -= P.max(axis=1, keepdims=True)
        np.exp(P, out=P)
        P /= P.sum(axis=1, keepdims=True)
        if verbose and (ep + 1) % 25 == 0:
            loss = float(-np.log(P[rows, y_tr] + 1e-12).mean())
            acc = float((P.argmax(axis=1) == y_tr).mean())
            print(f"epoch {ep + 1}: loss {loss:.4f} acc {acc:.3f} "
                  f"({time.time() - t0:.0f}s)", file=sys.stderr)
        G = P
        G[rows, y_tr] -= 1.0
        G /= np.float32(ntr)
        dbias = G.sum(axis=0)
        dM = np.zeros_like(M)
        for lo, C in chunks:  # backward via sgemm
            dM += C.T @ G[lo : lo + len(C)]
        vM[:] = mom * vM - lr * dM
        M += vM
        vb[:] = mom * vb - lr * dbias
        bias += vb

    def predict(idx, chunk=4096):
        # chunked: one full-train dense counts matrix transiently costs
        # ~1.7 GB at corpus scale; per-chunk peak is bounded instead
        preds = np.empty(len(idx), dtype=np.int64)
        for lo in range(0, len(idx), chunk):
            sub = idx[lo : lo + chunk]
            preds[lo : lo + len(sub)] = (
                _dense_counts(sub) @ M + bias
            ).argmax(axis=1)
        return preds

    acc_tr = float((predict(train_idx) == y[train_idx]).mean())
    acc_ev = float((predict(eval_idx) == y[eval_idx]).mean())
    if verbose:
        print(f"ft train acc {acc_tr:.4f}, held-out acc {acc_ev:.4f}",
              file=sys.stderr)

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    np.save(out / "ft_M.npy", M)
    np.save(out / "ft_b.npy", bias)
    (out / "ft_meta.json").write_text(
        json.dumps(
            {
                "buckets": FT_BUCKETS,
                "ngrams": list(FT_NGRAMS),
                "train_acc": acc_tr,
                "eval_acc": acc_ev,
                "sentences_per_lang": sentences_per_lang,
                "epochs": epochs,
                "lr": lr,
                "seed": seed,
            }
        )
    )
    return {"train_acc": acc_tr, "eval_acc": acc_ev}


if __name__ == "__main__":  # pragma: no cover
    print(train_ft())
