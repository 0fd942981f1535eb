"""Deterministic multilingual documents supplement (FIXTURES.md spirit).

The driver's synthetic ``documents`` text is English-like word salad for
every row, so a language-ID gate over it predicts ``eng`` throughout and
the per-language stages of the curation chain (temperature resample, CCNet
buckets) degenerate to one group. This source synthesizes a small
per-language corpus from the reference's OWN published word-frequency
models (/root/reference/LanguageModels/<lang>.word.model — the same public
data the committed model artifact was compiled from), giving the
LID-gated chain real multi-language structure with exactly known ground
truth. Deterministic: seeded generator, fixed word ranks, no wall clock.

Each document is salted with one trailing ``" the"`` so the (published,
English-centric) Gopher stopword rule does not drop the non-English
sources wholesale at the source gate — one English stopword in 25-60
foreign words cannot flip the character-n-gram scorer (the same device
tests/test_curate.py uses, documented there).
"""

from __future__ import annotations

import os
import warnings
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..vocab import REFERENCE_WORD_MODELS, WORD_MODELS_ENV, read_words

# default root for the reference's published plain-text word models;
# overridable (ADVICE r6 #3: a hardcoded absolute path made row counts of
# the rows-only curate_corpus_lid entry vary silently across environments)
MODEL_SRC_ENV = WORD_MODELS_ENV
MODEL_SRC = REFERENCE_WORD_MODELS


def _model_root(model_root: "str | os.PathLike | None") -> Path:
    if model_root is not None:
        return Path(model_root)
    return Path(os.environ.get(MODEL_SRC_ENV, MODEL_SRC))

# well-separated scripts/orthographies with strong word models; start ids
# in the 40M namespace (golden clips=10M, adversarial=20M, fingerprint=30M)
MULTILINGUAL_LANGS: "tuple[str, ...]" = ("spa", "fin", "deu", "fra", "por")
MULTILINGUAL_START_ID = 40_000_000


def multilingual_documents(
    spark: SparkSession,
    langs: "tuple[str, ...]" = MULTILINGUAL_LANGS,
    per_lang: int = 40,
    start_id: int = MULTILINGUAL_START_ID,
    seed: int = 11,
    model_root: "str | os.PathLike | None" = None,
) -> "DataFrame | None":
    """Synthesize ``per_lang`` documents per language from the reference's
    word models (top-200 words, 25-60 words per doc), in the ``documents``
    schema (doc_id, text, lang, source, n_chars). Returns None when the
    reference models are unavailable (callers fall back to the base table
    alone — the supplement is additive, never load-bearing for goldens).

    ``model_root`` (or ``$HELIPORT_SPARK_WORD_MODELS``) points at the
    directory of ``<lang>.word.model`` files; any language whose model is
    missing is skipped WITH A WARNING naming it, so environment-dependent
    row counts of the supplemented corpus are diagnosable (ADVICE r6 #3)."""
    root = _model_root(model_root)
    rows = []
    did = start_id
    skipped = []
    rng = np.random.default_rng(seed)
    for lang in langs:
        path = root / f"{lang}.word.model"
        if not path.exists():
            skipped.append(lang)
            continue
        words = read_words(path, 200)
        for _ in range(per_lang):
            n = int(rng.integers(25, 60))
            text = " ".join(rng.choice(words, size=n)) + " the"
            rows.append((did, text, lang, f"web-{lang}", len(text)))
            did += 1
    if skipped:
        warnings.warn(
            f"multilingual_documents: no word model under {root} for "
            f"{skipped} — supplement covers {len(langs) - len(skipped)}/"
            f"{len(langs)} languages (set ${MODEL_SRC_ENV} or pass "
            "model_root= to point at the reference LanguageModels dir)",
            stacklevel=2,
        )
    if not rows:
        return None
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
              "n_chars bigint"
    )
