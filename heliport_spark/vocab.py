"""Per-language frequency-ranked word lists: one parser of the list files
for every consumer, one resolution order for the consumers that fall back.

The word lists (each language's most frequent words, most frequent first)
feed the synthetic corpora of ``quality_train``, ``ft_train``,
``sources.multilingual`` and ``tests/test_multilingual.py``. Every one of
them parses its files with :func:`read_words`. Two file kinds exist:

* ``<lang>.word.model`` — the reference's plain-text word models (a
  total-count header line, then ``word<TAB>count`` sorted by count,
  descending), the data the committed artifact ``models/heli`` was
  compiled from;
* ``<lang>.words`` — the committed fixture ``models/vocab`` (one word per
  line in rank order), recovered from ``models/heli`` alone by
  ``scripts/recover_vocab.py``.

:func:`top_words` (``quality_train`` and the multilingual tests) resolves
each language's list from the first of these sources that has it:

1. the explicit ``root`` argument;
2. ``$HELIPORT_SPARK_WORD_MODELS``;
3. ``/root/reference/LanguageModels``, the reference's word models;
4. the committed fixture ``models/vocab``.

``ft_train`` and ``sources.multilingual.multilingual_documents`` read one
root of word models and never the fixture: the fastText artifact and the
rows of the registered ``curate_corpus_lid`` query are pinned to the
reference files.

A directory with ``manifest.json`` is read as a fixture, any other as a
root of word models. The fixture ranks words by their ``-log10 p`` posting
in the artifact's order-0 table and breaks ties by codepoints: the same
vocabulary and ranking as the reference file, except for the order within
equal counts, which the artifact does not keep. A fixture list holds only
the prefix of the ranking the recovery proved complete (``manifest.json``
records its length), so it may hold fewer than ``n`` words;
:func:`is_fixture` tells a caller which lists came from it.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np

WORD_MODELS_ENV = "HELIPORT_SPARK_WORD_MODELS"
REFERENCE_WORD_MODELS = Path("/root/reference/LanguageModels")
VOCAB_DIR = Path(__file__).resolve().parent.parent / "models" / "vocab"
MANIFEST = "manifest.json"


def word_list_roots(root=None) -> "list[Path]":
    """The roots :func:`top_words` searches, in order."""
    roots = []
    if root is not None:
        roots.append(Path(root))
    env = os.environ.get(WORD_MODELS_ENV)
    if env:
        roots.append(Path(env))
    roots += [REFERENCE_WORD_MODELS, VOCAB_DIR]
    return roots


def _source_in(root: Path, lang: str) -> "Path | None":
    if (root / MANIFEST).exists():
        path = root / f"{lang}.words"
    else:
        path = root / f"{lang}.word.model"
    return path if path.exists() else None


def vocab_source(lang: str, root=None) -> Path:
    """The file :func:`top_words` reads for ``lang``; ``FileNotFoundError``
    naming the language and every root tried when none has it."""
    roots = word_list_roots(root)
    for r in roots:
        path = _source_in(r, lang)
        if path is not None:
            return path
    raise FileNotFoundError(
        f"no word list for '{lang}' under any of "
        f"{', '.join(str(r) for r in roots)}"
    )


def is_fixture(path: Path) -> bool:
    """Whether :func:`vocab_source` resolved to a recovered fixture list."""
    return Path(path).suffix == ".words"


def read_words(path: Path, n: int) -> "list[str]":
    """The first ``n`` words of one list file of either kind, most frequent
    first (fewer when the file holds fewer)."""
    with open(path, encoding="utf-8") as fh:
        if is_fixture(path):
            lines = (line.rstrip("\n") for line in fh)
        else:
            fh.readline()  # total-count header
            lines = (line.split("\t")[0] for line in fh)
        return [w for _, w in zip(range(n), lines)]


def top_words(lang: str, n: int, root=None) -> "list[str]":
    """The ``n`` most frequent words of ``lang``, most frequent first (fewer
    when the source holds fewer)."""
    return read_words(vocab_source(lang, root), n)


def lang_postings(order_table, lang_id: int):
    """(keys uint64, probs f32) of one language's postings in one order
    table of the artifact, keys ascending."""
    sel = np.flatnonzero(np.asarray(order_table.plang) == lang_id)
    offsets = np.asarray(order_table.offsets).astype(np.int64)
    gram = np.searchsorted(offsets, sel, side="right") - 1
    return (np.asarray(order_table.keys)[gram],
            np.asarray(order_table.pprob)[sel])
