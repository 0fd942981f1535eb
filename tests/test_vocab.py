"""The word-list reader (heliport_spark/vocab.py) and the committed
``models/vocab`` fixture recovered from ``models/heli``.

The consistency checks need no Spark and no search: each listed word must
be an order-0 key of the artifact with a posting for its language, the
list must run in ascending ``p`` (descending count), and every posting
with ``p`` below the last listed word's must be listed — which makes the
list a top-rank prefix of the language's ranking.
"""

import json
import subprocess
import sys
import warnings
from pathlib import Path

import numpy as np
import pytest

from heliport_spark import vocab
from heliport_spark.langs import LANG_INDEX
from heliport_spark.model import get_model, hash_grams
from heliport_spark.vocab import (
    VOCAB_DIR,
    WORD_MODELS_ENV,
    MANIFEST,
    lang_postings,
    top_words,
    vocab_source,
)

REPO = Path(__file__).resolve().parent.parent


def read_manifest(vocab_dir=VOCAB_DIR) -> dict:
    return json.loads((vocab_dir / MANIFEST).read_text())


def _fixture_lists():
    return sorted(VOCAB_DIR.glob("*.words"))


def test_fixture_matches_manifest():
    langs = read_manifest()["langs"]
    assert sorted(p.stem for p in _fixture_lists()) == sorted(langs)
    assert "eng" in langs and len(langs) > 200


def test_fixture_lists_are_top_rank_prefixes():
    model = get_model()
    langs = read_manifest()["langs"]
    for path in _fixture_lists():
        lang = path.stem
        words = path.read_text(encoding="utf-8").split("\n")
        assert words.pop() == ""  # one word per line, newline-terminated
        assert len(words) == langs[lang]["length"], lang
        assert len(set(words)) == len(words), lang
        keys, probs = lang_postings(model.orders[0], LANG_INDEX[lang])
        at = np.minimum(np.searchsorted(keys, hash_grams(words)),
                        len(keys) - 1)
        assert (keys[at] == hash_grams(words)).all(), lang
        p = probs[at]
        assert (np.diff(p) >= 0).all(), lang
        below = int((probs < p[-1]).sum())
        assert below < len(words), lang
        assert below == int((p < p[-1]).sum()), lang


def test_recovery_script_reproduces_fixture(tmp_path):
    langs = ["eng", "fin", "jpn"]
    subprocess.run(
        [sys.executable, str(REPO / "scripts" / "recover_vocab.py"),
         "--langs", ",".join(langs), "--out", str(tmp_path)],
        check=True, capture_output=True,
    )
    manifest = read_manifest(tmp_path)
    committed = read_manifest()
    for lang in langs:
        assert (tmp_path / f"{lang}.words").read_bytes() == \
            (VOCAB_DIR / f"{lang}.words").read_bytes(), lang
        assert manifest["langs"][lang] == committed["langs"][lang], lang


def test_recovery_of_some_languages_keeps_the_manifest(tmp_path):
    (tmp_path / MANIFEST).write_bytes((VOCAB_DIR / MANIFEST).read_bytes())
    subprocess.run(
        [sys.executable, str(REPO / "scripts" / "recover_vocab.py"),
         "--langs", "estvro", "--out", str(tmp_path)],
        check=True, capture_output=True,
    )
    assert (tmp_path / MANIFEST).read_bytes() == \
        (VOCAB_DIR / MANIFEST).read_bytes()
    assert (tmp_path / "estvro.words").read_bytes() == \
        (VOCAB_DIR / "estvro.words").read_bytes()


def _write_word_model(root: Path, lang: str, words):
    lines = [str(100 * len(words))]
    lines += [f"{w}\t{100 - i}" for i, w in enumerate(words)]
    (root / f"{lang}.word.model").write_text("\n".join(lines) + "\n")


def test_env_root_is_read_before_fixture(tmp_path, monkeypatch):
    _write_word_model(tmp_path, "eng", ["alpha", "beta", "gamma"])
    monkeypatch.setenv(WORD_MODELS_ENV, str(tmp_path))
    assert vocab_source("eng") == tmp_path / "eng.word.model"
    assert top_words("eng", 2) == ["alpha", "beta"]
    # a language the env root lacks falls through to the next source
    assert vocab_source("spa") != tmp_path / "spa.word.model"
    # the explicit root comes first
    other = tmp_path / "other"
    other.mkdir()
    _write_word_model(other, "eng", ["delta"])
    assert top_words("eng", 5, root=other) == ["delta"]


def test_fixture_is_the_last_resort(monkeypatch, tmp_path):
    monkeypatch.delenv(WORD_MODELS_ENV, raising=False)
    monkeypatch.setattr(vocab, "REFERENCE_WORD_MODELS", tmp_path)
    assert vocab_source("eng") == VOCAB_DIR / "eng.words"
    words = top_words("eng", 400)
    assert len(words) == 400 and words[:3] == ["the", "and", "of"]


def test_missing_language_names_the_roots(tmp_path, monkeypatch):
    monkeypatch.setenv(WORD_MODELS_ENV, str(tmp_path))
    with pytest.raises(FileNotFoundError) as e:
        top_words("und", 10)
    assert "'und'" in str(e.value)
    assert str(tmp_path) in str(e.value) and str(VOCAB_DIR) in str(e.value)


def test_quality_corpus_without_vocabulary_raises(tmp_path, monkeypatch):
    from heliport_spark.quality_train import _synth_quality_corpus

    monkeypatch.delenv(WORD_MODELS_ENV, raising=False)
    monkeypatch.setattr(vocab, "REFERENCE_WORD_MODELS", tmp_path / "ref")
    monkeypatch.setattr(vocab, "VOCAB_DIR", tmp_path / "vocab")
    with pytest.raises(FileNotFoundError) as e:
        _synth_quality_corpus(np.random.default_rng(0), per_lang=3)
    assert str(tmp_path / "vocab") in str(e.value)


def test_quality_corpus_names_fixture_languages(tmp_path, monkeypatch):
    from heliport_spark.quality_train import QC_VOCAB, _synth_quality_corpus

    _write_word_model(tmp_path, "eng", [f"w{i}" for i in range(QC_VOCAB)])
    monkeypatch.setenv(WORD_MODELS_ENV, str(tmp_path))
    monkeypatch.setattr(vocab, "REFERENCE_WORD_MODELS", tmp_path / "ref")
    with pytest.warns(UserWarning, match="recovered from the artifact") as w:
        _synth_quality_corpus(np.random.default_rng(0), per_lang=3)
    msg = str(w[0].message)
    assert "'spa'" in msg and "'eng'" not in msg
    left_out = msg.split("left out")[1]
    assert "'tam'" in left_out and "'spa'" not in left_out
    # a corpus read from word models alone warns of nothing
    monkeypatch.setattr(vocab, "VOCAB_DIR", tmp_path / "vocab")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        texts, _, _ = _synth_quality_corpus(np.random.default_rng(0),
                                            per_lang=3)
    assert len(texts) == 6
