"""Compile heliport plain-text models into this engine's numpy artifact.

Reimplements, from scratch, the reference's model load/binarize semantics:

* plain-text format: line 0 = total corpus count, then ``ngram\\tcount``
  sorted descending (written by ``/root/reference/src/trainer.rs:105-108``)
* languagelist gating with warn-and-skip
  (``/root/reference/heliport-model/src/languagemodel.rs:93-107``)
* relative-frequency pruning: keep while ``count/total > 5e-7``, *break* at
  the first failure — take-while, valid because files are sorted desc
  (``languagemodel.rs:44,150-156``)
* probability: ``-log10(count_f32 / langamount_f32)`` where ``langamount`` is
  the sum of *retained* counts only, not the header total
  (``languagemodel.rs:151-165``) — computed in float32 to match Rust
* posting order: languages are processed in enum order, so each gram's
  posting list is ascending by language id (``languagemodel.rs:99,164-173``)
* confidence thresholds: per collapsed macrolang, f32, with und/zxx forced
  to 0.0 (``languagemodel.rs:214-265``)

Output layout: see model.py. Hash collision-freedom among all model grams is
verified here (per order: #unique hashes == #unique grams).

This replaces the reference's ``heliport binarize`` CLI
(``/root/reference/src/cli/binarize.rs:13-58``) — a one-time job; Spark
executors only ever see the compiled artifact via mmap.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import numpy as np

from . import chartables
from .langs import LANGS, LANG_INDEX, SPECIAL_MASK
from .model import MAX_USED, N_ORDERS, ORDER_NAMES, hash_grams

DEFAULT_SRC = Path("/root/reference/LanguageModels")


def parse_model_file(path: Path) -> "tuple[list[str], np.ndarray]":
    """Parse one ``{lang}.{order}.model`` file → (retained grams, f32 probs)."""
    with open(path, encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    num_features = int(lines[0])
    grams: list[str] = []
    amounts: list[int] = []
    threshold = MAX_USED * num_features  # count > threshold ⟺ count/total > MAX_USED
    for line in lines[1:]:
        gram, _, amount_s = line.rpartition("\t")
        amount = int(amount_s)
        if amount > threshold:
            grams.append(gram)
            amounts.append(amount)
        else:
            break  # take-while: files are sorted descending (trainer.rs:106)
    if not grams:
        return [], np.empty(0, dtype=np.float32)
    am = np.asarray(amounts, dtype=np.float64)
    langamount = np.float32(am.sum())  # sum of retained counts (languagemodel.rs:151-165)
    probs = -np.log10(am.astype(np.float32) / langamount)
    return grams, probs.astype(np.float32)


def load_confidence(path: Path, strict: bool = True) -> np.ndarray:
    """confidenceThresholds → f32[242]; und/zxx forced to 0 (languagemodel.rs:214-265)."""
    conf = np.zeros(len(LANGS), dtype=np.float32)
    loaded = np.zeros(len(LANGS), dtype=bool)
    for line in path.read_text().strip().splitlines():
        lang_s, _, prob_s = line.rstrip().partition("\t")
        idx = LANG_INDEX[lang_s]
        conf[idx] = np.float32(prob_s)
        loaded[idx] = True
    from .langs import COLLAPSE, UND, ZXX

    conf[UND] = 0.0
    conf[ZXX] = 0.0
    if strict:
        for i in range(len(LANGS)):
            c = COLLAPSE[i]
            if not SPECIAL_MASK[c] and not loaded[c]:
                raise ValueError(f"confidence threshold missing for '{LANGS[c]}'")
    return conf


def compile_model(
    src_dir: "str | Path" = DEFAULT_SRC,
    out_dir: "str | Path" = None,
    langs: "list[str] | None" = None,
    verbose: bool = True,
    strict_confidence: bool = True,
) -> Path:
    if langs is not None:
        # fail loudly on unknown codes (typos would otherwise produce a
        # valid-looking but empty artifact that scores pure penalty) BEFORE
        # any I/O: a bad code must not create out_dir or need src_dir; the
        # loader twin validates the same way (model.py T8 path)
        langs = [l.strip() for l in langs]
        bad = sorted(set(langs) - set(LANGS))
        if bad:
            raise ValueError(f"Language code(s) do not exist: {bad}")
    src = Path(src_dir)
    if out_dir is None:
        from .model import DEFAULT_MODEL_DIR

        out_dir = DEFAULT_MODEL_DIR
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)

    lang_list = {l.strip() for l in (src / "languagelist").read_text().splitlines() if l.strip()}
    use_langs: list[str] = []
    for i, lang in enumerate(LANGS):
        if SPECIAL_MASK[i]:
            continue
        if langs is not None and lang not in langs:
            continue
        if lang not in lang_list:
            if verbose:
                print(f"warning: '{lang}' not in languagelist, omitting", file=sys.stderr)
            continue
        use_langs.append(lang)

    stats = {}
    for t, order_name in enumerate(ORDER_NAMES):
        t0 = time.time()
        all_hashes: list[np.ndarray] = []
        all_langid: list[np.ndarray] = []
        all_prob: list[np.ndarray] = []
        gram_set: set[str] = set()
        n_entries = 0
        for lang in use_langs:  # enum order → ascending-lang posting lists
            grams, probs = parse_model_file(src / f"{lang}.{order_name}.model")
            if not grams:
                continue
            if any("\x00" in g for g in grams):
                # numpy 'U' storage can't tell trailing NUL codepoints from
                # padding — such grams would silently alias others' postings
                raise ValueError(
                    f"{lang}.{order_name}.model contains NUL in a gram"
                )
            all_hashes.append(hash_grams(grams))
            all_langid.append(np.full(len(grams), LANG_INDEX[lang], dtype=np.uint8))
            all_prob.append(probs)
            gram_set.update(grams)
            n_entries += len(grams)
        hashes = np.concatenate(all_hashes) if all_hashes else np.empty(0, np.uint64)
        langid = np.concatenate(all_langid) if all_langid else np.empty(0, np.uint8)
        prob = np.concatenate(all_prob) if all_prob else np.empty(0, np.float32)
        order = np.argsort(hashes, kind="stable")  # stable: keeps enum-lang order per gram
        hashes = hashes[order]
        first = np.ones(len(hashes), dtype=bool)
        if len(hashes):
            first[1:] = hashes[1:] != hashes[:-1]
        keys = hashes[first]
        if len(keys) != len(gram_set):
            raise RuntimeError(
                f"hash collision in order {order_name}: "
                f"{len(gram_set)} grams → {len(keys)} keys"
            )
        starts = np.flatnonzero(first)
        offsets = np.empty(len(keys) + 1, dtype=np.uint64)
        offsets[:-1] = starts
        offsets[-1] = len(hashes)
        np.save(out / f"order{t}.keys.npy", keys)
        np.save(out / f"order{t}.offsets.npy", offsets)
        np.save(out / f"order{t}.plang.npy", langid[order])
        np.save(out / f"order{t}.pprob.npy", prob[order])
        stats[order_name] = {"grams": len(keys), "entries": n_entries}
        if verbose:
            print(
                f"{order_name}: {len(keys)} grams, {n_entries} entries "
                f"({time.time() - t0:.1f}s)",
                file=sys.stderr,
            )
        del all_hashes, all_langid, all_prob, gram_set

    np.save(out / "confidence.npy",
            load_confidence(src / "confidenceThresholds", strict=strict_confidence))
    np.save(out / "keep_table.npy", chartables.build_keep_table())
    np.save(out / "cjk_table.npy", chartables.build_cjk_table())
    (out / "meta.json").write_text(
        json.dumps(
            {
                "langs": list(LANGS),
                "orders": list(ORDER_NAMES),
                "stats": stats,
                "source": str(src),
                "format_version": 1,
            },
            indent=1,
        )
    )
    return out


if __name__ == "__main__":  # pragma: no cover
    # delegate to the canonical CLI so the standalone rebuild path
    # (CLAUDE.md: `python -m heliport_spark.model_compile`) has identical
    # flags (-s/--not-strict like reference binarize, -f/--force overwrite
    # guard) instead of drifting
    from .__main__ import main as _cli_main

    sys.exit(_cli_main(["compile-model", *sys.argv[1:]]))
