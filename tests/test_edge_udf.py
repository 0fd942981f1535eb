"""Differential pin of the identify UDF on a committed edge corpus.

``tests/data/edge_udf/expected.json`` holds every ``heli_udf`` struct field
as computed by the tree before the per-batch context (see
``tests/data/edge_udf/gen_expected.py``). The UDF body here must match it:

* ``lang``, ``ft_lang``, ``word_nll``, ``cjk_pct``, ``digit_ratio`` and
  ``alpha_ratio`` bit-equal on every row;
* ``score``, ``raw_score`` and ``ft_prob`` within the 5e-5 band on every
  batch. The pinned bits come from an f32 sgemm whose summation order
  followed the batch's shape; the scorer now sums every text in f64 and
  rounds once (``heli._row_sums``), which is batch-invariant but does not
  reproduce those f32 bits (largest absolute deviation on this corpus:
  9.5e-7 in ``score``, 4.8e-7 in ``raw_score``, 1.2e-7 in ``ft_prob``);
* ``rep_cand`` / ``scrub_cand`` equal, or a subset that still covers every
  exact JVM-regex match.

The fastText cross-check runs only where its ``ft_disagree`` flag can
fire, so ``ft_lang``/``ft_prob`` hold the pinned values (bit-equal and
banded as above) on every row whose ``lang`` is determined, and are null on
every ``und``/``zxx`` row (``expected.json`` was generated when the
cross-check scored every row, and keeps those values).
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

HERE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "edge_udf")
sys.path.insert(0, HERE)

import corpus  # noqa: E402

BIT_EQUAL = ("lang", "ft_lang", "word_nll", "cjk_pct", "digit_ratio",
             "alpha_ratio")
BANDED = ("score", "raw_score", "ft_prob")
FT = ("ft_lang", "ft_prob")  # null on und/zxx rows
TOL = 5e-5


def _outputs():
    from heliport_spark.heli import Scorer
    from heliport_spark.operators.identify import identify_columns

    sc = Scorer()
    return {
        name: identify_columns(sc, texts, False, True, True, True)
        for name, texts in zip(corpus.NAMES, corpus.batches())
    }


def test_edge_corpus_matches_pinned_outputs(request):
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    got = _outputs()
    assert set(got) == set(expected)
    dropped = []
    for name, texts in zip(corpus.NAMES, corpus.batches()):
        df, exp = got[name], expected[name]
        tl = ["" if t is None else t for t in texts]
        det = ~df["lang"].isin(["und", "zxx"]).to_numpy()
        for f in FT:
            assert np.array_equal(df[f].isna().to_numpy(), ~det), (name, f)
        for f in BIT_EQUAL:
            rows = det if f in FT else np.ones(len(df), bool)
            assert df[f][rows].tolist() == \
                [v for v, r in zip(exp[f], rows) if r], (name, f)
        for f in BANDED:
            rows = det if f in FT else np.ones(len(df), bool)
            g = df[f].to_numpy(np.float64)[rows]
            w = np.asarray(exp[f], np.float64)[rows]
            assert not rows.any() or np.abs(g - w).max() < TOL, (name, f)
        for f in ("rep_cand", "scrub_cand"):
            g = np.asarray(df[f].tolist(), bool)
            w = np.asarray(exp[f], bool)
            assert not (g & ~w).any(), (name, f)  # never a new candidate
            dropped += [(f, tl[i]) for i in np.flatnonzero(w & ~g)]
    if dropped:
        # a candidate that was dropped must not match its exact JVM regex
        from pyspark.sql import functions as F

        from heliport_spark.functions import text as T
        from heliport_spark.functions.scrub import SCRUB_PATTERNS, TOXICITY_PATTERN

        spark = request.getfixturevalue("spark")
        df = spark.createDataFrame([(f, t) for f, t in dropped], ["f", "t"])
        c = F.col("t")
        pats = dict(SCRUB_PATTERNS)
        rows = df.select(
            "f", "t", (T.repetition_ratio(c, 3) > 0).alias("rep"),
            (c.rlike(pats["phone"]) | c.rlike(pats["ssn"])
             | c.rlike(TOXICITY_PATTERN)).alias("scrub"),
        ).collect()
        for r in rows:
            assert not (r["rep"] if r["f"] == "rep_cand" else r["scrub"]), r
