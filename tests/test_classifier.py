"""Quality-classifier tests (quality_train.py +
operators/quality.py::classifier_score_df + the curate_documents gate) —
VERDICT r6 next #4.

The artifact at models/heli (qc_w.npy / qc_meta.json) is committed; these
tests pin (a) the held-out accuracy the committed artifact was trained to
(overall + per corruption family), (b) numpy-serve ≡ Spark-UDF parity,
(c) fresh-seed generalization (fixtures the trainer never saw), and
(d) the chain gate: curate_documents(classifier=True) drops salad docs
at the `classifier` stage and nothing else changes.
"""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from heliport_spark.model import DEFAULT_MODEL_DIR
from heliport_spark.quality_train import (
    QC_THRESHOLD,
    _synth_quality_corpus,
    load_quality_params,
    quality_scores,
)
from tests.conftest import SF_SMALL


def test_committed_artifact_accuracy_floor():
    """The meta records held-out accuracy measured at train time on a
    10% split the optimizer never stepped on. Floors sit one notch under
    the deterministic measurements (0.904 overall; pos 0.93 / tail 0.80 /
    shuf 0.91 / rep 0.92) so a silently-degraded retrain fails loudly."""
    meta = json.loads(
        (DEFAULT_MODEL_DIR / "qc_meta.json").read_text()
    )
    assert meta["eval_acc"] >= 0.88
    fam = meta["family_acc"]
    assert fam["pos"] >= 0.90
    assert fam["tail"] >= 0.75
    assert fam["shuf"] >= 0.88
    assert fam["rep"] >= 0.88
    assert meta["threshold"] == QC_THRESHOLD


def test_fresh_seed_generalization():
    """Score a corpus synthesized with a seed the trainer never used —
    generalization beyond the exact training draws. The committed artifact
    must separate fluent from salad at ≥0.85 on this fresh sample (train
    used seed 42 on the reference word-model files; at seed 9001 measured
    0.8816, mean-score separation 0.565, on those files, and 0.8764,
    separation 0.557, on the models/vocab lists recovered from the
    artifact — consistent with the 0.904 held-out split). On the recovered
    lists 81 languages hold fewer than the 2000 words the corpus asks for:
    20 of them fewer than the 600 it needs, so they are left out of the
    sample (aze, cbu, chy, cmn, div, estvro, hus, iku, lao, mal, mya, nio,
    shn, sjd, sjk, sju, tam, tha, undhtml, yrk), and the other 61 draw
    their Zipf and tail-salad sentences from the shorter list.
    ``_synth_quality_corpus`` names them in a warning."""
    w, dense_w, bias, th = load_quality_params()
    assert th == QC_THRESHOLD  # the committed artifact's boundary
    rng = np.random.default_rng(9001)
    texts, y, _fam = _synth_quality_corpus(rng, per_lang=8)
    scores = quality_scores(texts, w, dense_w, bias)
    acc = float(((scores >= QC_THRESHOLD) == (y == 1)).mean())
    assert acc >= 0.85
    # scores are probabilities and the classes actually separate
    assert 0.0 <= scores.min() and scores.max() <= 1.0
    assert scores[y == 1].mean() > scores[y == 0].mean() + 0.3


def test_spark_udf_matches_numpy(spark):
    """classifier_score_df ≡ the numpy serve path (same texts, same
    artifact) — the UDF is a broadcast + batch wrapper, nothing more.
    Empty/NULL text scores 0.0 and is dropped by the keep gate."""
    from heliport_spark.operators.quality import classifier_score_df

    texts = [
        "the cat sat on the mat and the dog barked at the man",
        "spam spam spam spam spam spam spam spam spam spam",
        "ehT tca ast no hte tam dna eth god dekrab",
        "",
        None,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: (r["qc_score"], r["qc_keep"])
        for r in classifier_score_df(df).collect()
    }
    w, dense_w, bias, _th = load_quality_params()
    ref = quality_scores(texts, w, dense_w, bias)
    for i in range(len(texts)):
        assert out[i][0] == pytest.approx(ref[i], abs=1e-9)
        assert out[i][1] == (ref[i] >= QC_THRESHOLD)
    assert out[3] == (0.0, False) and out[4] == (0.0, False)


def test_curate_documents_classifier_gate(spark):
    """curate_documents(classifier=True): planted salad docs die at the
    `classifier` stage, planted fluent docs survive it, and the stage is
    EXACTLY the qc_keep filter of the source-gated frame (no other
    behavior change)."""
    from heliport_spark.operators.curate import curate_documents
    from heliport_spark.operators.quality import classifier_score_df

    base = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(60)
    fluent = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "she walked into the town and bought some bread for the family",
        "it was a cold day but the children played outside in the park",
    ]
    # each salad deliberately PASSES the Gopher source gate (≥10 words,
    # sane mean word length, ≥1 stopword hit) so the classifier stage is
    # the one that must catch it; measured scores 0.003 / 0.244 / 0.096
    # vs fluent 0.729 / 0.896 / 0.836 (threshold 0.5)
    salad = [
        "the spam of spam the spam of spam the spam of spam the spam of spam",
        "of kciuq nworb the spmuj revo and yzal eht rivre knab dna vome",
        "and blorptag the verkinzel of quandrosel mipfernax the zolterwiq "
        "and brenfaxol wexostrin",
    ]
    # ride sources whose base rows all pass Gopher (src0-5 in the
    # limit(60) slice are 3/3): planted rows pass too, so every planted
    # source stays reputable and every planted row reaches the classifier
    extra = spark.createDataFrame(
        [
            (1_000_000 + i, t, "eng", f"src{i}", len(t))
            for i, t in enumerate(fluent + salad)
        ],
        base.columns,
    )
    docs = base.unionByName(extra)
    st = {}
    curate_documents(docs, classifier=True, stages=st).collect()
    assert "classifier" in st
    kept = {r["doc_id"] for r in st["classifier"].select("doc_id").collect()}
    for i in range(3):
        assert 1_000_000 + i in kept, f"fluent planted row {i} dropped"
    for i in range(3, 6):
        assert 1_000_000 + i not in kept, f"salad planted row {i} kept"
    # the stage is precisely the qc_keep filter over the prior stage
    expect = {
        r["doc_id"]
        for r in classifier_score_df(st["source_gate"])
        .filter(F.col("qc_keep"))
        .select("doc_id")
        .collect()
    }
    assert kept == expect
