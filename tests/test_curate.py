"""Composition tests for operators/curate.py::curate_documents — the
end-to-end curation chain in both personalities (oracle-twin defaults and
the LID + Bloom + cutoff 100 TB shape).

The driver-level bit-exactness of the default chain is covered by
test_queries.py::curate_corpus; these tests pin what the oracle cannot see:
stage counts of the LID chain, exact/bloom decon agreement, the Bloom plan
shape, and genuine multilingual LID-gate behavior.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _docs(spark):
    par = spark.sparkContext.defaultParallelism
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet").repartition(
        par, "doc_id"
    )


def test_curate_lid_stage_counts(spark):
    """The registered curate_corpus_lid entry's stage counts at sf0.01 —
    pinned so any stage-order or gate-semantics drift is caught (the driver
    check is rows-only for this entry). The LID gate drops 0 rows HERE
    because every fixture doc is English-like word salad (the scorer
    correctly says eng for all; und/zxx behavior is exercised on the
    multilingual corpus below)."""
    from heliport_spark.operators.curate import curate_documents

    st = {}
    out = curate_documents(
        _docs(spark), lid=True, decon="bloom", decon_mod=11, decon_n=4,
        bloom_m_bits=1 << 20, bloom_k=4, bucket_mode="cutoff", stages=st,
    )
    rows = out.collect()
    counts = {k: v.count() for k, v in st.items()}
    assert counts == {
        "source_gate": 325,
        "lid_gate": 325,
        "exact": 325,
        "neardup": 319,
        "corpus": 288,
        "decon": 258,
        "gopher": 245,
        "resampled": 200,
    }
    assert len(rows) == 200
    # all predicted eng → cutoff buckets split the one group 67/67/66
    labels = {}
    for r in rows:
        assert r["lang"] == "eng"
        labels[r["bucket_label"]] = labels.get(r["bucket_label"], 0) + 1
    assert labels == {"head": 67, "middle": 67, "tail": 66}


def test_curate_decon_modes_agree(spark):
    """decon="bloom" must reproduce decon="exact" row-for-row on the fixture
    (at 2^20 bits vs ~15k benchmark grams the Bloom filter has no false
    positives — same property the standalone decontaminate_bloom oracle
    relies on). Everything else held at the oracle defaults."""
    from heliport_spark.operators.curate import curate_documents

    a = curate_documents(_docs(spark), decon="exact").collect()
    b = curate_documents(_docs(spark), decon="bloom").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 195  # the curate_corpus oracle row count


def test_curate_bloom_plan_has_no_benchmark_join(spark):
    """Plan pin for the Bloom decon stage (VERDICT r5 #6): in exact mode the
    decon is a gram equi-join (a join keyed on `gram` appears in the plan);
    in bloom mode that join is GONE — the benchmark side was consumed
    driver-side into the broadcast bitmap and the corpus grams are probed
    map-side by the pandas UDF (an ArrowEvalPython/BatchEvalPython stage
    the exact chain does not have)."""
    from heliport_spark.operators.curate import curate_documents

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # eager=False: plan inspection needs the LAZY composition (the default
    # eager path returns a materialized localCheckpoint scan)
    exact_plan = plan_of(
        curate_documents(_docs(spark), decon="exact", eager=False)
    )
    bloom_plan = plan_of(
        curate_documents(_docs(spark), decon="bloom", eager=False)
    )
    assert "gram" in exact_plan
    assert "ArrowEvalPython" not in exact_plan
    assert "gram" not in bloom_plan
    assert "ArrowEvalPython" in bloom_plan


def test_curate_lid_multilingual(spark):
    """Genuine multilingual behavior of the LID gate: per-language synthetic
    docs built from the model's own word lists must survive with their
    language recovered (driving per-language resampling/bucketing), while
    und (below-confidence noise) and zxx (empty/punctuation) rows are
    dropped by the gate."""
    from heliport_spark.operators.curate import curate_documents
    from heliport_spark.sources.multilingual import multilingual_documents

    # three well-separated languages synthesized by the SHARED helper (one
    # generation recipe — the driver's curate_corpus_lid supplement and
    # this test must never drift apart); includes the ' the' Gopher salt,
    # see multilingual_documents' docstring
    langs = ("eng", "spa", "fin")
    base = multilingual_documents(spark, langs=langs, per_lang=40)
    if base is None:
        pytest.skip("reference word models unavailable")
    planted_rows = base.select("doc_id", "lang").collect()
    if len(planted_rows) < 120:
        pytest.skip("reference word models incomplete")
    # zxx bait: punctuation-only text; und bait: the golden corpus's
    # below-confidence sentence (identifier.rs:398 → expected und). Both
    # ride INSIDE reputable sources (40/41 keep rate ≥ 9/10) so they reach
    # the LID gate and the DROP decision is provably the LID's.
    did = max(r["doc_id"] for r in planted_rows) + 1
    baits = spark.createDataFrame(
        [
            (did, "!!! ??? ... 123 456 789 000 111", "xx", "web-eng", 31),
            (did + 1, "મજાક તરીકે @K.", "xx", "web-spa", 14),
        ],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    )
    df = base.unionByName(baits)

    st = {}
    out = curate_documents(
        df, lid=True, decon="bloom", bucket_mode="cutoff", stages=st
    ).collect()
    lid_rows = st["lid_gate"].select("doc_id", "lang").collect()
    lid_langs = {r["doc_id"]: r["lang"] for r in lid_rows}
    # the gate dropped the non-linguistic rows before any dedup work
    assert did not in lid_langs and (did + 1) not in lid_langs
    # every planted language recovered as itself through the gate (≥0.9 —
    # 25-60-word samples from the top-200 vocabulary are the scorer's
    # bread and butter; the recovery property itself is pinned harder in
    # test_multilingual)
    planted = {lang: 0 for lang in langs}
    hits = {lang: 0 for lang in langs}
    for r in planted_rows:
        planted[r["lang"]] += 1
        if lid_langs.get(r["doc_id"]) == r["lang"]:
            hits[r["lang"]] += 1
    for lang in langs:
        assert hits[lang] / planted[lang] >= 0.9, (lang, hits, planted)
    # the final corpus exists and is labeled by PREDICTED language only
    # (downstream gates — the English-centric Gopher stopword rule in
    # particular — legitimately drop the non-English sources wholesale,
    # which is itself the source gate doing its job on this fixture)
    assert len(out) > 0
    assert {r["lang"] for r in out} <= set(langs)


def test_curate_corpus_lid_driver_entry_multilingual(spark):
    """The REGISTERED curate_corpus_lid entry (base documents + the
    reference-word-model multilingual supplement) must surface every
    supplemented language in its final corpus, each labeled by the LID's
    PREDICTION — i.e. the per-language resample/bucket stages genuinely
    run multi-group in the driver query, not just in the synthetic test
    above. Temperature resampling flattens the eng skew by design."""
    import __spark_entry__ as e
    from heliport_spark.sources.multilingual import (
        MULTILINGUAL_LANGS,
        multilingual_documents,
    )

    if multilingual_documents(spark) is None:
        pytest.skip("reference word models unavailable (the driver entry "
                    "degrades to the base documents table there)")
    out = e._curate_corpus_lid(spark, SF_SMALL).collect()
    per_lang = {}
    for r in out:
        per_lang[r["lang"]] = per_lang.get(r["lang"], 0) + 1
    assert set(MULTILINGUAL_LANGS) <= set(per_lang)
    assert "eng" in per_lang
    # alpha=0.5 flattening: no language may dominate the resampled corpus
    assert max(per_lang.values()) < 0.5 * sum(per_lang.values())


def test_curate_persist_lifecycle(spark):
    """VERDICT r6 'what's wrong' #1: a default (eager) curate_documents run
    must leave NO chain-owned frames cached after it returns — previously
    each invocation pinned 3-4 MEMORY_AND_DISK text-bearing intermediates
    until LRU eviction. The only storage the call may add is the returned
    frame's own localCheckpoint blocks (caller-scoped, GC-released)."""
    from heliport_spark.operators.curate import curate_documents

    sc = spark.sparkContext

    def pids():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    before = pids()
    st = {}
    out = curate_documents(_docs(spark), decon="exact", stages=st)
    # every exposed stage frame has been unpersisted (storage level NONE) —
    # this is the r6 defect: these are the text-bearing cached tables that
    # used to stay pinned (GBs at real scale)
    for name, frame in st.items():
        lvl = frame.storageLevel
        assert not (lvl.useMemory or lvl.useDisk), name
    # what remains is bounded lineage-cut residue: the returned frame's own
    # localCheckpoint blocks plus dup_clusters' tiny (id,label)/edge cuts —
    # none of them a cached QUERY-PLAN table (cached DataFrames are named
    # by their plan; checkpoint blocks are anonymous MapPartitionsRDDs)
    leaked = pids() - before
    assert len(leaked) <= 5, leaked
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        if info.id() in leaked:
            assert "SparkPlan" not in (info.name() or ""), info.name()
            assert "FileScan" not in (info.name() or ""), info.name()
    # the materialized result is the oracle chain's 195 rows, still readable
    assert len(out.collect()) == 195


def test_stage_book_frees_its_cuts(spark):
    """An eager chain frees its id cuts in ``finish`` unless ``stages=``
    exposed frames that still read them."""
    from heliport_spark.operators.curate import _StageBook

    def held(rid):
        # getPersistentRDDs returns a snapshot: read it after each step
        return spark.sparkContext._jsc.getPersistentRDDs().containsKey(rid)

    def cut_kept(stages):
        book = _StageBook(stages, eager=True)
        cut = book.note("ids", book.cut(spark.range(10)))
        rid = cut._jdf.queryExecution().logical().rdd().id()
        assert held(rid)
        book.finish(spark.range(3))
        return held(rid)

    assert not cut_kept(None)
    assert cut_kept({})


def test_curate_lazy_mode_unchanged(spark):
    """eager=False keeps the old fully-lazy composition: same values, and
    the stage intermediates stay persisted until release_stages frees
    them (the documented lazy-mode lifecycle)."""
    from heliport_spark.operators.curate import curate_documents, release_stages

    st = {}
    lazy = curate_documents(_docs(spark), decon="exact", stages=st,
                            eager=False)
    rows = sorted(map(tuple, lazy.collect()))
    eager_rows = sorted(map(tuple,
                            curate_documents(_docs(spark),
                                             decon="exact").collect()))
    assert rows == eager_rows
    persisted = [f for f in st.values()
                 if f.storageLevel.useMemory or f.storageLevel.useDisk]
    assert persisted  # lazy mode really does keep them cached...
    release_stages(st)
    for f in st.values():
        lvl = f.storageLevel
        assert not (lvl.useMemory or lvl.useDisk)  # ...until released


def test_curate_clips_classifier_gate(spark):
    """curate_clips(classifier=True): the trained-classifier DROP rule
    joins the stage-1 keep decision — a salad transcript that passes every
    heuristic rule dies at `filtered`, fluent rows survive to the end."""
    from heliport_spark.operators.curate import curate_clips
    from heliport_spark.sources.clips import make_clips

    clips = make_clips(spark, [
        ("clip-cc-f0",
         "the quick brown fox jumps over the lazy dog near the river bank"),
        ("clip-cc-f1",
         "she walked into the town and bought some bread for the family"),
        ("clip-cc-s0",
         "the spam of spam the spam of spam the spam of spam the spam"),
    ])
    st = {}
    rows = curate_clips(clips, classifier=True, stages=st).collect()
    kept = {r["clip_id"] for r in st["filtered"].select("clip_id").collect()}
    assert kept == {"clip-cc-f0", "clip-cc-f1"}
    assert {r["clip_id"] for r in rows} <= kept


def test_curate_clips_end_to_end(spark):
    """The registered curate_clips entry (BASELINE.json north_star as ONE
    chain) at sf0.01: stage counts pinned, planted audio near-dups (ids ≡ 1
    mod 29 reuse the previous id's spectrum — sources/clips.py
    synth_pcm_varied) are collapsed by the acoustic stage, the output is
    multi-language via the golden rows, and the eager lifecycle leaves no
    stage frame cached."""
    from heliport_spark.operators.curate import curate_clips
    from heliport_spark.sources.clips import clips_from_documents

    clips = clips_from_documents(spark, SF_SMALL, audio_style="varied")
    st = {}
    rows = curate_clips(clips, audio_neardup=True, stages=st).collect()
    counts = {k: v.count() for k, v in st.items()}
    assert counts == {
        "filtered": 512,      # quality-filter keep gate (521 in)
        "exact": 512,         # no byte-identical scrubbed transcripts here
        "neardup": 499,       # simhash transcript clusters collapsed
        "corpus": 454,        # benchmark split removed (hash-held-out)
        "decon": 391,         # benchmark-overlapping transcripts dropped
        "audio_neardup": 381, # planted re-uploads + 1 true spectral twin
        "resampled": 132,     # per-predicted-lang temperature resample
    }
    assert len(rows) == 132
    # golden rows give the output real language diversity, labeled by the
    # PIPELINE's prediction
    langs = {r["lang"] for r in rows}
    assert {"eng", "ara", "tso", "nld"} <= langs
    # every planted audio-dup pair that reached the audio stage lost its
    # non-canonical member there
    dec = {r["clip_id"] for r in st["decon"].select("clip_id").collect()}
    adp = {r["clip_id"] for r in
           st["audio_neardup"].select("clip_id").collect()}
    planted = collapsed = 0
    for cid in dec:
        k = int(cid.split("-")[1])
        if k % 29 == 1 and f"clip-{k - 1:012d}" in dec:
            planted += 1
            if cid not in adp or f"clip-{k - 1:012d}" not in adp:
                collapsed += 1
    assert planted >= 5 and collapsed == planted
    # eager lifecycle: nothing chain-owned stays cached
    for name, frame in st.items():
        lvl = frame.storageLevel
        assert not (lvl.useMemory or lvl.useDisk), name


def test_curate_corpus_job_ceiling(spark):
    """The chain's cost on small inputs is mostly fixed per-job cost, so
    its job count is pinned: the source gate and exact dedup run once
    (their survivor ids are cut, not recomputed by each reader), and the
    near-dup clustering spends one job group per round with no count or
    re-cut of its own."""
    import __spark_entry__ as e
    from tests.test_pipeline import _jobs_started

    rows = []
    jobs = _jobs_started(
        spark, "curate-corpus-jobs",
        lambda: rows.extend(e.queries()["curate_corpus"](spark, SF_SMALL)
                            .collect()))
    assert len(rows) == 195
    assert jobs <= 48, jobs
