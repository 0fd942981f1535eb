"""The workloads: warm-up pass, timed job and output checks.

Each workload calls only the engine's public entry points
(``heliport_spark.pipeline``, ``__spark_entry__.queries()``); nothing here
reaches inside ``heliport_spark``. A check returns ``(attempted, failed,
detail)`` where every checked unit counts once in ``attempted``.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from gen import GOLDEN_ID0
from oracle import CURATE_QUERIES, load_oracle, scrub_rows

SAMPLE_ROWS = 200  # seeded rows checked against the exact scorer + DuckDB
EXACT_TOL = 5e-5   # pinned fast-path vs exact-path score tolerance


def _agg_sink(out):
    """bench.py's aggregate sink (every decision column is consumed, so
    Catalyst prunes nothing) plus a clip-id checksum for row accounting."""
    from pyspark.sql import functions as F

    return out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("keep").cast("int")).alias("kept"),
        F.sum(F.length("scrubbed_text")).alias("scrub_len"),
        F.sum("quality.scrub_spans").alias("spans"),
        F.sum(F.length("lang")).alias("lang_len"),
        F.sum(F.substring("clip_id", 6, 12).cast("long")).alias("id_sum"),
    )


def sample_ids(props: dict, seed: int) -> "list[int]":
    rng = np.random.default_rng([seed, 77])
    n_body = props["rows"] - props["golden_rows"] - props["adversarial_rows"]
    ids = rng.choice(n_body, SAMPLE_ROWS, replace=False).tolist()
    extra = props["golden_rows"] + props["adversarial_rows"]
    return sorted(ids) + [GOLDEN_ID0 + i for i in range(extra)]


def _clip_ids(ids):
    return [f"clip-{int(i):012d}" for i in ids]


def check_rows(rows, props: dict) -> "tuple[int, int, dict]":
    """Per-row checks on collected (clip_id, transcript, lang, confidence,
    scrubbed_text, scrub_spans) rows: golden labels, the exact scorer and
    the DuckDB scrub twin."""
    from heliport_spark.heli import Scorer
    from heliport_spark.langs import LANGS
    from heliport_spark.model import get_model
    from heliport_spark.sources.clips import GOLDEN_LABELS

    rows = sorted(rows, key=lambda r: r[0])
    attempted = failed = 0
    detail: dict = {"golden_bad": [], "exact_bad": [], "scrub_bad": []}
    gold = {f"clip-{GOLDEN_ID0 + i:012d}": lab for i, (lab, _)
            in enumerate(GOLDEN_LABELS[:props["golden_rows"]])}
    seen_gold = {r[0] for r in rows} & set(gold)
    attempted += len(gold)
    failed += len(gold) - len(seen_gold)
    for r in rows:
        if r[0] in gold and r[2] != gold[r[0]]:
            failed += 1
            detail["golden_bad"].append((r[0], r[2], gold[r[0]]))
    texts = [r[1] for r in rows]
    model = get_model()
    sc = Scorer(model, exact=True)
    lab_e, conf_e = sc.identify_batch(list(texts))[:2]
    for r, le, ce in zip(rows, lab_e, conf_e):
        attempted += 1
        if r[2] == le or float(ce) <= EXACT_TOL:
            continue
        # a label flip across the confidence threshold ('und' on one side)
        # is within tolerance when the margin sits within EXACT_TOL of it
        other = le if r[2] == "und" else r[2]
        if "und" in (r[2], le) and other in LANGS:
            thr = float(model.confidence[LANGS.index(other)])
            if abs(float(ce) - thr) <= EXACT_TOL:
                continue
        failed += 1
        detail["exact_bad"].append((r[0], r[2], str(le), float(ce)))
    for r, (txt, spans) in zip(rows, scrub_rows(texts)):
        attempted += 1
        if r[4] != txt or int(r[5]) != spans:
            failed += 1
            detail["scrub_bad"].append(r[0])
    return attempted, failed, detail


def _check_totals(got: dict, props: dict) -> "tuple[int, int, dict]":
    """Row accounting and whole-input scrub totals: every input row once
    (count + id checksum), scrubbed length and span sums equal DuckDB's."""
    rows = props["rows"]
    lost_or_dup = abs(int(got["n"]) - rows) + int(got.get("dup", 0))
    failed = lost_or_dup
    if lost_or_dup == 0 and int(got["id_sum"]) != props["id_sum"]:
        failed += 1
    bad_scrub = int(int(got["scrub_len"]) != props["scrub_len"]) + \
        int(int(got["spans"]) != props["scrub_spans"])
    return rows + 2, failed + bad_scrub, {"rows_bad": failed,
                                          "scrub_totals_bad": bad_scrub}


class FilterHot:
    """quality_filter(with_ft=False) into the aggregate sink."""

    name = "filter_hot"
    max_reps = None
    with_ft = False

    def warmup(self, spark, inp, work):
        from heliport_spark.pipeline import quality_filter

        clips = spark.read.parquet(os.path.join(inp, "warmup.parquet"))
        _agg_sink(quality_filter(clips, with_ft=self.with_ft)).collect()

    def timed(self, spark, inp, work):
        from heliport_spark.pipeline import quality_filter

        clips = spark.read.parquet(os.path.join(inp, "clips.parquet"))
        t0 = time.perf_counter()
        row = _agg_sink(quality_filter(clips, with_ft=self.with_ft)).collect()[0]
        return time.perf_counter() - t0, row.asDict()

    def check(self, spark, inp, work, results, props, seed):
        from pyspark.sql import functions as F

        from heliport_spark.pipeline import quality_filter

        att, fail, det = 0, 0, {}
        for res in results:
            a, f, d = _check_totals(res, props)
            att, fail = att + a, fail + f
            det = d if f else det
        clips = spark.read.parquet(os.path.join(inp, "clips.parquet"))
        ids = _clip_ids(sample_ids(props, seed))
        out = quality_filter(clips.filter(F.col("clip_id").isin(ids)),
                             with_ft=self.with_ft)
        a, f, d = check_rows(_collect_rows(out), props)
        det.update(d)
        return att + a, fail + f, det


def _collect_rows(out):
    return [tuple(r) for r in out.select(
        "clip_id", "transcript", "lang", "confidence", "scrubbed_text",
        "quality.scrub_spans").collect()]


class FilterDefault:
    """run_pipeline with its defaults into a fresh output root; one timed
    job per run, because a second pass over the same input would meet a
    memo the first pass filled."""

    name = "filter_default"
    max_reps = 1
    with_ft = True

    def warmup(self, spark, inp, work):
        from heliport_spark.pipeline import run_pipeline

        clips = spark.read.parquet(os.path.join(inp, "warmup.parquet"))
        run_pipeline(spark, clips, os.path.join(work, "warm_out"),
                     n_buckets=1, resume=False)

    def timed(self, spark, inp, work):
        from heliport_spark.pipeline import run_pipeline

        out_root = os.path.join(work, "out")
        shutil.rmtree(out_root, ignore_errors=True)
        clips = spark.read.parquet(os.path.join(inp, "clips.parquet"))
        t0 = time.perf_counter()
        counters = run_pipeline(spark, clips, out_root, resume=False)
        return time.perf_counter() - t0, dict(counters)

    def check(self, spark, inp, work, results, props, seed):
        from pyspark.sql import functions as F

        from heliport_spark.pipeline import read_pipeline_output

        out = read_pipeline_output(spark, os.path.join(work, "out"))
        got = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("clip_id").alias("nd"),
            F.sum(F.length("scrubbed_text")).alias("scrub_len"),
            F.sum("quality.scrub_spans").alias("spans"),
            F.sum(F.substring("clip_id", 6, 12).cast("long")).alias("id_sum"),
        ).collect()[0].asDict()
        got["dup"] = int(got["n"]) - int(got["nd"])
        att, fail, det = _check_totals(got, props)
        ids = _clip_ids(sample_ids(props, seed))
        a, f, d = check_rows(
            _collect_rows(out.filter(F.col("clip_id").isin(ids))), props)
        det.update(d)
        return att + a, fail + f, det


class CurateDocs:
    """The registered curate_corpus and remove_shared_spans queries, each
    collected in full (a count() would let Catalyst drop the LEFT JOIN)."""

    name = "curate_docs"
    max_reps = None
    with_ft = False

    @staticmethod
    def _queries():
        import __spark_entry__ as entrymod

        qs = {**entrymod.queries(), **entrymod.extra_queries()}
        return [(q, qs[q]) for q in CURATE_QUERIES]

    def warmup(self, spark, inp, work):
        for _, fn in self._queries():
            fn(spark, os.path.join(inp, "warmup_docs")).toPandas()

    def timed(self, spark, inp, work):
        parts = {}
        t0 = time.perf_counter()
        for q, fn in self._queries():
            t = time.perf_counter()
            parts[q] = (fn(spark, inp).toPandas(), time.perf_counter() - t)
        return time.perf_counter() - t0, parts

    def check(self, spark, inp, work, results, props, seed):
        from oracle_check import compare_frames

        att = fail = 0
        det: dict = {}
        for parts in results:
            for q, (pdf, _) in parts.items():
                ref = load_oracle(inp, q)
                att += len(ref)
                probs = compare_frames(pdf, ref)
                if probs:
                    fail += max(1, _row_diff(pdf, ref))
                    det[q] = probs[:3]
        return att, fail, det


def _row_diff(a, b) -> int:
    """Rows in one frame and not the other (multiset symmetric difference)."""
    cols = sorted(a.columns)
    if sorted(b.columns) != cols:
        return max(len(a), len(b))
    ka = a[cols].astype(str).agg("\x1f".join, axis=1).value_counts()
    kb = b[cols].astype(str).agg("\x1f".join, axis=1).value_counts()
    return int(ka.subtract(kb, fill_value=0).abs().sum())


WORKLOADS = {w.name: w for w in (FilterHot(), FilterDefault(), CurateDocs())}
