"""Regenerate docs/PLANS.md — formatted physical plans of load-bearing queries.

Usage: python tests/capture_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SECTIONS = [
    ("region_revenue",
     "5-way join: every dimension broadcast, single shuffle for the final "
     "aggregation, filters/pruning at the scans"),
    ("q1_pricing_summary",
     "wide hash aggregation: partial_ aggregates before the exchange "
     "(map-side combine)"),
    ("word_counts",
     "T1/T3: the one-file scan spread by doc_id (_docs_repart) -> "
     "JVM-side explode -> partial+final hash agg -> "
     "TakeOrderedAndProject (no global sort materialization)"),
    ("revenue_rollup", "ROLLUP expand over broadcast-joined dims"),
    ("dedup_minhash_lsh",
     "MinHash-LSH: one shuffle into a single 12-way min aggregate, band "
     "signatures via one explode projection (NOT per-band re-aggregation), "
     "hash self-join on (band, sig) behind the MAX_BUCKET cap — note the "
     "WindowGroupLimit Partial BELOW the exchange: each map task truncates "
     "a hot bucket to the first 256 ids BEFORE it ships, so a degenerate "
     "bucket crosses the wire as O(cap x tasks) rows, and the overflow "
     "branch only carries representative links. At 100TB the signature "
     "table would be staged to storage to avoid the self-join recompute."),
    ("heli_identify_docs",
     "langid: exactly one ArrowEvalPython (scalar pandas UDF) fed by a "
     "pruned 2-column scan"),
    ("dedup_ngram_jaccard",
     "Jaccard verify restricted to LSH candidates; NO broadcast hints — any "
     "BroadcastExchange here comes from Catalyst size estimates and "
     "disappears at scale (test_jaccard_verify_never_forces_broadcast pins "
     "the no-hint property with the threshold disabled)"),
    ("boilerplate_spans",
     "cross-doc repeated-span detection: one explode into a map-side-"
     "combinable hash aggregate, TakeOrderedAndProject on top (no global "
     "sort, no self-join)"),
    ("simhash_pairs",
     "SimHash pairing: 60-bit signature via 21 SWAR-packed sign-sum "
     "aggregates (3×21-bit lanes per bigint buffer, one shuffle), ×4 band "
     "explode, equi-self-join on (band, key), popcount verify — exact for "
     "Hamming ≤ 3 by pigeonhole; same candidate-generation shape as "
     "MinHash-LSH"),
    ("ann_lsh",
     "multi-table sign-LSH ANN: one ArrowEvalPython per side computes "
     "every table's bucket key in one BLAS matmul per batch, "
     "(table, bucket) equi-join for candidates, "
     "hash-agg dedup, window top-k; NO forced broadcasts "
     "(test_ann_scale_paths_never_force_broadcast pins the no-hint "
     "property)"),
    ("temperature_resample",
     "temperature resampling: tiny counts aggregate AQE-broadcast into the "
     "quota join, one window shuffle for the hash rank; quota arithmetic "
     "is exact-integer (no float-order hazard)"),
    ("dedup_materialize",
     "end-to-end dedup: LSH pairs -> connected components (iterative "
     "min-label propagation, lineage cut per round) -> left-anti join of "
     "non-canonical ids against the corpus"),
    ("token_budget_sample",
     "token-budget sampling: rank + running token sum share ONE window "
     "sort per group; admission is an integer compare on the running sum"),
    ("winnow_fingerprints",
     "MOSS winnowing: pruned 2-column scan -> codegen explode/substr/md5 "
     "-> ONE window min (the repartition exchange is reused by the window "
     "sort — no second shuffle) -> two-phase hash-agg distinct; the "
     "selection rule (min hash, rightmost tie) is a single packed-bigint "
     "min thanks to the (hash<<20 | inverted-pos) key"),
    ("dedup_incremental",
     "incremental dedup gate: both corpora project to (band, sig) band "
     "signatures, the reference side collapses to ONE representative row "
     "per bucket (map-side-combinable min), and the decision is an "
     "equi-join + left-anti — linear at any skew, bit-identical to the "
     "uncapped join"),
    ("curate_corpus",
     "end-to-end curation: dedup anti-join -> decontamination gram "
     "equi-join -> codegen Gopher predicate -> temperature resample; the "
     "only shuffles are the stage keys each standalone operator already "
     "pays (no extra exchange from composing them)"),
    ("audio_fingerprints",
     "landmark fingerprint matching: ONE mapInPandas FFT pass persisted "
     "(InMemoryTableScan feeds both join sides + the overflow branch - "
     "mapInPandas is not canonicalized as deterministic, so without the "
     "persist Spark plans three independent decode+FFT passes), hash "
     "self-join behind the map-side WindowGroupLimit bucket cap, offset "
     "vote as a partial_count aggregate, struct-max best offset"),
    ("quality_buckets_cutoff",
     "CCNet bucketing, 100 TB path: ONE partial+final objectHashAgg of "
     "mergeable percentile sketches (no sort anywhere), cutoffs broadcast "
     "back into a codegen comparison chain - contrast with the ntile "
     "twin's per-language window sort"),
    ("ann_ivfpq",
     "IVF-PQ: one Arrow encode pass to (assign nearest centroids, ONE "
     "8-byte code) exploded to 12 B rows, probe equi-join on centroid, "
     "ADC pandas UDF over the broadcast codebooks, map-side-combined "
     "max-agg collapsing multi-cell replica pairs, window top-rerank, "
     "then the full-vector fetch join ONLY for the shortlist and the "
     "exact-cosine top-k window"),
    ("quality_classifier",
     "trained quality classifier: exactly one ArrowEvalPython (scalar "
     "pandas UDF) fed by a pruned 2-column scan; the 1 MB weight table "
     "rides a broadcast variable, everything else is codegen"),
    ("winnow_shared_spans",
     "shared-span extraction: the fingerprint table is materialized ONCE "
     "(eager localCheckpoint — the scans below read its blocks, not the "
     "corpus) then capped fp self-join -> pair agg -> pair list "
     "repartitioned to defaultParallelism by (id_a, id_b) -> two (id, fp) "
     "equi-joins -> per-(pair, delta) lag window + group count (groups "
     "under min_fps dropped) -> running-sum segmentation -> span "
     "hash-agg; no crossJoin, no forced broadcast"),
    ("curate_corpus_lid",
     "the full 100 TB curation chain: source gate -> HeLI LID gate (one "
     "ArrowEvalPython over the persisted post-gate frame) -> exact dedup "
     "-> simhash/cluster anti-join -> BLOOM decon (broadcast-bitmap probe "
     "- NO gram join against the benchmark side, the corpus grams only "
     "pay their own distinct) -> Gopher -> per-predicted-lang resample -> "
     "cutoff buckets (sketch agg, no sort); persisted stage frames appear "
     "as InMemoryTableScans feeding the multi-branch stages"),
    ("c4_rules",
     "C4 page filters: pure whole-stage-codegen projection over one "
     "pruned scan - line split/filter/size and the three flag regexes "
     "never leave the JVM, no exchange at all"),
]

HEADER = """# PLANS - physical-plan review artifacts

explain("formatted") captures for the load-bearing queries, regenerated by
`python tests/capture_plans.py`. These are the plans we *want*, not just the
first ones that passed - see tests/test_plans.py for the assertions that pin
them (pushdown, broadcast, single Python stage, map-side combine).
"""


def main():
    import __spark_entry__ as e
    from heliport_spark.pipeline import quality_filter
    from heliport_spark.plans import get_spark
    from heliport_spark.sources.clips import golden_clips

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.01"
    qs = {**e.queries(), **e.extra_queries()}

    MAX_LINES = 400  # a review artifact, not a dump: the 6-stage curate
    # chain formats to ~4.6k lines; keep the plan-tree head (operators +
    # exchanges all appear there) and truncate the per-node detail tail

    def fmt(df):
        s = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ).strip()
        lines = s.splitlines()
        if len(lines) > MAX_LINES:
            lines = lines[:MAX_LINES] + [
                f"... [{len(s.splitlines()) - MAX_LINES} node-detail lines "
                "truncated - run tests/capture_plans.py with MAX_LINES "
                "raised for the full capture]"
            ]
        return "\n".join(lines)

    # the curate entries run EAGERLY by default (persist-lifecycle fix) and
    # would capture as a localCheckpoint scan; rebuild them lazily so the
    # artifact keeps the real chain plan
    qs["curate_corpus"] = lambda s, d: e._curate_corpus(s, d, eager=False)
    qs["curate_corpus_lid"] = (
        lambda s, d: e._curate_corpus_lid(s, d, eager=False)
    )

    parts = [HEADER]
    for name, why in SECTIONS:
        parts.append(f"## {name}\n\n*{why}*\n\n```\n{fmt(qs[name](spark, sf))}\n```\n")
    qf = quality_filter(golden_clips(spark), with_ft=False)
    parts.append(
        "## quality_filter (pipeline)\n\n*one Python stage for langid; "
        "ppl/rules/scrub/keep are codegen'd JVM projections; no exchange "
        "anywhere - the pipeline is embarrassingly parallel per partition*"
        f"\n\n```\n{fmt(qf)}\n```\n"
    )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "docs", "PLANS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(parts))
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
