"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding near-dup.

Engine-quality requirements (task brief): each flavor must be a real
distributed plan — no driver-side pair loops — and the hash primitives must
be *oracle-portable* (identical results in Spark SQL and DuckDB), which rules
out xxhash64 (Spark-only) and hash() (engine-specific). We derive 60-bit
integer hashes from md5 hex (both engines agree byte-for-byte):

    h(s) = bigint(hex_prefix_15(md5(s)))          -- 60 bits, collision-safe
    minhash_i(S) = min_{s∈S} (a_i·(h(s) mod p) + b_i) mod p,  p = 2^31-1

Scale notes:
* exact dedup: one hash-agg on the fingerprint (map-side combinable).
* MinHash-LSH: shingle explode → per-(doc, hashfunc) min-agg → band
  signature agg → self-join on (band, signature). The self-join key is a
  *band signature*, high cardinality ⇒ shuffle is well distributed; candidate
  verification (exact Jaccard) touches only candidate pairs, never O(n²).
* SimHash: bit-explode against a small generated j-table, sign-sum per bit,
  bit-pack — detects near-dups at Hamming distance ≤ k via banded equality.
* embedding near-dup / brute cosine: see similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint

MERSENNE_P = 2_147_483_647  # 2^31 - 1

# Fixed (a, b) parameters for the minhash family — deterministic, shared with
# the SQL oracle (seeded LCG constants, coprime with p).
MINHASH_PARAMS: "tuple[tuple[int, int], ...]" = tuple(
    ((1_103_515_245 * (i + 1) + 12_345) % MERSENNE_P or 1, (22_695_477 * (i + 7)) % MERSENNE_P)
    for i in range(12)
)
LSH_BANDS = 2  # 12 hashes → 2 bands × 6 rows (s-curve t≈0.89):
# the synthetic corpus is highly self-similar, and at web scale a
# permissive band structure explodes the candidate self-join

# Hot-bucket membership cap for every *batch* banded self-join (MinHash
# bands, SimHash bands, embedding sign-LSH buckets). A degenerate bucket —
# one boilerplate page duplicated 10^5–10^6 times lands the whole pile
# behind a single (band, sig) key — would emit O(bucket²) pairs through a
# skewed-key shuffle before any verify can prune (THE classic LSH blowup at
# 100 TB). Semantics, mirrored bit-exactly in the DuckDB oracles:
#   * the first MAX_BUCKET members (ordered by id — deterministic, unlike
#     the streaming twin's first-k-by-arrival) pair exhaustively: C(k,2);
#   * every OVERFLOW member emits exactly ONE candidate pair with the
#     bucket's first id (the "representative link"), so emission is linear
#     beyond the cap AND cluster connectivity is preserved — an exact-dup
#     pile still collapses to one component through its representative,
#     the verify stage (Jaccard / Hamming / cosine) still filters each
#     link, and only pair *multiplicity* is lost.
# Recall consequence: two overflow members of the same bucket are no longer
# paired DIRECTLY — they stay connected through the representative when
# they truly duplicate it (transitive for clustering), but a pairwise
# consumer (e.g. a Jaccard histogram) undercounts inside capped buckets.
# Buckets below the cap are byte-identical to the uncapped plan.
MAX_BUCKET = 256


def h60(col):
    """Portable 60-bit hash: bigint of the first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def shingles_expr(text, n: int = 5):
    """Distinct char n-gram shingles of the whitespace-normalized text."""
    from ..functions.text import ws_strip

    norm = F.lower(F.regexp_replace(ws_strip(text), r"\s+", " "))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - F.lit(n - 1), F.lit(1))),
            lambda i: norm.substr(i, F.lit(n)),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the normalized-text fingerprint: keep the min-id row
    per group; output survivors with their duplicate count."""
    # groupBy, not a window over fp: partial (map-side) aggregation
    # collapses each fingerprint before the exchange, and a hot fingerprint
    # (one boilerplate page duplicated millions of times) costs its reducer
    # one combined row per map partition instead of every raw row
    fp = fingerprint(F.col(text_col)).alias("fp")
    return (
        df.select(F.col(id_col), fp)
        .groupBy("fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select(F.col(id_col), F.col("fp"), F.col("dup_count"))
    )


def _shingle_rows(df: DataFrame, text_col: str, id_col: str,
                  n_shingle: int) -> DataFrame:
    """(id, sh) rows via the codegen'd ``explode(sequence) + substr``
    (measured 3× faster than the transform-HOF form — see _minhash_wide);
    duplicates NOT removed (callers that need set semantics add .distinct(),
    min-aggregates don't care)."""
    from ..functions.text import ws_strip

    norm = F.lower(F.regexp_replace(ws_strip(F.col(text_col)), r"\s+", " "))
    return (
        df.select(F.col(id_col).alias("id"), norm.alias("norm"))
        .select(
            "id", "norm",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length("norm") - F.lit(n_shingle - 1), F.lit(1)),
                )
            ).alias("i"),
        )
        .select(
            "id", F.col("norm").substr(F.col("i"), F.lit(n_shingle)).alias("sh")
        )
    )


def _minhash_wide(df: DataFrame, text_col: str, id_col: str,
                  n_shingle: int) -> DataFrame:
    """(id, mh0..mh{H-1}): all minhashes in ONE hash-aggregate — no H-fold
    row explosion, one shuffle of the (id, shingle-hash) pairs with
    map-side partial mins.

    Shingles come from a codegen'd ``explode(sequence) + substr(col, col)``
    rather than ``shingles_expr``'s transform-HOF (higher-order functions
    are interpreted per element — the HOF explode alone measured 1.10 s vs
    0.34 s for this form on 5k docs at local[32]). Duplicate shingles are
    deliberately NOT removed: ``min`` over duplicates is identical, so
    skipping array_distinct keeps everything whole-stage-codegen and the
    result bit-equal to the distinct-shingle oracle (verified row-for-row)."""
    sh = _shingle_rows(df, text_col, id_col, n_shingle).withColumn(
        "h", h60(F.col("sh")) % F.lit(MERSENNE_P)
    )
    # F.expr: one server-side parse per aggregate instead of ~8 py4j
    # Column-operator round-trips each (same driver-build finding as
    # simhash — the Column form measured ~0.5 s of scale-invariant driver
    # time); the parsed (a*h + b) % p is operator-identical, minhash
    # values stay bit-exact (oracle-checked)
    aggs = [
        F.expr(f"min(({a}L * h + {b}L) % {MERSENNE_P}L)").alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return sh.groupBy("id").agg(*aggs)


def capped_bucket_pairs(entries: DataFrame, bucket_cols: "list[str]",
                        max_bucket: "int | None" = MAX_BUCKET,
                        carry: "tuple[str, ...]" = ()) -> DataFrame:
    """Banded equi-self-join with the MAX_BUCKET hot-bucket cap (see the
    constant's comment for the full semantics + recall consequence). Input:
    one row per (id, bucket) with the bucket key in ``bucket_cols`` and any
    per-id payload columns to carry through in ``carry``. Output
    (id_a, id_b[, a_<c>, b_<c>…]) with id_a < id_b — NOT distinct (a pair
    colliding in several buckets appears once per collision; callers dedup,
    which they already needed to do for the multi-band case).

    Plan shape: ONE row_number window on the bucket key (the rank shuffle
    partitions by the same key the join needs, so AQE/exchange-reuse keeps
    it to the shuffle the uncapped join already paid), then the self-join of
    the ≤max_bucket survivors + a linear projection of the overflow rows
    onto their bucket representative. Per-bucket emission is
    C(min(n, k), 2) + max(0, n − k) — quadratic only below the cap.

    Determinism: the rank window orders by (id, *carry) — for tables where
    (id, bucket) is NOT unique (the audio fingerprint table repeats an
    (id, hash) up to FP_MAX_REPEAT times with different t1 payloads) the
    carry tie-break makes the kept/overflow split reproducible, and the
    overflow branch drops id_a == id_b self-links (a clip whose in-bucket
    repeat count exceeds the cap would otherwise link to itself; text LSH
    never hits either case since (id, bucket) is unique there)."""
    if max_bucket is None:
        kept = entries
        overflow = None
    else:
        w = Window.partitionBy(*bucket_cols).orderBy("id", *carry)
        # explicit ROWS running frame: row_number's implicit frame is ROWS
        # (unboundedPreceding, currentRow) while first()'s default over an
        # ordered window is RANGE — mixed frames split into SEPARATE Window
        # execs (measured: 7 Window nodes in the executed plan, each a pass
        # over the sorted partition). Pinning first() to the same ROWS frame
        # fuses rank + representatives into ONE Window exec per branch.
        w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ranked = entries.withColumn("_rk", F.row_number().over(w))
        # first() over the ordered running frame = the bucket's min id (and
        # its payload) — min() can't carry arrays, first() can
        for c in ("id", *carry):
            ranked = ranked.withColumn(f"_rep_{c}", F.first(c).over(w_run))
        kept = ranked.filter(F.col("_rk") <= max_bucket)
        overflow = ranked.filter(F.col("_rk") > max_bucket).select(
            F.col("_rep_id").alias("id_a"),
            F.col("id").alias("id_b"),
            *[F.col(f"_rep_{c}").alias(f"a_{c}") for c in carry],
            *[F.col(c).alias(f"b_{c}") for c in carry],
        ).filter(F.col("id_a") != F.col("id_b"))
    a = kept.alias("a")
    b = kept.alias("b")
    cond = (F.col("a.id") < F.col("b.id"))
    for c in bucket_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    within = a.join(b, cond).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        *[F.col(f"a.{c}").alias(f"a_{c}") for c in carry],
        *[F.col(f"b.{c}").alias(f"b_{c}") for c in carry],
    )
    return within if overflow is None else within.unionByName(overflow)


def capped_cross_pairs(new: DataFrame, ref: DataFrame,
                       bucket_cols: "list[str]",
                       max_bucket: "int | None" = MAX_BUCKET,
                       carry: "tuple[str, ...]" = ()) -> DataFrame:
    """Two-corpus twin of :func:`capped_bucket_pairs`: (id_a, id_b) pairs
    where a NEW-side row shares a bucket key with a REFERENCE-side row
    (id_a = new id, id_b = ref id; per-row payload columns in ``carry``
    surface as a_<c>/b_<c>). Same hot-bucket doctrine as
    :func:`cross_corpus_candidates`: the first ``max_bucket`` members of
    each side (by id) pair exhaustively (≤ k·k per bucket); every overflow
    NEW member emits exactly ONE pair with the bucket's FIRST ref row (the
    representative link, payload included), so the hit signal survives any
    skew and per-bucket emission is k² + (n_new − k). Ref-side overflow
    beyond the kept k is dropped (multiplicity lost, never hit/no-hit).

    Scale shape: the ref representative is a map-side-combinable struct-min
    aggregate (NOT a window over the big side); the two rank windows
    partition by the bucket key the join needs, so each side pays its one
    shuffle and Spark's WindowGroupLimit truncates hot buckets map-side."""
    if max_bucket is None:
        return new.alias("a").join(ref.alias("b"), bucket_cols).select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            *[F.col(f"a.{c}").alias(f"a_{c}") for c in carry],
            *[F.col(f"b.{c}").alias(f"b_{c}") for c in carry],
        )
    # (id, *carry) order for the same determinism contract as
    # capped_bucket_pairs: tables with repeated (id, bucket) rows (audio
    # fingerprints) get a reproducible kept/overflow split
    w = Window.partitionBy(*bucket_cols).orderBy("id", *carry)
    # lexicographic struct-min = the min-id ref row WITH its payload, as a
    # plain aggregate (combines map-side; no window over the big ref side)
    rep = ref.groupBy(*bucket_cols).agg(
        F.min(F.struct(F.col("id"), *[F.col(c) for c in carry])).alias("_rep")
    )
    ref_kept = (
        ref.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_bucket).drop("_rk")
    )
    new_ranked = new.withColumn("_rk", F.row_number().over(w))
    new_kept = new_ranked.filter(F.col("_rk") <= max_bucket).drop("_rk")
    new_over = new_ranked.filter(F.col("_rk") > max_bucket).drop("_rk")
    within = new_kept.alias("a").join(ref_kept.alias("b"), bucket_cols).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
        *[F.col(f"a.{c}").alias(f"a_{c}") for c in carry],
        *[F.col(f"b.{c}").alias(f"b_{c}") for c in carry],
    )
    overflow = new_over.join(rep, bucket_cols).select(
        F.col("id").alias("id_a"), F.col("_rep.id").alias("id_b"),
        *[F.col(c).alias(f"a_{c}") for c in carry],
        *[F.col(f"_rep.{c}").alias(f"b_{c}") for c in carry],
    )
    return within.unionByName(overflow)


def _band_sigs(mh: DataFrame, bands: int) -> DataFrame:
    """(id, band, sig) rows from a wide minhash frame: all band signatures
    in ONE projection + explode (a per-band select+union would re-execute
    the minhash aggregate once per band)."""
    rows_per_band = len(MINHASH_PARAMS) // bands
    band_structs = []
    for band in range(bands):
        cols = [
            F.col(f"mh{i}").cast("string")
            for i in range(band * rows_per_band, (band + 1) * rows_per_band)
        ]
        band_structs.append(
            F.struct(
                F.lit(band).alias("band"), F.concat_ws(",", *cols).alias("sig")
            )
        )
    return mh.select("id", F.explode(F.array(*band_structs)).alias("bs")).select(
        "id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def _band_candidates(mh: DataFrame, bands: int,
                     max_bucket: "int | None" = MAX_BUCKET) -> DataFrame:
    """(id_a, id_b) candidate pairs from a wide minhash frame: band-sig
    explode, then the banded equi-self-join with the hot-bucket cap.

    The (id, band, sig) frame is materialized ONCE (eager localCheckpoint,
    the winnow_shared_spans pattern): capped_bucket_pairs consumes it three
    times — the self-join's stream side, its BROADCAST build side, and the
    overflow branch — and the broadcast subtree cannot reuse a hash-
    partitioned exchange, so without the checkpoint the full upstream
    shingle-explode → md5 → 12-way min-aggregate pipeline executed three
    times per run (guide §3.3; measured in the sf1.0 plan/bench:
    dedup_minhash_lsh 3.7 s → 1.5 s). The checkpointed frame is id+band+sig
    metadata (~50 B/row), far smaller than the corpus it derives from."""
    sigs = _band_sigs(mh, bands).localCheckpoint(eager=True)
    return (
        capped_bucket_pairs(sigs, ["band", "sig"], max_bucket)
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", n_shingle: int = 5,
                           bands: int = LSH_BANDS,
                           max_bucket: "int | None" = MAX_BUCKET) -> DataFrame:
    """LSH candidate pairs: ids sharing at least one identical band signature.
    Output (id_a, id_b) with id_a < id_b, distinct. Buckets larger than
    ``max_bucket`` are capped (first-k by id pair exhaustively; overflow
    members link to the bucket representative only — see MAX_BUCKET)."""
    return _band_candidates(
        _minhash_wide(df, text_col, id_col, n_shingle), bands, max_bucket
    )


def cross_corpus_candidates(df_new: DataFrame, df_ref: DataFrame,
                            text_col: str = "text", id_col: str = "doc_id",
                            n_shingle: int = 5, bands: int = LSH_BANDS,
                            max_bucket: "int | None" = MAX_BUCKET) -> DataFrame:
    """Incremental-dedup candidates: (id_new, id_ref) pairs where a NEW
    document shares a MinHash band signature with an already-curated
    REFERENCE document. This is the two-corpus twin of
    :func:`minhash_lsh_candidates` — the batch answer to "dedup today's
    crawl against everything already shipped" (the streaming stateful op
    answers the same question trigger-by-trigger).

    Scale shape: both sides project to (id, band, sig) and meet in ONE
    equi-join on the band key — the reference corpus is the big side and is
    NEVER self-joined, so emission is |matches|, not O(|ref|²). Hot buckets
    follow the MAX_BUCKET doctrine on BOTH sides: the first ``max_bucket``
    members of each side (by id) pair exhaustively (≤ k·k per bucket), and
    every overflow NEW member emits exactly ONE pair with the bucket's
    FIRST ref id (the representative link) — so every new duplicate is
    still flagged and per-bucket emission is k² + (n_new − k), linear
    beyond the cap. Ref-side overflow members are dropped from the pair
    list (the kept k plus the representative already witness the bucket);
    only pair multiplicity is lost, never the hit/no-hit signal."""
    sn = _band_sigs(_minhash_wide(df_new, text_col, id_col, n_shingle), bands)
    sr = _band_sigs(_minhash_wide(df_ref, text_col, id_col, n_shingle), bands)
    if max_bucket is None:
        pairs = sn.alias("n").join(sr.alias("r"), ["band", "sig"]).select(
            F.col("n.id").alias("id_new"), F.col("r.id").alias("id_ref")
        )
    else:
        w = Window.partitionBy("band", "sig").orderBy("id")
        # ref representative = min id per bucket: a tiny map-side-combinable
        # aggregate, NOT a window over the big side
        rep = sr.groupBy("band", "sig").agg(F.min("id").alias("rep_id"))
        sr_kept = (
            sr.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= max_bucket)
            .drop("_rk")
        )
        sn_ranked = sn.withColumn("_rk", F.row_number().over(w))
        sn_kept = sn_ranked.filter(F.col("_rk") <= max_bucket).drop("_rk")
        sn_over = sn_ranked.filter(F.col("_rk") > max_bucket).drop("_rk")
        pairs = (
            sn_kept.alias("n")
            .join(sr_kept.alias("r"), ["band", "sig"])
            .select(
                F.col("n.id").alias("id_new"), F.col("r.id").alias("id_ref")
            )
            .unionByName(
                sn_over.join(rep, ["band", "sig"]).select(
                    F.col("id").alias("id_new"),
                    F.col("rep_id").alias("id_ref"),
                )
            )
        )
    return pairs.distinct()


def incremental_dedup(df_new: DataFrame, df_ref: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      n_shingle: int = 5, bands: int = LSH_BANDS) -> DataFrame:
    """NEW documents that survive dedup against the reference corpus: drops
    every new doc with at least one :func:`cross_corpus_candidates` hit.
    Left-anti join on the flagged ids — the standard admission gate for
    appending a crawl snapshot to an already-deduped corpus.

    The keep/drop decision is computed WITHOUT any bucket cap and is still
    linear: the reference side collapses to ONE representative row per
    (band, sig) before the join (hit/no-hit only needs a witness, not the
    pair multiplicity), so the decision is bit-identical to the uncapped
    join at any skew — no recall consequence, unlike the pair-listing op."""
    sn = _band_sigs(_minhash_wide(df_new, text_col, id_col, n_shingle), bands)
    sr = _band_sigs(_minhash_wide(df_ref, text_col, id_col, n_shingle), bands)
    rep = sr.groupBy("band", "sig").agg(F.min("id").alias("rep_id"))
    hits = (
        sn.join(rep, ["band", "sig"])
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return df_new.join(hits, id_col, "left_anti")


def _minhash_wide_salted(df: DataFrame, text_col: str, id_col: str,
                         n_shingle: int) -> DataFrame:
    """(id, s0..s{H-1}) with per-function SALTED md5 hashes: h_i(s) =
    h60(f"{i}|" + s) mod p. Truly independent permutations per function —
    required when signature agreement is used as a Jaccard ESTIMATOR.

    The cheap affine family (_minhash_wide) derives all H permutations from
    ONE base hash; that is only 2-universal, not min-wise independent, and
    on corpora whose shingle sets share their low-hash elements the
    argmins collapse to the same shared shingles across most functions —
    measured +0.12 mean Jaccard bias (606/7125 pairs with true J≈0.2
    estimating ≥0.5) on the sf0.01 documents. Salting the md5 input per
    function removes the shared base: measured −0.01 mean bias on the same
    pairs. Costs H md5 evaluations per shingle instead of 1, which is why
    LSH *banding* keeps the affine family (its candidates are exactly
    verified downstream, so correlation there only inflates the candidate
    set, never the answer)."""
    H = len(MINHASH_PARAMS)
    sh = _shingle_rows(df, text_col, id_col, n_shingle)
    aggs = [
        F.min(
            h60(F.concat(F.lit(f"{i}|"), F.col("sh"))) % F.lit(MERSENNE_P)
        ).alias(f"s{i}")
        for i in range(H)
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_jaccard_estimate(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", n_shingle: int = 5,
                             bands: int = LSH_BANDS,
                             threshold: float = 0.5,
                             max_bucket: "int | None" = MAX_BUCKET) -> DataFrame:
    """Signature-only Jaccard ESTIMATE for LSH candidate pairs (Broder's
    estimator: est = matching-minhash fraction over per-function salted
    hashes — see _minhash_wide_salted for why the estimator cannot reuse
    the cheap affine banding family). The verify path that never touches
    shingles again — at web scale the exact intersection re-join
    (ngram_jaccard_pairs) re-shuffles every candidate's shingle set, while
    this joins two H-column signature rows per pair. Granularity is 1/H
    (H=12), so it's a coarse filter: use it to rank/triage candidates and
    reserve the exact verify for the survivors.

    Output (id_a, id_b, est_jaccard@4dp), est ≥ threshold; the threshold is
    applied as an exact integer match count (⌈threshold·H⌉) — no float
    comparison, bit-identical to the SQL twin."""
    import math

    H = len(MINHASH_PARAMS)
    min_match = math.ceil(threshold * H)
    # ONE shingle explode + ONE groupBy emits BOTH signature families
    # (affine mh* for banding, salted s* for the estimate) — a separate
    # _minhash_wide + _minhash_wide_salted pass would normalize, explode
    # and shuffle the full corpus twice
    sh = _shingle_rows(df, text_col, id_col, n_shingle).withColumn(
        "h", h60(F.col("sh")) % F.lit(MERSENNE_P)
    )
    both = sh.groupBy("id").agg(
        *[
            F.min((F.lit(aa) * F.col("h") + F.lit(bb)) % F.lit(MERSENNE_P)).alias(
                f"mh{i}"
            )
            for i, (aa, bb) in enumerate(MINHASH_PARAMS)
        ],
        *[
            F.min(
                h60(F.concat(F.lit(f"{i}|"), F.col("sh"))) % F.lit(MERSENNE_P)
            ).alias(f"s{i}")
            for i in range(H)
        ],
    )
    # materialize the dual-family signature frame ONCE (guide §3.3, the
    # _band_candidates pattern): it feeds the banding cut AND both join
    # sides of the estimate below — without the cut the full shingle
    # explode + 24-way min aggregate ran three times per call. One wide
    # row per doc (~200 B), far smaller than the corpus.
    both = both.localCheckpoint(eager=True)
    cand = _band_candidates(both, bands, max_bucket)
    sm = both
    a = sm.select(
        F.col("id").alias("id_a"), *[F.col(f"s{i}").alias(f"a{i}") for i in range(H)]
    )
    b = sm.select(
        F.col("id").alias("id_b"), *[F.col(f"s{i}").alias(f"b{i}") for i in range(H)]
    )
    matches = None
    for i in range(H):
        term = (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        matches = term if matches is None else matches + term
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("matches", matches)
        .filter(F.col("matches") >= min_match)
        .select(
            "id_a", "id_b",
            F.round(F.col("matches").cast("double") / H, 4).alias("est_jaccard"),
        )
    )


def ngram_jaccard_pairs(df: DataFrame, candidates: "DataFrame | None" = None,
                        text_col: str = "text", id_col: str = "doc_id",
                        n_shingle: int = 5, threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for candidate pairs (or all
    pairs sharing ≥1 shingle when candidates is None — only for small inputs).
    Output (id_a, id_b, jaccard rounded to 4dp) where jaccard ≥ threshold."""
    # codegen shingle explode (3× the transform-HOF form) + ONE distinct:
    # shingles_expr's array_distinct followed by .distinct() deduped the
    # largest intermediate twice
    sh = _shingle_rows(df, text_col, id_col, n_shingle).distinct()
    # materialize the distinct shingle table ONCE (guide §3.3): it feeds
    # the per-doc size aggregate and BOTH sides of the intersection join —
    # three subtrees that each re-ran the explode + distinct otherwise.
    # The consumers shuffle it by different keys, so exchange reuse cannot
    # help; cached blocks are read three ways instead.
    sh = sh.localCheckpoint(eager=True)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    if candidates is not None:
        # intersections are driven through the candidate PAIR list, not a
        # shingle self-join: candidates ⋈ shingles(id_a), then equi-join on
        # (id_b, sh). Work is O(Σ_pairs |shingles(a)|) — a shingle shared by
        # k candidate docs costs k pair-rows, never k² (the hot-shingle
        # explosion of a self-join on `sh`; VERDICT r02 #3). NO broadcast
        # hint anywhere: the candidate set scales with corpus size, AQE
        # broadcasts from runtime size estimates when genuinely small.
        sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh"))
        sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh"))
        inter = (
            candidates.join(sh_a, "id_a")
            .join(sh_b, ["id_b", "sh"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def duplicate_ngram_spans(df: DataFrame, n: int = 8, min_docs: int = 2,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Cross-document repeated word-n-gram spans (boilerplate detection, the
    C4/RefinedWeb "repeated span" step): explode each doc's word n-gram
    windows (distinct per doc), count docs per span, keep spans seen in
    ≥ min_docs docs. Output (gram, n_docs).

    Scale: one explode (≈ words-per-doc rows each) into a hash aggregate with
    map-side combine on a high-cardinality key — same shuffle shape as T1
    counting; no self-join, no all-pairs."""
    from ..functions.text import word_ngrams_exploded

    per_doc = word_ngrams_exploded(
        df, n, text_col=text_col, id_col=id_col
    ).distinct()
    return (
        per_doc.groupBy("gram")
        # rows are already (id, gram)-distinct: count(*), not
        # countDistinct, avoids a second two-phase distinct aggregation
        # over the biggest intermediate (the SQL twin counts after
        # SELECT DISTINCT the same way)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


# Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD '03 — the MOSS fingerprinter):
# hash every k-char gram of the normalized text, slide a window of w
# consecutive gram hashes, and select each window's minimum (rightmost
# occurrence on ties). The selected (position, hash) set is the document's
# local fingerprint: any substring shared between two documents of length
# >= w + k - 1 chars is GUARANTEED to contribute at least one selected
# fingerprint to both, at an expected density of only 2/(w+1) of the grams.
# This is the sub-document / substring-level dedup signal the whole-doc md5
# (functions.text.fingerprint) and set-level MinHash can't give.
# (Engine-side addition: the reference fingerprints whole lines only —
# src/identifier.rs has no sub-document dedup.)
WINNOW_K = 5
WINNOW_W = 4
# Key packing: 40-bit gram hash (first 10 md5 hex chars) << 20 | inverted
# position — ONE bigint that orders exactly like (hash ASC, pos DESC), so a
# plain windowed min() implements the rightmost-on-ties MOSS rule
# identically in Spark and DuckDB. 40 + 20 = 60 bits, safely inside int64.
# The 20 position bits cap fingerprinting at the first ~1M normalized chars
# of a document (standard practice for web-scale fingerprinting; grams past
# _WINNOW_POS_MAX are excluded deterministically in both engines).
_WINNOW_POS_BITS = 20
_WINNOW_POS_MAX = (1 << _WINNOW_POS_BITS) - 1


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = WINNOW_K,
                        w: int = WINNOW_W) -> DataFrame:
    """Selected winnowing fingerprints: (id, pos, fp) with ``pos`` the
    1-based gram position in the normalized text and ``fp`` the 40-bit gram
    hash. Normalization matches the house fingerprint (ws_strip → lower →
    collapse whitespace). Docs shorter than k chars emit one truncated gram
    (the ``_shingle_rows`` convention) so every doc yields >= 1 fingerprint;
    docs with fewer than w grams select the minimum over all their grams
    (the only full window is the whole doc).

    Plan shape: codegen explode(sequence)+substr → md5 → ONE running-frame
    window min partitioned by id → distinct. The only shuffle partitions by
    id (well distributed; skew bounded by document length, which the
    position cap bounds at ~1M chars). Everything stays whole-stage-codegen
    JVM — no Python."""
    from ..functions.text import ws_strip

    norm = F.lower(F.regexp_replace(ws_strip(F.col(text_col)), r"\s+", " "))
    n_grams = F.least(
        F.greatest(F.length("norm") - F.lit(k - 1), F.lit(1)),
        F.lit(_WINNOW_POS_MAX),
    )
    grams = (
        df.select(F.col(id_col).alias("id"), norm.alias("norm"))
        .select("id", "norm", n_grams.alias("ng"))
        .select(
            "id", "ng", "norm",
            F.explode(F.sequence(F.lit(1), F.col("ng"))).alias("i"),
        )
        .select(
            "id", "ng", "i",
            F.col("norm").substr(F.col("i"), F.lit(k)).alias("g"),
        )
    )
    h40 = F.conv(F.substring(F.md5(F.col("g")), 1, 10), 16, 10).cast("bigint")
    key = (
        F.shiftleft(h40, _WINNOW_POS_BITS)
        + (F.lit(_WINNOW_POS_MAX) - F.col("i"))
    )
    win = (
        Window.partitionBy("id")
        .orderBy("i")
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    return (
        grams.withColumn("mkey", F.min(key).over(win))
        # a window is "full" from the w-th gram on; the last gram's window
        # doubles as the whole-doc fallback when ng < w
        .filter((F.col("i") >= w) | (F.col("i") == F.col("ng")))
        .select(
            "id",
            (F.lit(_WINNOW_POS_MAX)
             - (F.col("mkey") % F.lit(_WINNOW_POS_MAX + 1))).alias("pos"),
            # shiftright, NOT /-then-cast: mkey has 60 bits and float64
            # division would round above 2^53
            F.shiftright(F.col("mkey"), _WINNOW_POS_BITS).alias("fp"),
        )
        .distinct()
    )


def winnow_sql_cte(k: int = WINNOW_K, w: int = WINNOW_W,
                   src: str = "documents", id_col: str = "doc_id",
                   text_col: str = "text") -> str:
    """DuckDB twin of :func:`winnow_fingerprints` as a WITH-clause body
    ending in a ``wf(id, pos, fp)`` CTE — the single shared generator for
    every winnowing oracle (same normalization as fingerprint_sql)."""
    pmax, pmod = _WINNOW_POS_MAX, _WINNOW_POS_MAX + 1
    stripped = f"regexp_replace({text_col}, '^\\s+|\\s+$', '', 'g')"
    return f"""
nrm AS (SELECT {id_col} AS id,
               lower(regexp_replace({stripped}, '\\s+', ' ', 'g')) AS norm
        FROM {src}),
grm AS (SELECT id, norm,
               least(greatest(len(norm) - {k - 1}, 1), {pmax}) AS ng
        FROM nrm),
pos AS (SELECT id, ng, norm, unnest(generate_series(1, ng)) AS i FROM grm),
ky AS (SELECT id, ng, i,
              ('0x' || substr(md5(substr(norm, i::INT, {k})), 1, 10))::BIGINT
                * {1 << _WINNOW_POS_BITS} + ({pmax} - i) AS key
       FROM pos),
mk AS (SELECT id, ng, i,
              min(key) OVER (PARTITION BY id ORDER BY i
                             ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)
                AS mkey
       FROM ky),
wf AS (SELECT DISTINCT id, ({pmax} - (mkey % {pmod}))::BIGINT AS pos,
              (mkey // {pmod})::BIGINT AS fp
       FROM mk WHERE i >= {w} OR i = ng)"""


def _capped_overlap_pairs(fps: DataFrame, min_shared: int,
                          max_bucket: "int | None") -> DataFrame:
    """(id_a, id_b, n_shared) over an (id, fp[, ...]) fingerprint frame:
    pairs sharing >= min_shared distinct fingerprint values, through the
    MAX_BUCKET-capped banded self-join — the one pair builder behind
    winnow_overlap_pairs and winnow_shared_spans."""
    # Explicit fp-keyed repartition before the banded self-join: the rank
    # window's planner exchange is AQE-coalesced to the PRE-join size (the
    # (id, fp) table is tiny next to its C(min(n,cap),2) pair fan-out), so
    # the join + partial count ran on a handful of fat tasks (guide §2.5 —
    # explode-after-coalesce; measured 5 partitions carrying 26M pair rows
    # at sf0.1). An explicit repartition is not coalesced, satisfies the
    # window's clustering requirement (no extra exchange), and is derived
    # from defaultParallelism, not a constant.
    par = fps.sparkSession.sparkContext.defaultParallelism
    fp = fps.select("id", "fp").distinct().repartition(par * 2, "fp")
    return (
        capped_bucket_pairs(fp, ["fp"], max_bucket)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_overlap_pairs(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = WINNOW_K,
                         w: int = WINNOW_W, min_shared: int = 2,
                         max_bucket: "int | None" = MAX_BUCKET) -> DataFrame:
    """(id_a, id_b, n_shared): document pairs sharing >= min_shared selected
    fingerprint *values* (position-independent, so relocated boilerplate
    still matches). By the winnowing guarantee, any shared substring of
    >= w + k - 1 chars yields at least one shared fingerprint. Corpus-wide
    hot fingerprints (site-template boilerplate behind one fp value) go
    through the same MAX_BUCKET cap as every other banded self-join —
    overflow members keep only their representative link, so n_shared
    undercounts inside capped buckets (see MAX_BUCKET)."""
    return _capped_overlap_pairs(
        winnow_fingerprints(df, text_col, id_col, k, w), min_shared,
        max_bucket,
    )


def winnow_shared_spans(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = WINNOW_K,
                        w: int = WINNOW_W, min_fps: int = 2,
                        min_shared: int = 2,
                        max_bucket: "int | None" = MAX_BUCKET) -> DataFrame:
    """WHERE two documents share content, not just THAT they do (VERDICT r6
    next #7): per overlap pair, the shared spans as
    ``(id_a, id_b, a_off, b_off, span_len, n_fps)`` — 1-based char offsets
    into each document's NORMALIZED text (the winnow_fingerprints
    normalization: strip → lower → whitespace collapse), so boilerplate can
    be surgically scrubbed instead of doc-dropped.

    The text twin of the audio offset vote (similarity.py fingerprint
    matching): matched fingerprint VALUES at the same position delta
    ``a_pos − b_pos`` vote for one alignment of the two documents; within
    an alignment, consecutive matches more than ``w`` grams apart cannot
    come from one contiguous shared region (the winnowing guarantee selects
    ≥ 1 fingerprint from every w-gram window, so intra-span gaps are ≤ w)
    and split the group into separate spans. Each span covers
    ``[min_pos, max_pos + k − 1]`` — ``span_len`` is exact up to the
    fingerprint sampling slack at the region's edges (< w + k chars per
    side). ``min_fps`` (default 2) drops single-fingerprint votes: a lone
    40-bit hash match is (rarely) a collision, and a one-fp span carries no
    alignment evidence.

    Candidate pairs are winnow_overlap_pairs' capped overlap pairs at
    ``min_shared``, built from the same materialized fingerprints.

    Scale shape: fingerprints (the only corpus-wide work) computed ONCE and
    self-joined per-pair through two equi-joins keyed (id, fp) — candidate
    volume is bounded by the capped pair list × per-doc fingerprint density
    (~1/w of grams). The delta grouping is a hash aggregate after one
    window lag per (pair, delta) partition, which also drops groups of
    fewer than ``min_fps`` matches; the match rows are spread over
    defaultParallelism partitions by pair. No crossJoin, no forced
    broadcast, no Python."""
    # materialize the fingerprints ONCE (code-review r7): the pair list and
    # the two match sides would otherwise each re-run the corpus-wide
    # gram-explode+md5+window scan (no plan-time exchange reuse — the
    # branches repartition by different keys). localCheckpoint(eager) runs
    # that scan in one job and the 2-3 downstream branches read the
    # materialized (id, pos, fp) blocks (~1/w of gram count — the same
    # "fingerprint table materializes once" contract the minhash scale
    # notes document; ContextCleaner frees the blocks when the result is
    # dropped).
    fps = winnow_fingerprints(df, text_col, id_col, k, w).localCheckpoint(
        eager=True
    )
    # The pair list fans out to every matching fingerprint position (2.35M
    # match rows from 32k pairs on perfbench curate_docs), and the
    # segmentation window's (pair, delta) distribution is satisfied by the
    # pair list's own (id_a, id_b) exchange. AQE coalesces that exchange
    # from its PRE-fan-out size (2 partitions there), so without an
    # explicit exchange the fan-out, sort, windows and span aggregate all
    # ran on 2 tasks (explode-after-coalesce). While the fingerprint table
    # is under spark.sql.autoBroadcastJoinThreshold (every input measured,
    # up to 10x sf0.1), AQE broadcasts both fingerprint sides, so the joins
    # stream the pair list and the defaultParallelism partitions below
    # carry through to the window. Above the threshold the id_a join
    # becomes a sort-merge join that (id_a, id_b) hashing does not satisfy,
    # so this exchange is then extra; that regime, and whether (id_a, id_b)
    # beats id_a alone on hub-heavy pair lists, are unmeasured (ROADMAP
    # C15).
    par = fps.sparkSession.sparkContext.defaultParallelism
    pairs = (
        _capped_overlap_pairs(fps, min_shared, max_bucket)
        .select("id_a", "id_b")
        .repartition(par, "id_a", "id_b")
    )
    a = fps.select(F.col("id").alias("id_a"), F.col("fp"),
                   F.col("pos").alias("a_pos"))
    b = fps.select(F.col("id").alias("id_b"), F.col("fp"),
                   F.col("pos").alias("b_pos"))
    matches = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "fp"])
        # shuffle-narrowing (guide §2.3): b_pos is derivable (b_off =
        # a_off - delta, since b_pos = a_pos - delta within a vote group)
        # and positions are bounded by _WINNOW_POS_MAX = 2^20, so the
        # window shuffle carries two ints instead of three bigints;
        # outputs are cast back below — values bit-identical
        .select("id_a", "id_b",
                F.col("a_pos").cast("int").alias("a_pos"),
                (F.col("a_pos") - F.col("b_pos")).cast("int").alias("delta"))
    )
    seg_w = Window.partitionBy("id_a", "id_b", "delta").orderBy("a_pos")
    segged = (
        matches.withColumn("_prev", F.lag("a_pos").over(seg_w))
        # a (pair, delta) group of fewer than min_fps matches cannot hold a
        # span of min_fps: drop it whole (its lags are already taken) before
        # the second window and the aggregate. Computed in the lag's Window
        # exec, so the matches are sorted once and never recomputed; it
        # drops 98.6% of the match rows on perfbench curate_docs
        .withColumn("_n", F.count(F.lit(1)).over(seg_w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .filter(F.col("_n") >= min_fps)
        .withColumn(
            "_brk",
            F.when(
                F.col("_prev").isNull()
                | (F.col("a_pos") - F.col("_prev") > w),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("_seg", F.sum("_brk").over(
            seg_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
    )
    return (
        segged.groupBy("id_a", "id_b", "delta", "_seg")
        .agg(
            F.min("a_pos").alias("_a_off"),
            (F.max("a_pos") - F.min("a_pos") + k).alias("_span_len"),
            F.count(F.lit(1)).alias("n_fps"),
        )
        .filter(F.col("n_fps") >= min_fps)
        .select("id_a", "id_b",
                F.col("_a_off").cast("bigint").alias("a_off"),
                (F.col("_a_off") - F.col("delta")).cast("bigint")
                .alias("b_off"),
                F.col("_span_len").cast("bigint").alias("span_len"),
                "n_fps")
    )


def remove_shared_spans(df: DataFrame, spans: DataFrame,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Surgically SCRUB the shared spans out of the non-canonical member
    of each overlap pair — the completion of :func:`winnow_shared_spans`'s
    purpose (drop the boilerplate, keep the document). Output one row per
    input doc: ``(id_col, text_clean, n_spans, chars_removed)`` where
    ``text_clean`` is the NORMALIZED text (the winnowing normalization:
    strip → lower → whitespace collapse — span offsets are only defined
    there) with every merged span interval removed; docs with no spans
    pass through with their normalized text intact.

    Victim choice: the ``id_b`` side of each span (pairs are emitted with
    ``id_a < id_b``), so the lowest-id copy of any shared region survives
    corpus-wide — the same canonical-keeps convention as dup_clusters.

    Pure Catalyst, no UDF: overlapping intervals are merged with the
    classic window trick (a new group starts where ``off`` exceeds the
    running max of previous ``end``s), kept gaps come from one lag window
    over the merged intervals, and the ordered reassembly is the
    array_sort(collect_list(struct)) pattern of remove_boilerplate_lines.
    Scale shape: everything is keyed by doc id (two window passes + two
    hash aggregates on the SPAN table, which is ≪ corpus; the corpus-side
    work is one left join by id). The DuckDB twin mirrors it window for
    window — oracle-exact."""
    from ..functions.text import ws_strip

    norm = F.lower(F.regexp_replace(ws_strip(F.col(text_col)), r"\s+", " "))
    docs = df.select(F.col(id_col).alias("id"), norm.alias("norm"))
    # DISTINCT intervals: duplicates (the same b-region shared with several
    # partners) are merge-no-ops, and removing them makes the (off, end)
    # window order a TOTAL order per id — tied duplicate rows under a ROWS
    # frame are exactly the ambiguity that made the DuckDB twin's parallel
    # window nondeterministic before the same dedup was applied there
    iv = spans.select(
        F.col("id_b").alias("id"),
        F.col("b_off").alias("off"),
        (F.col("b_off") + F.col("span_len")).alias("end"),
    ).distinct()
    w = Window.partitionBy("id").orderBy("off", "end")
    run_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    grouped = iv.withColumn(
        "_new", F.when(run_end.isNull() | (F.col("off") > run_end), 1)
        .otherwise(0)
    ).withColumn(
        "_grp",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    merged = grouped.groupBy("id", "_grp").agg(
        F.min("off").alias("m_off"), F.max("end").alias("m_end")
    )
    w2 = Window.partitionBy("id").orderBy("m_off")
    gaps = merged.withColumn(
        "seg_start", F.coalesce(F.lag("m_end").over(w2), F.lit(1))
    )
    per_id = gaps.groupBy("id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("seg_start"), F.col("m_off")))
        ).alias("_segs"),
        F.max("m_end").alias("_tail_start"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("m_end") - F.col("m_off")).alias("chars_removed"),
    )
    joined = docs.join(per_id, "id", "left")
    kept_mid = F.concat_ws(
        "",
        F.transform(
            F.col("_segs"),
            lambda s: F.col("norm").substr(
                s["seg_start"], s["m_off"] - s["seg_start"]
            ),
        ),
    )
    tail = F.col("norm").substr(
        F.col("_tail_start"),
        F.length("norm") - F.col("_tail_start") + 1,
    )
    return joined.select(
        F.col("id").alias(id_col),
        F.when(F.col("_segs").isNull(), F.col("norm"))
        .otherwise(F.concat(kept_mid, tail)).alias("text_clean"),
        F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
        F.coalesce(F.col("chars_removed"), F.lit(0)).alias("chars_removed"),
    )


# Full h60 width: the word hash has 60 bits, so the signature can use all of
# them (bits above 59 of h60 are always 0 ⇒ their sign-sums are always
# negative ⇒ dead bits). 60 = 4 bands × 15 for the pairing operator below.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4


# SWAR packing for the simhash sign-sums: each 64-bit aggregation buffer
# holds SIMHASH_LANES independent bit-counters of SIMHASH_LANE_BITS each.
# Lane l of pack k counts bit j = k·LANES + l of the word hash; the sign of
# the classic ±1 sum is recovered as 2·cnt_j > n_words (identical result,
# since Σ(2·bit−1) = 2·cnt − n). 21-bit lanes cap a document at 2^21−1
# (~2M) words before a lane overflows into its neighbour — far beyond any
# single transcript/doc; guarded with a per-doc raise_error on the word
# count (evaluated post-aggregate, once per doc — free in the hot path).
SIMHASH_LANES = 3
SIMHASH_LANE_BITS = 21


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash over word hashes: bit j of the signature is the sign of
    Σ_words (2·bit_j(h(word)) − 1). Output (id, simhash bigint).

    Oracle-portable: the j-expansion is a generated table join, and bit_j is
    integer shift/mod arithmetic on the md5-derived hash. The Spark side
    packs the 60 per-bit counters into ⌈60/3⌉ = 20 SWAR accumulators (plus
    one row count) instead of 60 separate sign-sum buffers — ~3× fewer
    aggregate updates per word row, bit-identical signatures (the DuckDB
    twin keeps the readable per-bit form; equality is what the oracle
    checks)."""
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    wh = words.withColumn("h", h60(F.col("w")))
    # The pack/sig expressions are built as SQL strings parsed server-side
    # in ONE call each (F.expr): the previous Column-operator construction
    # issued ~1,000 py4j round-trips (20 packs × 3 lanes × ~6 ops + 60 sig
    # terms × ~8 ops) and measured ~1.0 s of DRIVER time per query build —
    # scale-invariant and larger than the query's whole execution at sf1.0.
    # The parsed expressions are operator-for-operator identical
    # (shiftright/&/shiftleft/sum, CASE WHEN cnt*2 > n), so signatures stay
    # bit-exact (oracle-checked).
    npacks = -(-bits // SIMHASH_LANES)
    packs = []
    for k in range(npacks):
        lane_terms = []
        for lane in range(SIMHASH_LANES):
            j = k * SIMHASH_LANES + lane
            if j >= bits:
                break
            term = f"(shiftright(h, {j}) & 1L)"
            if lane:
                term = f"shiftleft({term}, {SIMHASH_LANE_BITS * lane})"
            lane_terms.append(term)
        packs.append(F.expr(f"sum({' + '.join(lane_terms)})").alias(f"p{k}"))
    # single shuffle: the map-side partial agg already reduces each map
    # partition to one 21-bigint buffer per id — a (id,word)-pre-agg variant
    # was A/B'd and is a wash here while adding a second exchange.
    sums = wh.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *packs)
    lane_mask = (1 << SIMHASH_LANE_BITS) - 1
    sig_terms = []
    for j in range(bits):
        k, lane = divmod(j, SIMHASH_LANES)
        cnt = f"(shiftright(p{k}, {SIMHASH_LANE_BITS * lane}) & {lane_mask}L)"
        sig_terms.append(
            f"(CASE WHEN {cnt} * 2 > n THEN {1 << j}L ELSE 0L END)"
        )
    sig = F.expr("CAST(0 AS BIGINT) + " + " + ".join(sig_terms))
    # lane-overflow guard: a doc with ≥2^21 words would carry a lane into
    # its neighbour and yield a silently-wrong signature — fail loudly
    # instead (evaluated once per doc row, post-aggregate: free)
    sig = F.when(
        F.col("n") < F.lit(1 << SIMHASH_LANE_BITS).cast("bigint"), sig
    ).otherwise(
        F.raise_error(
            F.format_string(
                "simhash SWAR lane overflow: doc %s has %s words "
                "(max %d); raise SIMHASH_LANE_BITS or pre-chunk the doc",
                F.col("id").cast("string"),
                F.col("n").cast("string"),
                F.lit((1 << SIMHASH_LANE_BITS) - 1),
            )
        ).cast("bigint")
    )
    return sums.select("id", sig.alias("simhash"))


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", bits: int = SIMHASH_BITS,
                  bands: int = SIMHASH_BANDS,
                  max_hamming: "int | None" = None,
                  max_bucket: "int | None" = MAX_BUCKET) -> DataFrame:
    """SimHash near-duplicate PAIRS: band the signature into ``bands``
    equal-width keys, equi-join same-band keys, verify popcount of the XOR.
    Output (id_a, id_b, hamming) with id_a < id_b, hamming ≤ max_hamming.

    EXACT for ``max_hamming ≤ bands − 1``: two signatures differing in ≤
    bands−1 bits must agree on at least one whole band (pigeonhole), so the
    banded equi-join misses nothing and the operator is fully
    oracle-checkable (unlike the recall<1 ANN paths). The pigeonhole
    guarantee holds verbatim only for buckets below ``max_bucket``: inside
    a capped bucket, overflow members pair only with the bucket
    representative (still Hamming-verified), so a pairwise-exhaustive
    consumer sees fewer pairs there while clustering stays connected for
    true duplicate piles — see MAX_BUCKET.

    Scale shape: signatures explode ×bands into an equi-join on
    (band, key) — the same shuffle-partitionable candidate-generation shape
    as MinHash-LSH (dedup.py:96-126); the Hamming verify is one bit_count
    per surviving candidate pair, never an all-pairs scan; hot-bucket
    emission is linear beyond the cap."""
    if max_hamming is None:
        max_hamming = bands - 1  # derived from the CALLER's bands — the
        # pigeonhole exactness guarantee below is bands-1, so a module-
        # constant default would silently under-recall for bands < 4
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the banded-join exactness "
            f"bound bands-1={bands - 1}; raise bands or lower max_hamming"
        )
    rows = bits // bands
    key_mask = (1 << rows) - 1
    sig = simhash(df, text_col, id_col, bits)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * rows)
                .bitwiseAND(F.lit(key_mask))
                .alias("key"),
            )
            for b in range(bands)
        ]
    )
    e = sig.select(
        "id", "simhash", F.explode(band_structs).alias("bk")
    ).select(
        "id", "simhash",
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
    )
    # materialize the banded signature frame ONCE (the _band_candidates /
    # winnow_shared_spans pattern, guide §3.3): capped_bucket_pairs reads it
    # three times (self-join stream side, broadcast build side, overflow
    # branch) and the broadcast subtree cannot reuse a hash-partitioned
    # exchange, so without the cut the full shingle-explode → hash →
    # SWAR-sign-sum signature pipeline executed three times per run. The
    # frame is (id, simhash, band, key) metadata — bands rows per doc,
    # ~40 B each, far smaller than the corpus it derives from.
    e = e.localCheckpoint(eager=True)
    cand = (
        capped_bucket_pairs(e, ["band", "key"], max_bucket, carry=("simhash",))
        .select(
            "id_a", "id_b",
            F.col("a_simhash").alias("sig_a"), F.col("b_simhash").alias("sig_b"),
        )
        .distinct()  # a pair can agree on several bands
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _release_cut(df: DataFrame) -> None:
    """Free a superseded (local)checkpointed frame's blocks now instead of
    at driver GC + ContextCleaner. A checkpointed Dataset's logical plan is
    the ``LogicalRDD`` over the checkpointed RDD, so that RDD is the one to
    unpersist (``queryExecution().toRdd()`` is a fresh scan RDD above it, so
    unpersisting that freed nothing). Only call it once every frame still
    in use reads a LATER cut. Best-effort: a reliable ``checkpoint()`` RDD
    is not persisted and unpersist is a no-op."""
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:
        pass


def _next_round(edges: DataFrame, labels: DataFrame, rnd: int) -> DataFrame:
    """One min-label propagation round of :func:`dup_clusters`: (id, lab,
    old) with each node's new label and, as ``old``, its current one."""
    lab_t = dict(labels.dtypes)["lab"]
    # carry each node's CURRENT label through the union as `old` (non-null
    # only on the self part — every id appears exactly once there) so the
    # convergence flag comes out of the same groupBy that produces the new
    # labels (VERDICT r5 #4 — a join of new vs old labels made
    # curate_corpus ~3 jobs/round)
    parts = [labels.withColumn("old", F.col("lab"))]
    prop = edges.join(
        labels.withColumnRenamed("id", "src"), "src"
    ).select(
        F.col("dst").alias("id"), "lab",
        F.lit(None).cast(lab_t).alias("old"),
    )
    parts.append(prop)
    if rnd >= 3:
        # still unconverged after 3 plain rounds ⇒ long-diameter
        # component: add pointer jumping (adopt the label OF my
        # current label, lab[lab[id]]) so labels spread along
        # 2^k-hop paths and the loop closes in O(log diameter)
        # further rounds. Not done earlier: typical near-dup
        # graphs converge in ≤3 plain rounds and the extra
        # self-join would be pure overhead there. (lab is always a
        # node of the same component, so the min stays
        # within-component and the fixpoint is unchanged.)
        jmp = (
            labels.alias("x")
            .join(
                labels.select(
                    F.col("id").alias("jid"), F.col("lab").alias("jlab")
                ),
                F.col("x.lab") == F.col("jid"),
            )
            .select(
                F.col("x.id").alias("id"),
                F.col("jlab").alias("lab"),
                F.lit(None).cast(lab_t).alias("old"),
            )
        )
        parts.append(jmp)
    u = parts[0]
    for extra in parts[1:]:
        u = u.union(extra)
    return u.groupBy("id").agg(
        F.min("lab").alias("lab"), F.max("old").alias("old")
    )


def dup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                 max_iters: int = 50,
                 checkpoint_dir: "str | None" = None) -> DataFrame:
    """Connected components over near-duplicate PAIRS → one row per node:
    (id, cluster_id = min id in its component, is_canonical ∈ {0,1}).
    The missing last step of every dedup path: candidate pairs (MinHash /
    SimHash / Jaccard verify) become clusters, and dedup keeps exactly the
    canonical row per cluster.

    Iterative min-label propagation: each round every node takes the min
    label among itself and its neighbours, so labels spread one hop per
    round and the loop converges in ≤ diameter rounds (near-dup components
    are short chains in practice), with pointer jumping engaging after 3
    rounds (O(log diameter) on deep components). Each round is one
    equi-join over the FULL edge list + one map-side-combinable min
    aggregate (round 0, from lab = id, needs only the aggregate); the
    convergence count is observed on the job that checkpoints the round's
    labels. ``localCheckpoint`` cuts lineage growth per round.

    Fault tolerance (VERDICT r03 #3): the default per-round lineage cut is
    ``localCheckpoint`` — truncated lineage into NON-RELIABLE executor-local
    block storage. Fine single-node / short jobs, but on a real cluster an
    executor lost mid-loop makes its checkpointed blocks unrecoverable and
    FAILS the job — and a 100 TB dedup is exactly the multi-hour,
    executor-churn regime. Pass ``checkpoint_dir`` (an HDFS/S3/shared path)
    to switch every cut to reliable ``df.checkpoint()``: blocks are written
    to the directory, so recomputation after executor loss reads them back
    instead of dying. Cost: one distributed write+read per round — the
    standard price of iterative-algorithm fault tolerance. Checkpoint files
    are left for the caller/cluster janitor to reap (Spark only auto-cleans
    them with spark.cleaner.referenceTracking.cleanCheckpoints=true).

    Oracle-portable: min-reachable-label is a recursive CTE in DuckDB."""
    prev_ckpt_dir = None
    if checkpoint_dir is not None:
        sc = pairs.sparkSession.sparkContext
        # setCheckpointDir mutates GLOBAL SparkContext state: remember the
        # caller's directory so it can be restored on exit (code-review r4
        # finding — an app that already points df.checkpoint() at shared
        # prod storage must not be silently redirected here). Subtlety:
        # getCheckpointDir returns the EFFECTIVE dir, which is the caller's
        # requested root plus a per-call random UUID component — restoring
        # that value verbatim would nest a fresh UUID dir INSIDE the old
        # run's UUID dir (janitors reaping old run dirs would then delete
        # live checkpoints). Restore the PARENT, i.e. the caller's root:
        # setCheckpointDir(root) re-appends a fresh sibling UUID, exactly
        # reproducing the caller's original call. If none was set, ours
        # remains (the API has no unset) — documented + warned below.
        opt = sc._jsc.sc().getCheckpointDir()
        if opt.isDefined():
            # rstrip("/") before the rsplit: a root registered with a
            # trailing slash ("s3://bkt/ckpt/") would otherwise split to
            # the UUID-less dir itself instead of its parent (ADVICE r04)
            prev_ckpt_dir = opt.get().rstrip("/").rsplit("/", 1)[0]
        else:
            prev_ckpt_dir = None
            import warnings

            warnings.warn(
                "dup_clusters(checkpoint_dir=...) is installing a "
                f"SparkContext-global checkpoint dir ({checkpoint_dir!r}) "
                "on a context that had none; the API has no unset, so it "
                "stays in effect after this call",
                stacklevel=2,
            )
        sc.setCheckpointDir(checkpoint_dir)

    def _cut(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).union(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    ).distinct()
    # materialize the edge list ONCE: every propagation round joins it, and
    # without the cut each round would re-run the whole upstream candidate
    # generation (LSH banding etc.) through the lazy lineage. Its partition
    # count is what AQE coalesced the distinct to, so a small pair graph
    # runs its rounds on few tasks.
    try:
        edges = _cut(edges)
        # round 0 starts from lab = id, so its propagation needs no join:
        # every node (each is a src of the symmetric edge list) takes the
        # min of itself and its neighbours
        labels = edges.groupBy("src").agg(F.min("dst").alias("m")).select(
            F.col("src").alias("id"),
            F.least("src", "m").alias("lab"),
            F.col("src").alias("old"),
        )
        changed = 0
        ckpt = None  # the previous round's cut (unpersist target)
        for rnd in range(max_iters):
            # the round's ONE action: the cut materializes the new labels,
            # and the observed sum reads the convergence count off that
            # same job (a separate count would be 2 more jobs per round)
            obs = Observation()
            labels = _cut(labels.observe(obs, F.sum(
                (F.col("lab") != F.col("old")).cast("long")
            ).alias("changed")))
            changed = obs.get["changed"] or 0
            # free the superseded round's checkpoint blocks now instead of
            # waiting for driver GC + ContextCleaner (otherwise up to
            # max_iters copies of the label table stay pinned in executor
            # storage); the cut truncated the new labels' lineage, so
            # nothing reads ckpt any more
            if ckpt is not None:
                _release_cut(ckpt)
            ckpt = labels
            # projection over the checkpointed frame (free) — drops the
            # convergence bookkeeping column before the next round
            labels = labels.select("id", "lab")
            if changed == 0:
                break
            labels = _next_round(edges, labels, rnd + 1)
        if changed != 0:
            # partially-propagated labels are silently WRONG cluster ids —
            # fail loudly instead (a component with diameter > max_iters
            # means the pair graph is not near-dup-shaped; raise max_iters)
            raise RuntimeError(
                f"dup_clusters did not converge in {max_iters} rounds "
                f"({changed} labels still changing)"
            )
        return labels.select(
            "id",
            F.col("lab").alias("cluster_id"),
            (F.col("id") == F.col("lab")).cast("int").alias("is_canonical"),
        )
    finally:
        if prev_ckpt_dir is not None:
            pairs.sparkSession.sparkContext.setCheckpointDir(prev_ckpt_dir)


def simhash_sql_cte(bits: int = SIMHASH_BITS, src: str = "documents") -> str:
    """DuckDB CTE computing the identical per-doc signature (shared constants
    generate both engines' queries — CLAUDE.md oracle discipline). ``src``
    lets composed oracles (curate_corpus) run the same block over an
    upstream CTE instead of the raw table."""
    return f"""
WITH words AS (
  SELECT doc_id AS id, w FROM (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
    FROM {src}) WHERE w <> ''
),
wh AS (SELECT id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM words),
ex AS (SELECT id, h, g.j FROM wh, generate_series(0, {bits - 1}) AS g(j)),
bits AS (SELECT id, j, sum(((h >> j::INT) % 2) * 2 - 1) AS s
         FROM ex GROUP BY id, j),
sig AS (
  SELECT id,
         sum(CASE WHEN s > 0 THEN (1::BIGINT << j::INT) ELSE 0::BIGINT END)::BIGINT AS simhash
  FROM bits GROUP BY id
)"""
