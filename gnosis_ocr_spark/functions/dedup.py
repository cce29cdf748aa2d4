"""Deduplication for web-scale training corpora.

Four families, each as a DataFrame program (no driver-side loops, no Python
in the hot path — everything is built-in expressions over explodes/groupBys
that Catalyst executes with partial aggregation):

- **Exact** — group on a normalized content fingerprint (md5). One shuffle.
- **MinHash + LSH** — shingle → k permuted min-hashes → band → bucket join.
  Candidate generation never compares all pairs: docs meet only inside a
  (band_id, band_hash) bucket, so cost is O(candidates), not O(n²). At 100 TB
  this is the only family that works for fuzzy matching; bands are tunable
  (b×r=k) for the recall/precision target.
- **SimHash** — 64-bit sign-of-weighted-sum signature; near-dups differ in
  few bits. Bucketed by the four 16-bit quarters (Hamming ≤ 3 ⇒ at least one
  identical quarter — the standard pigeonhole trick) so candidate pairs come
  from equi-joins, then exact Hamming filter.
- **n-gram Jaccard** — exact pairwise similarity on character 3-grams for
  *verification* of candidates (and as the DuckDB-oracle-checkable truth).

All hashes are Spark built-ins (xxhash64/md5/crc32) with fixed seeds —
deterministic across runs and cluster sizes.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gnosis_ocr_spark.functions.text import fingerprint, tokens

LOG = logging.getLogger("gnosis_ocr_spark.dedup")

# word-shingle width and bottom-s sketch size shared by every MinHash /
# sketch entry point below
SHINGLE_WORDS = 3
SKETCH_SIZE = 1024


def cap_bucket_members(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket_size: int,
    context: str = "bucket",
) -> DataFrame:
    """Deterministically truncate each bucket to its ``max_bucket_size``
    smallest ids before a pair-emitting self-join.

    Why: a bucket of B identical documents emits B(B−1)/2 pairs — AQE's
    skew-join split only parallelizes that blowup, it doesn't shrink it. On a
    Common-Crawl-scale corpus, boilerplate-identical clusters of 10⁵–10⁷ docs
    are routine (10⁶ docs in one bucket = 5·10¹¹ pairs), so the pair-REPORTING
    APIs take this cap; the pair CONSUMER (clustering) uses star edges instead
    (see :func:`minhash_star_edges`), which need no cap.

    NO SILENT CAPS: a small count aggregate runs eagerly and the number of
    truncated buckets / dropped rows is logged at WARNING. The extra job is a
    map-side-combined count over the bucketed rows — cheap relative to the
    pair join it protects, and only paid when a cap is requested.
    """
    w = Window.partitionBy(*bucket_cols).orderBy(id_col)
    ranked = df.withColumn("_rk", F.row_number().over(w))
    dropped = ranked.filter(F.col("_rk") > max_bucket_size)
    stats = dropped.agg(
        F.count("*").alias("rows_dropped"),
        F.count_distinct(*[F.col(c) for c in bucket_cols]).alias(
            "buckets_truncated"
        ),
    ).first()
    if stats["rows_dropped"]:
        LOG.warning(
            "%s: capped %d bucket(s) at %d members, dropping %d row(s) "
            "from pair generation",
            context,
            stats["buckets_truncated"],
            max_bucket_size,
            stats["rows_dropped"],
        )
    return ranked.filter(F.col("_rk") <= max_bucket_size).drop("_rk")

# ---------------------------------------------------------------- exact


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, canonical_id, is_dup): group on normalized-md5; the smallest
    id in each group is canonical. Expressible as one min-window/self-join.

    NULL-text docs (failed extractions) are NOT comparable: each keeps its
    own id as canonical with is_dup=false — the null-rejecting equi-join
    previously dropped their rows entirely, so a keep-where-not-dup
    semi-join silently lost those doc_ids."""
    keyed = docs.select(
        F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fp")
    )
    nn = keyed.filter(F.col("fp").isNotNull())
    canon = nn.groupBy("fp").agg(F.min("doc_id").alias("canonical_id"))
    matched = nn.join(canon, "fp").select(
        "doc_id",
        "canonical_id",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"),
    )
    nulls = keyed.filter(F.col("fp").isNull()).select(
        "doc_id",
        F.col("doc_id").alias("canonical_id"),
        F.lit(False).alias("is_dup"),
    )
    return matched.unionByName(nulls)


# ---------------------------------------------------------------- shingles


def word_shingles(text: Column, n: int = 3) -> Column:
    """n-word shingles as an array<string> (distinct).

    Docs with fewer than n tokens yield an EMPTY array: F.sequence DESCENDS
    when its end < start (the repo's documented gotcha), and the descending
    index would feed slice() a 0/negative start → runtime error. Guarded like
    winnow_windows.

    SCALE CAVEAT: the transform() lambda re-evaluates the captured token
    expression PER ELEMENT (no CSE in higher-order functions) — quadratic in
    document length. Fine for unit-scale arrays; the dedup pipelines use
    :func:`exploded_word_shingles` (measured 44× faster on 800-token docs)."""
    toks = tokens(F.lower(text))
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
        ),
    ).otherwise(F.array().cast("array<string>"))


def exploded_word_shingles(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, shingle) rows, duplicates retained — the linear-cost shingle
    path: tokens materialize ONCE per document in a projection, a Generate
    explodes the positions, and each row slices the already-computed array.
    (An array-building transform() re-runs the tokenizer per element because
    higher-order-function lambdas get no CSE, and CollapseProject re-inlines
    any alias referenced once — the Generate is the barrier that makes the
    materialization stick.)"""
    toksdf = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.lower(F.col(text_col))).alias("_toks")
    )
    return (
        toksdf.filter(F.size("_toks") >= n)
        .select(
            "doc_id",
            "_toks",
            F.posexplode(F.sequence(F.lit(1), F.size("_toks") - (n - 1))).alias(
                "_p", "_i"
            ),
        )
        .select(
            "doc_id",
            F.array_join(F.slice(F.col("_toks"), F.col("_i"), n), " ").alias(
                "shingle"
            ),
        )
    )


def _norm_prefix(text: Column, max_chars: int) -> Column:
    """THE normalized text prefix every char-gram consumer shares —
    whitespace-collapsed, lowercased, first ``max_chars`` chars. One
    definition: ngram_jaccard_pairs' inverted index and char_ngrams'
    oracle-truth arrays must never drift apart."""
    return F.substring(
        F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")), 1, max_chars
    )


def char_ngrams(text: Column, n: int = 3, max_chars: int = 200) -> Column:
    """Character n-grams over the first ``max_chars`` normalized chars
    (bounded so the exact-Jaccard oracle join stays tractable).

    Texts shorter than n chars yield an EMPTY array (the previous
    greatest(.., 0) produced a descending [1, 0] sequence and a spurious
    '' gram — two empty docs then reported jaccard = 1.0)."""
    norm = _norm_prefix(text, max_chars)
    idx = F.sequence(F.lit(1), F.length(norm) - (n - 1))
    return F.when(
        F.length(norm) >= n,
        F.array_distinct(F.transform(idx, lambda i: F.substring(norm, i, n))),
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------- minhash+lsh


def minhash_signature(docs: DataFrame, id_col: str, text_col: str, k: int = 32,
                      shingle_words: int = SHINGLE_WORDS) -> DataFrame:
    """(doc_id, sig array<bigint>): k min-hashes via seeded xxhash64 over
    word shingles — computed with ONE explode + ONE groupBy (k partial mins),
    no per-seed passes over the data. Shingles come from the linear
    exploded path (duplicates harmless: min() is idempotent over repeats)."""
    exploded = exploded_word_shingles(docs, id_col, text_col, shingle_words)
    mins = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(seed))).alias(f"h{seed}")
        for seed in range(k)
    ]
    agged = exploded.groupBy("doc_id").agg(*mins)
    return agged.select(
        "doc_id", F.array(*[F.col(f"h{s}") for s in range(k)]).alias("sig")
    )


def _banded(signatures: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc_id, band_id, band_hash): one row per (doc, band) — the LSH bucket
    projection shared by the pair and star paths."""
    return signatures.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), b * rows + 1, rows),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ),
            )
        ).alias("band_id", "band_hash"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    rows: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(a, b) candidate pairs sharing ≥1 LSH band. Pairs are oriented a < b.

    Plan shape: explode to (band_id, band_hash, doc_id) → self-equi-join on
    the bucket key → dedup. The join key includes band_id so buckets from
    different bands never cross-match; AQE's skew-join split parallelizes hot
    buckets.

    Pair output is inherently O(B²) inside a bucket of B identical docs —
    pass ``max_bucket_size`` on corpora with boilerplate mega-clusters to
    bound it (deterministic smallest-id truncation, loudly logged — see
    :func:`cap_bucket_members`). The CLUSTERING consumer should use
    :func:`minhash_star_edges` instead, which emits O(B) edges with identical
    connected components and needs no cap.
    """
    banded = _banded(signatures, bands, rows)
    if max_bucket_size is not None:
        banded = cap_bucket_members(
            banded,
            ["band_id", "band_hash"],
            "doc_id",
            max_bucket_size,
            context="lsh_candidate_pairs",
        )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )


def shingle_sketches(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = SHINGLE_WORDS,
    sketch_size: int = SKETCH_SIZE,
) -> DataFrame:
    """(doc_id, sk array<bigint>): the ``sketch_size`` SMALLEST seeded hashes
    of each document's distinct shingle set — a deterministic bottom-s sketch.

    Why not ``collect_set(shingle)``: the full set's per-row width is
    unbounded in document length (a 10⁶-token doc ≈ tens of MB per row, twice
    per verified pair). The bottom-s sketch bounds every row at ``s`` bigints
    while remaining (a) EXACT for documents with ≤ s distinct shingles and
    (b) an unbiased bottom-s Jaccard estimator above that (Broder's classic
    min-wise sketch).

    Plan (r6): ZERO exchanges — the per-row :func:`row_sketch` expression
    (shingle hashes → in-row distinct → sort → slice). The previous
    explode → distinct → per-doc window → collect formulation cost two
    full shuffles of the shingle-hash frame plus a per-doc sort;
    measured at sf0.1 over the curate corpus: 1.08 → 0.70 s, and 2×
    faster at 32k-token documents (the per-row HOF is linear — ``_toks``
    is referenced ≥ 2×, so the materialized alias survives
    CollapseProject; the repo's documented re-inlining gotcha). Transient
    per-row memory is the doc's distinct-hash array — the same magnitude
    as the ``_toks`` array the row already carries. Unlike
    slice(array_sort(collect_set(...))), no AGGREGATION buffer ever holds
    the full set; the bound is per-document, not per-group."""
    toksdf = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
    )
    return toksdf.filter(F.size("_toks") >= shingle_words).select(
        "doc_id",
        row_sketch(F.col("_toks"), shingle_words, sketch_size).alias("sk"),
    )


def sketch_jaccard(a: Column, b: Column, sketch_size: int) -> Column:
    """Bottom-s Jaccard estimate from two bottom-s sketches: with
    S = the s smallest hashes of A_s ∪ B_s, estimate = |S ∩ A_s ∩ B_s| / |S|.
    Exact whenever both documents have ≤ s distinct shingles (the sketches
    ARE the sets and S is the full union); in particular exact in the
    threshold = 1.0 driver-oracle regime over any-size docs: identical sets
    give identical sketches and estimate 1.0, and there estimate 1.0 with
    ≤ s shingles implies set equality."""
    union_s = F.slice(F.array_sort(F.array_union(a, b)), 1, sketch_size)
    inter = F.array_intersect(a, b)
    return F.size(F.array_intersect(union_s, inter)) / F.greatest(
        F.size(union_s), F.lit(1)
    )


def _verify_pairs(
    cands: DataFrame, sketches: DataFrame, threshold: float, sketch_size: int
) -> DataFrame:
    """Join candidate (a, b) pairs to their sketches and keep those with
    bottom-s Jaccard ≥ threshold. Row width through the join is bounded at
    sketch_size bigints per side."""
    a = sketches.alias("sa")
    b = sketches.alias("sb")
    return (
        cands.join(a, cands["a"] == F.col("sa.doc_id"))
        .join(b, cands["b"] == F.col("sb.doc_id"))
        .select(
            "a",
            "b",
            sketch_jaccard(F.col("sa.sk"), F.col("sb.sk"), sketch_size).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
    bands: int = 8,
    rows: int = 4,
    threshold: float = 0.7,
    shingle_words: int = SHINGLE_WORDS,
    sketch_size: int = SKETCH_SIZE,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → bottom-s Jaccard verification.

    SCOPE: shingle-based — documents with fewer than ``shingle_words``
    tokens produce no shingles, hence no signature, and are absent from
    the output (even two byte-identical 2-token docs emit no pair). Short
    docs are exact-dedup territory: run :func:`exact_duplicates` alongside
    (as plans/curate.py does) to cover them.

    Output (a, b, jaccard) is *deterministic* (candidates are verified with
    the bottom-s sketch Jaccard — exact for docs with ≤ sketch_size distinct
    shingles, an unbiased estimate above — so band luck affects only recall,
    never wrong pairs). Verification row width is bounded at ``sketch_size``
    bigints per side (the full-``collect_set`` join was unbounded in document
    length). ``max_bucket_size`` caps hot-bucket pair output (logged, never
    silent). This is the pair-REPORTING API; clustering goes through
    :func:`duplicate_clusters`, whose :func:`minhash_star_edges` emits O(B)
    edges per identical-content cluster instead of O(B²) pairs."""
    assert bands * rows == k
    sigs = minhash_signature(docs, id_col, text_col, k, shingle_words)
    cands = lsh_candidate_pairs(sigs, bands, rows, max_bucket_size=max_bucket_size)
    sketches = shingle_sketches(docs, id_col, text_col, shingle_words, sketch_size)
    return _verify_pairs(cands, sketches, threshold, sketch_size)


def minhash_star_edges(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
    bands: int = 8,
    rows: int = 4,
    threshold: float = 0.7,
    shingle_words: int = SHINGLE_WORDS,
    sketch_size: int = SKETCH_SIZE,
    sketches: DataFrame | None = None,
) -> DataFrame:
    """(a, b, jaccard) verified STAR edges for the clustering consumer —
    O(B) edges where the pair API emits O(B²), with identical connected
    components over exact-duplicate mega-clusters (the 100 TB topology where
    boilerplate-identical clusters of 10⁵–10⁷ docs are routine).

    Construction:

    1. Collapse identical bottom-s SKETCHES (NOT raw MinHash signatures —
       two different shingle sets over a small shared vocabulary can collide
       on all k min-hashes, observed in the sf0.001 corpus, and a collided
       member starred onto a foreign rep would fail verification and lose its
       true cluster): each sketch group elects its min doc_id as
       representative; every other member gets ONE star edge (rep, member)
       with jaccard 1.0 — guaranteed, because sketch equality IS what the
       verification step certifies (exact set equality for ≤ sketch_size
       distinct shingles; bottom-s estimate 1.0 above). A 10⁶-doc
       identical-content cluster contributes 10⁶−1 edges here instead of
       5·10¹¹ pairs — and exactly ONE row (the rep) to the LSH band buckets
       below, so no hot bucket ever forms from identical content.
    2. Run banded LSH over the representatives only and verify those pairs
       with the bottom-s sketch Jaccard as usual (distinct-sketch near-dups
       are genuinely near, not identical, so their buckets are small).

    Component equivalence with the full pair graph of
    :func:`minhash_near_duplicates`: within a sketch group the pair graph
    connects members pairwise (every such pair verifies at 1.0) and the
    star through the rep — the same component. Across groups both use the
    same banded-LSH + verify machinery, restricted to reps here; sub-
    threshold linkage is approximate in both (LSH recall), and the
    driver-oracle regime (threshold=1.0, verbatim copies) is provably
    identical — tests/test_star_edges.py checks the components against a
    pair-graph reference built from :func:`minhash_near_duplicates`.

    ``sketches``: optionally inject a precomputed (ideally materialized)
    :func:`shingle_sketches` frame over the SAME docs/params. This plan
    references the sketch frame three times (star collapse + both verify
    sides); a caller that checkpoints it first — :func:`duplicate_clusters`
    does, and releases it before returning — pays the sketch plan once
    instead of re-deriving it per reference (r6; measured 2.3 s/reference
    at sf0.1 over the curate corpus).
    """
    assert bands * rows == k
    if sketches is None:
        sketches = shingle_sketches(docs, id_col, text_col, shingle_words, sketch_size)
    # sketch-group collapse with a NARROW exchange key (round-4): the
    # shuffle partitions on xxhash64(sk) — 8 bytes — while the GROUPING
    # stays on the exact array, so equality is never hash-approximate.
    # Hash partitioning on _hsk satisfies clustering on (_hsk, sk)
    # (equal sketches share _hsk by construction), so Catalyst inserts no
    # second exchange; an astronomically-rare _hsk collision merely
    # co-locates two groups in one partition, never merges them. Before
    # this, Window.partitionBy(sk) made the exchange hash/compare up to
    # sketch_size bigints (~8 KB) per row as its key.
    with_h = sketches.withColumn("_hsk", F.xxhash64("sk")).repartition("_hsk")
    rep = F.min("doc_id").over(Window.partitionBy("_hsk", "sk"))
    with_rep = with_h.select("doc_id", "sk", rep.alias("rep"))
    star = with_rep.filter(F.col("doc_id") != F.col("rep")).select(
        F.col("rep").alias("a"),
        F.col("doc_id").alias("b"),
        F.lit(1.0).alias("jaccard"),
    )
    reps_ids = with_rep.filter(F.col("doc_id") == F.col("rep")).select("doc_id")
    # signatures for REPRESENTATIVES ONLY: the semi-join must sit below
    # minhash_signature — its explode+groupBy is a barrier Catalyst cannot
    # push a later join under, so signing all docs first would k-hash every
    # member of exactly the mega-clusters this function collapses
    rep_docs = docs.join(
        reps_ids.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
    )
    rep_sigs = minhash_signature(rep_docs, id_col, text_col, k, shingle_words)
    rep_pairs = lsh_candidate_pairs(rep_sigs, bands, rows)
    verified = _verify_pairs(rep_pairs, sketches, threshold, sketch_size)
    return verified.unionByName(star)


# ---------------------------------------------------------------- simhash


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, simhash bigint): 64-bit SimHash over word tokens.

    One explode + one groupBy with 64 conditional-sum partial aggregates; the
    signature is assembled JVM-side with bit arithmetic (shiftleft/bitwise-or
    via sum of powers), no UDF.

    Cost profile (profiled round 2): the 64-agg/63-term expression costs a
    ONE-TIME ~5-8 s whole-stage-codegen compile per session (the round-1
    bench's 32.9 s outlier was this compile on a cold JVM; warm runs are
    2-3 s at sf0.1). Per-row runtime cost is linear and the topology
    (explode → partial-agg groupBy → pigeonhole equi-joins) is unchanged at
    100 TB, where a fixed compile cost is irrelevant."""
    exploded = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    ).select("doc_id", F.xxhash64(F.col("tok"), F.lit(7)).alias("h"))
    def _mask(b: int) -> int:
        # signed-64 bit mask: bit 63 is the sign bit
        return (1 << b) if b < 63 else -(1 << 63)

    bit_sums = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(_mask(b))) != 0, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    agged = exploded.groupBy("doc_id").agg(*bit_sums)
    # assemble in signed-64 space: bit 63 is the sign bit, added separately
    sig_low = None
    for b in range(63):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig_low = term if sig_low is None else sig_low + term
    top = F.when(F.col("b63") > 0, F.lit(-(1 << 63))).otherwise(F.lit(0))
    return agged.select("doc_id", (sig_low + top).cast("long").alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(a, b, hamming): pairs within ``max_hamming`` bits.

    Pigeonhole bucketing: split the 64-bit signature into 4 × 16-bit quarters;
    any pair with Hamming ≤ 3 shares at least one exact quarter, so candidates
    come from 4 equi-joins (unioned via explode), then exact Hamming filter.

    IDENTICAL-SIGNATURE COLLAPSE (the hot-bucket fix): docs are first grouped
    by their full 64-bit signature; each group's min doc_id represents it in
    the pigeonhole joins, and members attach by star edges (hamming 0 to their
    rep by construction). A boilerplate cluster of B identical docs therefore
    emits B−1 star edges plus ONE row into the quarter buckets — not B(B−1)/2
    pairs (AQE only parallelizes that blowup, it can't shrink it). Cross-
    signature pairs (hamming ≥ 1) come from the rep-only joins, optionally
    capped per bucket via ``max_bucket_size`` (logged, never silent).

    Note the output is star-compressed within identical-signature groups:
    a consumer that needs every within-group pair expands a group's star
    (all members share one rep); the clustering consumer gets identical
    connected components from the star form.
    """
    sigs = simhash(docs, id_col, text_col)
    rep_w = F.min("doc_id").over(Window.partitionBy("simhash"))
    with_rep = sigs.select("doc_id", "simhash", rep_w.alias("rep"))
    star = with_rep.filter(F.col("doc_id") != F.col("rep")).select(
        F.col("rep").alias("a"),
        F.col("doc_id").alias("b"),
        F.lit(0).cast("int").alias("hamming"),
    )
    reps_only = with_rep.filter(F.col("doc_id") == F.col("rep")).select(
        "doc_id", "simhash"
    )
    quarters = reps_only.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), 16 * q)
                    .bitwiseAND(F.lit(0xFFFF))
                    for q in range(4)
                ]
            )
        ).alias("q_id", "q_val"),
    )
    if max_bucket_size is not None:
        quarters = cap_bucket_members(
            quarters,
            ["q_id", "q_val"],
            "doc_id",
            max_bucket_size,
            context="simhash_near_duplicates",
        )
    l, r = quarters.alias("l"), quarters.alias("r")
    rep_pairs = (
        l.join(
            r,
            (F.col("l.q_id") == F.col("r.q_id"))
            & (F.col("l.q_val") == F.col("r.q_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            hamming64(F.col("l.simhash"), F.col("r.simhash")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return rep_pairs.unionByName(star)


# ---------------------------------------------------------------- clustering


def _materialize(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Eagerly materialize ``df`` and cut its lineage: a ``localCheckpoint``
    (blocks on executor storage) by default, a reliable ``checkpoint`` into
    ``checkpoint_dir`` (files that survive executor loss) when one is given.
    Pair every call with :func:`_release` once the frame is dead."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=True)


def _release(df: DataFrame) -> None:
    """Drop what :func:`_materialize` stored for ``df``: unpersist its local
    blocks, or delete its ``rdd-*`` checkpoint directory. The frame's own
    RDD is its ``LogicalRDD`` leaf, so nothing else in the session is
    touched. Eager on purpose: localCheckpoint blocks are otherwise held
    until the async ContextCleaner notices the dropped reference (measured
    as a broad slowdown of every later query in the session; at 100 TB the
    residue evicts useful cache), and reliable checkpoint files are never
    deleted at all."""
    rdd = df._jdf.queryExecution().logical().rdd()
    ckpt = rdd.getCheckpointFile()
    if ckpt.isDefined():
        sc = df.sparkSession.sparkContext
        path = sc._jvm.org.apache.hadoop.fs.Path(ckpt.get())
        path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)
    else:
        rdd.unpersist(False)


def connected_components(
    edges: DataFrame, max_iter: int = 25, checkpoint_dir: str | None = None
) -> DataFrame:
    """(id, component) for every node in ``edges`` (a, b): component = the
    smallest node id reachable through the pair graph — the canonical-doc
    assignment step after near-dup pair generation (pairs alone don't tell a
    100 TB pipeline WHICH copy to keep; the min-id of each duplicate cluster
    does).

    Each round does (1) min-label propagation across the symmetrized edge
    set, then (2) a POINTER-JUMPING step (comp ← comp[comp]) that halves the
    remaining label-chain length — together they converge in O(log diameter)
    rounds, so max_iter=25 covers any graph a dedup pipeline can produce
    (duplicate clusters from LSH are near-cliques: 1-2 rounds typical).
    Raises RuntimeError instead of silently returning partial components if
    the budget is somehow exhausted. Lineage is truncated every round —
    without that the iterative plan nests one join deeper per round and
    analysis cost grows without bound.

    Convergence is detected WITHOUT a label⋈label comparison join: a
    per-row changed flag (``new comp < old comp``) rides the propagation
    projection and one integer count over the materialized result is the
    probe (r6; previously two DECIMAL(38) label sums per round compared
    totals across rounds). The check runs on the PROPAGATION result,
    before the pointer jump: a propagation fixpoint over the symmetrized
    edge set already implies full convergence (at fixpoint comp(v) ≤
    comp(u) for every edge both ways, so comps are equal across every
    edge, i.e. constant per component — and the component min m keeps
    comp(m) = m since comps never go below the component min), so the
    final round skips the jump join entirely.

    ``checkpoint_dir``: by default lineage truncation uses
    ``localCheckpoint`` (fast, but its blocks live on executor local storage:
    one lost executor at hour 3 of a 100 TB run kills the job instead of
    recomputing). Pass a reliable directory (HDFS/object store) to switch to
    ``checkpoint()``, which survives executor loss — the right choice for any
    long multi-executor run; localCheckpoint remains the low-latency local
    default.

    Every materialized round goes through :func:`_materialize` and is
    released by :func:`_release` as soon as it is superseded; a ``finally``
    releases the rest, so on success only the returned label table stays
    stored (blocks, or one ``rdd-*`` directory), and on the ``max_iter``
    RuntimeError or a failed job every frame materialized so far is
    released. (A job that fails INSIDE an eager checkpoint leaves that one
    RDD behind: Spark builds the checkpointed frame only after its job
    succeeds, so there is no frame to release.)"""
    held: list[DataFrame] = []  # materialized frames not yet released

    def save(df: DataFrame) -> DataFrame:
        held.append(_materialize(df, checkpoint_dir))
        return held[-1]

    def drop(*dead: DataFrame) -> None:
        for df in dead:
            held.remove(df)
            _release(df)

    # symmetrize with ONE Generate instead of a self-union (r6): the union
    # referenced the lazy ``edges`` plan twice, so the whole upstream
    # edge-generation pipeline (for the dedup consumers: minhash → LSH →
    # sketch-verify) executed twice inside the materialization job below —
    # the explode emits both directions from a single pass (identical row
    # multiset; measured at sf0.1 over the curate corpus: edge
    # materialization 4.9 s → ~2.7 s).
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    keep = None  # the label table handed back; set only on convergence
    try:
        # materialize the symmetrized edge set ONCE: every propagation
        # round joins against `sym`, and only `labels` was checkpointed —
        # each round re-executed the whole upstream edge-generation plan
        # (for the dedup consumers that is minhash → LSH → sketch-verify
        # over the full corpus, re-run once per round; measured r6 at
        # sf0.1: dedup_clusters 9.0 s → 3.4 s, curate_compose near-dup leg
        # similar). One extra materialization job, then every round reads
        # the stored blocks.
        sym = save(sym)
        # initial labels FUSE the first propagation round (r6): comp₀ =
        # min(id, min neighbor) is exactly what one round of
        # min-propagation over comp=id produces, computed here in the same
        # groupBy that deduplicates node ids — every graph converges one
        # round earlier (one fewer propagation join + checkpoint + fixpoint
        # probe; star graphs — the dedup topology — now finish with a
        # single loop round).
        labels = save(
            sym.groupBy("src").agg(F.min("dst").alias("_m")).select(
                F.col("src").alias("id"),
                F.least(F.col("src"), F.col("_m")).alias("comp"),
            )
        )
        for _ in range(max_iter):
            nbr = (
                sym.join(labels, sym["dst"] == labels["id"])
                .groupBy("src")
                .agg(F.min("comp").alias("nbr_comp"))
            )
            # the change FLAG rides the propagation projection (r6): the
            # fixpoint probe is one integer count over the materialized
            # table — previously two DECIMAL(38) label-sum jobs per round
            # compared totals across rounds. A propagation round that
            # lowers ZERO labels IS the fixpoint (comp(v) ≤ comp(u) both
            # ways across every edge ⇒ comps constant per component, and
            # the component min keeps itself — the r5 proof), detected
            # directly. Materialized before the count + self-join below:
            # the fixpoint check and both sides of the pointer jump
            # reference this plan and would execute the propagation join
            # repeatedly otherwise.
            stepped = save(
                labels.join(nbr, labels["id"] == nbr["src"], "left").select(
                    labels["id"],
                    F.least(
                        labels["comp"],
                        F.coalesce(F.col("nbr_comp"), labels["comp"]),
                    ).alias("comp"),
                    (F.coalesce(F.col("nbr_comp"), labels["comp"])
                     < labels["comp"]).alias("_chg"),
                )
            )
            n_changed = (
                stepped.agg(F.sum(F.col("_chg").cast("int"))).collect()[0][0]
            )
            if not n_changed:  # 0, or None on an empty edge set
                # propagation fixpoint ⇒ fully converged (docstring proof);
                # the pointer-jump join is pure acceleration and is skipped
                drop(labels)
                labels = stepped
                break
            # pointer jumping: follow the label's own label (comp[comp]) —
            # the doubling step that turns O(diameter) convergence into
            # O(log d)
            cur = stepped.select("id", "comp")
            parent = cur.select(
                F.col("id").alias("pid"), F.col("comp").alias("pcomp")
            )
            new_labels = save(
                cur.join(parent, cur["comp"] == parent["pid"], "left").select(
                    cur["id"],
                    F.least(
                        cur["comp"], F.coalesce(F.col("pcomp"), cur["comp"])
                    ).alias("comp"),
                )
            )
            # this round's intermediate + the superseded label table are
            # dead now that new_labels is materialized
            drop(stepped, labels)
            labels = new_labels
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                "(pointer-jumping covers diameter ~2^rounds — this indicates a "
                "bug or an adversarial graph, not normal dedup input)"
            )
        keep = labels
    finally:
        # the final label table no longer references sym — on success
        # everything else is dead, on failure everything is
        for df in held:
            if df is not keep:
                _release(df)
    return keep.select("id", F.col("comp").alias("component"))


def duplicate_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 1.0,
    checkpoint_dir: str | None = None,
    **minhash_kwargs,
) -> DataFrame:
    """Full dedup-clustering pipeline: MinHash+LSH star edges → connected
    components → (id, component) with component = the cluster's canonical
    (smallest) doc id. Singleton documents (no duplicate) are not emitted,
    and neither are documents with fewer than ``shingle_words`` tokens
    (no shingles; exact-dedup territory — see
    :func:`minhash_near_duplicates`).

    The edges are :func:`minhash_star_edges`: O(B) star edges per
    identical-content cluster instead of O(B²) pairs, with the same
    components as the full pair graph. ``checkpoint_dir`` selects reliable
    checkpointing for the sketch frame and the iterative components step
    (executor-loss-tolerant; see :func:`connected_components`).

    The shingle sketch frame is materialized ONCE here (r6) and injected
    into the edge generator: the star-edge plan otherwise re-derives the
    sketch pipeline per reference — three times per call (star collapse +
    both verify sides; measured 2.3 s/reference at sf0.1 over the curate
    corpus). Its lifetime is bounded by this call:
    :func:`connected_components` materializes the edge set as its first
    step, and the sketch frame is released on return and on failure."""
    sketches = _materialize(
        shingle_sketches(
            docs, id_col, text_col,
            minhash_kwargs.get("shingle_words", SHINGLE_WORDS),
            minhash_kwargs.get("sketch_size", SKETCH_SIZE),
        ),
        checkpoint_dir,
    )
    try:
        edges = minhash_star_edges(
            docs, id_col=id_col, text_col=text_col, threshold=threshold,
            sketches=sketches, **minhash_kwargs,
        ).select("a", "b")
        return connected_components(edges, checkpoint_dir=checkpoint_dir)
    finally:
        _release(sketches)


# ---------------------------------------------------------------- jaccard (exact)


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_chars: int = 200,
) -> DataFrame:
    """Exact character-n-gram Jaccard ≥ threshold pairs (a < b).

    Gram-inverted-index join (explode → join on gram → count intersections),
    not a cross join: cost is Σ gram-bucket², the classic set-similarity-join
    shape. ``max_chars`` bounds both cost and the oracle's work.

    Grams come from a materialize-then-posexplode plan (NOT an array-building
    transform whose lambda would re-run the normalizing regex once per gram —
    the no-CSE gotcha, see exploded_word_shingles); duplicates are dropped
    row-wise to preserve the DISTINCT-gram set semantics.
    """
    normed = docs.select(
        F.col(id_col).alias("doc_id"),
        _norm_prefix(F.col(text_col), max_chars).alias("_s"),
    ).withColumn("_n", F.length("_s") - (n - 1))
    grams = (
        normed.filter(F.col("_n") >= 1)
        .select(
            "doc_id",
            "_s",
            F.posexplode(F.sequence(F.lit(1), F.col("_n"))).alias("_p", "_i"),
        )
        .select(
            "doc_id", F.col("_s").substr(F.col("_i"), F.lit(n)).alias("g")
        )
        .distinct()
    )
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("sz"))
    l, r = grams.alias("l"), grams.alias("r")
    inter = (
        l.join(r, (F.col("l.g") == F.col("r.g")) & (F.col("l.doc_id") < F.col("r.doc_id")))
        .groupBy(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("a") == F.col("sa.doc_id"))
        .join(sb, F.col("b") == F.col("sb.doc_id"))
        .select(
            "a",
            "b",
            F.round(
                F.col("i") / (F.col("sa.sz") + F.col("sb.sz") - F.col("i")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination (the public method of GPT-3 appendix C /
    Brown et al. 2020, since standard for LLM training sets): a training
    document is contaminated if it shares any word ``n``-gram with an
    evaluation-benchmark document. Returns one row per train doc:
    ``(doc_id, n_hits, contaminated)`` with ``n_hits`` = number of DISTINCT
    train-doc shingles that appear anywhere in the benchmark.

    Scale shape: the benchmark is orders of magnitude smaller than the
    training corpus, so its distinct shingle set is broadcast — the train
    shingle stream (one Generate, linear) joins map-side and aggregates on
    doc_id; the train relation itself is never shuffled for the join. Docs
    with fewer than ``n`` tokens have no shingles and are trivially clean.
    """
    t_sh = exploded_word_shingles(train, id_col, text_col, n)
    b_sh = (
        exploded_word_shingles(bench, id_col, text_col, n)
        .select("shingle")
        .distinct()
    )
    hits = (
        t_sh.join(F.broadcast(b_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_hits"))
    )
    ids = train.select(F.col(id_col).alias("doc_id"))
    return ids.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
    )


def row_sketch(
    toks: Column,
    shingle_words: int = SHINGLE_WORDS,
    sketch_size: int = SKETCH_SIZE,
) -> Column:
    """The bottom-s shingle sketch as a PER-ROW pure Column expression —
    the body of :func:`shingle_sketches`, with no explode and no groupBy, so
    sketching a document costs no shuffle: shingle positions come from one
    sequence, hashes sort and slice in-row. Unit-tested against a
    plain-Python bottom-s sketch built from the same ``xxhash64(shingle,
    99)`` hashes.

    ``toks`` MUST be a MATERIALIZED token array column referenced at least
    twice in the enclosing plan (the HOF lambdas below re-evaluate
    captured expressions per element — cheap for a materialized attribute,
    quadratic re-tokenization otherwise, and CollapseProject re-inlines an
    alias referenced only once; the repo's documented gotcha). Measured
    linear in doc length and faster than the former explode → distinct →
    window plan at every probed size, including 32k-token docs.
    """
    n = shingle_words
    shingles = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(n))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashed = F.transform(shingles, lambda s: F.xxhash64(s, F.lit(99)))
    return F.slice(
        F.array_sort(F.array_distinct(hashed)), 1, sketch_size
    )
