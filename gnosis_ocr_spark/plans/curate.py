"""The composed training-data curation plan: every per-document curation
operator the engine ships, chained the way a 100 TB corpus run would chain
them — one enrichment pass of pure expressions, the heavier gram/model
operators joined back on doc_id, exact-dedup canonical selection, and the
deterministic split assignment.

    documents (doc_id, text[, url])
      ├─ inline enrichment (ONE projection, zero shuffles): lang-ID,
      │    token counts, quality ratios, Gopher gates, 2-gram repetition
      ├─ gopher_repetition(...)   # posexplode + doc-keyed aggs
      ├─ quality_score(...)       # hashed linear model, doc-keyed agg
      ├─ unigram_lm_score(...)    # on-corpus LM, token-keyed counts
      ├─ exact_duplicates(...)    # md5-fingerprint groupBy
      └─ split_assign(...)        # pure hash expression
      → one row per doc: metrics + per-gate booleans + keep + split

Shuffle census: every exchange in the composed plan is keyed by doc_id
(or the md5 fingerprint for dedup) — no global keys, partial aggregation
everywhere, and the final assembly is a chain of doc_id equi-joins that
AQE plans as broadcasts at small scale and co-partitioned SMJs at 100 TB.
The `keep` column is the conjunction the public pipelines use: pass the
Gopher gates, pass the repetition caps, pass the classifier and
LM thresholds, and be the canonical copy of the duplicate group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gnosis_ocr_spark.functions.classifier import quality_score, unigram_lm_score
from gnosis_ocr_spark.functions.dedup import exact_duplicates
from gnosis_ocr_spark.functions.sampling import split_assign
from gnosis_ocr_spark.functions.text import (
    gopher_flags,
    gopher_repetition,
    lang_id,
    repetition_bp,
    tokens,
)

# published Gopher caps for the repetition family (Rae et al. 2021 Table A1)
DUP_LINE_CAP_BP = 3000        # duplicate line fraction ≤ 0.30
DUP_PARA_CAP_BP = 3000        # duplicate paragraph fraction ≤ 0.30
DUP_LINE_CHAR_CAP_BP = 2000   # duplicate line char fraction ≤ 0.20
DUP_PARA_CHAR_CAP_BP = 2000   # duplicate paragraph char fraction ≤ 0.20
TOP_2GRAM_CAP_BP = 2000       # top 2-gram char fraction ≤ 0.20
DUP_5GRAM_CAP_BP = 1500       # dup 5-gram char fraction ≤ 0.15


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str | None = None,
    max_docs_per_host: int = 0,
    near_dup: bool = False,
    near_dup_threshold: float = 0.8,
    lang_model: DataFrame | None = None,
) -> DataFrame:
    """One row per document with every curation signal and the composed
    ``keep`` decision + deterministic ``split``. All stages are the
    engine's real operators — this is composition, not reimplementation.

    With ``url_col``, rows gain ``canonical_url`` + ``host`` and — when
    ``max_docs_per_host`` > 0 — an ``ok_host_quota`` flag (crawl balancing
    via the deterministic per-host cap) that joins the keep conjunction.

    With ``near_dup``, the MinHash+LSH star-edge clustering
    (:func:`~gnosis_ocr_spark.functions.dedup.duplicate_clusters`, the
    engine's one clustering entry point) additionally marks non-canonical
    NEAR duplicates over every document: ``is_near_dup`` joins the keep
    conjunction and ``near_dup_canonical`` names the cluster's surviving
    doc. Verbatim copies enter the clustering too; its star collapse gives
    each identical-content group one row in the LSH buckets.

    With ``lang_model`` (a trained NB model table from
    :func:`~gnosis_ocr_spark.functions.classifier.lang_id_fit`, which
    beats the marker heuristic held-out — tests/test_lang_eval.py), the
    ``lang`` column comes from the trained backend
    (:func:`~gnosis_ocr_spark.functions.classifier.lang_id_predict`: one
    broadcast join + doc-keyed argmax) instead of the inline marker
    expression. The marker path stays the default (and the oracle-side
    contract)."""
    cols = [F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")]
    if url_col is not None:
        cols.append(F.col(url_col).alias("url"))
    base = docs.select(*cols)

    ltoks = F.filter(tokens(F.lower(F.col("text"))), lambda t: F.length(t) > 0)
    enriched = base.withColumn("_ltoks", ltoks).select(
        "doc_id",
        "text",
        # size of the FILTERED token column — token_count() counts empty
        # boundary tokens (newline-framed text; trim strips only 0x20),
        # while the DuckDB oracle counts filtered tokens: the unfiltered
        # form was a latent driver-contract divergence on crawl-shaped text
        F.size(F.col("_ltoks")).cast("int").alias("n_tokens"),
        lang_id(F.col("text"), toks=F.col("_ltoks")).alias("lang"),
        repetition_bp(F.col("text"), toks=F.col("_ltoks")).alias("rep2_bp"),
        *gopher_flags(F.col("text"), toks=F.col("_ltoks")),
    )

    if lang_model is not None:
        from gnosis_ocr_spark.functions.classifier import lang_id_predict

        pred = lang_id_predict(base, lang_model).withColumnRenamed(
            "lang_pred", "lang"
        )
        enriched = enriched.drop("lang").join(pred, "doc_id")

    # r6 optimization (guide §2.3 — don't compute what you throw away):
    # the keep decision reads ONLY the segment stats (always computed),
    # top_2gram_bp and dup_5gram_bp, but the default gopher_repetition
    # computed all nine gram sizes (top 2-4, dup 5-10) — the 9-struct
    # explode and its windows were ~9× the gram-frame volume for columns
    # no consumer of this plan reads (Catalyst prunes the agg columns but
    # not the exploded rows). Measured at sf0.1 over docs ∪ copies:
    # 8.4 s → 2.35 s for this leg. The standalone gopher_repetition
    # operator/driver row keeps the full family.
    rep = gopher_repetition(base, top_ns=(2,), dup_ns=(5,))
    # quality_score's decision column is also named `keep`; rename so the
    # composed decision can own the plain name
    model = quality_score(base).withColumnRenamed("keep", "keep_model")
    lm = unigram_lm_score(base).select("doc_id", "sum_logp_mb", "keep_lm")
    dup = exact_duplicates(base).select("doc_id", "canonical_id", "is_dup")
    near = None
    if near_dup:
        from gnosis_ocr_spark.functions.dedup import duplicate_clusters

        # clustered on the full base, not seeded from `dup`: seeding measured
        # 1.6-2.0x slower on the dedup_clusters inputs at sf0.01 and sf0.1,
        # and its extra joins cost curate_compose 8 exchanges
        clusters = duplicate_clusters(
            base, threshold=near_dup_threshold
        ).select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("near_dup_canonical"),
        )
        near = clusters.withColumn(
            "is_near_dup", F.col("doc_id") != F.col("near_dup_canonical")
        )

    host_sig = None
    if url_col is not None:
        from gnosis_ocr_spark.functions.sampling import cap_per_group
        from gnosis_ocr_spark.functions.urls import canonicalize_url, url_host

        urls = base.select(
            "doc_id",
            canonicalize_url(F.col("url")).alias("canonical_url"),
            url_host(F.col("url")).alias("host"),
        )
        if max_docs_per_host > 0:
            kept = cap_per_group(
                urls, "host", "canonical_url", max_docs_per_host,
                tiebreak_col="doc_id",
            ).select("doc_id", F.lit(True).alias("ok_host_quota"))
            host_sig = urls.join(kept, "doc_id", "left").withColumn(
                "ok_host_quota", F.coalesce("ok_host_quota", F.lit(False))
            )
        else:
            host_sig = urls.withColumn("ok_host_quota", F.lit(True))

    out = (
        enriched.join(rep, "doc_id")
        .join(model, "doc_id")
        .join(lm, "doc_id")
        .join(dup, "doc_id")
        .withColumn(
            "ok_repetition",
            (F.col("dup_line_bp") <= DUP_LINE_CAP_BP)
            & (F.col("dup_para_bp") <= DUP_PARA_CAP_BP)
            & (F.col("dup_line_char_bp") <= DUP_LINE_CHAR_CAP_BP)
            & (F.col("dup_para_char_bp") <= DUP_PARA_CHAR_CAP_BP)
            & (F.col("top_2gram_bp") <= TOP_2GRAM_CAP_BP)
            & (F.col("dup_5gram_bp") <= DUP_5GRAM_CAP_BP),
        )
        .withColumn(
            "ok_gates",
            F.col("ok_word_count")
            & F.col("ok_mean_word_len")
            & F.col("ok_symbol_ratio")
            & F.col("ok_bullet_lines")
            & F.col("ok_ellipsis_lines")
            & F.col("ok_alpha_words"),
        )
        .withColumn(
            "keep",
            F.col("ok_gates")
            & F.col("ok_repetition")
            & F.col("keep_model")
            & F.col("keep_lm")
            & ~F.col("is_dup"),
        )
        .withColumn("split", split_assign(F.col("doc_id").cast("string")))
    )
    if near is not None:
        out = (
            out.join(near, "doc_id", "left")
            .withColumn(
                "is_near_dup", F.coalesce("is_near_dup", F.lit(False))
            )
            .withColumn(
                "near_dup_canonical",
                F.coalesce("near_dup_canonical", F.col("doc_id")),
            )
            .withColumn("keep", F.col("keep") & ~F.col("is_near_dup"))
        )
    if host_sig is not None:
        out = out.join(host_sig, "doc_id").withColumn(
            "keep", F.col("keep") & F.col("ok_host_quota")
        )
    return out.drop("text")


def prepare_training_data(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str | None = None,
    max_docs_per_host: int = 0,
    chunk_tokens: int = 256,
    overlap: int = 0,
    seq_len: int = 2048,
    n_shards: int = 64,
) -> DataFrame:
    """The full corpus→training-examples path, one declarative plan:

        curate_corpus (gates+repetition+classifier+LM+dedup+split)
          → keep == true, split == 'train'
          → chunk_documents (context windows over kept docs)
          → pack_sequences (shard-local fixed-length example layout)

    Returns one row per chunk with its packed position:
    ``(doc_id, chunk_no, chunk_text, n_tokens, shard, bin_id, bin_offset,
    lang)``. Every stage is doc-keyed (or shard-keyed for packing) — the
    composed plan has no global key and survives a 100 TB corpus."""
    from gnosis_ocr_spark.functions.sampling import pack_sequences
    from gnosis_ocr_spark.functions.text import chunk_documents

    decisions = curate_corpus(
        docs, id_col, text_col, url_col, max_docs_per_host
    )
    kept = decisions.filter(
        F.col("keep") & (F.col("split") == "train")
    ).select("doc_id", "lang")
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    chunks = chunk_documents(
        base.join(kept.select("doc_id"), "doc_id"),
        chunk_tokens=chunk_tokens,
        overlap=overlap,
    )
    packed = pack_sequences(
        chunks.withColumn(
            "_ck",
            F.concat_ws("#", F.col("doc_id").cast("string"), F.col("chunk_no")),
        ),
        id_col="_ck",
        text_col="chunk_text",
        seq_len=seq_len,
        n_shards=n_shards,
    ).select(
        F.col("doc_id").alias("_ck2"), "n_tokens", "shard", "bin_id", "bin_offset"
    )
    return (
        chunks.drop("n_tokens")  # packing recomputes it from chunk_text
        .withColumn(
            "_ck",
            F.concat_ws("#", F.col("doc_id").cast("string"), F.col("chunk_no")),
        )
        .join(packed, F.col("_ck") == F.col("_ck2"))
        .join(kept, "doc_id")
        .select(
            "doc_id", "chunk_no", "chunk_text",
            "n_tokens", "shard", "bin_id", "bin_offset", "lang",
        )
    )
