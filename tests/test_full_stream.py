"""foreachBatch full-pipeline streaming: PDF + HTML routes both produce
byte-identical output to the batch plan over a file-source stream."""

from __future__ import annotations

from pyspark.sql import functions as F

from gnosis_ocr_spark.corpus import corpus_df, golden_df, write_corpus
from gnosis_ocr_spark.streaming.extract_stream import start_full_extract_stream

N = 40


def test_full_stream_matches_goldens(spark, tmp_path):
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    write_corpus(spark, in_dir, n=N, num_partitions=4)

    q = start_full_extract_stream(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir)
    assert got.count() == N
    golden = golden_df(spark, n=N).alias("g")
    bad = (
        got.alias("o")
        .join(golden, F.col("o.url") == F.col("g.url"), "full_outer")
        .filter(
            F.col("o.url").isNull()
            | F.col("g.url").isNull()
            | ~F.col("o.extracted_text").eqNullSafe(F.col("g.extracted_text"))
        )
        .count()
    )
    assert bad == 0


def test_replayed_epoch_is_idempotent(spark, tmp_path):
    """Regression (round-2 advice): foreachBatch is only exactly-once if the
    sink write is idempotent. Simulate a crash between the sink write and the
    checkpoint commit by deleting the newest commit file — the restarted
    stream replays that epoch and must NOT duplicate rows (dynamic partition
    overwrite on epoch)."""
    import os

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    write_corpus(spark, in_dir, n=N, num_partitions=4)

    q = start_full_extract_stream(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(180)
    q.stop()  # fully deregister before reusing the checkpoint
    assert spark.read.parquet(out_dir).count() == N

    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"  # ChecksumFs sidecar
    if os.path.exists(crc):
        os.remove(crc)

    q2 = start_full_extract_stream(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(180)
    q2.stop()
    got = spark.read.parquet(out_dir)
    assert got.count() == N
    assert got.select("url").distinct().count() == N


def test_streaming_dedup_keeps_one_per_fingerprint(spark, tmp_path):
    """dropDuplicatesWithinWatermark on the batch dedup's fingerprint key:
    re-crawled duplicates (same text, different url) collapse to one row."""
    from gnosis_ocr_spark.streaming.extract_stream import start_dedup_stream

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    write_corpus(spark, in_dir, n=20, num_partitions=2)
    # duplicate every doc under a different url (a re-crawl)
    base = spark.read.parquet(in_dir)
    dup = base.withColumn("url", F.concat(F.col("url"), F.lit("-recrawl")))
    dup.write.mode("append").parquet(in_dir)

    q = start_dedup_stream(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(180)
    q.stop()

    got = spark.read.parquet(out_dir)
    assert got.count() == 20  # one survivor per fingerprint
    assert got.select("fp").distinct().count() == 20


def test_curation_gates_are_stream_safe(spark, tmp_path):
    """The stateless curation surface (Gopher gates, quality ratios, PII
    redaction, classifier-style hashing of a SINGLE doc's features — all
    pure Column expressions) applies unchanged to a readStream source and
    produces exactly the batch result. This is the contract that lets the
    same curation code run in the streaming ingest path."""
    from gnosis_ocr_spark.functions.text import (
        gopher_flags,
        redact_pii,
        repetition_bp,
        tokens,
    )

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("sin", "sout", "sckpt"))
    docs = spark.createDataFrame(
        [(i, ("word " * (40 + i)) + f"contact a{i}@example.com now")
         for i in range(20)],
        "doc_id long, text string",
    )
    docs.repartition(2).write.parquet(in_dir)

    def gated(df):
        ltoks = F.filter(
            tokens(F.lower(F.col("text"))), lambda t: F.length(t) > 0
        )
        return df.withColumn("_ltoks", ltoks).select(
            "doc_id",
            repetition_bp(F.col("text"), toks=F.col("_ltoks")).alias("rep_bp"),
            redact_pii(F.col("text")).alias("redacted"),
            *gopher_flags(F.col("text"), toks=F.col("_ltoks")),
        )

    stream = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
    q = (
        gated(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r["doc_id"]: r.asDict() for r in spark.read.parquet(out_dir).collect()}
    want = {r["doc_id"]: r.asDict() for r in gated(docs).collect()}
    assert got == want
    assert all("@example.com" not in r["redacted"] for r in got.values())


def _curation_corpus(spark):
    import datetime as dt

    rows = []
    base = dt.datetime(2021, 1, 1)
    for i in range(24):
        if i % 6 == 5:
            text = "dup dup dup " * 12  # high repetition
        else:
            text = " ".join(f"w{j % (5 + i)}" for j in range(30 + i * 3))
        rows.append((i, text, base + dt.timedelta(minutes=i)))
    # two exact near-dup pairs (identical content, later timestamps)
    rows.append((100, rows[1][1], base + dt.timedelta(minutes=40)))
    rows.append((101, rows[2][1], base + dt.timedelta(minutes=41)))
    # one doc that passes EVERY gate (≥50 words, mean word length ≥3,
    # distinct vocabulary) so the composed keep has a positive witness —
    # the w0/w1 docs all fail ok_mean_word_len (2-char tokens)
    rows.append(
        (200, " ".join(f"word{j:02d}" for j in range(60)),
         base + dt.timedelta(minutes=50))
    )
    return spark.createDataFrame(
        rows, schema="doc_id long, text string, warc_ts timestamp"
    )


def test_quality_score_expr_matches_groupby_path(spark):
    """The per-row classifier expression (stream-safe form) is byte-equal
    to quality_score's explode+groupBy plan, empty docs included."""
    from gnosis_ocr_spark.functions.classifier import quality_score, quality_score_expr
    from gnosis_ocr_spark.functions.text import tokens

    docs = _curation_corpus(spark).select("doc_id", "text").unionByName(
        spark.createDataFrame([(300, ""), (301, "   ")], "doc_id long, text string")
    )
    ltoks = F.filter(tokens(F.lower(F.col("text"))), lambda t: F.length(t) > 0)
    got = {
        r["doc_id"]: r.asDict()
        for r in docs.withColumn("_ltoks", ltoks)
        .select("doc_id", *quality_score_expr(F.col("_ltoks")))
        .collect()
    }
    want = {r["doc_id"]: r.asDict() for r in quality_score(docs).collect()}
    assert got == want


def test_static_lm_matches_self_trained(spark):
    """unigram_lm_score_static against a table fitted on the same corpus is
    byte-identical to the self-training path; unseen tokens hit the OOV
    floor instead of silently dropping."""
    from gnosis_ocr_spark.functions.classifier import (
        lm_fit,
        unigram_lm_score,
        unigram_lm_score_static,
    )

    docs = _curation_corpus(spark).select("doc_id", "text")
    logp, oov = lm_fit(docs)
    got = {r["doc_id"]: r.asDict()
           for r in unigram_lm_score_static(docs, logp, oov).collect()}
    want = {r["doc_id"]: r.asDict() for r in unigram_lm_score(docs).collect()}
    assert got == want
    unseen = spark.createDataFrame(
        [(500, "zzzq xxqj zzzq")], "doc_id long, text string"
    )
    [row] = unigram_lm_score_static(unseen, logp, oov).collect()
    assert row["sum_logp_mb"] == 3 * oov and row["n_tokens"] == 3


def test_row_sketch_matches_batch_sketches(spark):
    """row_sketch equals a bottom-s sketch built outside the expression:
    word shingles in plain Python, each hashed by Spark's
    ``xxhash64(shingle, 99)`` on a one-column frame, then distinct → sort
    → slice in Python. Sketch size 4 is below doc 2's distinct-shingle
    count, so the slice is exercised too."""
    from gnosis_ocr_spark.functions.dedup import (
        SHINGLE_WORDS,
        SKETCH_SIZE,
        row_sketch,
    )
    from gnosis_ocr_spark.functions.text import tokens

    texts = {
        1: "a b c d a b c d a b",  # repeated shingles: distinct matters
        2: "The quick brown fox jumps over the lazy dog near the river bank",
        3: "dup dup dup " * 12,
        4: "too short",  # fewer than SHINGLE_WORDS tokens → empty sketch
    }
    n = SHINGLE_WORDS
    shingles = {}
    for doc_id, text in texts.items():
        toks = text.lower().split()
        shingles[doc_id] = {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }
    distinct = sorted(set().union(*shingles.values()))
    hashed = dict(
        spark.createDataFrame([(sh,) for sh in distinct], "s string")
        .select("s", F.xxhash64("s", F.lit(99)))
        .collect()
    )

    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    docs = docs.withColumn("_toks", tokens(F.lower(F.col("text"))))
    for size in (SKETCH_SIZE, 4):
        got = {
            r["doc_id"]: list(r["sk"])
            for r in docs.select(
                "doc_id", row_sketch(F.col("_toks"), n, size).alias("sk")
            ).collect()
        }
        want = {
            doc_id: sorted({hashed[sh] for sh in sh_set})[:size]
            for doc_id, sh_set in shingles.items()
        }
        assert got == want, size


def test_streaming_curation_reproduces_batch_decision(spark, tmp_path):
    """readStream curate subset (gates + classifier per-row, static-LM via
    epoch-idempotent foreachBatch) == the batch decision, byte-identical
    (round-4 task #8 done-criterion)."""
    from gnosis_ocr_spark.functions.classifier import (
        lm_fit,
        unigram_lm_score_static,
    )
    from gnosis_ocr_spark.streaming.curate_stream import (
        start_curation_stream,
        stateless_curation_columns,
    )

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("cin", "cout", "cckpt"))
    docs = _curation_corpus(spark)
    docs.repartition(3).write.parquet(in_dir)
    # the static model trains OFFLINE on the same corpus (CCNet shape)
    logp, oov = lm_fit(docs)

    q = start_curation_stream(spark, in_dir, out_dir, ckpt, logp, oov)
    q.awaitTermination(120)

    got = {
        r["doc_id"]: r.asDict()
        for r in spark.read.parquet(out_dir).drop("_epoch").collect()
    }
    batch = (
        stateless_curation_columns(docs)
        .withColumnRenamed("keep", "keep_model")
        .join(
            unigram_lm_score_static(docs, logp, oov).select(
                "doc_id", "sum_logp_mb", "keep_lm"
            ),
            "doc_id",
        )
        .withColumn(
            "keep",
            F.col("ok_word_count") & F.col("ok_mean_word_len")
            & F.col("ok_symbol_ratio") & F.col("ok_bullet_lines")
            & F.col("ok_ellipsis_lines") & F.col("ok_alpha_words")
            & F.col("keep_model") & F.col("keep_lm"),
        )
    )
    want = {r["doc_id"]: r.asDict() for r in batch.collect()}
    assert got == want
    assert any(r["keep"] for r in got.values())
    assert any(not r["keep"] for r in got.values())


def test_streaming_near_dup_within_watermark(spark, tmp_path):
    """Sketch-keyed dropDuplicatesWithinWatermark: the duplicated contents
    (docs 100/101 repeat docs 1/2) drop; every distinct-content doc
    survives. Keyed on the bottom-s SKETCH, never the raw signature."""
    from gnosis_ocr_spark.streaming.curate_stream import near_dup_within_watermark

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("nin", "nout", "nckpt"))
    docs = _curation_corpus(spark)
    docs.repartition(2).write.parquet(in_dir)
    stream = spark.readStream.schema(
        "doc_id long, text string, warc_ts timestamp"
    ).parquet(in_dir)
    q = (
        near_dup_within_watermark(stream, watermark="2 hours")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    surviving = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    # exactly one of each identical-content group survives (which one is
    # arrival-order dependent within a micro-batch — assert the invariant);
    # docs 5/11/17/23 all carry the same "dup dup dup" body = one group
    for group in ({1, 100}, {2, 101}, {5, 11, 17, 23}):
        assert len(group & surviving) == 1, group
    distinct = (set(range(24)) - {1, 2, 5, 11, 17, 23}) | {200}
    assert distinct <= surviving
    assert len(surviving) == len(distinct) + 3


def test_streaming_curation_with_trained_lang_backend(spark, tmp_path):
    """The trained lang-ID backend rides the same stream-static broadcast
    join shape as the LM stage: streaming curation with lang_model ==
    the batch composition, byte-identical, lang column included."""
    from gnosis_ocr_spark.functions.classifier import (
        lang_id_fit,
        lang_id_predict,
        lm_fit,
        unigram_lm_score_static,
    )
    from gnosis_ocr_spark.streaming.curate_stream import (
        start_curation_stream,
        stateless_curation_columns,
    )

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("lin", "lout", "lckpt"))
    docs = _curation_corpus(spark)
    docs.repartition(3).write.parquet(in_dir)
    logp, oov = lm_fit(docs)
    labeled = spark.createDataFrame(
        [(f"w{i} w{i+1} w{i+2} common words", "en") for i in range(6)]
        + [(f"dup dup dup repeated {i}", "xx") for i in range(6)],
        "text string, lang string",
    )
    lang_model = lang_id_fit(labeled)

    q = start_curation_stream(
        spark, in_dir, out_dir, ckpt, logp, oov, lang_model=lang_model
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: r.asDict()
        for r in spark.read.parquet(out_dir).drop("_epoch").collect()
    }
    batch = (
        stateless_curation_columns(docs)
        .withColumnRenamed("keep", "keep_model")
        .join(
            unigram_lm_score_static(docs, logp, oov).select(
                "doc_id", "sum_logp_mb", "keep_lm"
            ),
            "doc_id",
        )
        .withColumn(
            "keep",
            F.col("ok_word_count") & F.col("ok_mean_word_len")
            & F.col("ok_symbol_ratio") & F.col("ok_bullet_lines")
            & F.col("ok_ellipsis_lines") & F.col("ok_alpha_words")
            & F.col("keep_model") & F.col("keep_lm"),
        )
        .join(
            lang_id_predict(docs, lang_model).withColumnRenamed(
                "lang_pred", "lang"
            ),
            "doc_id",
        )
    )
    want = {r["doc_id"]: r.asDict() for r in batch.collect()}
    assert got == want
    assert {r["lang"] for r in got.values()} <= {"en", "xx"}
