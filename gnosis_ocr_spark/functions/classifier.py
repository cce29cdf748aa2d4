"""fastText-style linear quality classifier over hashed bag-of-n-gram
features (the CCNet / LLaMA-pipeline model-based curation step, public
method: Joulin et al. 2016 "Bag of Tricks for Efficient Text
Classification"; CCNet applies it as a per-doc keep/drop score).

Architecture, restated Spark-first:

- features = unigrams ∪ adjacent-bigram strings of the lowercased
  whitespace tokens (fastText's word + word-n-gram input layer);
- each feature hashes into one of ``n_features`` buckets with the repo's
  engine-portable md5 hash (fastText uses the same hashing trick — no
  vocabulary file ships with the job, so the feature extractor is a pure
  function that any engine reproduces);
- the model is a single linear layer: logit = mean of per-bucket weights.
  Weights live in INTEGER CENTI-units so the aggregation is exact
  (float sums would hash-diverge between engines);
- the default weight table is a deterministic function of the bucket id —
  a stand-in with the exact shape of a trained model. ``weights``
  (a (bucket, weight_c) DataFrame) is the real-model seam: a trained
  fastText/logistic model exports its quantized weights and the score
  path broadcast-joins them instead. The container ships no trainer, so
  the demo weights keep the driver oracle exact while the plumbing —
  hashing, feature explode, mean-pool, threshold — is the real thing.

Scale shape: one Generate (explode of the per-row feature array), one
groupBy(doc_id) with map-side partial sums; the optional weight join
broadcasts (n_features rows — KB). Nothing driver-side, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gnosis_ocr_spark.functions.sampling import stable_hash
from gnosis_ocr_spark.functions.text import tokens

DEFAULT_N_FEATURES = 4096


def feature_bucket(feat: Column, n_features: int = DEFAULT_N_FEATURES) -> Column:
    """Hashing-trick bucket for one feature string (engine-portable)."""
    return (stable_hash(feat) % n_features).cast("int")


def demo_weight_c(bucket: Column) -> Column:
    """Deterministic demo weight in centi-units, range [-100, 100]:
    ``(bucket * 37 + 11) % 201 - 100``. Pure integer arithmetic so the
    DuckDB oracle reproduces it exactly; replaced by a trained table via
    ``quality_score(weights=...)``."""
    return ((bucket * 37 + 11) % 201 - 100).cast("long")


def quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_features: int = DEFAULT_N_FEATURES,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Score every document with the hashed linear model. Returns one row
    per input doc: ``(doc_id, n_feats, logit_bp, keep)`` where ``logit_bp``
    is the mean feature weight in basis points (int; weights are in
    [-1, 1]) and ``keep`` = logit > 0 (the CCNet-style threshold gate).
    Docs with no tokens score 0 / keep=false.

    ``weights``: optional (bucket int, weight_c long) table from a trained
    model; broadcast-joined. Default: the deterministic demo table inlined
    as a pure expression (no join at all)."""
    base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    # the SHARED feature layer (filtered tokens + bigrams -> hashed
    # buckets) — one definition with the lang-ID classifier, so the two
    # models can never silently diverge on their input representation
    feats = _hashed_features(base, ["doc_id"], "text", n_features)
    if weights is not None:
        # LEFT join: a sparsely-exported weights table (only buckets seen
        # in training — the natural export) must score unseen buckets as
        # weight 0, not silently drop them from the mean's numerator AND
        # denominator (which biased logit_bp and under-reported n_feats)
        feats = feats.join(F.broadcast(weights), "bucket", "left").select(
            "doc_id",
            F.coalesce(F.col("weight_c"), F.lit(0)).alias("weight_c"),
        )
    else:
        feats = feats.select("doc_id", demo_weight_c(F.col("bucket")).alias("weight_c"))
    scored = feats.groupBy("doc_id").agg(
        F.sum("weight_c").alias("sum_c"), F.count("*").alias("n_feats")
    )
    ids = base.select("doc_id")
    logit_bp = F.when(
        F.col("n_feats").isNotNull(),
        F.round(
            F.round(F.col("sum_c") / (100 * F.col("n_feats")), 4) * 10000
        ).cast("int"),
    ).otherwise(F.lit(0))
    return ids.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_feats"), F.lit(0)).cast("long").alias("n_feats"),
        logit_bp.alias("logit_bp"),
        (F.coalesce(F.col("sum_c"), F.lit(0)) > 0).alias("keep"),
    )


def unigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_mean_mb: int = -9000,
) -> DataFrame:
    """CCNet-style language-model quality signal from a unigram model
    TRAINED ON THE SCORED CORPUS (add-one smoothing) — the Spark-native
    restatement of CCNet's KenLM perplexity filter at unigram order:
    documents whose tokens are corpus-typical score high, gibberish and
    boilerplate-vocabulary outliers score low.

    log p(t) = ln((count(t) + 1) / (N + V)) is rounded PER TOKEN to integer
    millibels (repo float contract: round per row, sum as BIGINT), so the
    output is hash-exact: ``(doc_id, n_tokens, sum_logp_mb, keep_lm)``
    with ``keep_lm`` = mean logp ≥ ``keep_mean_mb`` decided by integer
    cross-multiplication (no float division in any output).

    Scale shape: token counts are one explode + one groupBy(token) with
    map-side combine; the model "totals" (N, V) are a single-row aggregate
    broadcast via cross join (the tpch_q22 scalar pattern); scoring joins
    the token stream to the count table on token (AQE broadcasts small
    vocabularies, co-partitions web-scale ones)."""
    base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    toked = base.select(
        "doc_id",
        F.filter(
            tokens(F.lower(F.col("text"))), lambda t: F.length(t) > 0
        ).alias("_toks"),
    )
    words = toked.select("doc_id", F.explode("_toks").alias("token"))
    counts = words.groupBy("token").agg(F.count("*").alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("n_total"), F.count("*").alias("v_size")
    )
    logp = counts.crossJoin(F.broadcast(totals)).select(
        "token",
        F.round(
            F.log((F.col("cnt") + 1.0) / (F.col("n_total") + F.col("v_size")))
            * 1000
        )
        .cast("int")
        .alias("logp_mb"),
    )
    scored = (
        words.join(logp, "token")
        .groupBy("doc_id")
        .agg(F.sum("logp_mb").alias("sum_logp_mb"), F.count("*").alias("n_toks"))
    )
    ids = base.select("doc_id")
    return ids.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_toks"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.col("sum_logp_mb"), F.lit(0)).cast("long").alias("sum_logp_mb"),
        (
            (F.coalesce(F.col("n_toks"), F.lit(0)) > 0)
            & (
                F.coalesce(F.col("sum_logp_mb"), F.lit(0))
                >= keep_mean_mb * F.coalesce(F.col("n_toks"), F.lit(0))
            )
        ).alias("keep_lm"),
    )


def _hashed_features(
    df: DataFrame, key_cols: list[str], text_col: str, n_features: int
) -> DataFrame:
    """(key_cols..., bucket) — one row per hashed unigram/bigram feature,
    the shared input layer of the quality and lang-ID classifiers."""
    toked = df.select(
        *key_cols,
        F.filter(
            tokens(F.lower(F.col(text_col))), lambda t: F.length(t) > 0
        ).alias("_toks"),
    )
    bigrams = F.when(
        F.size("_toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - 1),
            lambda i: F.concat_ws(
                "_", F.element_at(F.col("_toks"), i),
                F.element_at(F.col("_toks"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toked.select(
        *key_cols, F.explode(F.concat(F.col("_toks"), bigrams)).alias("feat")
    ).select(*key_cols, feature_bucket(F.col("feat"), n_features).alias("bucket"))


def lang_id_fit(
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    n_features: int = DEFAULT_N_FEATURES,
) -> DataFrame:
    """Train a multinomial naive-Bayes language classifier over the hashed
    feature space — the TRAINED lang-ID backend the marker heuristic
    (text.lang_id) gets upgraded with when labeled data exists (fastText's
    supervised mode is this same shape: hashed bag-of-n-grams → linear
    per-class scores; Joulin et al. 2016).

    Returns the DENSE model table ``(bucket, lang, weight_mb)``: add-one-
    smoothed log P(bucket|lang) in integer millibels for EVERY (bucket,
    lang) pair — dense so scoring needs no missing-key fallback and the
    broadcast is bounded at n_features × n_langs rows (KB–MB). Integer
    weights keep scoring engine-exact (the repo float contract)."""
    feats = _hashed_features(
        docs.select(F.col(label_col).alias("lang"), F.col(text_col).alias("text")),
        ["lang"], "text", n_features,
    )
    counts = feats.groupBy("lang", "bucket").agg(F.count("*").alias("cnt"))
    totals = counts.groupBy("lang").agg(F.sum("cnt").alias("n_lang"))
    langs = totals.select("lang", "n_lang")
    buckets = docs.sparkSession.range(n_features).select(
        F.col("id").cast("int").alias("bucket")
    )
    dense = buckets.crossJoin(F.broadcast(langs)).join(
        counts, ["lang", "bucket"], "left"
    )
    return dense.select(
        "bucket",
        "lang",
        F.round(
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + 1.0)
                / (F.col("n_lang") + F.lit(n_features))
            )
            * 1000
        )
        .cast("long")
        .alias("weight_mb"),
    )


def lang_id_predict(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_features: int = DEFAULT_N_FEATURES,
) -> DataFrame:
    """(doc_id, lang_pred): argmax over languages of the summed per-feature
    log-likelihoods (uniform class prior; ties break lang-ascending so the
    result is deterministic). Scale shape: one feature explode, one
    broadcast join against the dense model, one (doc, lang) aggregation,
    one per-doc argmax window — every exchange doc-keyed. Docs with zero
    features predict 'und' (parity with the marker heuristic)."""
    from pyspark.sql.window import Window

    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    feats = _hashed_features(base, ["doc_id"], "text", n_features)
    scored = (
        feats.join(F.broadcast(model), "bucket")
        .groupBy("doc_id", "lang")
        .agg(F.sum("weight_mb").alias("score_mb"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_mb"), F.asc("lang"))
    best = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("doc_id", F.col("lang").alias("lang_pred"))
    )
    return base.select("doc_id").join(best, "doc_id", "left").select(
        "doc_id", F.coalesce("lang_pred", F.lit("und")).alias("lang_pred")
    )
