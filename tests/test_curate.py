"""Composed curation plan: decision consistency vs the individual
operators, plus the plan-quality contract (doc-keyed exchanges only, no
Python in the plan, no cartesian)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gnosis_ocr_spark.plans.curate import curate_corpus

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 120)
    )


def test_keep_is_the_documented_conjunction(spark):
    """keep == ok_gates ∧ ok_repetition ∧ keep_model ∧ ¬is_dup, and each
    signal column matches the stand-alone operator it came from."""
    docs = _docs(spark)
    out = curate_corpus(docs).collect()
    assert len(out) == docs.count()
    for r in out:
        assert r["keep"] == (
            r["ok_gates"] and r["ok_repetition"]
            and r["keep_model"] and r["keep_lm"] and not r["is_dup"]
        )
        assert r["ok_gates"] == (
            r["ok_word_count"] and r["ok_mean_word_len"]
            and r["ok_symbol_ratio"] and r["ok_bullet_lines"]
            and r["ok_ellipsis_lines"] and r["ok_alpha_words"]
        )
        assert r["split"] in ("train", "val", "test")

    from gnosis_ocr_spark.functions.classifier import quality_score
    from gnosis_ocr_spark.functions.dedup import exact_duplicates

    # cross-check two signals against the stand-alone operators
    model = {r["doc_id"]: r["keep"] for r in quality_score(docs).collect()}
    dup = {r["doc_id"]: r["is_dup"] for r in exact_duplicates(docs).collect()}
    for r in out:
        assert r["keep_model"] == model[r["doc_id"]]
        assert r["is_dup"] == dup[r["doc_id"]]


def test_duplicate_docs_keep_only_canonical(spark):
    base = [(1, "x " * 60 + "unique body one"), (2, "y " * 60 + "other body")]
    dup = [(11, base[0][1]), (12, base[0][1])]
    df = spark.createDataFrame(base + dup, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in curate_corpus(df).collect()}
    assert not out[1]["is_dup"] and out[11]["is_dup"] and out[12]["is_dup"]
    assert out[11]["canonical_id"] == 1 and out[12]["canonical_id"] == 1
    # duplicates can never be kept
    assert not out[11]["keep"] and not out[12]["keep"]


def test_plan_contract(spark):
    import re

    out = curate_corpus(_docs(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("CartesianProduct") == 0
    assert plan.count("BatchEvalPython") == 0
    assert plan.count("ArrowEvalPython") == 0
    # every exchange keys on doc_id / fingerprint / token / gram-size —
    # nothing keyed on a constant or empty key set
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert (
            "doc_id" in keys or "fp#" in keys or "token#" in keys
            or re.search(r"\bn#\d", keys)
        ), keys


def test_host_quota_and_canonical_url_signals(spark):
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, "word " * 60 + f"doc body {i}",
          f"https://www.bighost.test/p{i}?utm_source=x") for i in range(6)]
        + [(100, "word " * 60 + "small host doc",
            "https://small.test/only")],
        ["doc_id", "text", "url"],
    )
    out = {r["doc_id"]: r for r in curate_corpus(
        docs, url_col="url", max_docs_per_host=3).collect()}
    big = [r for i, r in out.items() if i != 100]
    assert sum(r["ok_host_quota"] for r in big) == 3
    assert out[100]["ok_host_quota"]
    for r in out.values():
        assert "utm_source" not in r["canonical_url"]
        assert r["host"] in ("bighost.test", "www.bighost.test", "small.test")
        if not r["ok_host_quota"]:
            assert not r["keep"]


def test_prepare_training_data_end_to_end(spark):
    """Full corpus→training-examples path: only kept train-split docs
    contribute chunks; every chunk has a valid packed position; packing
    invariants hold per shard."""
    from gnosis_ocr_spark.plans.curate import prepare_training_data

    docs = _docs(spark)
    out = prepare_training_data(docs, chunk_tokens=32, seq_len=64, n_shards=4)
    rows = out.collect()
    assert rows, "at least some docs survive curation at sf0.001"
    decided = {r["doc_id"]: r for r in curate_corpus(docs).collect()}
    contributing = {r["doc_id"] for r in rows}
    for d in contributing:
        assert decided[d]["keep"] and decided[d]["split"] == "train"
    kept_train = {d for d, r in decided.items() if r["keep"] and r["split"] == "train"}
    assert contributing == kept_train
    for r in rows:
        assert 0 <= r["bin_offset"] < 64 and r["bin_id"] >= 0
        assert 0 < r["n_tokens"] <= 32
        assert r["shard"] in range(4)


def test_near_dup_option_keeps_only_cluster_canonicals(spark):
    body = ("the quick brown fox jumps over the lazy dog near a warm "
            "windowsill while birds sing in the summer garden all afternoon "
            "and the river keeps flowing past the old stone mill " * 2)
    docs = spark.createDataFrame(
        [(1, body), (2, body + " tiny tail change"), (50, "completely "
          "different material about spark shuffles joins and windows "
          "repeated enough times to pass gates " * 4)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in curate_corpus(
        docs, near_dup=True, near_dup_threshold=0.5).collect()}
    assert not out[1]["is_near_dup"]
    assert out[2]["is_near_dup"] and out[2]["near_dup_canonical"] == 1
    assert not out[50]["is_near_dup"]
    assert not out[2]["keep"]  # near-dups never survive


def test_trained_lang_backend_option(spark):
    """curate_corpus(lang_model=...) (round-4 VERDICT task #7): the lang
    column comes from the trained NB backend (classifier.lang_id_fit /
    lang_id_predict), every OTHER column and the keep decision stay
    byte-identical to the marker-path default."""
    from gnosis_ocr_spark.functions.classifier import (
        lang_id_fit,
        lang_id_predict,
    )

    docs = _docs(spark)
    # labeled training set: disjoint vocabularies make held-out prediction
    # deterministic for the assertion corpus below
    labeled = spark.createDataFrame(
        [(f"en the of and to in is was {i}", "en") for i in range(8)]
        + [(f"xq zorp blarf quux nim vex {i}", "xq") for i in range(8)],
        "text string, lang string",
    )
    model = lang_id_fit(labeled)

    default = {r["doc_id"]: r.asDict() for r in curate_corpus(docs).collect()}
    trained = {
        r["doc_id"]: r.asDict()
        for r in curate_corpus(docs, lang_model=model).collect()
    }
    pred = {
        r["doc_id"]: r["lang_pred"]
        for r in lang_id_predict(docs, model).collect()
    }
    assert set(default) == set(trained)
    for i, want in default.items():
        got = dict(trained[i])
        assert got.pop("lang") == pred[i]
        want = dict(want)
        want.pop("lang")
        assert got == want


def test_newline_framed_text_counts_match_oracle_semantics(spark):
    """Review-found latent driver divergence: Spark counted empty boundary
    tokens ('\\nhello world\\n' → 4) while the DuckDB oracle counts
    filtered tokens (2). Both curate's n_tokens and chunk_documents now
    use the filtered set."""
    from pyspark.sql import functions as F

    from gnosis_ocr_spark.functions.text import chunk_documents
    from gnosis_ocr_spark.plans.curate import curate_corpus

    df = spark.createDataFrame(
        [(1, "\nhello world\n"), (2, "plain middle text")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in curate_corpus(df).collect()}
    assert out[1]["n_tokens"] == 2
    chunks = chunk_documents(df, chunk_tokens=8, overlap=2).collect()
    c1 = [c for c in chunks if c["doc_id"] == 1][0]
    assert c1["n_tokens"] == 2
    assert c1["chunk_text"] == "hello world"
