"""Training-data pipeline ops: text analysis, dedup families, ANN search."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from gnosis_ocr_spark.functions.dedup import (
    exact_duplicates,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_duplicates,
)
from gnosis_ocr_spark.functions.similarity import (
    cosine_topk_bruteforce,
    embedding_near_duplicates,
    lsh_cosine_topk,
)
from gnosis_ocr_spark.functions.text import (
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    quality_metrics,
    stopword_ratio,
    token_count,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, schema="doc_id long, text string")


def test_token_counts_and_fingerprint(spark):
    df = _docs(spark, [(1, "  Hello   world  "), (2, ""), (3, "a b c")])
    got = {
        r["doc_id"]: (r["tc"], r["fp"])
        for r in df.select(
            "doc_id",
            token_count(F.col("text")).alias("tc"),
            fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }
    assert got[1][0] == 2 and got[2][0] == 0 and got[3][0] == 3
    # fingerprint normalizes case+whitespace
    df2 = _docs(spark, [(1, "hello world"), (2, "HELLO   WORLD")])
    fps = [r["fp"] for r in df2.select(fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_bpe_ish_count(spark):
    df = _docs(spark, [(1, "hello, world 42")])
    got = df.select(bpe_ish_token_count(F.col("text")).alias("n")).collect()[0]["n"]
    # hell, o, ',', worl, d, 4, 2 → 7 pieces
    assert got == 7


def test_lang_id(spark):
    df = _docs(
        spark,
        [
            (1, "the cat and the dog is happy"),
            (2, "der hund und die katze ist da"),
            (3, "le chat et la souris est ici"),
            (4, "xyzzy plugh"),
        ],
    )
    got = dict(df.select("doc_id", lang_id(F.col("text")).alias("l")).collect())
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_quality_metrics(spark):
    df = _docs(spark, [(1, "Good text, clean and readable.")])
    row = df.select("doc_id", *quality_metrics(F.col("text")),
                    stopword_ratio(F.col("text")).alias("sw")).collect()[0]
    assert row["n_chars"] == 30
    assert row["n_tokens"] == 5
    assert 0 < row["alpha_ratio"] < 1
    assert row["punct_ratio"] > 0
    assert row["sw"] == 0.2  # 'and' of 5 tokens


def test_exact_duplicates(spark):
    df = _docs(spark, [(1, "same text"), (2, "Same   TEXT"), (3, "other")])
    got = {r["doc_id"]: (r["canonical_id"], r["is_dup"]) for r in exact_duplicates(df).collect()}
    assert got == {1: (1, False), 2: (1, True), 3: (3, False)}


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches from "
    "the warm windowsill and the birds sing in the garden all afternoon long"
)


def test_minhash_near_duplicates(spark):
    near = BASE.replace("warm", "cold")
    far = "completely different content about spark query optimization and shuffles everywhere"
    df = _docs(spark, [(1, BASE), (2, near), (3, far)])
    pairs = {(r["a"], r["b"]) for r in minhash_near_duplicates(df, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert all(p == (1, 2) for p in pairs)


def test_simhash_near_duplicates(spark):
    near = BASE.replace("warm", "cold")
    far = "completely different content about spark query optimization and shuffles everywhere"
    df = _docs(spark, [(1, BASE), (2, near), (3, far)])
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert len(set(sigs.values())) == 3
    pairs = {(r["a"], r["b"]) for r in simhash_near_duplicates(df, max_hamming=16).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_ngram_jaccard(spark):
    df = _docs(spark, [(1, BASE), (2, BASE.replace("warm", "cold")), (3, "zz qq totally else")])
    got = {(r["a"], r["b"]): r["jaccard"] for r in ngram_jaccard_pairs(df, threshold=0.5).collect()}
    assert (1, 2) in got and got[(1, 2)] > 0.8


def _vec(i, dim=8):
    # unit-ish deterministic vectors; vec 0 and 1 nearly parallel
    base = [math.sin(0.5 * d + i * 0.02) for d in range(dim)]
    return [float(x) for x in base]


def test_cosine_topk_bruteforce(spark):
    corpus = spark.createDataFrame(
        [(i, _vec(i)) for i in range(50)], schema="vec_id long, embedding array<float>"
    )
    queries = spark.createDataFrame(
        [(0, _vec(0))], schema="query_id long, embedding array<float>"
    )
    got = cosine_topk_bruteforce(corpus, queries, k=3).orderBy("rank").collect()
    assert [r["vec_id"] for r in got][0] == 0  # self is nearest
    assert got[0]["cos"] == 1.0
    assert len(got) == 3


def test_lsh_topk_agrees_on_self(spark):
    corpus = spark.createDataFrame(
        [(i, _vec(i)) for i in range(50)], schema="vec_id long, embedding array<float>"
    )
    queries = spark.createDataFrame(
        [(0, _vec(0)), (1, _vec(25))], schema="query_id long, embedding array<float>"
    )
    got = lsh_cosine_topk(corpus, queries, k=3, dim=8).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    assert min(r["rank"] for r in by_q[0]) == 1
    top0 = [r for r in by_q[0] if r["rank"] == 1][0]
    assert top0["vec_id"] == 0 and top0["cos"] == 1.0


def test_embedding_near_duplicates(spark):
    rows = [(i, _vec(i)) for i in range(10)] + [(100, _vec(0))]  # 100 dups 0
    corpus = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    pairs = {(r["a"], r["b"]): r["cos"] for r in embedding_near_duplicates(corpus, dim=8).collect()}
    assert (0, 100) in pairs and pairs[(0, 100)] == 1.0


def test_shingles_short_docs_do_not_crash(spark):
    """Regression (round-2 advice): docs with fewer than n tokens/chars made
    F.sequence descend and slice()/substring() blow up or emit a spurious ''
    gram — short and empty docs must yield empty shingle sets and no pairs."""
    from gnosis_ocr_spark.functions.dedup import char_ngrams, word_shingles

    df = _docs(
        spark,
        [(1, ""), (2, "one"), (3, "two words"), (4, "now three tokens here"),
         (5, "now three tokens here")],
    )
    sh = {
        r["doc_id"]: r["sh"]
        for r in df.select("doc_id", word_shingles(F.col("text")).alias("sh")).collect()
    }
    assert sh[1] == [] and sh[2] == [] and sh[3] == []
    assert sh[4] == ["now three tokens", "three tokens here"]

    ng = {
        r["doc_id"]: r["ng"]
        for r in df.select("doc_id", char_ngrams(F.col("text"), n=3).alias("ng")).collect()
    }
    assert ng[1] == [] and "" not in ng[2]

    # the full pipelines run without error and pair only the real duplicates
    pairs = minhash_near_duplicates(df, threshold=1.0).select("a", "b").collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(4, 5)}
    jac = ngram_jaccard_pairs(df, threshold=0.99).select("a", "b").collect()
    assert {(r["a"], r["b"]) for r in jac} == {(4, 5)}


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


def test_connected_components_path_graph(spark):
    """Multi-hop convergence: a path 0-1-2-...-9 needs the min label to walk
    the full diameter (one hop per round), plus a disjoint pair and triangle."""
    from gnosis_ocr_spark.functions.dedup import connected_components

    edges = [(i, i + 1) for i in range(9)]  # path 0..9
    edges += [(100, 101), (200, 201), (201, 202), (200, 202)]  # pair + triangle
    df = spark.createDataFrame(edges, schema="a long, b long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert all(got[i] == 0 for i in range(10))
    assert got[100] == got[101] == 100
    assert got[200] == got[201] == got[202] == 200


def test_duplicate_clusters_end_to_end(spark):
    """Three verbatim copies of one doc + two of another → two clusters
    keyed by the smallest doc_id; the unique doc emits nothing."""
    from gnosis_ocr_spark.functions.dedup import duplicate_clusters

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),
        (3, "alpha beta gamma delta epsilon"),
        (10, "one two three four five six"),
        (11, "one two three four five six"),
        (99, "completely unique document text here"),
    ]
    df = _docs(spark, rows)
    got = {r["id"]: r["component"] for r in duplicate_clusters(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_duplicate_clusters_releases_sketches_on_failure(
    spark, monkeypatch, persisted_rdd_ids
):
    """A components step that raises must not leak the eagerly persisted
    sketch blocks into the session."""
    import pytest

    from gnosis_ocr_spark.functions import dedup

    def boom(edges, **kwargs):
        raise RuntimeError("components failed")

    monkeypatch.setattr(dedup, "connected_components", boom)
    df = _docs(spark, [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")])
    before = persisted_rdd_ids()
    with pytest.raises(RuntimeError, match="components failed"):
        dedup.duplicate_clusters(df)
    assert persisted_rdd_ids() == before


def test_duplicate_clusters_tricky_regimes(spark):
    """duplicate_clusters' full (id, component) set on a corpus exercising
    every tricky regime: verbatim mega-group, exact groups whose DISTINCT
    texts share one shingle set (token permutations joining two exact
    groups into one component), short docs (< 3 tokens: exact-dup
    territory, never near-dup), NULL text, whitespace-variant copies (same
    token sequence after normalization), and a unique doc."""
    from gnosis_ocr_spark.functions.dedup import duplicate_clusters

    rows = [
        # verbatim mega-group (5 members)
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),
        (3, "alpha beta gamma delta epsilon"),
        (4, "alpha beta gamma delta epsilon"),
        (5, "alpha beta gamma delta epsilon"),
        # two exact groups, different texts, SAME distinct shingle set:
        # 'x y z x y z' and 'x y z x y z x y z' share {x y z, y z x, z x y}
        (20, "x y z x y z"),
        (21, "x y z x y z"),
        (30, "x y z x y z x y z"),
        # whitespace-variant copy: same fingerprint after normalization
        (40, "one  two\tthree four"),
        (41, "one two three four"),
        # short docs (2 tokens): exact dups but never near-dups
        (50, "hi there"),
        (51, "hi there"),
        # NULL text and a unique doc
        (60, None),
        (99, "completely unique document text here"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = {(r["id"], r["component"])
           for r in duplicate_clusters(df).collect()}
    assert got == (
        {(i, 1) for i in range(1, 6)}           # mega-group
        | {(20, 20), (21, 20), (30, 20)}        # permutation merge
        | {(40, 40), (41, 40)}                  # whitespace variant
    )  # short docs (50, 51), NULL text (60) and the unique doc (99) absent


def test_pii_redaction_order_and_counts(spark):
    """A URL containing an @ must redact as one <URL> token (no dangling
    <EMAIL> fragment); standalone addresses redact separately."""
    from gnosis_ocr_spark.functions.text import pii_counts, redact_pii

    rows = [
        (1, "mail me at a.b+c@x.org or see https://u@host.example/path ok"),
        (2, "no contact info in this one"),
        (3, "two mails p@q.io and r@s.co plus http://plain.example"),
    ]
    df = _docs(spark, rows)
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", redact_pii(F.col("text")).alias("red"), *pii_counts(F.col("text"))
        ).collect()
    }
    assert got[1]["red"] == "mail me at <EMAIL> or see <URL> ok"
    assert (got[1]["n_urls"], got[1]["n_emails"]) == (1, 1)
    assert got[2]["red"] == rows[1][1] and got[2]["n_emails"] == 0
    assert (got[3]["n_urls"], got[3]["n_emails"]) == (1, 2)


def test_repetition_ratio(spark):
    """2-gram repetition: 'spam spam spam spam' has 3 bigrams, 1 distinct →
    rep = 2/3 → 6667 bp; fully distinct text → 0; short docs → 0."""
    from gnosis_ocr_spark.functions.text import repetition_bp

    rows = [(1, "spam spam spam spam"), (2, "all words are different here"), (3, "one")]
    got = {
        r["doc_id"]: r["bp"]
        for r in _docs(spark, rows).select(
            "doc_id", repetition_bp(F.col("text")).alias("bp")
        ).collect()
    }
    assert got == {1: 6667, 2: 0, 3: 0}


def test_chunk_documents_window_semantics(spark):
    """Sliding-window chunking: stride = chunk − overlap, last chunk short,
    single-window docs emit one chunk, empty docs emit nothing."""
    from gnosis_ocr_spark.functions.text import chunk_documents

    rows = [
        (1, " ".join(f"w{i}" for i in range(10))),  # 10 toks, chunk 4 ov 1
        (2, "a b c"),                                # fits one window
        (3, ""),                                     # nothing
    ]
    df = _docs(spark, rows)
    got = sorted(
        (r["doc_id"], r["chunk_no"], r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    )
    # doc 1: stride 3 → starts 0,3,6,9 → nc = 1+ceil(6/3)=3 → starts 0,3,6
    assert got == [
        (1, 0, "w0 w1 w2 w3", 4),
        (1, 1, "w3 w4 w5 w6", 4),
        (1, 2, "w6 w7 w8 w9", 4),
        (2, 0, "a b c", 3),
    ]


def test_sampling_determinism_and_caps(spark):
    """Hash splits are pure functions of the key (stable across runs and
    dataset growth); per-group caps keep exactly max_rows deterministically."""
    from gnosis_ocr_spark.functions.sampling import (
        cap_per_group,
        sample_fraction,
        split_assign,
    )

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.col("id").cast("string").alias("key"),
        (F.col("id") % 7).cast("string").alias("host"),
    )
    s1 = {r["doc_id"]: r["s"] for r in df.select("doc_id", split_assign(F.col("key")).alias("s")).collect()}
    s2 = {r["doc_id"]: r["s"] for r in df.select("doc_id", split_assign(F.col("key")).alias("s")).collect()}
    assert s1 == s2
    counts = {v: list(s1.values()).count(v) for v in set(s1.values())}
    assert counts["train"] > 900 and 0 < counts["val"] < 50 and 0 < counts["test"] < 50
    # growing the dataset never moves an existing key's split
    half = {k: v for k, v in s1.items() if k < 500}
    s_half = {
        r["doc_id"]: r["s"]
        for r in df.filter(F.col("doc_id") < 500)
        .select("doc_id", split_assign(F.col("key")).alias("s")).collect()
    }
    assert s_half == half

    capped = cap_per_group(df, "host", "key", max_rows=5)
    per_host = {r["host"]: r["n"] for r in capped.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert all(n == 5 for n in per_host.values())

    frac = sample_fraction(df, "key", keep_pm=100).count()
    assert 50 < frac < 200  # ~10% of 1000


def test_gopher_gate_boundaries(spark):
    """The extended Gopher gates fire on their published conditions:
    symbol-heavy, bullet-list, ellipsis-line, and non-alphabetic docs."""
    from gnosis_ocr_spark.functions.text import gopher_flags

    good = " ".join(["word"] * 60)
    rows = [
        (1, good),
        (2, " ".join(["word #"] * 60)),                 # symbol ratio > 0.1
        (3, "\n".join(["- item one two"] * 10)),        # all lines bulleted
        (4, "\n".join(["trailing line..."] * 10)),      # all lines ellipsis
        (5, " ".join(["12345"] * 60)),                  # no alphabetic words
        (6, "\n".join(["unicode trailing\u2026"] * 10)),  # typographic ellipsis
    ]
    df = _docs(spark, rows)
    got = {r["doc_id"]: r.asDict() for r in df.select("doc_id", *gopher_flags(F.col("text"))).collect()}
    assert all(got[1][k] for k in got[1] if k.startswith("ok_"))
    assert not got[2]["ok_symbol_ratio"] and got[2]["ok_word_count"]
    assert not got[3]["ok_bullet_lines"]
    assert not got[4]["ok_ellipsis_lines"]
    assert not got[5]["ok_alpha_words"]
    assert not got[6]["ok_ellipsis_lines"] and not got[6]["ok_symbol_ratio"]


def test_connected_components_long_chain_converges(spark):
    """A 100-node path has diameter 99 — naive min-propagation needs ~99
    rounds, far over the 25-round budget; the pointer-jumping step must
    converge it (O(log d)) and label every node with the chain head."""
    from gnosis_ocr_spark.functions.dedup import connected_components

    edges = [(i, i + 1) for i in range(99)]
    df = spark.createDataFrame(edges, schema="a long, b long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert len(got) == 100 and set(got.values()) == {0}


def test_connected_components_edge_plan_materialized_and_cleaned(
    spark, persisted_rdd_ids
):
    """r6 optimization internals: the symmetrized edge set is checkpointed
    ONCE (every propagation round used to re-execute the whole upstream
    edge-generation plan), and its blocks are unpersisted on return — only
    the final label table may stay pinned. Exercised through a non-trivial
    lazy edge plan (join + union) over a multi-round graph."""
    from gnosis_ocr_spark.functions.dedup import connected_components

    before = persisted_rdd_ids()
    left = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], schema="a long, b long"
    )
    names = spark.createDataFrame(
        [(i, f"n{i}") for i in range(25)], schema="a long, name string"
    )
    edges = left.join(names, "a").select("a", "b").unionByName(
        spark.createDataFrame([(50, 51)], schema="a long, b long")
    )
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert all(got[i] == 0 for i in range(21)) and got[51] == 50
    # at most the final label table survives this call
    assert len(persisted_rdd_ids() - before) <= 1


def test_duplicate_clusters_sketch_checkpoint_cleaned(spark, persisted_rdd_ids):
    """r6 optimization internals: duplicate_clusters materializes the
    shingle-sketch frame once (the star-edge plan references it three
    times) and drops its blocks before returning — only the final label
    table may stay pinned. Output equals the documented clustering
    contract on a mixed corpus (mega-group + near pair + singleton)."""
    from gnosis_ocr_spark.functions.dedup import duplicate_clusters

    before = persisted_rdd_ids()
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(6)]
    rows += [(10, "one two three four five six"), (11, "one two three four five six")]
    rows += [(20, "a lonely unrelated document body here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["id"]: r["component"] for r in duplicate_clusters(df, threshold=1.0).collect()}
    assert all(got[i] == 0 for i in range(6))
    assert got[10] == 10 and got[11] == 10
    assert 20 not in got  # singleton not emitted
    assert len(persisted_rdd_ids() - before) <= 1


def test_lang_id_extended_languages(spark):
    """es/it markers added round 2, pt/nl/sv/pl/tr round 3; the generated
    oracle CASE shares the marker table, so one sample sentence per language
    pins both sides."""
    rows = [
        (1, "el tiempo está bien y los días son largos con una brisa"),
        (2, "il tempo è bello e gli amici della città sono qui"),
        (3, "os livros não são caros e uma leitura vale como sempre"),
        (4, "het weer is mooi maar een wandeling is ook niet verkeerd"),
        (5, "solen skiner och det är varmt som att sommaren är här för oss"),
        (6, "to nie jest trudne bo przez praktykę oraz pracę się uczymy"),
        (7, "bu kitap çok güzel ve bir gün için ile okunabilir"),
    ]
    got = {r["doc_id"]: r["lg"] for r in _docs(spark, rows).select(
        "doc_id", lang_id(F.col("text")).alias("lg")).collect()}
    assert got == {1: "es", 2: "it", 3: "pt", 4: "nl", 5: "sv", 6: "pl", 7: "tr"}


def test_chunk_documents_matches_python_reference(spark):
    """Property: chunking agrees with a direct Python restatement of the
    sliding-window spec over varied token counts and window shapes."""
    from gnosis_ocr_spark.functions.text import chunk_documents

    def ref(text, chunk, overlap):
        toks = text.split()
        if not toks:
            return []
        stride = chunk - overlap
        n = len(toks)
        nc = 1 if n <= chunk else 1 + -(-(n - chunk) // stride)
        return [
            (i, " ".join(toks[i * stride : i * stride + chunk]),
             len(toks[i * stride : i * stride + chunk]))
            for i in range(nc)
        ]

    cases = [(i, " ".join(f"t{j}" for j in range(i * 7 % 60))) for i in range(30)]
    for chunk, overlap in [(8, 2), (5, 0), (16, 15)]:
        df = _docs(spark, cases)
        got = {}
        for r in chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect():
            got.setdefault(r["doc_id"], []).append(
                (r["chunk_no"], r["chunk_text"], r["n_tokens"])
            )
        for doc_id, text in cases:
            assert sorted(got.get(doc_id, [])) == ref(text, chunk, overlap), (
                doc_id, chunk, overlap
            )


def test_stable_hash_matches_python_md5_reference(spark):
    """The sampling hash must equal int(md5(key)[:15], 16) — the engine-
    portable contract the DuckDB oracle reproduces."""
    import hashlib

    from gnosis_ocr_spark.functions.sampling import stable_hash

    keys = [str(i) for i in range(50)] + ["", "a b", "ünïcode"]
    df = spark.createDataFrame([(k,) for k in keys], schema="k string")
    got = {r["k"]: r["h"] for r in df.select("k", stable_hash(F.col("k")).alias("h")).collect()}
    for k in keys:
        expect = int(hashlib.md5(k.encode("utf-8")).hexdigest()[:15], 16)
        assert got[k] == expect, k


def test_hot_window_spans_matches_python_reference(spark):
    """hot_window_spans vs a direct Python implementation of winnow → hot
    doc-frequency → gaps-and-islands, on a corpus where ONLY the injected
    shared prefix can be hot (suffixes use doc-unique tokens)."""
    import hashlib

    from gnosis_ocr_spark.functions.text import hot_window_spans

    prefix = "shared boilerplate banner subscribe footer "
    texts = {
        i: prefix + " ".join(f"uniq{i}tok{t}" for t in range(12))
        for i in range(1, 5)
    }
    texts[9] = "completely unrelated document " + " ".join(
        f"only9tok{t}" for t in range(12)
    )

    def py_spans(all_texts, k=8, window=4, max_chars=120, min_docs=3, gap=4):
        import re
        wins = {}  # doc -> {j: fp}
        for d, t in all_texts.items():
            s = re.sub(r"\s+", " ", t.strip()).lower()[:max_chars]
            grams = [hashlib.md5(s[i:i + k].encode()).hexdigest()
                     for i in range(len(s) - k + 1)]
            wins[d] = {
                j + 1: min(grams[j:j + window])
                for j in range(len(grams) - window + 1)
            }
        from collections import Counter
        dfreq = Counter()
        for d, w in wins.items():
            for fp in set(w.values()):
                dfreq[fp] += 1
        hot = {fp for fp, c in dfreq.items() if c >= min_docs}
        out = set()
        for d, w in wins.items():
            js = sorted(j for j, fp in w.items() if fp in hot)
            run = []
            for j in js:
                if run and j - run[-1] > gap:
                    out.add((d, run[0], run[-1], len(run)))
                    run = []
                run.append(j)
            if run:
                out.add((d, run[0], run[-1], len(run)))
        return out

    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in hot_window_spans(df, min_docs=3).collect()
    }
    want = py_spans(texts)
    assert got == want
    # the 4 prefix-sharing docs each have ≥1 span; the unrelated doc none
    assert {d for d, *_ in got} == {1, 2, 3, 4}
    # every doc's EARLIEST span starts at the document head (the shared
    # prefix); later spans may exist because "tokN " substrings also repeat
    # across the suffixes — exactly what the operator is meant to find
    earliest = {}
    for d, s, _, _ in got:
        earliest[d] = min(earliest.get(d, s), s)
    assert all(v == 1 for v in earliest.values())


def test_decontaminate_ngram_overlap(spark):
    """A train doc sharing any word n-gram with a bench doc is contaminated;
    n_hits counts DISTINCT overlapping train-doc shingles; short docs
    (< n tokens) are trivially clean."""
    from gnosis_ocr_spark.functions.dedup import decontaminate

    train = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),  # verbatim bench twin
            (2, "zeta eta theta iota kappa"),       # clean
            (3, "xx alpha beta gamma yy"),          # shares 3-gram "alpha beta gamma"
            (4, "tiny doc"),                        # < n tokens -> clean
        ],
    )
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon")])
    got = {
        r["doc_id"]: (r["n_hits"], r["contaminated"])
        for r in decontaminate(train, bench, n=3).collect()
    }
    assert got == {1: (3, True), 2: (0, False), 3: (1, True), 4: (0, False)}


def _gopher_py(text):
    """Plain-Python reference for gopher_repetition's spec (independent of
    Spark): returns the 13 bp metrics for one document."""
    import re
    from collections import Counter

    def bp(num, den):
        return int(round(round(num / max(den, 1), 4) * 10000))

    def seg_stats(segs):
        segs = [s.strip() for s in segs]
        segs = [s for s in segs if s]
        seen, dup_n, dup_c = set(), 0, 0
        for s in segs:
            if s in seen:
                dup_n += 1
                dup_c += len(s)
            else:
                seen.add(s)
        total_c = sum(len(s) for s in segs)
        return bp(dup_n, len(segs)), bp(dup_c, total_c)

    lines = seg_stats(text.split("\n"))
    paras = seg_stats(re.split(r"\n\s*\n", text))
    toks = text.strip().lower().split() if text.strip() else []
    total = sum(len(t) for t in toks)
    out = list(lines) + list(paras)
    for n in (2, 3, 4):
        grams = Counter(
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        )
        if grams:
            # argmax by (count desc, chars desc, gram asc) — the documented
            # deterministic tie-break, NOT max(count * chars)
            g = min(grams, key=lambda g: (-grams[g], -(len(g) - (n - 1)), g))
            out.append(bp(grams[g] * (len(g) - (n - 1)), total))
        else:
            out.append(0)
    for n in range(5, 11):
        grams = Counter(
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        )
        covered = set()
        for i in range(len(toks) - n + 1):
            if grams[" ".join(toks[i : i + n])] > 1:
                covered.update(range(i, i + n))
        out.append(bp(sum(len(toks[p]) for p in covered), total))
    return out


def test_gopher_repetition_matches_python_reference(spark):
    from gnosis_ocr_spark.functions.text import gopher_repetition

    import random

    rng = random.Random(7)
    vocab = ["spark", "data", "the", "of", "row", "table", "x1", "longword"]
    docs = []
    for i in range(20):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 40))]
        # splice in literal repeats so dup grams provably fire
        if i % 3 == 0 and len(words) >= 12:
            words[6:12] = words[0:6]
        body = " ".join(words)
        if i % 4 == 0:
            body = body + "\nfooter line\nfooter line\n\n" + body
        docs.append((i, body))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: list(r)[1:] for r in gopher_repetition(df).collect()}
    for i, text in docs:
        assert got[i] == _gopher_py(text), f"doc {i}: {got[i]} vs {_gopher_py(text)}"


def test_gopher_repetition_interval_union_fold(spark):
    """Pin the r6 prefix-sum interval-union fold (dup_{n}gram_bp) against
    the plain-Python position-marking reference on island shapes the fold
    must merge correctly: overlapping occurrences (spliced repeats),
    adjacent islands (tail repeat meets head), heavy periodic repetition
    (every position covered), and multi-word-length tokens (char weights
    differ per position)."""
    import random

    from gnosis_ocr_spark.functions.text import gopher_repetition

    rng = random.Random(11)
    vocab = ["a", "bb", "ccc", "dddd", "w", "xy", "longword", "z9"]
    docs = []
    for i in range(24):
        words = [rng.choice(vocab) for _ in range(rng.randint(8, 50))]
        if i % 2 == 0 and len(words) >= 12:
            words[6:12] = words[0:6]  # overlapping dup occurrences
        if i % 3 == 0 and len(words) >= 8:
            words = words + words[:8]  # adjacent islands at the seam
        if i % 5 == 0:
            words = words[:4] * 7  # periodic: one island covers the doc
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: list(r)[1:] for r in gopher_repetition(df).collect()}
    for i, text in docs:
        assert got[i] == _gopher_py(text), f"doc {i}: {got[i]} vs {_gopher_py(text)}"


def test_gopher_repetition_hand_values(spark):
    from gnosis_ocr_spark.functions.text import gopher_repetition

    df = spark.createDataFrame(
        [(1, "a b c d e a b c d e"), (2, "l1\nl1\n\npara\n\npara"), (3, "")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_repetition(df).collect()}
    # doc 1: 10 one-char tokens; "a b" ×2 → 4/10; the whole 5-gram repeats →
    # every position covered
    assert got[1]["top_2gram_bp"] == 4000
    assert got[1]["top_3gram_bp"] == 6000
    assert got[1]["top_4gram_bp"] == 8000
    assert got[1]["dup_5gram_bp"] == 10000
    assert got[1]["dup_6gram_bp"] == 0
    # doc 2: lines [l1,l1,para,para] → 2/4 dup, 6/12 dup chars;
    # paras [l1\nl1, para, para] → 1/3 dup, 4/13 dup chars
    assert got[2]["dup_line_bp"] == 5000
    assert got[2]["dup_line_char_bp"] == 5000
    assert got[2]["dup_para_bp"] == 3333
    assert got[2]["dup_para_char_bp"] == 3077
    # empty doc: all zeros
    assert all(v == 0 for k, v in got[3].items() if k != "doc_id")


def test_quality_classifier_matches_python_reference(spark):
    """Spark hashed-linear scorer vs a plain-Python reimplementation of the
    same spec (md5 hashing trick, unigram+bigram, integer centi-weights)."""
    import hashlib

    from gnosis_ocr_spark.functions.classifier import quality_score

    def py_score(text):
        toks = text.strip().lower().split() if text.strip() else []
        feats = toks + [f"{a}_{b}" for a, b in zip(toks, toks[1:])]
        if not feats:
            return (0, 0, False)
        sc = 0
        for f in feats:
            b = int(hashlib.md5(f.encode()).hexdigest()[:15], 16) % 4096
            sc += (b * 37 + 11) % 201 - 100
        logit_bp = int(round(round(sc / (100 * len(feats)), 4) * 10000))
        return (len(feats), logit_bp, sc > 0)

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "spark shuffles and joins and windows"),
        (3, "single"),
        (4, ""),
        (5, "a a a a a a"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_feats"], r["logit_bp"], r["keep"])
        for r in quality_score(df).collect()
    }
    for i, text in docs:
        assert got[i] == py_score(text), f"doc {i}"


def test_quality_classifier_trained_weight_seam(spark):
    """The weights-table path (broadcast join) must override the demo
    expression: an all-positive table keeps everything, all-negative drops."""
    from gnosis_ocr_spark.functions.classifier import quality_score

    df = spark.createDataFrame(
        [(1, "some words here"), (2, "other text entirely")], ["doc_id", "text"]
    )
    n = 4096
    pos = spark.createDataFrame(
        [(b, 50) for b in range(n)], ["bucket", "weight_c"]
    )
    neg = spark.createDataFrame(
        [(b, -50) for b in range(n)], ["bucket", "weight_c"]
    )
    got_pos = {r["doc_id"]: (r["keep"], r["logit_bp"])
               for r in quality_score(df, weights=pos).collect()}
    got_neg = {r["doc_id"]: (r["keep"], r["logit_bp"])
               for r in quality_score(df, weights=neg).collect()}
    assert all(k and bp == 5000 for k, bp in got_pos.values())
    assert all((not k) and bp == -5000 for k, bp in got_neg.values())


def test_gopher_repetition_hypothesis_style_sweep(spark):
    """Randomized sweep (fixed seeds, one Spark round-trip for all cases)
    against the plain-Python reference: newline/paragraph structure, forced
    gram repeats, unicode words, and degenerate whitespace."""
    import random

    docs = []
    idx = 0
    for seed in range(6):
        rng = random.Random(1000 + seed)
        vocab = ["a", "bb", "ccc", "dddd", "naïve", "токен", "x"]
        for _ in range(5):
            n_words = rng.randint(0, 60)
            words = [rng.choice(vocab) for _ in range(n_words)]
            if n_words >= 14 and rng.random() < 0.7:
                start = rng.randint(0, n_words - 14)
                words[start + 7 : start + 14] = words[start : start + 7]
            text = " ".join(words)
            mode = rng.randint(0, 3)
            if mode == 1:
                text = text + "\n" + text
            elif mode == 2:
                text = text.replace(" ", "\n", 3) + "\n\n" + text
            elif mode == 3:
                text = "  \n " + text + " \n\n\n"
            docs.append((idx, text))
            idx += 1
    from gnosis_ocr_spark.functions.text import gopher_repetition

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: list(r)[1:] for r in gopher_repetition(df).collect()}
    for i, text in docs:
        assert got[i] == _gopher_py(text), f"doc {i} text={text!r}"


def test_unigram_lm_score_matches_python_reference(spark):
    """Spark self-trained unigram LM vs a plain-Python reimplementation:
    same counts, same add-one smoothing, same per-token millibel rounding."""
    import math
    from collections import Counter

    from gnosis_ocr_spark.functions.classifier import unigram_lm_score

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "zyx qwv unique gibberish tokens"),
        (4, ""),
        (5, "the the the the"),
    ]
    toks_by_doc = {i: t.strip().lower().split() if t.strip() else [] for i, t in docs}
    counts = Counter(t for ts in toks_by_doc.values() for t in ts)
    n_total, v_size = sum(counts.values()), len(counts)
    logp_mb = {
        t: int(round(math.log((c + 1.0) / (n_total + v_size)) * 1000))
        for t, c in counts.items()
    }
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in unigram_lm_score(df).collect()}
    for i, _ in docs:
        toks = toks_by_doc[i]
        want_sum = sum(logp_mb[t] for t in toks)
        assert got[i]["n_tokens"] == len(toks)
        assert got[i]["sum_logp_mb"] == want_sum, f"doc {i}"
        # zero-token docs fail the gate (review fix: 0 >= -9000*0 was
        # vacuously true, passing empty docs through the LM filter)
        assert got[i]["keep_lm"] == (
            len(toks) > 0 and want_sum >= -9000 * len(toks)
        )
    # the common-vocabulary docs must outscore the gibberish one per token
    mean = lambda i: got[i]["sum_logp_mb"] / max(got[i]["n_tokens"], 1)  # noqa: E731
    assert mean(1) > mean(3) and mean(2) > mean(3)


def test_pack_sequences_invariants(spark):
    """Within every shard, (bin_id, bin_offset) is exactly the running token
    prefix in (hash, key) order; values reproduce across partitioning."""
    import hashlib

    from gnosis_ocr_spark.functions.sampling import pack_sequences

    docs = [(i, " ".join(["w"] * (i % 17))) for i in range(60)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in pack_sequences(
        df, seq_len=32, n_shards=4).collect()}

    def h(k):
        return int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)

    by_shard = {}
    for i, text in docs:
        by_shard.setdefault(h(i) % 4, []).append(i)
    for sh, ids in by_shard.items():
        pos = 0
        for i in sorted(ids, key=lambda i: (h(i), str(i))):
            n = len(docs[i][1].split()) if docs[i][1].strip() else 0
            r = got[i]
            assert (r["shard"], r["n_tokens"]) == (sh, n)
            assert r["bin_id"] == pos // 32 and r["bin_offset"] == pos % 32, i
            pos += n
    # repartitioning the input must not change a single assignment
    got2 = {r["doc_id"]: r.asDict() for r in pack_sequences(
        df.repartition(13), seq_len=32, n_shards=4).collect()}
    assert got2 == got


def test_pack_sequences_parallelism_guard(spark):
    """Round-4 VERDICT nit #1: the per-shard packing window is the one
    non-doc-keyed exchange in the training path — n_shards must scale
    with the corpus. derive_n_shards sizes it; approx_rows without enough
    shards warns loudly; passing approx_rows must NOT change the packing
    for a fixed n_shards."""
    import warnings

    import pytest

    from gnosis_ocr_spark.functions.sampling import (
        ROWS_PER_SHARD_WARN,
        derive_n_shards,
        pack_sequences,
    )

    # sizing math: proportional above the floor, floored below
    assert derive_n_shards(10**12, 1_000_000) == 10**6
    assert derive_n_shards(100, 1_000_000) == 64
    assert derive_n_shards(65_000_000, 1_000_000, min_shards=64) == 65
    with pytest.raises(ValueError):
        derive_n_shards(-1)

    docs = [(i, "alpha beta gamma") for i in range(40)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    base = {r["doc_id"]: r.asDict()
            for r in pack_sequences(df, seq_len=8, n_shards=4).collect()}

    # approx_rows alone (within budget): no warning, identical packing
    with warnings.catch_warnings():
        # UserWarning only: pack_sequences' category. A blanket filter
        # also turns a GC-time ResourceWarning for an unclosed py4j
        # socket, PySpark's own, into an unraisable-exception warning.
        warnings.simplefilter("error", UserWarning)
        same = {r["doc_id"]: r.asDict()
                for r in pack_sequences(df, seq_len=8, n_shards=4,
                                        approx_rows=40).collect()}
    assert same == base

    # too few shards for the declared corpus: loud warning, still correct
    with pytest.warns(UserWarning, match="bottleneck"):
        pack_sequences(df, seq_len=8, n_shards=4,
                       approx_rows=4 * ROWS_PER_SHARD_WARN + 1)

    # derived sharding: target produces ceil(rows/target) shards (>= floor)
    derived = pack_sequences(df, seq_len=8, n_shards=2, approx_rows=40,
                             target_rows_per_shard=10)
    shards = {r["shard"] for r in derived.collect()}
    assert shards <= set(range(4)) and len(shards) > 1


def test_remove_hot_spans_cuts_boilerplate_keeps_unique_tail(spark):
    """Docs sharing a boilerplate prefix lose exactly the hot region; text
    past the fingerprinted prefix (max_chars) and unique docs pass through;
    cut accounting is exact."""
    from gnosis_ocr_spark.functions.text import remove_hot_spans

    boiler = "subscribe to our newsletter footer boilerplate banner "  # 54ch
    tails = [
        "quantum gardening manual volume seven",
        "medieval cheese taxonomy reference",
        "submarine orchestra rehearsal notes",
        "volcanic pottery kiln temperature log",
    ]
    docs = [(i, boiler + t) for i, t in enumerate(tails)]
    docs.append((99, "entirely unrelated content with its own vocabulary set"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in remove_hot_spans(df, min_docs=3).collect()}
    # unique doc: untouched (normalized)
    assert got[99]["n_cut_chars"] == 0
    assert got[99]["text_clean"] == docs[-1][1]
    # boilerplate docs: the shared prefix region is gone, the unique tail
    # (distinct vocab per doc -> no hot windows there) survives
    for i, t in enumerate(tails):
        clean = got[i]["text_clean"]
        assert "subscribe to our newsletter" not in clean
        assert clean != "" and clean in (boiler + t).lower()
        assert got[i]["n_cut_chars"] == len(boiler + t) - len(clean)
        # the surviving text is a SUFFIX of the original tail region
        assert (boiler + t).lower().endswith(clean)


def test_mixture_sample_and_token_caps(spark):
    import hashlib

    from gnosis_ocr_spark.functions.sampling import (
        cap_tokens_per_group,
        mixture_sample,
    )

    rows = [(f"d{i}", "web" if i % 2 == 0 else "wiki", 10 + i % 5)
            for i in range(200)]
    df = spark.createDataFrame(rows, ["key", "domain", "n_tokens"])

    def bucket(k):
        return int(hashlib.md5(k.encode()).hexdigest()[:15], 16) % 1000

    got = {r["key"] for r in mixture_sample(
        df, "domain", "key", {"web": 300}).collect()}
    for k, d, _ in rows:
        want = bucket(k) < (300 if d == "web" else 1000)
        assert (k in got) == want, k

    capped = cap_tokens_per_group(df, "domain", "key", "n_tokens", 150)
    by_dom = {}
    for r in capped.collect():
        by_dom.setdefault(r["domain"], []).append(r)
    for dom, rs in by_dom.items():
        total = sum(r["n_tokens"] for r in rs)
        # budget is a floor: total reaches >= 150, and removing the LAST
        # doc in hash order drops it under
        assert total >= 150
        rs_sorted = sorted(
            rs, key=lambda r: (
                int(hashlib.md5(r["key"].encode()).hexdigest()[:15], 16),
                r["key"]))
        assert total - rs_sorted[-1]["n_tokens"] < 150
    # determinism under repartitioning
    again = {r["key"] for r in cap_tokens_per_group(
        df.repartition(7), "domain", "key", "n_tokens", 150).collect()}
    assert again == {r["key"] for rs in by_dom.values() for r in rs}


def test_quantized_cosine_topk_tracks_exact(spark):
    """int8 quantization: roundtrip error bounded, integer dot exact, and
    quantized top-k agrees with exact brute force on a spread-out corpus."""
    from gnosis_ocr_spark.functions.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_quantized,
        quantize_embeddings,
    )

    corpus = spark.createDataFrame(
        [(i, _vec(i * 3)) for i in range(40)],
        schema="vec_id long, embedding array<float>",
    )
    # roundtrip error ≤ scale/2 per component
    for r in quantize_embeddings(corpus).collect():
        scale, q = r["scale"], r["qvec"]
        assert all(-127 <= x <= 127 for x in q)
    queries = spark.createDataFrame(
        [(0, _vec(0)), (1, _vec(60))],
        schema="query_id long, embedding array<float>",
    )
    exact = {(r["query_id"], r["rank"]): r["vec_id"]
             for r in cosine_topk_bruteforce(corpus, queries, k=3).collect()}
    quant = {(r["query_id"], r["rank"]): r["vec_id"]
             for r in cosine_topk_quantized(corpus, queries, k=3).collect()}
    # rank-1 must agree (self-ish match is far above quantization noise)
    assert exact[(0, 1)] == quant[(0, 1)]
    assert exact[(1, 1)] == quant[(1, 1)]
    # zero vector handled
    z = spark.createDataFrame([(9, [0.0] * 8)],
                              schema="vec_id long, embedding array<float>")
    rz = quantize_embeddings(z).collect()[0]
    assert rz["scale"] == 0.0 and all(x == 0 for x in rz["qvec"])


def test_lang_id_script_languages_and_sql_parity(spark):
    """Round 5: the script pre-gate labels the non-Latin web (zh/ja/ko/ru/
    ar/he/el/th/hi); Latin-script text still takes the marker path
    bit-identically. The generated DuckDB CASE (lang_case_sql) is run on
    the SAME rows via duckdb — both engines must agree on every row, the
    same parity-by-construction contract the marker table has."""
    import duckdb
    import pandas as pd

    from gnosis_ocr_spark.functions.text import lang_case_sql

    rows = [
        (1, "这是一个关于机器学习的简单说明文档", "zh"),
        (2, "これは日本語のテキストです。機械学習の説明。", "ja"),
        # kanji-heavy Japanese: Han outnumbers kana, the KANA_WEIGHT wins
        (3, "東京都区部の人口統計表ですが、これを見てください", "ja"),
        (4, "이것은 한국어로 작성된 간단한 문서입니다", "ko"),
        (5, "это простой документ на русском языке для проверки", "ru"),
        (6, "هذه وثيقة بسيطة باللغة العربية للاختبار", "ar"),
        (7, "זהו מסמך פשוט בעברית לבדיקה", "he"),
        (8, "αυτό είναι ένα απλό έγγραφο στα ελληνικά", "el"),
        (9, "นี่คือเอกสารภาษาไทยอย่างง่าย", "th"),
        (10, "यह हिंदी में एक सरल दस्तावेज़ है", "hi"),
        # documented scope: Han-only fragments read zh
        (11, "機械学習", "zh"),
        # Latin majority with a few CJK chars: marker path, unchanged
        (12, "the quick brown fox 一只 jumps over the lazy dog and the end", "en"),
        (13, "der hund und die katze das ist gut", "de"),
        (14, "no markers here at all today", "und"),
    ]
    df = _docs(spark, [(i, t) for i, t, _ in rows])
    got = {
        r["doc_id"]: r["lg"]
        for r in df.select("doc_id", lang_id(F.col("text")).alias("lg")).collect()
    }
    want = {i: lang for i, _, lang in rows}
    assert got == want

    pdf = pd.DataFrame(
        {"doc_id": [i for i, _, _ in rows], "text": [t for _, t, _ in rows]}
    )
    con = duckdb.connect()
    con.register("docs", pdf)
    sql = f"""
        WITH t AS (
          SELECT doc_id, text,
                 regexp_split_to_array(lower(trim(text)), '\\s+') AS ltoks
          FROM docs
        )
        SELECT doc_id, {lang_case_sql("ltoks")} AS lg FROM t ORDER BY doc_id
    """
    oracle = {int(r[0]): r[1] for r in con.execute(sql).fetchall()}
    assert oracle == want


def test_segment_cjk_unlocks_dedup_and_gates_for_cjk(spark):
    """segment_cjk space-delimits Han/kana/Hangul so EVERY whitespace-
    tokenized operator works on space-free scripts compositionally — a
    zh near-dup pair that raw shingling cannot see (each doc is ONE
    whitespace token) is found by the unchanged minhash pipeline over
    the segmented column; token counts become per-character (the classic
    zh baseline); pure-Latin text passes through byte-identical."""
    from gnosis_ocr_spark.functions.dedup import minhash_near_duplicates
    from gnosis_ocr_spark.functions.text import segment_cjk, token_count

    zh_a = "机器学习模型在大规模数据上训练需要分布式计算框架支持并行处理"
    zh_b = "机器学习模型在大规模数据上训练需要分布式计算框架支持并行计算"  # 1 char差
    zh_c = "今天的天气很好我们一起去公园散步然后喝茶聊天看书写字画画休息"
    rows = [(1, zh_a), (2, zh_b), (3, zh_c), (4, "plain latin text stays put")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    seg = df.withColumn("seg", segment_cjk(F.col("text")))
    got = {r["doc_id"]: r for r in seg.select(
        "doc_id",
        token_count(F.col("seg")).alias("nt"),
        F.col("seg"),
    ).collect()}
    assert got[1]["nt"] == len(zh_a)          # per-character tokens
    assert got[4]["seg"] == "plain latin text stays put"  # Latin identity

    # raw text: every zh doc is ONE token -> no 3-word shingles -> no pairs
    raw_pairs = minhash_near_duplicates(df, threshold=0.5).collect()
    assert raw_pairs == []
    # segmented: the 1-char-apart pair (Jaccard >> 0.5) is found; the
    # unrelated zh doc is not paired with it
    seg_docs = seg.select("doc_id", F.col("seg").alias("text"))
    pairs = {(r["a"], r["b"]) for r in
             minhash_near_duplicates(seg_docs, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert all({a, b} != {1, 3} and {a, b} != {2, 3} for a, b in pairs)


def test_exact_duplicates_keeps_null_text_docs(spark):
    """NULL-text docs (failed extractions) stay in the output as non-dups
    with their own id — the null-rejecting join silently dropped them."""
    from gnosis_ocr_spark.functions.dedup import exact_duplicates

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, None), (4, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in exact_duplicates(df).collect()}
    assert len(got) == 4
    assert got[2]["is_dup"] and got[2]["canonical_id"] == 1
    assert not got[3]["is_dup"] and got[3]["canonical_id"] == 3
    assert not got[4]["is_dup"] and got[4]["canonical_id"] == 4


def test_sampling_salt_decorrelates_composed_selectors(spark):
    """The review-found composability trap: unsalted sample-then-split is
    degenerate (every survivor is 'train'); a salt restores independent
    decisions while the default stays oracle-pinned."""
    from gnosis_ocr_spark.functions.sampling import sample_fraction, split_assign

    df = spark.createDataFrame(
        [(i,) for i in range(4000)], "doc_id long"
    ).withColumn("k", F.col("doc_id").cast("string"))
    kept = sample_fraction(df, "k", keep_pm=100)
    unsalted = kept.select(split_assign(F.col("k")).alias("s"))
    assert {r["s"] for r in unsalted.distinct().collect()} == {"train"}
    salted = kept.select(split_assign(F.col("k"), salt="split:").alias("s"))
    assert {r["s"] for r in salted.distinct().collect()} == {"train", "val", "test"}


def test_zero_embeddings_are_not_near_duplicates(spark):
    """All-zero embeddings (failed encoders) have cosine 0 with everything
    — the identical-vector collapse must not report them as cos=1 pairs."""
    from gnosis_ocr_spark.functions.similarity import embedding_near_duplicates

    dim = 8
    rows = [(1, [0.0] * dim), (2, [0.0] * dim), (3, [1.0] + [0.0] * (dim - 1)),
            (4, [1.0] + [0.0] * (dim - 1))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r["a"], r["b"]) for r in embedding_near_duplicates(
        df, threshold=0.99, n_planes=4, dim=dim,
    ).collect()}
    assert (3, 4) in pairs
    assert all(1 not in p and 2 not in p for p in pairs)
