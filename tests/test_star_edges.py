"""Round-3 hot-bucket scale fixes (VERDICT r2 "What's wrong #1/#2"):

- identical-content mega-clusters must produce O(B) star edges, not O(B²)
  pairs, in every near-dup family;
- pair-reporting APIs take an explicit, LOGGED per-bucket cap;
- connected_components offers reliable (executor-loss-tolerant)
  checkpointing, and releases every checkpoint but the returned label
  table — on success and on failure.

The 10k-identical-doc test is the acceptance criterion from the verdict: it
would emit ~50M pairs under the round-2 topology (minutes/OOM); with star
edges it finishes in seconds with exactly B−1 edges.
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from gnosis_ocr_spark.functions.dedup import (
    cap_bucket_members,
    connected_components,
    duplicate_clusters,
    lsh_candidate_pairs,
    minhash_near_duplicates,
    minhash_signature,
    minhash_star_edges,
    shingle_sketches,
    simhash_near_duplicates,
)
from gnosis_ocr_spark.functions.similarity import embedding_near_duplicates

TEXT = (
    "the quick brown fox jumps over the lazy dog while the cat watches from "
    "the warm windowsill and the birds sing in the garden all afternoon long"
)


def _identical_docs(spark, n, text=TEXT):
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    )


def test_minhash_star_edges_identical_mega_cluster(spark):
    """10k byte-identical docs → exactly 9,999 verified star edges (rep 0),
    in seconds. The round-2 pair topology would emit 49,995,000 pairs."""
    df = _identical_docs(spark, 10_000)
    edges = minhash_star_edges(df, threshold=1.0)
    rows = edges.collect()
    assert len(rows) == 9_999
    assert all(r["a"] == 0 for r in rows)
    assert all(r["jaccard"] == 1.0 for r in rows)
    assert {r["b"] for r in rows} == set(range(1, 10_000))


def test_duplicate_clusters_star_mode_identical_mega_cluster(spark):
    df = _identical_docs(spark, 10_000)
    got = duplicate_clusters(df, threshold=1.0)
    comps = got.groupBy("component").count().collect()
    assert len(comps) == 1
    assert comps[0]["component"] == 0 and comps[0]["count"] == 10_000


def test_star_edges_match_pair_graph_on_mixed_corpus(spark):
    """The star-edge clustering must give the components of the full
    verified pair graph on a corpus mixing an identical-content cluster
    with distinct docs."""
    rows = [(i, TEXT) for i in range(50)]
    rows += [(100, "one two three four five six"), (101, "one two three four five six")]
    rows += [(999, "a completely unique document about spark shuffles")]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    star = {
        (r["id"], r["component"]) for r in duplicate_clusters(df).collect()
    }
    pair_graph = minhash_near_duplicates(df, threshold=1.0).select("a", "b")
    pairs = {
        (r["id"], r["component"])
        for r in connected_components(pair_graph).collect()
    }
    assert star == pairs
    assert (100, 100) in star and (101, 100) in star and (0, 0) in star


def test_simhash_identical_cluster_star_compressed(spark):
    df = _identical_docs(spark, 5_000)
    rows = simhash_near_duplicates(df, max_hamming=0).collect()
    assert len(rows) == 4_999
    assert all(r["a"] == 0 and r["hamming"] == 0 for r in rows)


def test_simhash_cross_group_pairs_survive_collapse(spark):
    """Distinct-signature docs within max_hamming must still pair through
    the rep joins after the identical-signature collapse."""
    near = TEXT.replace("warm", "cold")
    df = spark.createDataFrame(
        [(1, TEXT), (2, TEXT), (3, near)], schema="doc_id long, text string"
    )
    pairs = {(r["a"], r["b"]): r["hamming"] for r in
             simhash_near_duplicates(df, max_hamming=16).collect()}
    assert pairs[(1, 2)] == 0           # star edge inside the identical group
    assert (1, 3) in pairs and pairs[(1, 3)] > 0  # rep pair across groups


def test_embedding_near_dup_identical_cluster_star_compressed(spark):
    vec = [float(x) for x in range(8)]
    other = [1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0]
    rows = [(i, vec) for i in range(1_000)] + [(5_000, other)]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    got = embedding_near_duplicates(df, dim=8).collect()
    assert len(got) == 999
    assert all(r["a"] == 0 and r["cos"] == 1.0 for r in got)


def test_lsh_candidate_pairs_bucket_cap_logged(spark, caplog):
    """The pair-reporting API caps hot buckets deterministically and LOUDLY:
    100 identical docs with max_bucket_size=10 emit C(10,2)=45 pairs among
    the 10 smallest ids, and the truncation is logged."""
    sigs = minhash_signature(_identical_docs(spark, 100), "doc_id", "text")
    with caplog.at_level(logging.WARNING, logger="gnosis_ocr_spark.dedup"):
        pairs = lsh_candidate_pairs(sigs, max_bucket_size=10).collect()
    assert len(pairs) == 45
    assert {r["a"] for r in pairs} | {r["b"] for r in pairs} == set(range(10))
    assert any("capped" in rec.message for rec in caplog.records)


def test_simhash_bucket_cap(spark):
    """Cap applies to the rep-level pigeonhole buckets (distinct signatures
    that share a quarter); star edges are unaffected."""
    near = TEXT.replace("warm", "cold")
    df = spark.createDataFrame(
        [(1, TEXT), (2, TEXT), (3, near)], schema="doc_id long, text string"
    )
    got = {(r["a"], r["b"]) for r in
           simhash_near_duplicates(df, max_hamming=16,
                                   max_bucket_size=1).collect()}
    assert (1, 2) in got          # star edge survives the cap
    assert (1, 3) not in got      # rep pair suppressed by cap=1


def test_cap_bucket_members_deterministic(spark):
    df = spark.createDataFrame(
        [(b, i) for b in range(3) for i in range(20)], schema="bkt int, id int"
    )
    kept = cap_bucket_members(df, ["bkt"], "id", 5)
    rows = kept.collect()
    assert len(rows) == 15
    assert all(r["id"] < 5 for r in rows)


def test_sketch_bounds_row_width_on_mega_doc(spark):
    """A long doc's sketch is capped at sketch_size hashes (the round-2
    verification join carried the FULL shingle set — unbounded row width)."""
    mega = " ".join(f"tok{i}" for i in range(5_000))
    df = spark.createDataFrame(
        [(1, mega), (2, mega), (3, "tiny doc here")],
        schema="doc_id long, text string",
    )
    sk = {r["doc_id"]: len(r["sk"]) for r in
          shingle_sketches(df, sketch_size=256).collect()}
    assert sk[1] == 256 and sk[2] == 256 and sk[3] == 1
    # identical mega-docs still verify at jaccard 1.0 through the sketches
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in
             minhash_near_duplicates(df, threshold=1.0, sketch_size=256).collect()}
    assert pairs == {(1, 2): 1.0}


def test_sketch_jaccard_estimates_partial_overlap(spark):
    """Below threshold=1.0 the bottom-s estimate must track exact Jaccard on
    docs small enough that the sketch IS the set (exact regime)."""
    a = " ".join(f"w{i}" for i in range(100))
    b = " ".join(f"w{i}" for i in range(50)) + " " + " ".join(
        f"x{i}" for i in range(50)
    )
    df = spark.createDataFrame([(1, a), (2, b)], schema="doc_id long, text string")
    got = minhash_near_duplicates(df, threshold=0.2, bands=32, rows=1, k=32).collect()
    if got:  # recall depends on banding luck; if the pair surfaces, the
        # verified value must equal the exact Jaccard of the shingle sets
        j = got[0]["jaccard"]
        assert 0.2 <= j < 0.5


def _checkpoint_dirs(root):
    return sorted(root.rglob("rdd-*"))


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    edges = [(i, i + 1) for i in range(9)] + [(100, 101)]
    df = spark.createDataFrame(edges, schema="a long, b long")
    got = {r["id"]: r["component"] for r in
           connected_components(df, checkpoint_dir=str(tmp_path / "ckpt")).collect()}
    assert all(got[i] == 0 for i in range(10))
    assert got[100] == got[101] == 100
    # the reliable checkpoint wrote to the requested directory, and only
    # the returned label table's checkpoint is left there
    assert len(_checkpoint_dirs(tmp_path / "ckpt")) == 1

    # the full clustering (sketch frame + edge set + every round) also
    # leaves one checkpoint, and the returned frame still reads from it
    docs = _identical_docs(spark, 6).unionByName(spark.createDataFrame(
        [(100, "one two three four five six"), (101, "one two three four five six"),
         (999, "a completely unique document about spark shuffles")],
        schema="doc_id long, text string",
    ))
    ckpt = tmp_path / "clusters"
    clusters = duplicate_clusters(docs, checkpoint_dir=str(ckpt))
    assert len(_checkpoint_dirs(ckpt)) <= 1
    got = {(r["id"], r["component"]) for r in clusters.collect()}
    assert got == {(i, 0) for i in range(6)} | {(100, 100), (101, 100)}


def _path_graph(spark, n=64):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], schema="a long, b long"
    )


def test_connected_components_releases_blocks_on_failure(spark, persisted_rdd_ids):
    """A path graph cannot converge in one round: the max_iter RuntimeError
    must leave no persisted RDD behind (edge set, labels, round tables)."""
    df = _path_graph(spark)
    before = persisted_rdd_ids()
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1)
    assert persisted_rdd_ids() == before


def test_connected_components_deletes_checkpoint_files_on_failure(spark, tmp_path):
    """The same failure under reliable checkpointing must leave no
    checkpoint directory behind."""
    df = _path_graph(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1, checkpoint_dir=str(tmp_path))
    assert _checkpoint_dirs(tmp_path) == []


def test_sketch_jaccard_equals_python_reference_in_exact_regime(spark):
    """Every verified pair's jaccard must equal a direct Python computation
    of shingle-set Jaccard while docs are under the sketch size (the exact
    regime) — pinning the bottom-s estimator's wiring, not just its 1.0
    fixpoint. bands=32/rows=1 maximizes recall so candidates surface."""

    def py_jaccard(t1, t2, n=3):
        def sh(t):
            toks = t.lower().split()
            return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
        a, b = sh(t1), sh(t2)
        return len(a & b) / len(a | b) if a | b else 0.0

    texts = {
        1: " ".join(f"w{i}" for i in range(60)),
        2: " ".join(f"w{i}" for i in range(40)) + " " + " ".join(
            f"z{i}" for i in range(20)),
        3: " ".join(f"w{i}" for i in range(60)),
        4: " ".join(f"w{i}" for i in range(30, 90)),
    }
    df = spark.createDataFrame(list(texts.items()), schema="doc_id long, text string")
    got = {(r["a"], r["b"]): r["jaccard"] for r in
           minhash_near_duplicates(df, threshold=0.01, bands=32, rows=1,
                                   k=32).collect()}
    assert got, "no candidates surfaced at maximal recall"
    for (a, b), j in got.items():
        assert abs(j - py_jaccard(texts[a], texts[b])) < 1e-9, (a, b)
    assert got[(1, 3)] == 1.0


def test_collapse_exchange_key_is_narrow_hash(spark):
    """The identical-content collapse must shuffle on xxhash64 of the
    sketch/vector (8-byte key), NOT on the raw array, while the window
    still groups by the exact array (round-4 task #6): the executed plan
    shows one REPARTITION_BY_COL exchange on the hash column and no
    ENSURE_REQUIREMENTS exchange keyed on the array."""
    import re

    from gnosis_ocr_spark.functions.dedup import minhash_star_edges
    from gnosis_ocr_spark.functions.similarity import embedding_near_duplicates

    docs = spark.createDataFrame(
        [(i, "shared body " + " ".join(f"w{j}" for j in range(30)))
         for i in range(6)],
        schema="doc_id long, text string",
    )
    plan = minhash_star_edges(docs)._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Exchange hashpartitioning\(_hsk#\d+L", plan)
    assert not re.search(r"Exchange hashpartitioning\(sk#\d+,", plan)
    # grouping stays exact: the Window spec partitions by (_hsk, sk)
    assert re.search(r"windowspecdefinition\(_hsk#\d+L, sk#\d+,", plan)

    vecs = spark.createDataFrame(
        [(i, [float(i % 2)] * 16) for i in range(6)],
        schema="vec_id long, embedding array<double>",
    )
    vplan = embedding_near_duplicates(
        vecs, threshold=0.5
    )._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Exchange hashpartitioning\(_hv#\d+L", vplan)
    assert re.search(r"windowspecdefinition\(_hv#\d+L, v#\d+,", vplan)
