#!/usr/bin/env python
"""Generate PLANS.md: formatted physical plans for the headline pipelines
with the scale commentary inline — evidence that the plans are the ones a
100 TB deployment wants (pushdown, broadcast, bounded shuffles)."""

from __future__ import annotations

import contextlib
import io
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from gnosis_ocr_spark.corpus import corpus_df  # noqa: E402
from gnosis_ocr_spark.plans.driver_queries import (  # noqa: E402
    q_cosine_topk,
    q_lsh_cosine_topk,
    q_minhash_lsh,
    q_gopher_repetition,
    q_simhash_dedup,
    q_tpch_q5,
)
from gnosis_ocr_spark.plans.pipeline import extract_corpus  # noqa: E402
from gnosis_ocr_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    # keep the tree + trim the verbose details to the interesting lines
    tree, _, details = text.partition("\n\n")
    keep = [
        ln
        for ln in details.splitlines()
        if re.search(r"PushedFilters: \[[^\]]", ln) or "ReadSchema" in ln
    ]
    return tree + "\n\n" + "\n".join(f"  {ln.strip()[:160]}" for ln in keep[:14])


def main() -> None:
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    # parquet-backed input so the plan shows the real scan (a createDataFrame
    # corpus would inject its own repartition exchange into the picture)
    corpus_path = "/tmp/plans_doc_corpus"
    corpus_df(spark, n=60).write.mode("overwrite").parquet(corpus_path)
    docs = spark.read.parquet(corpus_path)

    sections = [
        (
            "End-to-end extraction (plans/pipeline.py)",
            extract_corpus(docs),
            "Non-PDF branch is shuffle-free (scan → route filter → ArrowEvalPython\n"
            "→ union). PDF branch has exactly three exchanges: the salted\n"
            "size-bucket repartition, the page-level respread, and the final\n"
            "groupBy(url) sort-aggregate — each one load-bearing at 100 TB\n"
            "(skew spread, straggler fan-out, reassembly). The first two plan\n"
            "an explicit count, defaultParallelism (REPARTITION_BY_NUM), so AQE\n"
            "cannot coalesce these byte-light, CPU-heavy exchanges to one task;\n"
            "the assembled side is `coalesce`d (no exchange) to the same width,\n"
            "so the union's stage runs input splits + that many tasks.\n"
            "Raster+OCR are fused into a single MapInPandas so page pixels\n"
            "never cross the Python↔JVM Arrow boundary.",
        ),
        (
            "TPC-H Q5-style 6-way join (driver_queries.q_tpch_q5)",
            q_tpch_q5(spark, SF),
            "All dimension joins broadcast (no SortMergeJoin at these\n"
            "cardinalities; AQE re-plans if a side grows); region/nation\n"
            "filters are pushed to the parquet scans and ReadSchema shows only\n"
            "the join/aggregate columns surviving column pruning.",
        ),
        (
            "Brute-force cosine top-k (similarity.cosine_topk_bruteforce)",
            q_cosine_topk(spark, SF),
            "The query side broadcasts (BroadcastNestedLoopJoin); the corpus\n"
            "streams through one scan with zero shuffle before the per-query\n"
            "top-k window. Cosine is pure JVM expressions (zip_with +\n"
            "aggregate) — no Python in the hot path.",
        ),
        (
            "MinHash+LSH near-dup (dedup.minhash_near_duplicates)",
            q_minhash_lsh(spark, SF),
            "Candidate generation is an equi-join on (band_id, band_hash)\n"
            "buckets — never an O(n²) cross join. The k min-hashes compute in\n"
            "ONE explode + ONE groupBy (k partial mins). Verification re-joins\n"
            "only the candidate pairs, carrying bottom-s SKETCHES (row width\n"
            "bounded at sketch_size bigints — round 3; the full collect_set\n"
            "was unbounded in document length); the sketch builds with a\n"
            "row_number window whose doc_id hash partitioning the following\n"
            "collect_list groupBy REUSES (one shuffle, no unbounded agg\n"
            "buffer). The clustering consumer uses minhash_star_edges (O(B)\n"
            "edges per identical-content cluster) instead of this pair API.",
        ),
        (
            "SimHash near-dup (dedup.simhash_near_duplicates)",
            q_simhash_dedup(spark, SF),
            "Pigeonhole bucketing: the 64-bit signature splits into 4×16-bit\n"
            "quarters and candidates come from equi-joins on (q_id, q_val) —\n"
            "Hamming ≤ 3 guarantees a shared quarter, so no all-pairs compare.\n"
            "Round 3: the quarter joins see ONE representative per distinct\n"
            "signature (identical-signature members attach via the window-min\n"
            "star branch of the union — hamming 0 by construction), so a\n"
            "boilerplate mega-cluster contributes one bucket row, not B rows\n"
            "and B² pairs. The 64 conditional-sum aggregates are partial\n"
            "(map-side combine); their ~5-8 s whole-stage-codegen compile is\n"
            "once per session (round-1's 32.9 s outlier was this compile).",
        ),
        (
            "Sign-LSH bucketed ANN top-k (similarity.lsh_cosine_topk)",
            q_lsh_cosine_topk(spark, SF),
            "The tiny query side broadcasts and equi-joins its LSH bucket only\n"
            "(never the full corpus); WindowGroupLimit applies the per-query\n"
            "top-k BEFORE the exchange (map-side limit), so only k candidate\n"
            "rows per query per partition shuffle — the property that keeps\n"
            "top-k ANN viable at 10^12 corpus rows.",
        ),
        (
            "Composed curation plan (plans/curate.curate_corpus)",
            __import__("gnosis_ocr_spark.plans.curate", fromlist=["curate_corpus"]).curate_corpus(
                spark.read.parquet(SF + "/documents.parquet").select("doc_id", "text")
            ),
            "Every per-doc curation operator chained as one declarative\n"
            "plan: the inline enrichment (lang-ID, gates, 2-gram repetition)\n"
            "is a single zero-shuffle projection; gopher_repetition and the\n"
            "hashed classifier join back on doc_id; exact-dedup groups on the\n"
            "md5 fingerprint. Every exchange carries doc_id (or fp) — AQE\n"
            "broadcasts the joins at bench scale and co-partitions them at\n"
            "100 TB. No Python, no cartesian (tests/test_curate.py pins it).",
        ),
        (
            "Composed curation, ALL legs (curate_corpus: host quota + near-dup)",
            __import__("gnosis_ocr_spark.plans.curate", fromlist=["curate_corpus"]).curate_corpus(
                spark.read.parquet(SF + "/documents.parquet")
                .select("doc_id", "text")
                .withColumn(
                    "url",
                    F.concat(
                        F.lit("https://host"),
                        (F.col("doc_id") % 10).cast("string"),
                        F.lit(".example.org/d/"),
                        F.col("doc_id").cast("string"),
                    ),
                ),
                url_col="url",
                max_docs_per_host=10,
                near_dup=True,
                near_dup_threshold=1.0,
            ),
            "The crawl-balancing configuration the driver row certifies\n"
            "(q_curate_compose): URL canonicalization + the per-host quota is\n"
            "one row_number window partitioned by host (host-keyed exchange,\n"
            "bounded by the deterministic tie-break), and the near-dup leg\n"
            "joins the MinHash star-edge cluster labels back on doc_id. The\n"
            "iterative connected-components step materializes its label table\n"
            "eagerly (checkpointed; O(log d) rounds, scalar-sum fixpoint\n"
            "check — see dedup.connected_components), so the plan below joins\n"
            "a small materialized label relation instead of re-deriving the\n"
            "clustering per consumer. Every other exchange still carries\n"
            "doc_id/fp.",
        ),
        (
            "Gopher repetition suite (text.gopher_repetition)",
            q_gopher_repetition(spark, SF),
            "Line/paragraph dup stats are pure per-row expressions (total −\n"
            "distinct — no explode, no quadratic per-element scan). The gram\n"
            "families share ONE posexplode + ONE lead-window pass building\n"
            "all nine gram sizes at once (a per-n self-union would recompute\n"
            "the exploded subtree nine times); the running char prefix-sum\n"
            "rides the same Window spec. The lead-window's doc_id hash\n"
            "partitioning satisfies every downstream grouping (subset key),\n"
            "so past that exchange the branches add NONE: top-gram\n"
            "deduplicates with a sort-free groupBy count, and dup-coverage\n"
            "collects only the duplicated occurrences per (doc_id, n) and\n"
            "folds the pos-sorted list into interval-union chars from the\n"
            "prefix sums (r6; previously a per-position explode + distinct\n"
            "shuffle + join back to the word-length frame). A 10⁶-token\n"
            "document fans out across partitions instead of pinning a task\n"
            "in a HOF.",
        ),
    ]

    out = ["# PLANS — physical plans of the headline pipelines\n"]
    out.append(
        "Generated by `python scripts/gen_plans_doc.py` (re-run after plan\n"
        "changes). Commentary states why each exchange exists; anything not\n"
        "justified here is a regression.\n"
    )
    for title, df, commentary in sections:
        out.append(f"## {title}\n")
        out.append(commentary + "\n")
        out.append("```\n" + plan_of(df).rstrip() + "\n```\n")

    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(
        "\n".join(out)
    )
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
