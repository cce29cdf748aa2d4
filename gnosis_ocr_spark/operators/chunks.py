"""Chunked-upload semantics as set/sort operators (SURVEY.md §2.3 J2, §2.4 A6,
§2.6 SO1).

The reference assembles 1 MiB upload chunks by sorted index
(/root/reference/app/uploader.py:111-121) and reports missing chunks as a set
difference (:76-96). Input table shape:
``(doc string, chunk_no int, data binary, expected_total int)``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def missing_chunks(chunks: DataFrame) -> DataFrame:
    """J2/SO1: (doc, missing chunk_no) via sequence-explode LEFT ANTI JOIN —
    expected = {0..expected_total-1}, received = distinct chunk_no."""
    expected = (
        chunks.groupBy("doc")
        .agg(F.max("expected_total").alias("n"))
        # sequence(0, n-1) DESCENDS for n=0 (the CLAUDE.md gotcha): a
        # zero-chunk manifest would report phantom missing chunks [0, -1]
        .filter(F.col("n") >= 1)
        .select("doc", F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("chunk_no"))
    )
    received = chunks.select("doc", "chunk_no").distinct()
    return expected.join(received, ["doc", "chunk_no"], "left_anti")


def complete_docs(chunks: DataFrame) -> DataFrame:
    """Docs whose distinct chunk count reaches expected_total."""
    return (
        chunks.groupBy("doc")
        .agg(
            # count only IN-RANGE indices: a stray chunk 99 must not stand
            # in for a missing chunk 1 (completeness and missing_chunks
            # would otherwise contradict each other on the same doc)
            F.countDistinct(
                F.when(
                    (F.col("chunk_no") >= 0)
                    & (F.col("chunk_no") < F.col("expected_total")),
                    F.col("chunk_no"),
                )
            ).alias("got"),
            F.max("expected_total").alias("want"),
        )
        .filter(F.col("got") == F.col("want"))
        .select("doc")
    )


ASSEMBLED_SCHEMA = "doc string, data binary, n_chunks int"


def assemble_chunks(chunks: DataFrame) -> DataFrame:
    """A6 ordered binary concat: chunks sorted by index → one blob per doc.

    Binary concat of arbitrary-size chunks needs Python bytes semantics, so
    this is a grouped ``applyInPandas`` (Arrow both ways); ordering is done
    inside the group, mirroring the reference's sorted() assembly loop.
    """

    def concat(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (doc,) = key
        # retried uploads duplicate (doc, chunk_no): keep ONE row per index
        # (the reference's overwrite-by-filename semantics) or the blob
        # would contain a chunk's bytes twice; NULL-data rows (failed
        # placeholder writes) are skipped rather than crashing bytes(None)
        ordered = (
            pdf.dropna(subset=["data"])
            .sort_values("chunk_no")
            .drop_duplicates("chunk_no", keep="last")
        )
        blob = b"".join(bytes(b) for b in ordered["data"])
        return pd.DataFrame(
            {"doc": [doc], "data": [blob], "n_chunks": [len(ordered)]}
        )

    return chunks.groupBy("doc").applyInPandas(concat, schema=ASSEMBLED_SCHEMA)


def ordered_text_concat(
    parts: DataFrame,
    key: str = "doc",
    order_col: str = "chunk_no",
    text_col: str = "text",
    sep: str = "",
) -> DataFrame:
    """A6 string form — pure built-ins, one shuffle:
    array_join(transform(array_sort(collect_list(struct(idx, text))), s->s.text))."""
    return parts.groupBy(key).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(order_col), F.col(text_col)))
                ),
                lambda s: s.getField(text_col),
            ),
            sep,
        ).alias("assembled")
    )
