"""S5/S6 delete_run (drop-namespace analog) and F7 manifest JSON."""

from __future__ import annotations

from pyspark.sql import functions as F

from gnosis_ocr_spark.functions.scalar import to_json_manifest
from gnosis_ocr_spark.plans.run import RESULTS_SCHEMA
from gnosis_ocr_spark.sources import tables


def test_delete_run_removes_only_that_run(spark, tmp_path):
    path = str(tmp_path / "results")
    rows = [
        ("u1", "t", 1, "html", "r1", 1.0, 0),
        ("u2", "t", 1, "html", "r1", 1.0, 0),
        ("u3", "t", 1, "html", "r2", 1.0, 1),
    ]
    df = spark.createDataFrame(rows, schema=RESULTS_SCHEMA)
    tables.overwrite(df, path)

    tables.delete_run(spark, path, "r1", RESULTS_SCHEMA)
    left = tables.read_or_empty(spark, path, RESULTS_SCHEMA)
    assert [r["url"] for r in left.collect()] == ["u3"]

    # deleting a missing run is a no-op, and deleting from a missing path too
    tables.delete_run(spark, path, "nope", RESULTS_SCHEMA)
    assert tables.read_or_empty(spark, path, RESULTS_SCHEMA).count() == 1
    tables.delete_run(spark, str(tmp_path / "absent"), "r1", RESULTS_SCHEMA)


def test_manifest_json_roundtrip(spark):
    df = spark.createDataFrame([("j1", "ocr")], "job_id string, job_type string")
    out = df.select(
        to_json_manifest(F.col("job_id"), F.col("job_type")).alias("j")
    ).collect()[0]["j"]
    assert out == '{"job_id":"j1","job_type":"ocr"}'
    back = (
        df.select(to_json_manifest(F.col("job_id"), F.col("job_type")).alias("j"))
        .select(F.from_json("j", "job_id string, job_type string").alias("s"))
        .collect()[0]["s"]
    )
    assert back["job_id"] == "j1" and back["job_type"] == "ocr"


def test_human_size_matches_reference_semantics(spark):
    """F11: first unit where the scaled value is < 1024, 2 decimals
    (reference app/config.py:98-104)."""
    from pyspark.sql import functions as F

    from gnosis_ocr_spark.functions.scalar import human_size

    def ref(size_bytes: float) -> str:  # the reference's loop, verbatim logic
        for unit in ["B", "KB", "MB", "GB"]:
            if size_bytes < 1024.0:
                return f"{size_bytes:.2f} {unit}"
            size_bytes /= 1024.0
        return f"{size_bytes:.2f} TB"

    vals = [0, 1, 512, 1023, 1024, 1536, 10_000, 1024**2 - 1, 5 * 1024**2,
            3 * 1024**3, 2 * 1024**4, 999 * 1024**4]
    df = spark.createDataFrame([(v,) for v in vals], schema="n long")
    got = {r["n"]: r["h"] for r in df.select("n", human_size("n").alias("h")).collect()}
    for v in vals:
        assert got[v] == ref(float(v)), (v, got[v], ref(float(v)))


def test_warc_roundtrip_plain_and_gzip():
    from gnosis_ocr_spark.sources.warc import build_warc, parse_warc_bytes

    recs = [
        ("https://a.test/x", "2026-01-01T00:00:00Z", b"<html>alpha</html>"),
        ("https://b.test/y", "2026-01-02T00:00:00Z", b"<html>beta</html>"),
    ]
    for gz in (False, True):
        data = build_warc(recs, gzip_per_record=gz)
        got, skipped = parse_warc_bytes(data)
        assert skipped == 0 and len(got) == 2
        for (uri, date, body), r in zip(recs, got):
            assert r["type"] == "response"
            assert (r["url"], r["date"], r["body"]) == (uri, date, body)
            assert r["status"] == 200 and r["content_type"] == "text/html"


def test_warc_malformed_blocks_are_skipped_not_fatal():
    from gnosis_ocr_spark.sources.warc import build_warc, parse_warc_bytes

    good = build_warc([("https://ok.test/", "2026-01-01T00:00:00Z", b"ok")])
    garbage = b"WARC/1.0\r\nContent-Length: notanumber\r\n\r\n"
    got, skipped = parse_warc_bytes(garbage + good)
    assert skipped == 1
    assert [r["url"] for r in got] == ["https://ok.test/"]
    # truncated tail never raises
    got2, _ = parse_warc_bytes(good[: len(good) // 2])
    assert isinstance(got2, list)


def test_warc_records_spark_explode(spark):
    from gnosis_ocr_spark.sources.warc import build_warc, warc_records

    f1 = build_warc(
        [("https://a.test/1", "2026-01-01T00:00:00Z", b"<html>one</html>"),
         ("https://a.test/2", "2026-01-01T00:01:00Z", b"<html>two</html>")],
        gzip_per_record=True,
    )
    f2 = build_warc(
        [("https://b.test/3", "2026-01-02T00:00:00Z", b"%PDF-fake")],
        content_type="application/pdf",
    )
    df = spark.createDataFrame(
        [("shard-00001.warc.gz", bytearray(f1)), ("shard-00002.warc", bytearray(f2))],
        schema="name string, data binary",
    )
    rows = {r["url"]: r for r in warc_records(df).collect()}
    assert set(rows) == {"https://a.test/1", "https://a.test/2", "https://b.test/3"}
    assert bytes(rows["https://a.test/1"]["html"]) == b"<html>one</html>"
    assert rows["https://b.test/3"]["content_type"] == "application/pdf"
    assert rows["https://a.test/2"]["http_status"] == 200


def test_compact_rewrites_small_files_preserving_rows(spark, tmp_path):
    from gnosis_ocr_spark.sources import tables

    p = str(tmp_path / "frag")
    df = spark.range(0, 5000).withColumnRenamed("id", "v")
    df.repartition(64).write.parquet(p)  # 64 tiny files
    import glob
    assert len(glob.glob(p + "/*.parquet")) == 64
    n = tables.compact(spark, p, target_file_bytes=10**9)
    assert n == 1
    assert len(glob.glob(p + "/*.parquet")) == 1
    got = spark.read.parquet(p)
    assert got.count() == 5000
    assert got.agg({"v": "sum"}).collect()[0][0] == sum(range(5000))


def test_warc_ingest_feeds_extraction_byte_identically(spark):
    """End-to-end ingest: corpus documents → WARC files (per-record gzip,
    Common Crawl layout) → warc_records explode → the extraction pipeline —
    extracted text must be byte-identical to the goldens for every record.
    This is the seam contract: a crawl archive can replace the parquet
    table with no change to the extraction plan."""
    from pyspark.sql import functions as F

    from gnosis_ocr_spark.corpus import generate_rows
    from gnosis_ocr_spark.plans.pipeline import extract_corpus
    from gnosis_ocr_spark.sources.warc import build_warc, warc_records

    rows = [r for r in generate_rows(n=40) if r.html[:5] != b"%PDF-"][:12]
    assert len(rows) >= 8
    # two WARC shard files, per-record gzip
    shards = []
    for si in range(2):
        recs = [
            (r.url, r.warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ"), bytes(r.html))
            for r in rows[si::2]
        ]
        shards.append((f"shard-{si:05d}.warc.gz",
                       bytearray(build_warc(recs, gzip_per_record=True))))
    blobs = spark.createDataFrame(shards, "name string, data binary")
    docs = warc_records(blobs).select(
        "url",
        F.to_timestamp("warc_date").alias("warc_ts"),
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )
    got = {r["url"]: r["extracted_text"] for r in extract_corpus(docs).collect()}
    assert len(got) == len(rows)
    for r in rows:
        assert got[r.url] == r.expected_text, r.url


def test_warc_parser_never_escapes_on_mutation():
    """Crawl-grade robustness: byte-mutated WARC files must parse to SOME
    list (possibly empty, records skipped) — never raise, hang, or blow the
    recursion/memory limits."""
    import random

    from gnosis_ocr_spark.sources.warc import build_warc, parse_warc_bytes

    base = build_warc(
        [("https://a.test/1", "2026-01-01T00:00:00Z", b"<html>x</html>"),
         ("https://a.test/2", "2026-01-01T00:01:00Z", b"<html>y</html>")],
        gzip_per_record=True,
    )
    for seed in range(300):
        rng = random.Random(seed)
        data = bytearray(base)
        for _ in range(rng.randint(1, 6)):
            data[rng.randrange(len(data))] = rng.randrange(256)
        recs, skipped = parse_warc_bytes(bytes(data))
        assert isinstance(recs, list) and skipped >= 0


def test_warc_http_chunked_and_content_encoding():
    """Transfer-Encoding: chunked is de-chunked; Content-Encoding gzip and
    deflate (both zlib-wrapped and the raw form real servers send) are
    decompressed; hostile payloads stay raw, never raise."""
    import gzip as _gzip
    import zlib as _zlib

    from gnosis_ocr_spark.sources.warc import (
        _content_decode,
        _dechunk,
        parse_warc_bytes,
    )

    body = b"<html><body><p>decoded body text</p></body></html>"

    def chunked(b, n=7):
        out = b""
        for i in range(0, len(b), n):
            c = b[i : i + n]
            out += f"{len(c):x}".encode() + b"\r\n" + c + b"\r\n"
        return out + b"0\r\n\r\n"

    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n\r\n"
        + chunked(_gzip.compress(body))
    )
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://x.test/\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        + f"Content-Length: {len(http)}\r\n".encode()
        + b"\r\n"
        + http
    )
    recs, skipped = parse_warc_bytes(rec)
    assert skipped == 0 and recs[0]["body"] == body
    # deflate: raw and zlib-wrapped forms both decode
    co = _zlib.compressobj(6, _zlib.DEFLATED, -15)
    assert _content_decode(co.compress(body) + co.flush(), "deflate") == body
    assert _content_decode(_zlib.compress(body), "deflate") == body
    # hostile: garbage keeps raw bytes; truncated chunking keeps prefix
    assert _content_decode(b"\x00\x01\x02", "gzip") == b"\x00\x01\x02"
    assert _dechunk(b"5\r\nhello\r\nZZ\r\ncut") == b"hello"


def test_warc_gzip_member_expansion_bounded():
    """A gzip bomb posing as a per-record-compressed WARC is TRUNCATED at
    the 64x expansion bound (the parser's totality contract — records
    skipped, never raise — holds while the executor can't be memory-
    exhausted); real member streams decompress unchanged, and the whole
    parse stays total on the bomb."""
    import zlib

    from gnosis_ocr_spark.sources.warc import (
        MAX_BODY_BYTES,
        _gunzip_members,
        parse_warc_bytes,
    )

    co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    blk = b"\x00" * (1 << 20)
    parts = [co.compress(blk) for _ in range(130)]  # 130 MiB of zeros
    parts.append(co.flush())
    bomb = b"".join(parts)
    assert len(bomb) < 1_000_000
    out = _gunzip_members(bomb)
    assert len(out) <= max(64 * len(bomb), MAX_BODY_BYTES) + (1 << 20)
    recs, _skipped = parse_warc_bytes(bomb)  # total, not an exception
    assert recs == []
    # a normal member round-trips
    legit = b"WARC/1.0\r\n" + b"x" * 5000
    co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    assert _gunzip_members(co.compress(legit) + co.flush()) == legit


def test_delete_run_preserves_null_run_rows(spark, tmp_path):
    from gnosis_ocr_spark.sources.tables import delete_run

    path = str(tmp_path / "t")
    schema = "run_id string, v int"
    spark.createDataFrame(
        [("r1", 1), (None, 2), ("r2", 3)], schema
    ).write.parquet(path)
    delete_run(spark, path, "r1", schema)
    got = {(r["run_id"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(None, 2), ("r2", 3)}


def test_compact_recovers_from_crash_artifacts(spark, tmp_path):
    """A stale .compact-old (crash between the two swaps) is RECOVERED as
    the live table; a stale .compact-tmp is cleared — neither nests nor
    deletes real data."""
    import os
    import shutil

    from gnosis_ocr_spark.sources.tables import compact

    path = str(tmp_path / "t2")
    spark.range(100).write.parquet(path)
    # simulate a crash after `move(path, old)` and before `move(tmp, path)`
    shutil.move(path, path + ".compact-old")
    os.makedirs(path + ".compact-tmp")
    n = compact(spark, path)
    assert n >= 1
    got = spark.read.parquet(path).count()
    assert got == 100
    assert not os.path.exists(path + ".compact-old")
    assert not os.path.exists(path + ".compact-tmp")
