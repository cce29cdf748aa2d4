"""F1–F12 — every scalar computation in the reference as a Spark Column
helper (SURVEY.md §2.7). All JVM-side built-ins: these stay inside
whole-stage codegen, no Python."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def user_hash(email: Column | str) -> Column:
    """F1: sha256(email)[:12] user partition key
    (reference /root/reference/app/storage_service.py:74-76)."""
    return F.substring(F.sha2(F.col(email) if isinstance(email, str) else email, 256), 1, 12)


def page_filename(page_no: Column | str, prefix: str = "page_", ext: str = ".png") -> Column:
    """F2: zero-padded page blob name ``page_{n:03d}.png``
    (reference app/jobs.py:397,443,479)."""
    col = F.col(page_no) if isinstance(page_no, str) else page_no
    return F.format_string(f"{prefix}%03d{ext}", col)


def parse_page_no(name: Column | str) -> Column:
    """F3: parse the integer back out of a ``page_{n}.png`` style name
    (reference app/jobs.py:234-235, app/uploader.py:81-82)."""
    col = F.col(name) if isinstance(name, str) else name
    return F.regexp_extract(col, r"_(\d+)\.", 1).cast("int")


def url_extension(url: Column | str) -> Column:
    """F5: lower-cased extension (reference app/config.py:93-94 —
    os.path.splitext semantics): query strings / fragments are stripped
    first ('doc.pdf?download=1' previously yielded '.pdf?download=1',
    misrouting every query-string crawl URL through content_type_for),
    and a dotfile segment ('/.bashrc') has NO extension, exactly like
    splitext."""
    col = F.col(url) if isinstance(url, str) else url
    path = F.regexp_replace(col, r"[?#].*$", "")
    return F.lower(F.regexp_extract(path, r"[^./](\.[^./]+)$", 1))


def to_json_manifest(*cols: Column) -> Column:
    """F7: manifest JSON serialization (reference app/jobs.py:78,91)."""
    return F.to_json(F.struct(*cols))


def progress_percent(done: Column, total: Column) -> Column:
    """A4/F10: round(done/total*100), 0-safe (reference app/jobs.py:255,267).
    Python round() is banker's (HALF_EVEN): 1/8 → 12.5 → 12, not 13 —
    F.bround matches it; F.round (HALF_UP) diverged on every exact-.5
    percentage. The DuckDB oracles mirror with round_even."""
    return F.when(total > 0, F.bround(done / total * 100).cast("int")).otherwise(
        F.lit(0)
    )


def human_size(nbytes: Column | str) -> Column:
    """F11: human-readable size, exact reference semantics (app/config.py:
    98-104 — first unit where the scaled value is < 1024, 2 decimals).
    Unit-verified (Java vs Python %.2f tie-breaking differs at exact .005
    boundaries, so this display-only helper carries no DuckDB oracle)."""
    b = (F.col(nbytes) if isinstance(nbytes, str) else nbytes).cast("double")
    return (
        F.when(b < 1024, F.format_string("%.2f B", b))
        .when(b / 1024.0 < 1024, F.format_string("%.2f KB", b / 1024.0))
        .when(b / 1024.0**2 < 1024, F.format_string("%.2f MB", b / 1024.0**2))
        .when(b / 1024.0**3 < 1024, F.format_string("%.2f GB", b / 1024.0**3))
        .otherwise(F.format_string("%.2f TB", b / 1024.0**4))
    )


def content_type_for(url: Column | str) -> Column:
    """F12: extension → content type map (reference app/main.py:99-111;
    .md → text/markdown is the reference's own OCR-result serving type)."""
    ext = url_extension(url)
    return (
        F.when(ext == ".pdf", "application/pdf")
        .when(ext == ".png", "image/png")
        .when((ext == ".jpg") | (ext == ".jpeg"), "image/jpeg")
        .when(ext == ".txt", "text/plain")
        .when(ext == ".md", "text/markdown")
        .when((ext == ".html") | (ext == ".htm"), "text/html")
        .when(ext == ".json", "application/json")
        .otherwise("application/octet-stream")
    )
