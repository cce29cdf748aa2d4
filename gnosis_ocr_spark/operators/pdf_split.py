"""U1/U2 — PDF probe, page split, and rasterization.

The reference does this per-file with poppler in 10-page continuation jobs
(probe: /root/reference/app/jobs.py:375-377; split+raster dpi=150 PNG with
first_page/last_page pushdown: :386-390; continuation chaining: :349-356 —
note each continuation job *re-fetches the PDF* and rasterizes only its
window).

Here the work is split into two stages with scale-correct topology:

1. :func:`split_pdf_text_pages` — ``mapInPandas`` flat-map
   ``(url, html=pdf bytes) → (url, page_no, page_text)``. Cheap per page
   (content-stream parse), parsed in fixed 10-page windows so peak memory
   stays bounded like the reference's batching.
2. :func:`raster_ocr_pages` — fused raster+OCR ``mapInPandas``
   ``(url, page_no, page_text, page_png) → (url, page_no, page_text)``.
   This is the HEAVY per-page work (a dpi=150 page is a ~2 MB raster), so
   the pipeline repartitions page rows *between* the two stages: a
   500-page document's raster+OCR cost spreads across the cluster instead
   of pinning one task. This is the Spark restatement of the reference's
   window jobs — with real poppler, stage 1 would ship
   ``(url, window_no, pdf_bytes)`` per 10-page window (bytes duplicated per
   window, exactly like each continuation job re-reading the PDF from GCS)
   and stage 2 would call poppler with first_page/last_page.

Documents whose bytes fail to parse emit a sentinel row
``(url, page_no=NULL, page_text=NULL)`` so downstream assembly still reports
the url (extracted_text = '', n_pages = 0) without a reconciliation join.

Raster size defaults to 64×64 (fast tests); ``SPARK_GRAFT_RASTER=dpi150``
produces the reference's real 1275×1650 output shape (scaling bench).
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType

from gnosis_ocr_spark.functions.codec_pdf import (
    extract_pages_with_images,
    page_count,
    page_text,
)
from gnosis_ocr_spark.functions.codec_png import (
    DPI150_SIZE,
    encode_gray_png,
    encode_page_png,
)

# page_png carries decoded pixels (as a real PNG) ONLY for image-only
# (scanned) pages — the text layer stays the cheap path; shipping scanned
# pixels between the split and OCR stages is the Spark restatement of the
# reference materializing page PNGs to GCS between its extraction and OCR
# jobs (/root/reference/app/jobs.py:395-401,435)
TEXT_PAGE_SCHEMA = "url string, page_no int, page_text string, page_png binary"
EXTRACT_BATCH_PAGES = 10  # reference window: 10 pages/job (app/jobs.py:378)
MAX_PAGES = 500  # reference cap (app/config.py:18)


_RASTER_SPEC_RE = re.compile(r"([0-9]+)(?:x([0-9]+))?")


def _raster_size(spec: str | None = None) -> tuple[int, int]:
    """Page raster ``dpi150``, ``N`` (square) or ``WxH``, case-insensitive;
    unset (argument or ``SPARK_GRAFT_RASTER``) means 64x64. Anything else
    raises on the driver, so a typo cannot OCR every page at a wrong size."""
    raw = spec or os.environ.get("SPARK_GRAFT_RASTER") or "64x64"
    norm = raw.strip().lower()
    if norm == "dpi150":
        return DPI150_SIZE
    m = _RASTER_SPEC_RE.fullmatch(norm)
    w, h = (int(m[1]), int(m[2] or m[1])) if m else (0, 0)
    if w <= 0 or h <= 0:
        raise ValueError(
            f"bad raster spec {raw!r}: want dpi150, N or WxH with positive integers"
        )
    return w, h


@pandas_udf(IntegerType())
def pdf_page_count_udf(pdf: pd.Series) -> pd.Series:
    """U1 probe, vectorized; -1 marks unparseable bytes."""

    def probe(b) -> int:
        try:
            return page_count(bytes(b))
        except Exception:
            return -1

    return pdf.map(probe)


def _gray_pixels(img) -> tuple[bytes, int, int] | None:
    """One PdfImage → (gray pixels, w, h), or None when undecodable:
    raw 8-bit DeviceGray directly, raw 1/2/4-bit packed DeviceGray
    (CCITT-G4 fax and bilevel scans decode to this shape) scaled to 8-bit,
    raw 24-bit DeviceRGB via integer luma, /DCTDecode through the baseline
    JPEG decoder (luma plane), /JPXDecode through the JPEG 2000 decoder
    (codec_jpx, gray/luma plane)."""
    if (
        img.codec == "raw"
        and img.bits in (1, 2, 4)
        and img.colorspace == "DeviceGray"
    ):
        import numpy as np

        stride = (img.width * img.bits + 7) // 8
        if len(img.data) < stride * img.height:
            return None
        arr = np.frombuffer(
            img.data[: stride * img.height], dtype=np.uint8
        ).reshape(img.height, stride)
        bits = np.unpackbits(arr, axis=1)
        if img.bits == 1:
            gray = (bits[:, : img.width] * np.uint8(255)).astype(np.uint8)
        else:
            d = img.bits
            vals = bits[:, : img.width * d].reshape(img.height, img.width, d)
            weights = (1 << np.arange(d - 1, -1, -1)).astype(np.uint16)
            # dtype pinned: an unsigned .sum() promotes to uint64 — 8-byte
            # per-pixel temporaries in per-page work (the CLAUDE.md
            # bandwidth rule); max value is 15, uint16 is exact
            v = (vals.astype(np.uint16) * weights).sum(axis=2, dtype=np.uint16)
            gray = (v * (255 // ((1 << d) - 1))).astype(np.uint8)
        return gray.tobytes(), img.width, img.height
    if img.codec == "raw" and img.bits == 8:
        if (
            img.colorspace == "DeviceGray"
            and len(img.data) == img.width * img.height
        ):
            return img.data, img.width, img.height
        if (
            img.colorspace == "DeviceRGB"
            and len(img.data) == 3 * img.width * img.height
        ):
            import numpy as np

            rgb = np.frombuffer(img.data, dtype=np.uint8).reshape(-1, 3)
            luma = (
                (rgb[:, 0].astype(np.uint32) * 299
                 + rgb[:, 1].astype(np.uint32) * 587
                 + rgb[:, 2].astype(np.uint32) * 114) // 1000
            ).astype(np.uint8)
            return luma.tobytes(), img.width, img.height
        return None
    if img.codec.startswith("ccitt;") or img.codec.startswith("jbig2;"):
        # deferred bilevel entropy decode (r6): the split stage carries
        # CCITT/JBIG2 still-compressed with parms in the codec tag (see
        # codec_pdf._decode_image) so the heavy fax/arithmetic decode
        # runs HERE, page-parallel after the respread — the same
        # placement DCT/JPX always had. Output is byte-identical to the
        # old split-stage decode: same decoders, same /Decode [1 0]
        # inversion, then the existing packed-1-bit raw path.
        try:
            parms = dict(
                kv.split("=") for kv in img.codec.split(";")[1:]
            )
            if img.codec.startswith("ccitt;"):
                from gnosis_ocr_spark.functions.codec_ccitt import (
                    decode_g3_1d,
                    decode_g3_2d,
                    decode_g4,
                )

                k = int(parms["k"])
                args = (
                    img.data,
                    int(parms["c"]),
                    int(parms["r"]),
                    parms["b"] == "1",
                    parms["a"] == "1",
                )
                if k < 0:
                    data = decode_g4(*args)
                elif k == 0:
                    data = decode_g3_1d(*args)
                else:
                    data = decode_g3_2d(*args)
            else:
                import struct as _st

                from gnosis_ocr_spark.functions.codec_jbig2 import (
                    decode_jbig2,
                )

                (nglob,) = _st.unpack_from(">I", img.data, 0)
                gdata = img.data[4 : 4 + nglob]
                data = decode_jbig2(img.data[4 + nglob :], gdata)[2]
            if parms.get("i") == "1":
                from gnosis_ocr_spark.functions.codec_pdf import (
                    _INVERT_TABLE,
                )

                data = data.translate(_INVERT_TABLE)
            from gnosis_ocr_spark.functions.codec_pdf import PdfImage

            return _gray_pixels(
                PdfImage(
                    img.width, img.height, 1, "DeviceGray", "raw", data
                )
            )
        except Exception:
            return None  # corrupt stream → blank strip (old degradation)
    if img.codec == "dct":
        try:
            from gnosis_ocr_spark.functions.codec_jpeg import decode_jpeg

            w, h, _, luma = decode_jpeg(img.data)
            return luma, w, h
        except Exception:
            return None  # arithmetic-coded/lossless/corrupt JPEG
    if img.codec == "jpx":
        try:
            from gnosis_ocr_spark.functions.codec_jpx import decode_jpx_gray

            w, h, gray = decode_jpx_gray(img.data)
            return gray, w, h
        except Exception:
            return None  # unsupported JPX subset / corrupt codestream
    if img.codec == "tiff":
        # a rebuilt single-page TIFF from the TIFF-source split: strips
        # (fax/LZW/deflate/packbits) decode here, page-parallel
        try:
            from gnosis_ocr_spark.functions.codec_tiff import decode_tiff_gray

            w, h, gray = decode_tiff_gray(img.data)
            return gray, w, h
        except Exception:
            return None  # tiled/16-bit/JPEG-in-TIFF page → blank
    if img.codec == "image":
        # standalone raster file (PNG/JPEG/GIF/BMP/WebP/JP2) from the
        # image route: the original bytes decode here, page-parallel
        from gnosis_ocr_spark.operators.multimodal import decode_image_gray

        got = decode_image_gray(img.data)
        if got is None:
            return None  # lossy-VP8 / arithmetic-JPEG / corrupt → blank
        w, h, gray = got
        return gray, w, h
    return None


_PACK_MAGIC = b"GIMG"  # deferred-image container marker in page_png


def _pack_images(images, rotate: int = 0) -> bytes | None:
    """Serialize a page's PdfImage list into one compact blob WITHOUT
    decoding the pixel payloads. The split stage used to decode heavy
    codecs (JPX/JBIG2/JPEG are per-symbol entropy coders) inline, which
    serialized a skew document's whole decode on ONE task; packing the
    still-compressed payloads and decoding in the fused raster+OCR stage
    puts the heavy work AFTER the page respread, where a 120-page scanned
    document spreads across the cluster. Compressed payloads are also
    smaller than decoded-PNG on real scans, so the shuffle shrinks too.
    ``rotate`` carries the page's effective /Rotate (0/90/180/270): the
    decode stage orients the assembled raster for OCR exactly as
    poppler's rasterizer would."""
    if not images:
        return None
    import struct as _st

    parts = [_PACK_MAGIC, _st.pack(">HB", len(images), (rotate // 90) % 4)]
    for im in images:
        cs = im.colorspace.encode("utf-8")
        co = im.codec.encode("utf-8")
        parts.append(
            _st.pack(">IIBBBI", im.width, im.height, im.bits,
                     len(cs), len(co), len(im.data))
        )
        parts.append(cs)
        parts.append(co)
        parts.append(im.data)
    return b"".join(parts)


def _unpack_images(blob: bytes) -> tuple[list, int]:
    """→ (images, page_rotate_degrees)."""
    from gnosis_ocr_spark.functions.codec_pdf import PdfImage
    import struct as _st

    n, rot_q = _st.unpack_from(">HB", blob, 4)
    pos = 7
    out = []
    for _ in range(n):
        w, h, bits, ncs, nco, nd = _st.unpack_from(">IIBBBI", blob, pos)
        pos += 15
        cs = blob[pos : pos + ncs].decode("utf-8")
        pos += ncs
        co = blob[pos : pos + nco].decode("utf-8")
        pos += nco
        data = blob[pos : pos + nd]
        pos += nd
        out.append(PdfImage(w, h, bits, cs, co, data))
    return out, rot_q * 90


def _materialize_scan(blob, w: int, h: int) -> bytes | None:
    """page_png cell → real PNG bytes: deferred containers decode here
    (the page-parallel stage), already-PNG cells pass through. A deferred
    page whose images all fail to decode renders as a blank page (the
    same empty-text degradation the inline-decode form produced)."""
    if blob is None:
        return None
    b = bytes(blob)
    if b[:4] == _PACK_MAGIC:
        imgs, rot = _unpack_images(b)
        return _scan_png(imgs, rot) or encode_page_png("", w, h)
    return b


def _scan_png(images, rotate: int = 0) -> bytes | None:
    """A page's drawn images as ONE grayscale PNG for the OCR stage.
    Multiple decodable images stack vertically in draw order (scanners
    routinely emit a page as horizontal strips), padded to the widest
    strip. ``rotate`` (the page's effective /Rotate) turns the assembled
    raster CLOCKWISE into display orientation — exactly the view
    poppler rasterizes for the reference's OCR. None when nothing
    decodes in-container (JBIG2 halftone, arithmetic-coded JPEG, exotic
    JPX shapes — the page then extracts as empty text, the honest
    degradation documented in PdfImage)."""
    strips = [g for g in (_gray_pixels(img) for img in images) if g is not None]
    if not strips:
        return None
    if len(strips) == 1 and not rotate:
        px, w, h = strips[0]
        return encode_gray_png(px, w, h)
    import numpy as np

    width = max(w for _, w, _ in strips)
    parts = []
    for px, w, h in strips:
        arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
        if w < width:
            arr = np.pad(arr, ((0, 0), (0, width - w)), constant_values=255)
        parts.append(arr)
    stacked = parts[0] if len(parts) == 1 else np.concatenate(parts, axis=0)
    if rotate:
        # np.rot90 rotates counterclockwise; /Rotate is clockwise display
        stacked = np.ascontiguousarray(
            np.rot90(stacked, k=(4 - rotate // 90) % 4)
        )
    return encode_gray_png(
        stacked.tobytes(), stacked.shape[1], stacked.shape[0]
    )


_TIFF_MAGICS = (b"II*\x00", b"MM\x00*")


def _is_raster(data: bytes) -> bool:
    from gnosis_ocr_spark.operators.multimodal import is_raster_image

    return is_raster_image(data)


def _tiff_page_rows(data: bytes) -> list[tuple[str | None, bytes | None]]:
    """Multi-page TIFF bytes → [(page_text=None, page_png=GIMG pack)] —
    one row per IFD. Each page ships as a rebuilt single-page TIFF
    (strips sliced, never decoded — codec_tiff.split_tiff_pages), packed
    in the same deferred-image container the PDF scanned path uses, so
    strip decode happens page-parallel in the fused raster+OCR stage.
    Un-rebuildable pages (tiled, broken strip tables) pack a loud
    undecodable marker → blank page → empty text."""
    from gnosis_ocr_spark.functions.codec_pdf import PdfImage
    from gnosis_ocr_spark.functions.codec_tiff import split_tiff_pages

    rows = []
    for page_bytes, w, h, bits in split_tiff_pages(data, MAX_PAGES):
        img = (
            PdfImage(w, h, bits, "TIFF", "tiff", page_bytes)
            if page_bytes is not None
            else PdfImage(w, h, bits, "TIFF", "tiff-unsupported", b"")
        )
        rows.append((None, _pack_images([img])))
    return rows


def _image_page_rows(data: bytes) -> list[tuple[str | None, bytes | None]]:
    """Standalone raster image bytes → one page row. The still-compressed
    file ships in the same deferred-image container as the PDF/TIFF
    scanned paths (codec 'image'), so decode happens page-parallel in the
    fused raster+OCR stage — the Spark restatement of the reference's
    direct image-upload OCR (app/static/js/app.js:392 accepts
    png/jpg/jpeg/webp; poppler-equivalent rasterization is a no-op here)."""
    from gnosis_ocr_spark.functions.codec_pdf import PdfImage

    return [(None, _pack_images([PdfImage(0, 0, 8, "Image", "image", data)]))]


def _pdf_page_rows(data: bytes) -> Iterator[tuple[str | None, bytes | None]]:
    total = min(page_count(data), MAX_PAGES)
    # 10-page windows with range pushdown into the parser
    for start in range(1, total + 1, EXTRACT_BATCH_PAGES):
        end = min(start + EXTRACT_BATCH_PAGES - 1, total)
        window = extract_pages_with_images(data, start, end, with_rotation=True)
        for spans, images, rot in window:
            # image-only page: ship the still-compressed payloads (plus
            # the page /Rotate for display orientation); decode happens
            # page-parallel in the raster+OCR stage (see _pack_images);
            # text comes from the OCR stage
            png = _pack_images(images, rotate=rot) if not spans else None
            yield (None if png else page_text(spans)), png


def _make_split_batches(with_route: bool):
    def _split_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_batch in batches:
            out_url: list[str] = []
            out_no: list[int | None] = []
            out_text: list[str | None] = []
            out_png: list[bytes | None] = []
            out_route: list[str] = []
            for url, blob in zip(pdf_batch["url"], pdf_batch["html"]):
                emitted = 0
                data = bytes(blob) if blob is not None else b""
                is_tiff = data[:4] in _TIFF_MAGICS
                is_image = not is_tiff and _is_raster(data)
                route = "tiff" if is_tiff else ("image" if is_image else "pdf")
                try:
                    if is_tiff:
                        page_rows = _tiff_page_rows(data)
                    elif is_image:
                        page_rows = _image_page_rows(data)
                    else:
                        page_rows = _pdf_page_rows(data)
                    for off, (text, png) in enumerate(page_rows):
                        out_url.append(url)
                        out_no.append(1 + off)
                        out_text.append(text)
                        out_png.append(png)
                        out_route.append(route)
                        emitted += 1
                except Exception:
                    if emitted > 0:
                        # MID-document failure (corrupt tail after good
                        # pages — truncated downloads are common): a
                        # sentinel row alongside the partial pages marks
                        # the document incomplete instead of silently
                        # passing a 10-page prefix off as the whole file
                        out_url.append(url)
                        out_no.append(None)
                        out_text.append(None)
                        out_png.append(None)
                        out_route.append(route)
                if emitted == 0:  # sentinel so the url survives to assembly
                    out_url.append(url)
                    out_no.append(None)
                    out_text.append(None)
                    out_png.append(None)
                    out_route.append(route)
            cols = {
                "url": out_url,
                "page_no": out_no,
                "page_text": out_text,
                "page_png": out_png,
            }
            if with_route:
                cols["route"] = out_route
            yield pd.DataFrame(cols)

    return _split_batches


def split_pdf_text_pages(
    pdf_rows: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    with_route: bool = False,
) -> DataFrame:
    """(url, html) → (url, page_no, page_text, page_png[, route]) — the U2
    flat-map (cheap). Handles BOTH heavy document formats on magic bytes:
    PDF (text layer parsed; scanned pages pack deferred images) and
    multi-page TIFF (every page packs a rebuilt still-compressed
    single-page file). ``with_route`` adds the per-document format column
    so a mixed heavy branch can report it without re-reading the bytes."""
    slim = pdf_rows.select(F.col(url_col).alias("url"), F.col(html_col).alias("html"))
    schema = TEXT_PAGE_SCHEMA + (", route string" if with_route else "")
    return slim.mapInPandas(_make_split_batches(with_route), schema=schema)


OCR_PAGE_SCHEMA = "url string, page_no int, page_text string"
OCR_PAGE_CONF_SCHEMA = OCR_PAGE_SCHEMA + ", ocr_conf double"


def raster_ocr_pages(
    pages: DataFrame,
    ocr_engine: str = "stub",
    raster: str | None = None,
    with_confidence: bool = False,
) -> DataFrame:
    """Fused U2-raster + U3-OCR: (url, page_no, page_text) → (url, page_no,
    page_text=ocr output) in ONE Python stage.

    The page pixels (a dpi=150 page is ~0.7-2 MB even PNG-compressed) never
    cross the Python↔JVM Arrow boundary — measured at sf0.1 the unfused
    two-UDF form moves ~14 GB through Arrow for 10k pages and costs 3× the
    wall-clock. Same fusion the reference uses (raster→save→OCR in one loop,
    SURVEY.md §4 "operator fusion").

    The engine always scores its pages; ``with_confidence`` only chooses
    the output schema, adding the per-page ``ocr_conf`` column (real model:
    mean token logprob; stub: deterministic function of the page pixels)
    — the metrics-table input.
    """
    w, h = _raster_size(raster)
    pass_route = "route" in pages.columns

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gnosis_ocr_spark.operators.ocr import get_engine

        engine = get_engine(ocr_engine)  # executor-singleton (U4)
        for b in batches:
            scans = (
                b["page_png"] if "page_png" in b.columns else [None] * len(b)
            )
            pngs = [
                # scanned page: pixels come from the document itself —
                # deferred payloads decode HERE, after the page respread
                _materialize_scan(s, w, h) if s is not None
                else (None if t is None else encode_page_png(t, w, h))
                for t, s in zip(b["page_text"], scans)
            ]
            texts, confs = engine.ocr_batch_scored(pngs)
            cols = {"url": b["url"], "page_no": b["page_no"], "page_text": texts}
            if with_confidence:
                cols["ocr_conf"] = confs
            if pass_route:
                cols["route"] = b["route"]
            yield pd.DataFrame(cols)

    cols = ["url", "page_no", "page_text"]
    if "page_png" in pages.columns:
        cols.append("page_png")
    if pass_route:
        cols.append("route")
    schema = OCR_PAGE_CONF_SCHEMA if with_confidence else OCR_PAGE_SCHEMA
    if pass_route:
        schema += ", route string"
    return pages.select(*cols).mapInPandas(fused, schema=schema)

