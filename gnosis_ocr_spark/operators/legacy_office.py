"""Legacy binary office + email extraction — DOC, XLS, PPT (over CFB), EML.

The pre-2007 Microsoft formats are still a large slice of crawled office
documents; the reference allow-lists their extensions
(/root/reference/app/config.py:19) without opening them. Built on the
from-scratch codec_cfb container walk:

* **DOC** (MS-DOC): the WordDocument stream's FIB locates the CLX in the
  0Table/1Table stream; the PlcPcd piece table maps character positions
  to file offsets with per-piece cp1252-compressed vs UTF-16LE encoding
  (the ``fc & 0x40000000`` flag). Text is clipped to ``ccpText`` (main
  document only — no footnote/header ranges), field instructions
  (0x13..0x14) are dropped keeping field results (..0x15), cell/row
  marks and line breaks map to separators.
* **XLS** (MS-XLS, BIFF8): Workbook stream record walk — SST with
  Continue-record spanning (fresh ``fHighByte`` flag per continuation,
  rich/ext payloads skipped), LABELSST via the shared-string table,
  LABEL inline strings, NUMBER/RK numerics (RK int/div-100/float30
  decoding); one line per row, sheets split on per-substream BOF.
* **PPT** (MS-PPT): "PowerPoint Document" stream record tree
  (``recVer==0xF`` containers), TextCharsAtom (UTF-16LE) and
  TextBytesAtom (cp1252) paragraphs, slide count from Slide containers.
* **EML** (RFC 5322/2045 MIME): stdlib ``email`` parsing (the same
  stdlib-primitive policy as zlib/HTMLParser), Subject as heading,
  text/plain parts decoded per charset, text/html parts through the U7
  main-content extractor, base64/quoted-printable transfer decoding.

All extractors are total over hostile bytes (empty text, never an
exception out of the UDF). Fixture writers emit minimal spec-valid files
so goldens stay knowable by construction.
"""

from __future__ import annotations

import re
import struct

from gnosis_ocr_spark.functions.codec_cfb import CfbError, CfbView, build_cfb
from gnosis_ocr_spark.operators.html_extract import extract_main_text

# paragraphs join by ONE convention across every extraction route — shared
# with the ZIP-based extractors (cycle-free: office_extract only imports
# this module lazily), never re-defined
from gnosis_ocr_spark.operators.office_extract import _join_paras


# ---------------------------------------------------------------------------
# DOC — MS-DOC piece table
# ---------------------------------------------------------------------------


def _doc_pieces(word: bytes, table: bytes) -> list[str]:
    fc_clx = struct.unpack_from("<L", word, 0x1A2)[0]
    lcb_clx = struct.unpack_from("<L", word, 0x1A6)[0]
    ccp_text = struct.unpack_from("<L", word, 0x4C)[0]
    clx = table[fc_clx : fc_clx + lcb_clx]
    pos = 0
    plc = None
    while pos < len(clx):
        if clx[pos] == 0x01:  # Prc: grpprl property modifier — skip
            cb = struct.unpack_from("<H", clx, pos + 1)[0]
            pos += 3 + cb
        elif clx[pos] == 0x02:  # Pcdt
            lcb = struct.unpack_from("<L", clx, pos + 1)[0]
            plc = clx[pos + 5 : pos + 5 + lcb]
            break
        else:
            break
    if not plc or len(plc) < 16:
        return []
    n = (len(plc) - 4) // 12
    cps = struct.unpack_from(f"<{n + 1}L", plc, 0)
    out: list[str] = []
    for i in range(n):
        cp0, cp1 = cps[i], min(cps[i + 1], ccp_text)
        if cp1 <= cp0:
            continue
        fc_raw = struct.unpack_from("<L", plc, (n + 1) * 4 + i * 8 + 2)[0]
        compressed = bool(fc_raw & 0x40000000)
        fc = fc_raw & 0x3FFFFFFF
        count = cp1 - cp0
        if compressed:
            raw = word[fc // 2 : fc // 2 + count]
            out.append(raw.decode("cp1252", errors="replace"))
        else:
            raw = word[fc : fc + 2 * count]
            out.append(raw.decode("utf-16-le", errors="replace"))
    return out


def _doc_clean(text: str) -> list[str]:
    """Control-character semantics of MS-DOC main text → paragraphs."""
    paras: list[str] = []
    cur: list[str] = []
    field_depth = 0  # >0 while inside a field INSTRUCTION (0x13..0x14)
    for ch in text:
        o = ord(ch)
        if o == 0x13:
            field_depth += 1
            continue
        if o == 0x14:
            if field_depth:
                field_depth -= 1  # separator: result text that follows stays
            continue
        if o == 0x15:
            continue  # field end
        if field_depth:
            continue
        if o in (0x0D, 0x0C):  # paragraph mark / page break
            paras.append("".join(cur))
            cur = []
        elif o == 0x07:  # cell / row mark
            cur.append("\t")
        elif o == 0x0B:  # line break
            cur.append("\n")
        elif o == 0x1E:  # non-breaking hyphen
            cur.append("-")
        elif o in (0x01, 0x02, 0x05, 0x08, 0x1F):  # object/annotation marks
            continue
        else:
            cur.append(ch)
    if cur:
        paras.append("".join(cur))
    return paras


def extract_doc(view: CfbView) -> tuple[str, int]:
    word = view.try_read("WordDocument")
    if not word or len(word) < 0x200 or struct.unpack_from("<H", word, 0)[0] != 0xA5EC:
        return "", 0
    flags = struct.unpack_from("<H", word, 0x0A)[0]
    table = view.try_read("1Table" if flags & 0x0200 else "0Table")
    if table is None:  # crawl files sometimes carry the other one anyway
        table = view.try_read("0Table" if flags & 0x0200 else "1Table")
    if table is None:
        return "", 0
    try:
        raw = "".join(_doc_pieces(word, table))
    except Exception:
        return "", 0
    text = _join_paras(_doc_clean(raw))
    return text, 1 if text else 0


# ---------------------------------------------------------------------------
# XLS — BIFF8 record walk
# ---------------------------------------------------------------------------


class _BiffStrings:
    """SST reader with Continue-record spanning: character data resumes in
    the continuation with a FRESH fHighByte option byte (MS-XLS §2.5.293)."""

    def __init__(self, chunks: list[bytes]):
        self._chunks = chunks
        self._ci = 0
        self._off = 0

    def _avail(self) -> int:
        return len(self._chunks[self._ci]) - self._off

    def _advance(self) -> bool:
        while self._ci + 1 < len(self._chunks):
            self._ci += 1
            self._off = 0
            if self._chunks[self._ci]:
                return True
        return False

    def read(self, n: int) -> bytes:
        out = bytearray()
        while n > 0:
            if self._avail() <= 0 and not self._advance():
                break
            take = min(n, self._avail())
            out += self._chunks[self._ci][self._off : self._off + take]
            self._off += take
            n -= take
        return bytes(out)

    def u8(self) -> int:
        b = self.read(1)
        return b[0] if b else 0

    def u16(self) -> int:
        b = self.read(2)
        return int.from_bytes(b, "little") if len(b) == 2 else 0

    def u32(self) -> int:
        b = self.read(4)
        return int.from_bytes(b, "little") if len(b) == 4 else 0

    def read_chars(self, cch: int, high: bool) -> str:
        """Read cch characters honoring continuation-boundary grbit resets."""
        parts: list[str] = []
        while cch > 0:
            if self._avail() <= 0:
                if not self._advance():
                    break
                high = bool(self.u8() & 0x01)  # fresh option byte
            width = 2 if high else 1
            take_ch = min(cch, self._avail() // width)
            if take_ch == 0:
                if self._avail() % width:  # partial char at a cut: stop
                    break
                continue
            raw = self.read(take_ch * width)
            parts.append(
                raw.decode("utf-16-le" if high else "latin-1", errors="replace")
            )
            cch -= take_ch
        return "".join(parts)


def _parse_sst(chunks: list[bytes]) -> list[str]:
    r = _BiffStrings(chunks)
    r.u32()  # cstTotal
    n = r.u32()
    out: list[str] = []
    for _ in range(min(n, 1 << 22)):
        cch = r.u16()
        flags = r.u8()
        high = bool(flags & 0x01)
        ext = bool(flags & 0x04)
        rich = bool(flags & 0x08)
        c_run = r.u16() if rich else 0
        cb_ext = r.u32() if ext else 0
        out.append(r.read_chars(cch, high))
        r.read(4 * c_run)
        r.read(cb_ext)
    return out


def _rk_value(rk: int) -> str:
    f_div100 = rk & 0x01
    f_int = rk & 0x02
    if f_int:
        v = rk >> 2
        if v & (1 << 29):
            v -= 1 << 30
        num = float(v)
    else:
        num = struct.unpack("<d", struct.pack("<Q", (rk & 0xFFFFFFFC) << 32))[0]
    if f_div100:
        num /= 100.0
    return _fmt_num(num)


def _fmt_num(num: float) -> str:
    import math

    if not math.isfinite(num):  # inf/NaN payloads: int(num) would raise
        return repr(num)
    return str(int(num)) if num == int(num) else repr(num)


def extract_xls(view: CfbView) -> tuple[str, int]:
    wb = view.try_read("Workbook")
    if wb is None:
        wb = view.try_read("Book")
    if wb is None:
        return "", 0
    # record walk: collect SST (+Continues), then cells per substream
    sst: list[str] = []
    sheets: list[dict[tuple[int, int], str]] = []
    cells: dict[tuple[int, int], str] | None = None
    pos = 0
    sst_chunks: list[bytes] | None = None
    pending_sst: list[bytes] = []
    n_bof = 0
    while pos + 4 <= len(wb):
        rtype, rlen = struct.unpack_from("<HH", wb, pos)
        payload = wb[pos + 4 : pos + 4 + rlen]
        pos += 4 + rlen
        if rtype == 0x00FC:  # SST
            pending_sst = [payload]
            sst_chunks = pending_sst
            continue
        if rtype == 0x003C and sst_chunks is not None:  # Continue
            sst_chunks.append(payload)
            continue
        if sst_chunks is not None:
            sst = _parse_sst(sst_chunks)
            sst_chunks = None
        if rtype == 0x0809:  # BOF
            n_bof += 1
            if n_bof > 1:  # worksheet substream
                cells = {}
                sheets.append(cells)
            continue
        if rtype == 0x000A:  # EOF
            cells = None
            continue
        if cells is None or len(payload) < 6:
            continue
        rw, col = struct.unpack_from("<HH", payload, 0)
        if rtype == 0x00FD and len(payload) >= 10:  # LABELSST
            isst = struct.unpack_from("<L", payload, 6)[0]
            if isst < len(sst):
                cells[(rw, col)] = sst[isst]
        elif rtype == 0x0204 and len(payload) >= 9:  # LABEL (inline)
            cch = struct.unpack_from("<H", payload, 6)[0]
            grbit = payload[8] if len(payload) > 8 else 0
            high = bool(grbit & 0x01)
            # XLUnicodeRichExtendedString: rich (0x08) inserts cRun(2) and
            # ext (0x04) inserts cbExtRst(4) between grbit and the chars —
            # the SST parser honors these; inline LABELs must too or the
            # text starts two bytes early and garbles
            start = 9 + (2 if grbit & 0x08 else 0) + (4 if grbit & 0x04 else 0)
            raw = payload[start:]
            cells[(rw, col)] = (
                raw[: 2 * cch].decode("utf-16-le", errors="replace")
                if high
                else raw[:cch].decode("latin-1", errors="replace")
            )
        elif rtype == 0x0203 and len(payload) >= 14:  # NUMBER
            cells[(rw, col)] = _fmt_num(struct.unpack_from("<d", payload, 6)[0])
        elif rtype == 0x027E and len(payload) >= 10:  # RK
            cells[(rw, col)] = _rk_value(struct.unpack_from("<L", payload, 6)[0])
        elif rtype == 0x00BD:  # MULRK: rw, colFirst, rkrec..., colLast
            n_rk = (len(payload) - 6) // 6
            for k in range(n_rk):
                rk = struct.unpack_from("<L", payload, 4 + 6 * k + 2)[0]
                cells[(rw, col + k)] = _rk_value(rk)
    if sst_chunks is not None:
        sst = _parse_sst(sst_chunks)
    paras: list[str] = []
    for cells in sheets:
        by_row: dict[int, dict[int, str]] = {}
        for (rw, col), val in cells.items():
            by_row.setdefault(rw, {})[col] = val
        for rw in sorted(by_row):
            row = by_row[rw]
            paras.append("\t".join(row[c] for c in sorted(row)))
    text = _join_paras(paras)
    return text, len(sheets) if text else 0


# ---------------------------------------------------------------------------
# PPT — record tree
# ---------------------------------------------------------------------------

_PPT_SLIDE = 0x03EE
_PPT_TEXT_CHARS = 0x0FA0
_PPT_TEXT_BYTES = 0x0FA8


def _walk_ppt(data: bytes, out: list[str], counts: list[int], depth: int = 0) -> None:
    if depth > 32:
        return
    pos = 0
    while pos + 8 <= len(data):
        ver_inst, rtype, rlen = struct.unpack_from("<HHL", data, pos)
        if rlen > len(data) - pos - 8:
            rlen = len(data) - pos - 8
        payload = data[pos + 8 : pos + 8 + rlen]
        pos += 8 + rlen
        if rtype == 0 and rlen == 0:
            break  # zero-fill tail
        if rtype == _PPT_SLIDE:
            counts[0] += 1
        if (ver_inst & 0xF) == 0xF:  # container
            _walk_ppt(payload, out, counts, depth + 1)
        elif rtype == _PPT_TEXT_CHARS:
            out.append(payload.decode("utf-16-le", errors="replace"))
        elif rtype == _PPT_TEXT_BYTES:
            out.append(payload.decode("cp1252", errors="replace"))


def extract_ppt(view: CfbView) -> tuple[str, int]:
    doc = view.try_read("PowerPoint Document")
    if doc is None:
        return "", 0
    paras: list[str] = []
    counts = [0]
    _walk_ppt(doc, paras, counts)
    # PPT text atoms use \r as the in-atom paragraph separator
    split: list[str] = []
    for p in paras:
        split.extend(p.replace("\x0b", "\n").split("\r"))
    text = _join_paras(split)
    return text, (counts[0] or 1) if text else 0


# ---------------------------------------------------------------------------
# EML — RFC 5322 / MIME
# ---------------------------------------------------------------------------

# conservative sniff: a header block with at least one canonical mail header
_EML_HEADER_RE = re.compile(
    rb"^(?:[!-9;-~]+:[ \t][^\r\n]*\r?\n)*"
    rb"(?:From|To|Subject|Date|Received|Return-Path|MIME-Version|Message-ID)"
    rb":[ \t]",
    re.I,
)


def looks_like_eml(data: bytes) -> bool:
    # the leading-'<' guard keeps pathological HTML ("<html>x: y\nFrom: …")
    # out of the mail path — mirrored by routing.route_col's JVM regex
    return not data.startswith(b"<") and bool(_EML_HEADER_RE.match(data[:512]))


def extract_eml(data: bytes) -> tuple[str, int]:
    import email
    import email.policy

    try:
        msg = email.message_from_bytes(bytes(data), policy=email.policy.default)
    except Exception:
        return "", 0
    paras: list[str] = []
    try:
        subj = msg.get("Subject", "")
        if subj:
            paras.append(str(subj))
    except Exception:
        pass
    for part in msg.walk():
        ctype = part.get_content_type()
        if ctype not in ("text/plain", "text/html"):
            continue
        try:
            payload = part.get_payload(decode=True)
        except Exception:
            payload = None
        if payload is None:
            continue
        if ctype == "text/html":
            t = extract_main_text(payload)
            if t:
                paras.extend(t.split("\n\n"))  # keep block boundaries
        else:
            charset = part.get_content_charset() or "utf-8"
            try:
                t = payload.decode(charset, errors="replace")
            except LookupError:
                t = payload.decode("utf-8", errors="replace")
            paras.extend(t.replace("\r\n", "\n").split("\n\n"))
    text = _join_paras(paras)
    return text, 1 if text else 0


# ---------------------------------------------------------------------------
# dispatch (CFB subtypes)
# ---------------------------------------------------------------------------


def extract_cfb(data: bytes) -> tuple[str, int, str]:
    try:
        view = CfbView(bytes(data))
    except CfbError:
        return "", 0, "bad"
    try:
        if "WordDocument" in view:
            t, n = extract_doc(view)
            return t, n, "doc"
        if "Workbook" in view or "Book" in view:
            t, n = extract_xls(view)
            return t, n, "xls"
        if "PowerPoint Document" in view:
            t, n = extract_ppt(view)
            return t, n, "ppt"
    except Exception:
        return "", 0, "bad"
    return "", 0, "cfb"


# ---------------------------------------------------------------------------
# fixture writers
# ---------------------------------------------------------------------------


def build_doc(paragraphs: list[str]) -> bytes:
    """Minimal MS-DOC: FIB + one text piece (cp1252 or UTF-16 as needed),
    piece table in a 1Table stream."""
    content = "\r".join(paragraphs) + "\r"
    try:
        raw = content.encode("cp1252")
        compressed = True
    except UnicodeEncodeError:
        raw = content.encode("utf-16-le")
        compressed = False
    fc_text = 1024
    word = bytearray(fc_text) + raw
    struct.pack_into("<H", word, 0, 0xA5EC)  # wIdent
    struct.pack_into("<H", word, 2, 0x00C1)  # nFib (Word 97)
    struct.pack_into("<H", word, 0x0A, 0x0200)  # fWhichTblStm → 1Table
    struct.pack_into("<H", word, 0x20, 0x000E)  # csw
    struct.pack_into("<H", word, 0x3E, 0x0016)  # cslw
    struct.pack_into("<L", word, 0x40, len(word))  # cbMac
    struct.pack_into("<L", word, 0x4C, len(content))  # ccpText
    struct.pack_into("<H", word, 0x98, 0x005D)  # cbRgFcLcb
    # piece table
    fc = (fc_text * 2) | 0x40000000 if compressed else fc_text
    plc = struct.pack("<LL", 0, len(content)) + struct.pack("<HLH", 0, fc, 0)
    clx = b"\x02" + struct.pack("<L", len(plc)) + plc
    struct.pack_into("<L", word, 0x1A2, 0)  # fcClx
    struct.pack_into("<L", word, 0x1A6, len(clx))  # lcbClx
    return build_cfb([("WordDocument", bytes(word)), ("1Table", clx)])


def build_xls(rows: list[list[str]], n_sheets: int = 1) -> bytes:
    """Minimal BIFF8 workbook: globals substream with SST + BOUNDSHEETs,
    one worksheet substream per sheet with LABELSST cells (rows round-robin
    across sheets when n_sheets > 1)."""

    def rec(rtype: int, payload: bytes) -> bytes:
        return struct.pack("<HH", rtype, len(payload)) + payload

    shared: list[str] = []
    index: dict[str, int] = {}
    per_sheet: list[list[bytes]] = [[] for _ in range(n_sheets)]
    for ri, row in enumerate(rows):
        s = ri % n_sheets
        rw = ri // n_sheets
        for ci, val in enumerate(row):
            si = index.setdefault(val, len(shared))
            if si == len(shared):
                shared.append(val)
            per_sheet[s].append(
                rec(0x00FD, struct.pack("<HHHL", rw, ci, 0, si))
            )
    sst_payload = struct.pack("<LL", len(rows), len(shared))
    for s in shared:
        try:
            raw = s.encode("latin-1")
            sst_payload += struct.pack("<HB", len(s), 0) + raw
        except UnicodeEncodeError:
            sst_payload += struct.pack("<HB", len(s), 1) + s.encode("utf-16-le")
    bof_globals = rec(0x0809, struct.pack("<HHHHLL", 0x0600, 0x0005, 0, 0, 0, 0))
    bof_sheet = struct.pack("<HHHHLL", 0x0600, 0x0010, 0, 0, 0, 0)
    sheet_blobs = [
        rec(0x0809, bof_sheet) + b"".join(cells) + rec(0x000A, b"")
        for cells in per_sheet
    ]
    # BOUNDSHEET offsets need the globals length first: build with
    # placeholders, then patch
    bs_payloads = []
    for i in range(n_sheets):
        name = f"Sheet{i + 1}".encode("latin-1")
        bs_payloads.append(
            struct.pack("<LHB", 0, 0, len(name)) + b"\x00" + name
        )
    globals_blob = (
        bof_globals
        + rec(0x00FC, sst_payload)
        + b"".join(rec(0x0085, p) for p in bs_payloads)
        + rec(0x000A, b"")
    )
    # patch lbPlyPos in each BOUNDSHEET
    out = bytearray(globals_blob)
    offset = len(globals_blob)
    pos = len(bof_globals) + 4 + len(sst_payload)
    for i in range(n_sheets):
        struct.pack_into("<L", out, pos + 4, offset)
        offset += len(sheet_blobs[i])
        pos += 4 + len(bs_payloads[i])
    wb = bytes(out) + b"".join(sheet_blobs)
    return build_cfb([("Workbook", wb)])


def build_ppt(slides: list[list[str]]) -> bytes:
    """Minimal MS-PPT: one Slide container per slide, each paragraph a
    TextBytesAtom (or TextCharsAtom when non-cp1252)."""

    def rec(ver_inst: int, rtype: int, payload: bytes) -> bytes:
        return struct.pack("<HHL", ver_inst, rtype, len(payload)) + payload

    slides_blob = b""
    for paras in slides:
        inner = b""
        for p in paras:
            try:
                inner += rec(0, _PPT_TEXT_BYTES, p.encode("cp1252"))
            except UnicodeEncodeError:
                inner += rec(0, _PPT_TEXT_CHARS, p.encode("utf-16-le"))
        slides_blob += rec(0x000F, _PPT_SLIDE, inner)
    doc = rec(0x000F, 0x03E8, slides_blob)  # Document container
    return build_cfb([("PowerPoint Document", doc), ("Current User", b"\x00" * 20)])


def build_eml(paragraphs: list[str], html_alternative: bool = False) -> bytes:
    """Minimal RFC 5322 message; multipart/alternative with an HTML part
    when requested (the plain part is then left empty so extraction is
    driven through the HTML path)."""
    body = "\n\n".join(paragraphs)
    if not html_alternative:
        header = (
            "From: fixtures@example.test\r\n"
            "To: corpus@example.test\r\n"
            "Subject: \r\n"
            "MIME-Version: 1.0\r\n"
            'Content-Type: text/plain; charset="utf-8"\r\n'
            "Content-Transfer-Encoding: 8bit\r\n"
            "\r\n"
        )
        return header.encode() + body.encode("utf-8")
    import base64

    html = "<html><body><article>" + "".join(
        f"<p>{p.replace('&', '&amp;').replace('<', '&lt;')}</p>"
        for p in paragraphs
    ) + "</article></body></html>"
    b64 = base64.encodebytes(html.encode("utf-8")).decode()
    msg = (
        "From: fixtures@example.test\r\n"
        "Subject: \r\n"
        "MIME-Version: 1.0\r\n"
        'Content-Type: multipart/alternative; boundary="BOUND42"\r\n'
        "\r\n"
        "--BOUND42\r\n"
        'Content-Type: text/html; charset="utf-8"\r\n'
        "Content-Transfer-Encoding: base64\r\n"
        "\r\n"
        f"{b64}\r\n"
        "--BOUND42--\r\n"
    )
    return msg.encode()
