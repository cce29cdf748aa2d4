"""CCITT Group 4 (ITU-T T.6, 2-D MMR) and Group 3 (ITU-T T.4, 1-D MH and
K>0 mixed two-dimensional) codec.

Real-crawl scanned black-and-white documents are predominantly 1-bit
CCITT-G4 fax-encoded images inside PDF ``/CCITTFaxDecode`` streams — the
reference rasterizes those pages transparently via poppler
(/root/reference/app/jobs.py:386-390). This module is a from-scratch
implementation of the public ITU-T T.6 / T.4 specifications (same class of
work as the LZW/Flate/JPEG codecs already in this package): the modified
Huffman run-length tables, the 2-D vertical/horizontal/pass coding modes,
EOFB handling, and the T.4 §4.2.1 mixed mode (PDF ``/K > 0``: every line
prefixed by EOL + a tag bit choosing 1-D or 2-D coding, RTC terminator).
Both the encoder (fixture writer + property tests) and the decoder (the
crawl-facing path, wired behind codec_pdf's ``_apply_one_filter``) live
here.

Bit conventions
---------------
Internally a pixel is "black" or "white" (fax semantics). The packed 1-bpp
sample format used at the API boundary follows PDF ``/CCITTFaxDecode``
semantics: with ``black_is_1=False`` (the PDF default) a **0 bit is black**
— which is exactly the 1-bit ``/DeviceGray`` convention, so default-decoded
data feeds straight into an image's sample buffer. Rows are packed
MSB-first and padded to a byte boundary (stride = ceil(columns/8)).

Throughput honesty: the mode/run state machine is per-changing-element
Python, one table lookup per code word with the bit reader's state in
locals for the row; the image is built with numpy from the rows'
changing elements, a block of rows at a time. Scanned text has few
transitions per row, so cost is O(transitions), not O(pixels) — same honesty class as
codec_jpeg's entropy decoder; the libtiff swap seam is the same.
"""

from __future__ import annotations

import itertools

import numpy as np

# ---------------------------------------------------------------------------
# ITU-T T.4 modified-Huffman run-length tables (public spec, Tables 2-4).
# Strings keep the table verifiable against the spec; compiled to
# (bits, length) int pairs at import.
# ---------------------------------------------------------------------------

_WHITE_TERM = [
    "00110101", "000111", "0111", "1000", "1011", "1100", "1110", "1111",
    "10011", "10100", "00111", "01000", "001000", "000011", "110100",
    "110101", "101010", "101011", "0100111", "0001100", "0001000",
    "0010111", "0000011", "0000100", "0101000", "0101011", "0010011",
    "0100100", "0011000", "00000010", "00000011", "00011010", "00011011",
    "00010010", "00010011", "00010100", "00010101", "00010110", "00010111",
    "00101000", "00101001", "00101010", "00101011", "00101100", "00101101",
    "00000100", "00000101", "00001010", "00001011", "01010010", "01010011",
    "01010100", "01010101", "00100100", "00100101", "01011000", "01011001",
    "01011010", "01011011", "01001010", "01001011", "00110010", "00110011",
    "00110100",
]
_WHITE_MAKEUP = {
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100", 768: "011001101",
    832: "011010010", 896: "011010011", 960: "011010100", 1024: "011010101",
    1088: "011010110", 1152: "011010111", 1216: "011011000",
    1280: "011011001", 1344: "011011010", 1408: "011011011",
    1472: "010011000", 1536: "010011001", 1600: "010011010",
    1664: "011000", 1728: "010011011",
}
_BLACK_TERM = [
    "0000110111", "010", "11", "10", "011", "0011", "0010", "00011",
    "000101", "000100", "0000100", "0000101", "0000111", "00000100",
    "00000111", "000011000", "0000010111", "0000011000", "0000001000",
    "00001100111", "00001101000", "00001101100", "00000110111",
    "00000101000", "00000010111", "00000011000", "000011001010",
    "000011001011", "000011001100", "000011001101", "000001101000",
    "000001101001", "000001101010", "000001101011", "000011010010",
    "000011010011", "000011010100", "000011010101", "000011010110",
    "000011010111", "000001101100", "000001101101", "000011011010",
    "000011011011", "000001010100", "000001010101", "000001010110",
    "000001010111", "000001100100", "000001100101", "000001010010",
    "000001010011", "000000100100", "000000110111", "000000111000",
    "000000100111", "000000101000", "000001011000", "000001011001",
    "000000101011", "000000101100", "000001011010", "000001100110",
    "000001100111",
]
_BLACK_MAKEUP = {
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}
# extended makeup codes 1792-2560 are shared between colors (T.4 Table 4)
_EXT_MAKEUP = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}

_EOL = "000000000001"

# hostile-input bound (same rationale as codec_jpeg.MAX_PIXELS): a crafted
# stream (huge /Columns, tiny V0-bit rows) must never MemoryError an
# executor — one row can cost up to Columns bytes of bool scratch
MAX_PIXELS = 50_000_000


def _enc_table(term: list[str], makeup: dict[int, str]) -> dict[int, tuple[int, int]]:
    t = {run: (int(code, 2), len(code)) for run, code in enumerate(term)}
    for run, code in makeup.items():
        t[run] = (int(code, 2), len(code))
    for run, code in _EXT_MAKEUP.items():
        t[run] = (int(code, 2), len(code))
    return t


def _dec_table(term: list[str], makeup: dict[int, str]) -> dict[tuple[int, int], int]:
    t = {(len(code), int(code, 2)): run for run, code in enumerate(term)}
    for run, code in makeup.items():
        t[(len(code), int(code, 2))] = run
    for run, code in _EXT_MAKEUP.items():
        t[(len(code), int(code, 2))] = run
    return t


_WHITE_ENC = _enc_table(_WHITE_TERM, _WHITE_MAKEUP)
_BLACK_ENC = _enc_table(_BLACK_TERM, _BLACK_MAKEUP)
_WHITE_DEC = _dec_table(_WHITE_TERM, _WHITE_MAKEUP)
_BLACK_DEC = _dec_table(_BLACK_TERM, _BLACK_MAKEUP)
_MAX_CODE_LEN = 13


def _run_lut(dec: dict[tuple[int, int], int]) -> list:
    """13-bit prefix LUT: one peek + one index per MH code word."""
    lut: list = [None] * (1 << _MAX_CODE_LEN)
    for (length, value), run in dec.items():
        base = value << (_MAX_CODE_LEN - length)
        for i in range(1 << (_MAX_CODE_LEN - length)):
            lut[base + i] = (run, length)
    return lut


_WHITE_LUT = _run_lut(_WHITE_DEC)
_BLACK_LUT = _run_lut(_BLACK_DEC)

# 7-bit prefix LUT for the T.6 mode codes → (mode, code length), where
# mode is the vertical a1-b1 offset (-3..3), _HORIZ or _PASS; None = EOL
# prefix / corrupt
_HORIZ = 8
_PASS = 9
_MODE_LUT: list = [None] * 128
for _prefix, _mode in (
    ("1", 0), ("011", 1), ("010", -1), ("001", _HORIZ),
    ("0001", _PASS), ("000011", 2), ("000010", -2),
    ("0000011", 3), ("0000010", -3),
):
    _base = int(_prefix, 2) << (7 - len(_prefix))
    for _i in range(1 << (7 - len(_prefix))):
        _MODE_LUT[_base + _i] = (_mode, len(_prefix))


class _BitReader:
    """Accumulator bit reader (MSB-first): one peek + one skip per code
    word instead of per-bit Python calls — the same shape as
    codec_jpeg's reader. Past-EOF fills are ZEROS (tracked in ``pad``):
    zero runs decode as the EOL prefix, so corrupt/truncated streams
    terminate with a clean ValueError instead of looping."""

    __slots__ = ("data", "nbytes", "pos", "acc", "nbits", "pad")

    def __init__(self, data: bytes):
        self.data = data
        self.nbytes = len(data)
        self.pos = 0  # next byte index
        self.acc = 0
        self.nbits = 0
        self.pad = 0  # zero-padding bits currently buffered (LSB side)

    def eof(self) -> bool:
        return (self.nbytes - self.pos) * 8 + self.nbits - self.pad <= 0

    def peek(self, n: int) -> int:
        while self.nbits < n:
            if self.pos < self.nbytes:
                self.acc = (self.acc << 8) | self.data[self.pos]
                self.pos += 1
            else:
                self.acc <<= 8
                self.pad += 8
            self.nbits += 8
        return (self.acc >> (self.nbits - n)) & ((1 << n) - 1)

    def skip(self, n: int) -> None:
        if self.nbits < n:
            self.peek(n)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        if self.nbits < self.pad:  # consumed into the padding
            raise ValueError("CCITT: truncated stream")

    def read_bit(self) -> int:
        v = self.peek(1)
        self.skip(1)
        return v

    def align(self) -> None:
        if self.nbits % 8:
            self.skip(self.nbits % 8)

    def peek12(self) -> int:
        return self.peek(12)


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | value
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)

    def align(self) -> None:
        """Zero-pad to the next byte boundary (/EncodedByteAlign)."""
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def getvalue(self) -> bytes:
        if self.nbits:
            return bytes(self.buf) + bytes(
                [(self.acc << (8 - self.nbits)) & 0xFF]
            )
        return bytes(self.buf)


def _read_run(
    lut: list, data: bytes, nbytes: int, pos: int, acc: int, nbits: int,
    pad: int,
) -> tuple[int, int, int, int, int]:
    """One complete MH run length — zero or more makeup codes + a
    terminating code (<64) — read from ``lut`` (_WHITE_LUT/_BLACK_LUT)
    on unpacked :class:`_BitReader` state → (run, pos, acc, nbits, pad).
    One refill check and one table index per code word; raises on
    unknown code words and on reads into the past-EOF padding."""
    total = 0
    while True:
        while nbits < 13:  # refill; past-EOF fills are zeros (pad)
            if pos < nbytes:
                acc = (acc << 8) | data[pos]
                pos += 1
            else:
                acc <<= 8
                pad += 8
            nbits += 8
        hit = lut[(acc >> (nbits - 13)) & 0x1FFF]
        if hit is None:
            raise ValueError("CCITT: bad run code")
        run, length = hit
        nbits -= length
        acc &= (1 << nbits) - 1
        if nbits < pad:  # consumed into the padding
            raise ValueError("CCITT: truncated stream")
        total += run
        if run < 64:  # terminating code ends the run
            return total, pos, acc, nbits, pad


def _write_run(bw: _BitWriter, run: int, black: bool) -> None:
    table = _BLACK_ENC if black else _WHITE_ENC
    while run >= 64:
        make = min(2560, (run >> 6) << 6)
        bw.write(*table[make])
        run -= make
    bw.write(*table[run])


def _transitions(row: np.ndarray) -> list[int]:
    """Changing-element positions of a bool row (True = black); positions
    alternate white->black, black->white, ... starting from imaginary
    white before column 0."""
    padded = np.diff(row.astype(np.int8), prepend=np.int8(0))
    return np.nonzero(padded)[0].tolist()


def _b1_index(ref: list[int], a0: int, color: int) -> int:
    """First index i with ref[i] > a0 and parity matching the coding color
    (color 0 = white needs even i: a white->black transition)."""
    i = 0
    n = len(ref)
    while i < n and ref[i] <= a0:
        i += 1
    if (i & 1) != color:
        i += 1
    return i


def _decode_2d_row(br: _BitReader, ref: list[int], columns: int) -> list[int]:
    """Decode one 2-D-coded row (T.6 / T.4 §4.2.1 mode words) against the
    reference line's changing elements; returns the new changing elements.
    The reader's state lives in locals for the row: one refill check and
    one table index per mode word (the :class:`_BitReader` rules,
    inlined); the horizontal mode's two runs go through :func:`_read_run`
    on the same state."""
    data, nbytes = br.data, br.nbytes
    pos, acc, nbits, pad = br.pos, br.acc, br.nbits, br.pad
    cur: list[int] = []
    a0 = -1
    color = 0
    lo = 0  # monotonic cursor into ref (a0 strictly increases)
    nref = len(ref)
    while a0 < columns:
        while lo < nref and ref[lo] <= a0:
            lo += 1
        i = lo if (lo & 1) == color else lo + 1
        b1 = ref[i] if i < nref else columns
        while nbits < 13:  # refill; past-EOF fills are zeros (pad)
            if pos < nbytes:
                acc = (acc << 8) | data[pos]
                pos += 1
            else:
                acc <<= 8
                pad += 8
            nbits += 8
        hit = _MODE_LUT[(acc >> (nbits - 7)) & 0x7F]
        if hit is None:  # EOL prefix mid-row = EOFB / corrupt end
            raise ValueError("CCITT: unexpected EOL in G4 row")
        mode, length = hit
        nbits -= length
        acc &= (1 << nbits) - 1
        if nbits < pad:  # consumed into the padding
            raise ValueError("CCITT: truncated stream")
        if mode == _HORIZ:  # horizontal: two MH runs, a0a1 then a1a2
            a1 = a0 if a0 > 0 else 0
            lut = _BLACK_LUT if color else _WHITE_LUT
            for _ in range(2):
                run, pos, acc, nbits, pad = _read_run(
                    lut, data, nbytes, pos, acc, nbits, pad
                )
                a1 += run
                cur.append(a1 if a1 < columns else columns)
                lut = _WHITE_LUT if lut is _BLACK_LUT else _BLACK_LUT
            a0 = a1
        elif mode == _PASS:
            a0 = ref[i + 1] if i + 1 < nref else columns
        else:  # vertical family: mode is the a1 - b1 offset
            a1 = b1 + mode
            # clamp to [0, columns] (corrupt streams can overshoot)
            c = a1 if a1 < columns else columns
            cur.append(c if c > 0 else 0)
            a0, color = a1, color ^ 1
    br.pos, br.acc, br.nbits, br.pad = pos, acc, nbits, pad
    return cur


def _decode_1d_row(br: _BitReader, columns: int) -> list[int]:
    """Decode one 1-D MH-coded row; returns its changing elements. Reader
    state in locals, as in :func:`_decode_2d_row`."""
    data, nbytes = br.data, br.nbytes
    pos, acc, nbits, pad = br.pos, br.acc, br.nbits, br.pad
    x = 0
    lut = _WHITE_LUT
    cur: list[int] = []
    while x < columns:
        run, pos, acc, nbits, pad = _read_run(
            lut, data, nbytes, pos, acc, nbits, pad
        )
        x += run
        cur.append(x if x < columns else columns)
        lut = _BLACK_LUT if lut is _WHITE_LUT else _WHITE_LUT
    br.pos, br.acc, br.nbits, br.pad = pos, acc, nbits, pad
    return cur


def decode_g4(
    data: bytes,
    columns: int,
    rows: int = 0,
    black_is_1: bool = False,
    byte_align: bool = False,
) -> bytes:
    """Decode ITU-T T.6 (Group 4 / pure 2-D MMR) data to packed 1-bpp rows
    (stride = ceil(columns/8)). ``rows=0`` decodes until EOFB or data end.
    ``black_is_1=False`` (PDF default) emits 0 bits for black — the 1-bit
    /DeviceGray convention."""
    if columns <= 0 or columns > 1 << 20:
        raise ValueError("CCITT: bad Columns")
    if rows > 0 and rows * columns > MAX_PIXELS:
        raise ValueError("CCITT: image exceeds pixel bound")
    br = _BitReader(data)
    ref: list[int] = []  # imaginary all-white reference line
    sink = _RowSink(columns)
    max_rows = rows if rows > 0 else max(1, MAX_PIXELS // columns)
    eol = int(_EOL, 2)
    while sink.count < max_rows:
        if byte_align:
            # EncodedByteAlign aligns each ROW start, but EOFB is written
            # UNALIGNED right after the last row (our encoder and the
            # fax-world norm): aligning first swallowed EOFB's lead bits
            # and raised on rows=0 streams. A pre-align 12-bit peek could
            # false-match pad zeros + a 0001-prefixed row code, so the
            # unaligned check requires the FULL 24-bit EOFB.
            if not br.eof() and br.peek(24) == (eol << 12) | eol:
                break
            br.align()
        if br.eof():
            break
        if br.peek12() == eol:  # EOFB (or stray EOL) terminates
            break
        cur = _decode_2d_row(br, ref, columns)
        sink.add(cur)
        ref = cur
        if rows <= 0 and br.eof():
            break
    if rows > 0 and sink.count < rows:
        raise ValueError("CCITT: truncated image")
    return sink.pack(black_is_1)


def decode_g3_2d(
    data: bytes,
    columns: int,
    rows: int = 0,
    black_is_1: bool = False,
    byte_align: bool = False,
) -> bytes:
    """Decode ITU-T T.4 §4.2.1 mixed two-dimensional data — PDF
    ``/CCITTFaxDecode`` with ``/K > 0``. Every coded line is preceded by an
    EOL (000000000001) plus one tag bit: 1 = the line is 1-D (MH) coded,
    0 = 2-D coded against the previous line (same mode words as G4). The
    EOLs make the format self-delimiting, so K itself (the encoder's cap on
    consecutive 2-D lines) never appears on the wire. Terminates at RTC
    (an EOL+tag immediately followed by another EOL), explicit ``rows``,
    or data end. ``byte_align`` aligns before each EOL search."""
    if columns <= 0 or columns > 1 << 20:
        raise ValueError("CCITT: bad Columns")
    if rows > 0 and rows * columns > MAX_PIXELS:
        raise ValueError("CCITT: image exceeds pixel bound")
    br = _BitReader(data)
    eol = int(_EOL, 2)
    ref: list[int] = []
    sink = _RowSink(columns)
    max_rows = rows if rows > 0 else max(1, MAX_PIXELS // columns)
    while sink.count < max_rows:
        if byte_align:
            br.align()
        # zero fill bits are permitted before each EOL (T.4 §4.1.2)
        found = False
        while not br.eof():
            if br.peek12() == eol:
                br.skip(12)
                found = True
                break
            if br.peek(1) != 0:
                raise ValueError("CCITT: expected EOL in K>0 stream")
            br.skip(1)
        if not found or br.eof():
            break
        tag = br.read_bit()
        if br.eof() or br.peek12() == eol:
            break  # RTC: EOL+tag pairs with no line data between them
        cur = _decode_1d_row(br, columns) if tag else _decode_2d_row(
            br, ref, columns
        )
        sink.add(cur)
        ref = cur
    if rows > 0 and sink.count < rows:
        raise ValueError("CCITT: truncated image")
    return sink.pack(black_is_1)


def decode_g3_1d(
    data: bytes,
    columns: int,
    rows: int = 0,
    black_is_1: bool = False,
    byte_align: bool = False,
) -> bytes:
    """Decode ITU-T T.4 one-dimensional (MH) data — PDF /CCITTFaxDecode
    with /K 0. Leading/interleaved EOL codes are skipped when present
    (PDF default /EndOfLine false omits them)."""
    if columns <= 0 or columns > 1 << 20:
        raise ValueError("CCITT: bad Columns")
    if rows > 0 and rows * columns > MAX_PIXELS:
        raise ValueError("CCITT: image exceeds pixel bound")
    br = _BitReader(data)
    sink = _RowSink(columns)
    max_rows = rows if rows > 0 else max(1, MAX_PIXELS // columns)
    eol = int(_EOL, 2)
    while sink.count < max_rows:
        if byte_align:
            br.align()
        # EOLs may carry FILL (zero bits) before them (T.4 §4.1.2 — the
        # byte-aligned-EOL TIFF shape): no run code has 12 leading zeros,
        # so an all-zero 12-bit window can only be fill — consume it bit
        # by bit until the EOL (or data end) appears
        while not br.eof():
            p = br.peek12()
            if p == eol:
                br.skip(12)
            elif p == 0:
                br.skip(1)
            else:
                break
        if br.eof():
            break
        sink.add(_decode_1d_row(br, columns))
        if rows <= 0 and br.eof():
            break
    if rows > 0 and sink.count < rows:
        raise ValueError("CCITT: truncated image")
    return sink.pack(black_is_1)


def _image_from_transitions(rows: list[list[int]], columns: int) -> np.ndarray:
    """(len(rows), columns) bool image (True = black) from each row's
    changing elements, built once per image. A row's runs alternate
    white/black from column 0; an odd count leaves the last run black
    to the row end. Decoded rows are non-decreasing, so the image is the
    run-length expansion of all rows' toggle positions laid end to end
    (odd rows get a closing toggle at the row end). A corrupt stream can
    step a row backwards; then each [start, end) pair is painted, the
    per-row rule."""
    n = len(rows)
    counts = np.fromiter(map(len, rows), dtype=np.int64, count=n)
    pos = np.fromiter(
        itertools.chain.from_iterable(rows), dtype=np.int64,
        count=int(counts.sum()),
    )
    pos += np.repeat(np.arange(n, dtype=np.int64) * columns, counts)
    odd = np.flatnonzero(counts & 1)
    pos = np.insert(pos, np.cumsum(counts)[odd], (odd + 1) * columns)
    runs = np.diff(pos, prepend=0, append=n * columns)
    if (runs >= 0).all():
        color = (np.arange(runs.size) & 1).astype(bool)
        return np.repeat(color, runs).reshape(n, columns)
    black = np.zeros((n, columns), dtype=bool)
    for r, cur in enumerate(rows):
        for i in range(0, len(cur), 2):
            end = cur[i + 1] if i + 1 < len(cur) else columns
            black[r, cur[i] : end] = True
    return black


class _RowSink:
    """Decoded rows' changing elements, materialized into bool image
    blocks every ``_SINK_FLUSH`` transitions: one numpy build per block
    instead of one array per row, and the transition lists a dense
    (hostile) stream piles up stay bounded."""

    __slots__ = ("columns", "rows", "pending", "count", "blocks")

    def __init__(self, columns: int) -> None:
        self.columns = columns
        self.rows: list[list[int]] = []
        self.pending = 0
        self.count = 0
        self.blocks: list[np.ndarray] = []

    def add(self, cur: list[int]) -> None:
        self.rows.append(cur)
        self.count += 1
        self.pending += len(cur)
        if self.pending > _SINK_FLUSH:
            self._flush()

    def _flush(self) -> None:
        if self.rows:
            self.blocks.append(_image_from_transitions(self.rows, self.columns))
            self.rows = []
            self.pending = 0

    def pack(self, black_is_1: bool) -> bytes:
        """Packed 1-bpp rows (stride = ceil(columns/8)); b"" for none."""
        self._flush()
        if not self.blocks:
            return b""
        blocks = self.blocks
        black = blocks[0] if len(blocks) == 1 else np.vstack(blocks)
        bits = black if black_is_1 else ~black
        return np.packbits(bits, axis=1).tobytes()


_SINK_FLUSH = 1 << 16


def _unpack_rows(
    data: bytes, columns: int, rows: int, black_is_1: bool
) -> np.ndarray:
    stride = (columns + 7) // 8
    if len(data) < stride * rows:
        raise ValueError("CCITT: sample buffer too small")
    arr = np.frombuffer(data[: stride * rows], dtype=np.uint8)
    bits = np.unpackbits(arr.reshape(rows, stride), axis=1)[:, :columns]
    black = bits.astype(bool) if black_is_1 else ~bits.astype(bool)
    return black


def encode_g4(
    data: bytes,
    columns: int,
    rows: int,
    black_is_1: bool = False,
    byte_align: bool = False,
) -> bytes:
    """Encode packed 1-bpp rows (stride = ceil(columns/8), PDF sample
    convention per ``black_is_1``) as ITU-T T.6 (Group 4) + EOFB.
    ``byte_align`` starts each coded row on a byte boundary
    (/EncodedByteAlign true)."""
    black = _unpack_rows(data, columns, rows, black_is_1)
    bw = _BitWriter()
    ref: list[int] = []
    for y in range(rows):
        if byte_align:
            bw.align()
        cur = _transitions(black[y])
        _encode_2d_row(bw, cur, ref, columns)
        ref = cur
    bw.write(int(_EOL, 2), 12)  # EOFB = two EOLs
    bw.write(int(_EOL, 2), 12)
    return bw.getvalue()


def _encode_2d_row(
    bw: _BitWriter, cur: list[int], ref: list[int], columns: int
) -> None:
    """Emit one 2-D-coded row (T.6 mode words) for changing elements
    ``cur`` against reference line ``ref``."""
    a0 = -1
    color = 0
    ci = 0  # index into cur of the next transition > a0 for this color
    while a0 < columns:
        i = _b1_index(ref, a0, color)
        b1 = ref[i] if i < len(ref) else columns
        b2 = ref[i + 1] if i + 1 < len(ref) else columns
        # a1: next changing element on the coding line after a0
        while ci < len(cur) and cur[ci] <= a0:
            ci += 1
        a1 = cur[ci] if ci < len(cur) else columns
        if b2 < a1:  # pass mode
            bw.write(0b0001, 4)
            a0 = b2
        elif abs(a1 - b1) <= 3:  # vertical mode
            d = a1 - b1
            code, length = {
                0: (0b1, 1),
                1: (0b011, 3), -1: (0b010, 3),
                2: (0b000011, 6), -2: (0b000010, 6),
                3: (0b0000011, 7), -3: (0b0000010, 7),
            }[d]
            bw.write(code, length)
            a0, color = a1, color ^ 1
        else:  # horizontal mode: 001 + run(a0a1) + run(a1a2)
            a2 = cur[ci + 1] if ci + 1 < len(cur) else columns
            start = a0 if a0 > 0 else 0
            bw.write(0b001, 3)
            _write_run(bw, a1 - start, black=bool(color))
            _write_run(bw, a2 - a1, black=not bool(color))
            a0 = a2


def _encode_1d_row(bw: _BitWriter, cur: list[int], columns: int) -> None:
    """Emit one 1-D MH-coded row for changing elements ``cur``."""
    pos = 0
    color = 0
    for t in cur + [columns]:
        _write_run(bw, t - pos, black=bool(color))
        pos = t
        color ^= 1
        if pos >= columns:
            break


def encode_g3_2d(
    data: bytes,
    columns: int,
    rows: int,
    black_is_1: bool = False,
    byte_align: bool = False,
    k: int = 4,
) -> bytes:
    """Encode packed 1-bpp rows as ITU-T T.4 §4.2.1 mixed two-dimensional
    data (PDF ``/K > 0``): every line gets EOL + tag bit, lines at indices
    divisible by ``k`` are 1-D coded and the rest 2-D coded (so at most
    k-1 consecutive 2-D lines, the spec's constraint for /K = k). Ends
    with RTC (six EOL+1). ``byte_align`` pads to a byte boundary before
    each EOL."""
    if k <= 0:
        raise ValueError("CCITT: encode_g3_2d requires k > 0")
    black = _unpack_rows(data, columns, rows, black_is_1)
    bw = _BitWriter()
    eol = int(_EOL, 2)
    ref: list[int] = []
    for y in range(rows):
        if byte_align:
            bw.align()
        one_d = y % k == 0
        bw.write(eol, 12)
        bw.write(1 if one_d else 0, 1)
        cur = _transitions(black[y])
        if one_d:
            _encode_1d_row(bw, cur, columns)
        else:
            _encode_2d_row(bw, cur, ref, columns)
        ref = cur
    # RTC: six EOL+1 with no fill BETWEEN entries (alignment only before
    # the first, like any other EOL) — the decoder detects RTC as an
    # EOL+tag immediately followed by another EOL, so padding between
    # entries would defeat rows=0 termination. Real PDFs carry /Rows and
    # stop before RTC anyway.
    if byte_align:
        bw.align()
    for _ in range(6):
        bw.write(eol, 12)
        bw.write(1, 1)
    return bw.getvalue()


def encode_g3_1d(
    data: bytes,
    columns: int,
    rows: int,
    black_is_1: bool = False,
    byte_align: bool = False,
    eol: bool = False,
) -> bytes:
    """Encode packed 1-bpp rows as ITU-T T.4 1-D MH. Default (PDF /K 0,
    /EndOfLine false) emits no EOLs; ``eol=True`` prefixes every line with
    the T.4 §4.1.2 EOL code and ends with RTC — the form TIFF
    compression=3 requires (strict readers like the JDK fax decoder
    refuse EOL-less compression-3 strips; the EOL-less byte-aligned shape
    is TIFF compression=2 instead). ``byte_align`` starts each row on a
    byte boundary."""
    black = _unpack_rows(data, columns, rows, black_is_1)
    bw = _BitWriter()
    eol_code = int(_EOL, 2)
    for y in range(rows):
        if byte_align:
            bw.align()
        if eol:
            bw.write(eol_code, 12)
        _encode_1d_row(bw, _transitions(black[y]), columns)
    if eol:
        if byte_align:
            bw.align()
        for _ in range(6):
            bw.write(eol_code, 12)
    return bw.getvalue()
