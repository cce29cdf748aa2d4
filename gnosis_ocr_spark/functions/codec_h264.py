"""H.264/AVC (ITU-T H.264 / ISO 14496-10) — the NAL/parameter-set layer
plus I_PCM intra-frame decode, closing the video-frame pixel gap for the
subset that needs no entropy tables.

What is REAL and spec-conformant here:

- RBSP extraction (emulation-prevention 0x000003 removal) and insertion,
  Exp-Golomb ue(v)/se(v) bit I/O (§9.1), Annex B start-code framing AND
  AVCC length-prefixed framing with the avcC decoder-configuration
  record (ISO 14496-15 §5.2.4).
- SPS / PPS parsing (§7.3.2.1-2): profile/level, frame dimensions in
  macroblocks, cropping, POC type, CAVLC-vs-CABAC flag, slice groups.
- IDR/I slice headers (§7.3.3) and the macroblock loop for **I_PCM**
  macroblocks (mb_type 25, §7.3.5 / §8.3.5): raw 4:2:0 samples after
  pcm_alignment_zero_bit — decoded bit-exactly, multiple slices per
  picture supported.
- A fixture ENCODER emitting legal constrained-baseline streams whose
  every macroblock is I_PCM — any conformant H.264 decoder reproduces
  them losslessly (x264 emits this very shape at its lossless corner),
  so round-trip tests certify real interop behavior, not a private
  dialect.

What stays out, loudly: entropy-coded macroblocks. CAVLC residual
decoding needs the full Table 9-5/9-7/9-8 VLC set and CABAC needs §9.3's
context machinery — transcribing those tables from memory would risk a
silently nonconformant decoder, which is worse than an honest boundary.
Predicted/transformed macroblock types therefore raise ValueError and
callers (multimodal.sample_frames) fall back to their documented stub
path. The ffmpeg/openh264 swap seam is the natural upgrade.
"""

from __future__ import annotations

import struct

import numpy as np

MAX_MBS = 16384 * 16  # hostile-input bound: ~64 MPix of macroblocks


# ---------------------------------------------------------------------------
# RBSP + Exp-Golomb bit I/O (§7.4.1, §9.1)
# ---------------------------------------------------------------------------


def _strip_emulation(nal: bytes) -> bytes:
    """NAL payload → RBSP: drop the 0x03 in every 0x000003 run."""
    if b"\x00\x00\x03" not in nal:
        return nal
    out = bytearray()
    i, n = 0, len(nal)
    while i < n:
        if i + 2 < n and nal[i] == 0 and nal[i + 1] == 0 and nal[i + 2] == 3:
            out += nal[i : i + 2]
            i += 3
        else:
            out.append(nal[i])
            i += 1
    return bytes(out)


def _insert_emulation(rbsp: bytes) -> bytes:
    """RBSP → NAL payload: 0x03 before any 00 00 0x with x <= 3."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


class _BitReader:
    __slots__ = ("d", "pos", "n")

    def __init__(self, rbsp: bytes) -> None:
        self.d = rbsp
        self.pos = 0
        self.n = len(rbsp) * 8

    def u(self, nbits: int) -> int:
        if self.pos + nbits > self.n:
            raise ValueError("H264: bitstream truncated")
        v = 0
        d, pos = self.d, self.pos
        for _ in range(nbits):
            v = (v << 1) | ((d[pos >> 3] >> (7 - (pos & 7))) & 1)
            pos += 1
        self.pos = pos
        return v

    def ue(self) -> int:
        lz = 0
        while self.u(1) == 0:
            lz += 1
            if lz > 31:
                raise ValueError("H264: bad Exp-Golomb code")
        return (1 << lz) - 1 + (self.u(lz) if lz else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k & 1 else -(k // 2)

    def byte_align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def raw_bytes(self, count: int) -> bytes:
        if self.pos & 7:
            raise ValueError("H264: unaligned raw read")
        start = self.pos >> 3
        if start + count > len(self.d):
            raise ValueError("H264: bitstream truncated")
        self.pos += count * 8
        return self.d[start : start + count]


class _BitWriter:
    __slots__ = ("out", "buf", "nbits")

    def __init__(self) -> None:
        self.out = bytearray()
        self.buf = 0
        self.nbits = 0

    def u(self, v: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.buf = (self.buf << 1) | ((v >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.buf)
                self.buf = 0
                self.nbits = 0

    def ue(self, v: int) -> None:
        k = v + 1
        nb = k.bit_length()
        self.u(0, nb - 1)
        self.u(k, nb)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def byte_align_zero(self) -> None:
        while self.nbits:
            self.u(0, 1)

    def raw_bytes(self, data: bytes) -> None:
        if self.nbits:
            raise ValueError("H264: unaligned raw write")
        self.out += data

    def trailing(self) -> bytes:
        """rbsp_trailing_bits: stop bit + zero alignment."""
        self.u(1, 1)
        self.byte_align_zero()
        return bytes(self.out)


# ---------------------------------------------------------------------------
# Parameter sets (§7.3.2)
# ---------------------------------------------------------------------------

_HIGH_PROFILES = {100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134}


def _parse_sps(rbsp: bytes) -> dict:
    br = _BitReader(rbsp)
    profile = br.u(8)
    br.u(8)  # constraint flags + reserved
    level = br.u(8)
    sps_id = br.ue()
    chroma_format = 1  # 4:2:0 default
    if profile in _HIGH_PROFILES:
        chroma_format = br.ue()
        if chroma_format == 3:
            br.u(1)  # separate_colour_plane
        br.ue()  # bit_depth_luma_minus8
        br.ue()  # bit_depth_chroma_minus8
        br.u(1)  # qpprime_y_zero_transform_bypass
        if br.u(1):  # seq_scaling_matrix_present
            raise ValueError("H264: scaling matrices unsupported")
    if chroma_format != 1:
        raise ValueError("H264: only 4:2:0 supported")
    log2_max_frame_num = br.ue() + 4
    poc_type = br.ue()
    log2_max_poc_lsb = 0
    if poc_type == 0:
        log2_max_poc_lsb = br.ue() + 4
    elif poc_type == 1:
        br.u(1)
        br.se()
        br.se()
        for _ in range(br.ue()):
            br.se()
    br.ue()  # max_num_ref_frames
    br.u(1)  # gaps_in_frame_num_value_allowed
    w_mbs = br.ue() + 1
    h_map = br.ue() + 1
    frame_mbs_only = br.u(1)
    if not frame_mbs_only:
        raise ValueError("H264: interlaced (field) coding unsupported")
    br.u(1)  # direct_8x8_inference
    crop = (0, 0, 0, 0)
    if br.u(1):  # frame_cropping
        crop = (br.ue(), br.ue(), br.ue(), br.ue())
    if w_mbs * h_map > MAX_MBS:
        raise ValueError("H264: picture exceeds macroblock bound")
    return {
        "profile": profile,
        "level": level,
        "sps_id": sps_id,
        "log2_max_frame_num": log2_max_frame_num,
        "poc_type": poc_type,
        "log2_max_poc_lsb": log2_max_poc_lsb,
        "w_mbs": w_mbs,
        "h_mbs": h_map,
        "crop": crop,  # left, right, top, bottom in 2-px chroma units
    }


def _parse_pps(rbsp: bytes) -> dict:
    br = _BitReader(rbsp)
    pps_id = br.ue()
    sps_id = br.ue()
    cabac = br.u(1)
    bottom_poc = br.u(1)  # bottom_field_pic_order_in_frame_present
    if br.ue() != 0:
        raise ValueError("H264: slice groups (FMO) unsupported")
    br.ue()  # num_ref_idx_l0_default_active_minus1
    br.ue()  # num_ref_idx_l1_default_active_minus1
    br.u(1)  # weighted_pred
    br.u(2)  # weighted_bipred_idc
    init_qp = br.se() + 26
    br.se()  # pic_init_qs
    br.se()  # chroma_qp_index_offset
    deblock_present = br.u(1)
    br.u(1)  # constrained_intra_pred
    br.u(1)  # redundant_pic_cnt_present
    return {
        "pps_id": pps_id,
        "sps_id": sps_id,
        "cabac": bool(cabac),
        "bottom_poc": bool(bottom_poc),
        "init_qp": init_qp,
        "deblock_present": bool(deblock_present),
    }


# ---------------------------------------------------------------------------
# Frame decode: IDR/I slices of I_PCM macroblocks
# ---------------------------------------------------------------------------


def _iter_annexb(data: bytes):
    """Yield NAL payloads from an Annex B byte stream. Trailing zeros on
    each NAL are the next start code's prefix (a NAL's last RBSP byte
    always carries the rbsp_stop_bit, so it is nonzero) — strip them."""
    i = 0
    n = len(data)
    starts: list[int] = []
    while i + 3 <= n:
        if data[i] == 0 and data[i + 1] == 0:
            if data[i + 2] == 1:
                starts.append(i + 3)
                i += 3
                continue
            if i + 4 <= n and data[i + 2] == 0 and data[i + 3] == 1:
                starts.append(i + 4)
                i += 4
                continue
        i += 1
    for j, s in enumerate(starts):
        e = n if j + 1 == len(starts) else starts[j + 1] - 3
        chunk = data[s:e].rstrip(b"\x00")
        if chunk:
            yield chunk


def _iter_length_prefixed(data: bytes, length_size: int):
    pos = 0
    n = len(data)
    while pos + length_size <= n:
        ln = int.from_bytes(data[pos : pos + length_size], "big")
        pos += length_size
        if ln == 0 or pos + ln > n:
            raise ValueError("H264: bad NAL length prefix")
        yield data[pos : pos + ln]
        pos += ln


def parse_avcc(record: bytes) -> tuple[list[bytes], list[bytes], int]:
    """avcC decoder-configuration record → (sps list, pps list,
    nal_length_size)."""
    if len(record) < 7 or record[0] != 1:
        raise ValueError("H264: bad avcC record")
    length_size = (record[4] & 0x03) + 1
    n_sps = record[5] & 0x1F
    pos = 6
    sps_list: list[bytes] = []
    for _ in range(n_sps):
        (ln,) = struct.unpack_from(">H", record, pos)
        pos += 2
        sps_list.append(record[pos : pos + ln])
        pos += ln
    if pos >= len(record):
        raise ValueError("H264: truncated avcC")
    n_pps = record[pos]
    pos += 1
    pps_list: list[bytes] = []
    for _ in range(n_pps):
        (ln,) = struct.unpack_from(">H", record, pos)
        pos += 2
        pps_list.append(record[pos : pos + ln])
        pos += ln
    return sps_list, pps_list, length_size


def build_avcc(sps_nal: bytes, pps_nal: bytes) -> bytes:
    """avcC record from one SPS + one PPS NAL (with their NAL headers)."""
    sps_rbsp = sps_nal[1:]
    return (
        bytes([1, sps_rbsp[0], sps_rbsp[1], sps_rbsp[2], 0xFF, 0xE1])
        + struct.pack(">H", len(sps_nal))
        + sps_nal
        + bytes([1])
        + struct.pack(">H", len(pps_nal))
        + pps_nal
    )


def decode_h264_frame(
    data: bytes, avcc: bytes | None = None
) -> tuple[int, int, np.ndarray, np.ndarray, np.ndarray]:
    """Decode ONE I_PCM-coded picture → (width, height, Y, Cb, Cr planes,
    chroma at quarter size). ``data`` is Annex B (start codes) when
    ``avcc`` is None, else length-prefixed with the record's length size
    and the record's parameter sets pre-loaded. Entropy-coded macroblocks
    (any non-I_PCM mb_type) raise ValueError — the documented boundary."""
    sps_map: dict[int, dict] = {}
    pps_map: dict[int, dict] = {}
    if avcc is not None:
        sps_list, pps_list, length_size = parse_avcc(avcc)
        for nal in sps_list:
            s = _parse_sps(_strip_emulation(nal[1:]))
            sps_map[s["sps_id"]] = s
        for nal in pps_list:
            p = _parse_pps(_strip_emulation(nal[1:]))
            pps_map[p["pps_id"]] = p
        nals = _iter_length_prefixed(data, length_size)
    else:
        nals = _iter_annexb(data)

    planes = None
    sps = None
    mb_filled = 0
    total_mbs = 0
    for nal in nals:
        if not nal:
            continue
        nal_type = nal[0] & 0x1F
        rbsp = _strip_emulation(nal[1:])
        if nal_type == 7:
            s = _parse_sps(rbsp)
            sps_map[s["sps_id"]] = s
            continue
        if nal_type == 8:
            p = _parse_pps(rbsp)
            pps_map[p["pps_id"]] = p
            continue
        if nal_type not in (1, 5):  # non-slice NALs: SEI, AUD, filler …
            continue
        br = _BitReader(rbsp)
        first_mb = br.ue()
        slice_type = br.ue()
        if slice_type % 5 != 2:  # I slices only (2 or 7)
            raise ValueError("H264: non-I slice unsupported")
        pps = pps_map.get(br.ue())
        if pps is None:
            raise ValueError("H264: slice references unknown PPS")
        if pps["cabac"]:
            raise ValueError("H264: CABAC entropy coding unsupported")
        sps = sps_map.get(pps["sps_id"])
        if sps is None:
            raise ValueError("H264: PPS references unknown SPS")
        br.u(sps["log2_max_frame_num"])  # frame_num
        if nal_type == 5:
            br.ue()  # idr_pic_id
        if sps["poc_type"] == 0:
            br.u(sps["log2_max_poc_lsb"])  # pic_order_cnt_lsb
            if pps["bottom_poc"]:
                br.se()  # delta_pic_order_cnt_bottom
        br.se()  # slice_qp_delta
        if pps["deblock_present"]:
            if br.ue() != 1:  # disable_deblocking_filter_idc
                br.se()
                br.se()
        w_mbs, h_mbs = sps["w_mbs"], sps["h_mbs"]
        total_mbs = w_mbs * h_mbs
        if planes is None:
            planes = (
                np.zeros((h_mbs * 16, w_mbs * 16), dtype=np.uint8),
                np.zeros((h_mbs * 8, w_mbs * 8), dtype=np.uint8),
                np.zeros((h_mbs * 8, w_mbs * 8), dtype=np.uint8),
            )
        # more_rbsp_data boundary: bits strictly before the LAST set bit
        # of the RBSP (the rbsp_stop_bit)
        stop_pos = br.n
        for bi in range(len(rbsp) - 1, -1, -1):
            if rbsp[bi]:
                low = rbsp[bi] & -rbsp[bi]
                stop_pos = bi * 8 + 7 - (low.bit_length() - 1)
                break
        mb = first_mb
        while mb < total_mbs and br.pos < stop_pos:
            mb_type = br.ue()
            if mb_type != 25:  # I_PCM
                raise ValueError(
                    "H264: entropy-coded macroblock (CAVLC residuals)"
                    " unsupported"
                )
            br.byte_align()  # pcm_alignment_zero_bit s
            y = np.frombuffer(br.raw_bytes(256), dtype=np.uint8)
            cb = np.frombuffer(br.raw_bytes(64), dtype=np.uint8)
            cr = np.frombuffer(br.raw_bytes(64), dtype=np.uint8)
            my, mx = (mb // w_mbs) * 16, (mb % w_mbs) * 16
            planes[0][my : my + 16, mx : mx + 16] = y.reshape(16, 16)
            planes[1][my // 2 : my // 2 + 8, mx // 2 : mx // 2 + 8] = (
                cb.reshape(8, 8)
            )
            planes[2][my // 2 : my // 2 + 8, mx // 2 : mx // 2 + 8] = (
                cr.reshape(8, 8)
            )
            mb += 1
            mb_filled += 1
    if planes is None or sps is None:
        raise ValueError("H264: no decodable slice")
    if mb_filled < total_mbs:
        raise ValueError("H264: picture not fully covered by slices")
    left, right, top, bottom = sps["crop"]
    w = sps["w_mbs"] * 16 - 2 * (left + right)
    h = sps["h_mbs"] * 16 - 2 * (top + bottom)
    ly, lx = 2 * top, 2 * left
    return (
        w,
        h,
        planes[0][ly : ly + h, lx : lx + w],
        planes[1][top : top + h // 2 + (h & 1), left : left + w // 2 + (w & 1)],
        planes[2][top : top + h // 2 + (h & 1), left : left + w // 2 + (w & 1)],
    )


def decode_h264_gray(data: bytes, avcc: bytes | None = None) -> tuple[int, int, bytes]:
    """One frame's luma plane as 8-bit gray — the frame-sampler seam."""
    w, h, y, _cb, _cr = decode_h264_frame(data, avcc)
    return w, h, np.ascontiguousarray(y).tobytes()


# ---------------------------------------------------------------------------
# Fixture encoder: constrained-baseline, all-I_PCM IDR frames
# ---------------------------------------------------------------------------


def encode_h264_ipcm(
    y: np.ndarray, cb: np.ndarray | None = None, cr: np.ndarray | None = None
) -> tuple[bytes, bytes, bytes]:
    """Encode one frame as (sps_nal, pps_nal, idr_nal) — every macroblock
    I_PCM, so the stream is lossless and any conformant decoder
    reproduces the input exactly. ``y`` is (h, w) uint8 with even
    dimensions; chroma defaults to flat 128 (gray) at quarter size."""
    h, w = y.shape
    if w % 2 or h % 2 or w == 0 or h == 0:
        raise ValueError("H264: frame dimensions must be even")
    if cb is None:
        cb = np.full((h // 2, w // 2), 128, dtype=np.uint8)
    if cr is None:
        cr = np.full((h // 2, w // 2), 128, dtype=np.uint8)
    if cb.shape != (h // 2, w // 2) or cr.shape != (h // 2, w // 2):
        raise ValueError("H264: chroma planes must be quarter size")
    w_mbs, h_mbs = -(-w // 16), -(-h // 16)
    if w_mbs * h_mbs > MAX_MBS:
        raise ValueError("H264: frame exceeds macroblock bound")
    # pad to macroblock multiples with edge replication, crop in the SPS
    ypad = np.pad(
        y.astype(np.uint8),
        ((0, h_mbs * 16 - h), (0, w_mbs * 16 - w)), mode="edge",
    )
    cbpad = np.pad(
        cb.astype(np.uint8),
        ((0, h_mbs * 8 - h // 2), (0, w_mbs * 8 - w // 2)), mode="edge",
    )
    crpad = np.pad(
        cr.astype(np.uint8),
        ((0, h_mbs * 8 - h // 2), (0, w_mbs * 8 - w // 2)), mode="edge",
    )

    # ---- SPS (constrained baseline, POC type 2, frame coding only)
    bw = _BitWriter()
    bw.u(66, 8)  # profile_idc: baseline
    bw.u(0xC0, 8)  # constraint_set0+1 (constrained baseline)
    bw.u(30, 8)  # level 3.0
    bw.ue(0)  # sps_id
    bw.ue(0)  # log2_max_frame_num_minus4
    bw.ue(2)  # pic_order_cnt_type 2 (no POC fields)
    bw.ue(1)  # max_num_ref_frames
    bw.u(0, 1)  # gaps_in_frame_num_value_allowed
    bw.ue(w_mbs - 1)
    bw.ue(h_mbs - 1)
    bw.u(1, 1)  # frame_mbs_only
    bw.u(1, 1)  # direct_8x8_inference
    crop_r = (w_mbs * 16 - w) // 2
    crop_b = (h_mbs * 16 - h) // 2
    if crop_r or crop_b:
        bw.u(1, 1)
        bw.ue(0)
        bw.ue(crop_r)
        bw.ue(0)
        bw.ue(crop_b)
    else:
        bw.u(0, 1)
    bw.u(0, 1)  # vui_parameters_present
    sps_nal = b"\x67" + _insert_emulation(bw.trailing())

    # ---- PPS (CAVLC, no FMO, no deblocking override)
    bw = _BitWriter()
    bw.ue(0)  # pps_id
    bw.ue(0)  # sps_id
    bw.u(0, 1)  # entropy_coding_mode: CAVLC
    bw.u(0, 1)  # bottom_field_pic_order_in_frame_present
    bw.ue(0)  # num_slice_groups_minus1
    bw.ue(0)  # num_ref_idx_l0_default_active_minus1
    bw.ue(0)  # num_ref_idx_l1_default_active_minus1
    bw.u(0, 1)  # weighted_pred
    bw.u(0, 2)  # weighted_bipred_idc
    bw.se(0)  # pic_init_qp_minus26
    bw.se(0)  # pic_init_qs_minus26
    bw.se(0)  # chroma_qp_index_offset
    bw.u(0, 1)  # deblocking_filter_control_present
    bw.u(0, 1)  # constrained_intra_pred
    bw.u(0, 1)  # redundant_pic_cnt_present
    pps_nal = b"\x68" + _insert_emulation(bw.trailing())

    # ---- IDR slice: every macroblock I_PCM
    bw = _BitWriter()
    bw.ue(0)  # first_mb_in_slice
    bw.ue(7)  # slice_type: I (all slices of the picture)
    bw.ue(0)  # pps_id
    bw.u(0, 4)  # frame_num (log2_max_frame_num = 4)
    bw.ue(0)  # idr_pic_id
    bw.se(0)  # slice_qp_delta
    for mb in range(w_mbs * h_mbs):
        my, mx = (mb // w_mbs) * 16, (mb % w_mbs) * 16
        bw.ue(25)  # mb_type I_PCM
        bw.byte_align_zero()  # pcm_alignment_zero_bit s
        bw.raw_bytes(np.ascontiguousarray(
            ypad[my : my + 16, mx : mx + 16]
        ).tobytes())
        bw.raw_bytes(np.ascontiguousarray(
            cbpad[my // 2 : my // 2 + 8, mx // 2 : mx // 2 + 8]
        ).tobytes())
        bw.raw_bytes(np.ascontiguousarray(
            crpad[my // 2 : my // 2 + 8, mx // 2 : mx // 2 + 8]
        ).tobytes())
    idr_nal = b"\x65" + _insert_emulation(bw.trailing())
    return sps_nal, pps_nal, idr_nal

