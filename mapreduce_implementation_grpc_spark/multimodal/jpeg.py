"""Pure-stdlib/numpy baseline JPEG codec (round 9, VERDICT r8 #8):
the dominant real-world multimodal image format, decodable without
PIL/opencv/ffmpeg (absent from this container by design).

Scope -- baseline sequential DCT (SOF0), the overwhelmingly common
profile for photos:
- decoder: multi-marker parse (APPn/COM/DQT/DHT/SOF0/SOF1/DRI/SOS),
  canonical Huffman entropy decode with byte-unstuffing and RSTn
  restart handling, dequantize, 8x8 IDCT, general (h,v) chroma
  sampling factors with replication upsampling, JFIF YCbCr->RGB.
  The quantization and Huffman tables come from the stream's own
  DQT/DHT segments. The encoder that builds test fixtures is
  `tests/media_encoders.py`.

Everything is deterministic float64/int numpy -- same bytes in, same
pixels out, on any host -- so the decode path slots into the same
Arrow mapInPandas plumbing as the PNG/GIF/WAV codecs
(multimodal/binary_ops.py) and downstream phash dedup stays
reproducible. Progressive (SOF2) and arithmetic-coded JPEGs raise
ValueError with a clear message; they are rare in LLM training
corpora relative to baseline and are the documented boundary.

Spec references: ITU-T T.81 (JPEG), Annex F (baseline); JFIF 1.02
for the color transform. All public documents.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- tables

# zigzag scan order: index z -> (row, col) flattened position
ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# 8x8 DCT-II basis with JPEG normalization: F = C @ f @ C.T
_k = np.arange(8).reshape(8, 1).astype(np.float64)
_n = np.arange(8).reshape(1, 8).astype(np.float64)
DCT_C = np.cos((2 * _n + 1) * _k * np.pi / 16) * np.where(
    _k == 0, np.sqrt(1.0 / 8.0), np.sqrt(2.0 / 8.0)
)


# ---------------------------------------------------------------- bits


class _BitReader:
    """Entropy-segment bit reader: unstuffs 0xFF00, surfaces RSTn
    markers, raises ValueError on truncation."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        if self.marker is not None:
            # A real marker was already reached on a previous fill:
            # any further bit demand means the entropy segment ended
            # before the last MCU.  Without this check, the zero bits
            # below decode as valid Annex-K symbols (DC size 0 / EOB)
            # and the remaining MCUs silently repeat the DC predictor.
            raise ValueError("JPEG entropy data ended before last MCU")
        if self.pos >= len(self.data):
            raise ValueError("JPEG entropy stream truncated")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream truncated at 0xFF")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed byte
            else:
                # a real marker: signal and emit zero bits so a
                # caller that ignores it fails loudly downstream
                self.marker = nxt
                self.pos += 1
                b = 0
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_to_marker(self) -> int | None:
        """Drop partial-byte bits and consume a pending marker (the
        RSTn path)."""
        self.nbits = 0
        self.acc = 0
        if self.marker is None:
            # marker may still be ahead in the raw stream
            while self.pos + 1 < len(self.data) and not (
                self.data[self.pos] == 0xFF and self.data[self.pos + 1] != 0x00
            ):
                self.pos += 1
            if self.pos + 1 < len(self.data):
                self.marker = self.data[self.pos + 1]
                self.pos += 2
        m, self.marker = self.marker, None
        return m


def _build_huffman(bits: list[int], values: list[int]):
    """Canonical JPEG Huffman: returns
    (decode dict {(length, code): symbol}, encode dict {symbol:
    (code, length)})."""
    decode: dict[tuple[int, int], int] = {}
    encode: dict[int, tuple[int, int]] = {}
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = values[vi]
            decode[(length, code)] = sym
            encode[sym] = (code, length)
            vi += 1
            code += 1
        code <<= 1
    return decode, encode


def _decode_symbol(reader: _BitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map a `size`-bit magnitude to its signed
    value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


# ---------------------------------------------------------------- decode


def jpeg_decode(payload: bytes) -> np.ndarray:
    """JPEG bytes -> uint8 array, (h, w) for grayscale or (h, w, 3)
    RGB. Baseline sequential DCT only; progressive or arithmetic
    streams raise ValueError. Malformed/truncated streams raise
    ValueError (same contract as png/gif_decode)."""
    try:
        return _jpeg_decode_inner(payload)
    except (IndexError, struct.error) as exc:
        raise ValueError(f"malformed JPEG stream: {exc!r}") from exc


def _jpeg_decode_inner(payload: bytes) -> np.ndarray:
    if payload[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG payload")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    frame = None
    restart_interval = 0

    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI before SOS data
            break
        (seg_len,) = struct.unpack(">H", payload[pos : pos + 2])
        seg = payload[pos + 2 : pos + seg_len]
        if len(seg) != seg_len - 2:
            raise ValueError("JPEG segment truncated")
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq == 0:
                    table = np.frombuffer(seg[p : p + 64], np.uint8).astype(np.int64)
                    p += 64
                else:
                    table = np.frombuffer(
                        seg[p : p + 128], ">u2"
                    ).astype(np.int64)
                    p += 128
                qts[tq] = table
        elif marker in (0xC0, 0xC1):  # SOF0 / SOF1 (both baseline-decodable)
            precision, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if precision != 8:
                raise ValueError(f"unsupported JPEG precision {precision}")
            comps = []
            for i in range(ncomp):
                cid, hv, tq = struct.unpack(">BBB", seg[6 + 3 * i : 9 + 3 * i])
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD,
                        0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG profile (SOF marker 0xFF{marker:02X}): "
                "only baseline sequential DCT is implemented"
            )
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                nvals = sum(bits)
                values = list(seg[p + 17 : p + 17 + nvals])
                dec, _enc = _build_huffman(bits, values)
                (dc_tables if tc == 0 else ac_tables)[th] = dec
                p += 17 + nvals
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS: entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            if ns != len(frame["comps"]):
                # A scan carrying fewer components than the frame is a
                # non-interleaved (multi-scan) baseline JPEG; decoding
                # it with the frame-wide MCU geometry below would
                # produce scrambled pixels, so fail loudly like SOF2.
                raise ValueError(
                    "unsupported non-interleaved JPEG scan "
                    f"({ns} of {len(frame['comps'])} components)"
                )
            scan = []
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                comp = next(
                    (c for c in frame["comps"] if c["id"] == cs), None
                )
                if comp is None:
                    raise ValueError(
                        f"JPEG SOS references unknown component id {cs}"
                    )
                scan.append((comp, tt >> 4, tt & 0x0F))
            return _decode_scan(
                payload, pos + seg_len, frame, scan, qts, dc_tables,
                ac_tables, restart_interval
            )
        # APPn / COM / others: skip
        pos += seg_len
    raise ValueError("JPEG stream has no SOS scan")


def _decode_scan(payload, pos, frame, scan, qts, dc_tables, ac_tables,
                 restart_interval) -> np.ndarray:
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    planes = {}
    for comp, _, _ in scan:
        planes[comp["id"]] = np.zeros(
            (mcuy * comp["v"] * 8, mcux * comp["h"] * 8), dtype=np.float64
        )

    reader = _BitReader(payload, pos)
    preds = {comp["id"]: 0 for comp, _, _ in scan}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                m = reader.align_to_marker()
                if m is None or not (0xD0 <= m <= 0xD7):
                    raise ValueError("expected JPEG restart marker")
                preds = {cid: 0 for cid in preds}
            for comp, td, ta in scan:
                qt = qts[comp["tq"]]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        zz = np.zeros(64, dtype=np.int64)
                        s = _decode_symbol(reader, dc_tables[td])
                        diff = _extend(reader.read_bits(s), s)
                        preds[comp["id"]] += diff
                        zz[0] = preds[comp["id"]]
                        k = 1
                        while k < 64:
                            rs = _decode_symbol(reader, ac_tables[ta])
                            r, size = rs >> 4, rs & 0x0F
                            if size == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC run past block end")
                            zz[k] = _extend(reader.read_bits(size), size)
                            k += 1
                        block = np.zeros(64, dtype=np.float64)
                        block[ZIGZAG] = zz * qt
                        pix = DCT_C.T @ block.reshape(8, 8) @ DCT_C
                        y0 = (my * comp["v"] + by) * 8
                        x0 = (mx * comp["h"] + bx) * 8
                        planes[comp["id"]][y0 : y0 + 8, x0 : x0 + 8] = pix
            mcu_count += 1

    out_planes = []
    for comp, _, _ in scan:
        p = planes[comp["id"]] + 128.0
        # replication upsample to full MCU-grid resolution
        p = np.repeat(
            np.repeat(p, hmax // comp["h"], axis=1), vmax // comp["v"], axis=0
        )
        out_planes.append(p[:h, :w])

    if len(out_planes) == 1:
        return np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = out_planes[0], out_planes[1] - 128.0, out_planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
