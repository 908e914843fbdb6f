"""Media encoders that build the codec tests' fixtures: baseline JPEG,
animated GIF and PCM WAV bytes from numpy arrays. The package only
decodes media (`multimodal/codecs.py`, `multimodal/jpeg.py`); these
encoders produce the deterministic inputs its decoders are checked
against, so they live with the tests.

- `jpeg_encode`: baseline sequential DCT (SOF0), 4:4:4 or 4:2:0,
  libjpeg-style quality-scaled Annex K quantization tables, the spec's
  standard Huffman tables, DC prediction + (run, size) AC coding, byte
  stuffing (ITU-T T.81 Annex F and K; JFIF 1.02 color transform).
- `gif_encode`: GIF89a with literal LZW codes and periodic Clear codes
  (the classic "uncompressed GIF" technique), which every conforming
  decoder accepts.
- `wav_encode`: 16-bit PCM RIFF/WAVE, mono or interleaved channels.
- `media_df`: a payload DataFrame whose rows declare the modality
  their bytes sniff as, so `multimodal.binary_ops` decodes each row
  with its real codec.
"""

from __future__ import annotations

import struct

import numpy as np

from mapreduce_implementation_grpc_spark.multimodal.codecs import sniff
from mapreduce_implementation_grpc_spark.multimodal.jpeg import (
    DCT_C,
    ZIGZAG,
    _build_huffman,
)


def media_df(spark, payloads: dict[int, bytes], modality: str | None = None):
    """[doc_id, payload, meta] rows; meta.modality is `modality`, or
    by default what each payload sniffs as."""
    return spark.createDataFrame(
        [
            (doc_id, bytearray(p), (modality or sniff(bytes(p)), len(p), ""))
            for doc_id, p in payloads.items()
        ],
        "doc_id long, payload binary,"
        " meta struct<modality: string, n_bytes: int, content_sha256: string>",
    )

# ---------------------------------------------------------------- JPEG

# Annex K example quantization tables (luminance, chrominance)
QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# standard Huffman tables (Annex K): (bits[1..16], values)
HT_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HT_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HT_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
HT_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """libjpeg quality scaling of the Annex K tables."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (QT_LUMA, QT_CHROMA):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int64))
    return out[0], out[1]


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _encode_block(writer, block, qt, dc_enc, ac_enc, pred: int) -> int:
    coef = DCT_C @ (block - 128.0) @ DCT_C.T
    zz = np.round(coef.reshape(64)[ZIGZAG] / qt[ZIGZAG]).astype(np.int64)
    # DC
    diff = int(zz[0]) - pred
    s = _category(diff)
    code, length = dc_enc[s]
    writer.write(code, length)
    if s:
        writer.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    # AC
    run = 0
    last_nz = np.nonzero(zz[1:])[0]
    last = (last_nz[-1] + 1) if len(last_nz) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_enc[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        s = _category(v)
        code, length = ac_enc[(run << 4) | s]
        writer.write(code, length)
        writer.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        code, length = ac_enc[0x00]  # EOB
        writer.write(code, length)
    return int(zz[0])


def _pad_to(img: np.ndarray, mult_y: int, mult_x: int) -> np.ndarray:
    h, w = img.shape
    ph = (mult_y - h % mult_y) % mult_y
    pw = (mult_x - w % mult_x) % mult_x
    return np.pad(img, ((0, ph), (0, pw)), mode="edge")


def jpeg_encode(img: np.ndarray, quality: int = 90,
                subsample: bool = False) -> bytes:
    """uint8 (h, w) grayscale or (h, w, 3) RGB -> baseline JFIF JPEG
    bytes. subsample=True emits 4:2:0 (chroma averaged 2x2), the
    photographic default; False emits 4:4:4."""
    if img.dtype != np.uint8 or img.ndim not in (2, 3):
        raise ValueError("jpeg_encode wants uint8 (h,w) or (h,w,3)")
    gray = img.ndim == 2
    h, w = img.shape[:2]
    qt_l, qt_c = _quality_tables(quality)

    if gray:
        comps = [(img.astype(np.float64), qt_l, 0, (1, 1))]
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            cbp = _pad_to(cb, 2, 2)
            crp = _pad_to(cr, 2, 2)
            cb = (cbp[0::2, 0::2] + cbp[0::2, 1::2]
                  + cbp[1::2, 0::2] + cbp[1::2, 1::2]) / 4.0
            cr = (crp[0::2, 0::2] + crp[0::2, 1::2]
                  + crp[1::2, 0::2] + crp[1::2, 1::2]) / 4.0
            comps = [(y, qt_l, 0, (2, 2)), (cb, qt_c, 1, (1, 1)),
                     (cr, qt_c, 1, (1, 1))]
        else:
            comps = [(y, qt_l, 0, (1, 1)), (cb, qt_c, 1, (1, 1)),
                     (cr, qt_c, 1, (1, 1))]

    hmax = max(c[3][0] for c in comps)
    vmax = max(c[3][1] for c in comps)

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00" \
        + struct.pack(">HHBB", 1, 1, 0, 0)  # APP0: 1x1 density, no thumbnail
    for tq, qt in ((0, qt_l), (1, qt_c))[: 1 if gray else 2]:
        out += b"\xff\xdb" + struct.pack(">HB", 67, tq) \
            + bytes(int(x) for x in qt[ZIGZAG])
    ncomp = 1 if gray else 3
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for i, (_, _, tq, (ch, cv)) in enumerate(comps):
        out += struct.pack(">BBB", i + 1, (ch << 4) | cv, tq)
    tables = [(0x00, HT_DC_LUMA), (0x10, HT_AC_LUMA)]
    if not gray:
        tables += [(0x01, HT_DC_CHROMA), (0x11, HT_AC_CHROMA)]
    encs = {}
    for tclass, (bits, values) in tables:
        out += b"\xff\xc4" + struct.pack(
            ">HB", 19 + len(values), tclass
        ) + bytes(bits) + bytes(values)
        encs[tclass] = _build_huffman(bits, values)[1]
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for i in range(ncomp):
        td_ta = 0x00 if i == 0 else 0x11
        out += struct.pack(">BB", i + 1, td_ta)
    out += b"\x00\x3f\x00"  # Ss=0 Se=63 AhAl=0

    writer = _BitWriter()
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # pad each plane to its exact MCU-grid shape (edge replication)
    padded = []
    for plane, qt, _tq, (ch, cv) in comps:
        ph, pw = mcuy * cv * 8, mcux * ch * 8
        p = np.pad(
            plane,
            ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
            mode="edge",
        )
        padded.append(p)

    preds = [0] * len(comps)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (plane, qt, _tq, (ch, cv)) in enumerate(comps):
                dc_enc = encs[0x00 if ci == 0 else 0x01]
                ac_enc = encs[0x10 if ci == 0 else 0x11]
                for by in range(cv):
                    for bx in range(ch):
                        y0 = (my * cv + by) * 8
                        x0 = (mx * ch + bx) * 8
                        block = padded[ci][y0 : y0 + 8, x0 : x0 + 8]
                        preds[ci] = _encode_block(
                            writer, block, qt, dc_enc, ac_enc, preds[ci]
                        )
    writer.flush()
    out += writer.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------- GIF


def _lzw_encode_literals(indices: np.ndarray, min_code_size: int) -> bytes:
    """Literal-codes-only GIF LZW stream: emit each pixel index as its
    own code and a Clear before the decoder's dictionary would force a
    width increase, so every code stays min_code_size+1 bits. Larger
    than real LZW, but spec-conforming and fully deterministic."""
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    # after a Clear, the first literal adds no entry; each subsequent
    # code adds one; widen happens when next_code reaches 1 << width
    per_block = (1 << width) - (end + 1)
    out = bytearray()
    bitbuf = 0
    nbits = 0

    def emit(code: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    emit(clear)
    for i, px in enumerate(indices.ravel()):
        if i and i % per_block == 0:
            emit(clear)
        emit(int(px))
    emit(end)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def gif_encode(frames: list[np.ndarray]) -> bytes:
    """List of (h, w, 3) uint8 RGB frames -> animated GIF89a bytes.

    Builds one global palette from the union of colors (<= 256 or
    ValueError), writes every frame full-size with disposal 1 ("leave
    in place"). Fixture-grade: deterministic bytes for a given input."""
    if not frames:
        raise ValueError("gif_encode: no frames")
    h, w = frames[0].shape[:2]
    stack = np.stack([np.asarray(f, dtype=np.uint8) for f in frames])
    if stack.shape[1:] != (h, w, 3):
        raise ValueError("gif_encode: frames must share (h, w, 3) shape")
    flat = stack.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError(f"gif_encode: {len(palette)} colors > 256")
    # palette size must be a power of two >= 2
    bits = max(1, int(len(palette) - 1).bit_length())
    table = np.zeros((1 << bits, 3), dtype=np.uint8)
    table[: len(palette)] = palette
    min_code_size = max(2, bits)
    indices = inverse.astype(np.uint8).reshape(len(frames), h, w)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += table.tobytes()
    for f in range(len(frames)):
        # graphic control: disposal 1, no transparency
        out += b"\x21\xf9\x04" + struct.pack("<BHB", 0x04, 4, 0) + b"\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        out.append(min_code_size)
        lzw = _lzw_encode_literals(indices[f], min_code_size)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out += b"\x3b"
    return bytes(out)


# ---------------------------------------------------------------- WAV


def wav_encode(samples: np.ndarray, rate: int) -> bytes:
    """int16 array [n] or [n, channels] + rate -> PCM WAV bytes."""
    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    channels = arr.shape[1]
    data = arr.tobytes()
    byte_rate = rate * channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, rate, byte_rate, channels * 2, 16)
    riff_len = 4 + (8 + len(fmt)) + (8 + len(data))
    return (
        b"RIFF"
        + struct.pack("<I", riff_len)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
