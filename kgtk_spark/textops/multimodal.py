"""Multimodal column plumbing over ``binary`` payload columns.

Images and audio ride as ``binary`` columns; decode/feature-extraction
run as Arrow-batched ``mapInPandas`` stages.
Decoders are REAL where stdlib+numpy suffice: PNG, BMP, PPM/PGM,
JPEG (full T.81 huffman decode — baseline sequential AND progressive
with spectral selection / successive approximation), and WAV/PCM
audio; a baseline JPEG ENCODER (``encode_gray_jpeg``) closes the
round-trip. The codec libraries (PIL/ffmpeg/av) are NOT in this
container, so WebP and video are not decoded: ``thumbnail_image``
reshapes such payloads' bytes into a square and reports
``decoded=False``.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def decode_image_bytes(b: bytes) -> np.ndarray:
    """REAL image decode for dependency-free formats: PNG (zlib
    inflate + scanline unfilter), uncompressed BMP (24/32 bpp), binary
    PPM/PGM, and JPEG (full T.81 huffman decode, baseline sequential
    AND progressive — ``_decode_jpeg``). Returns a (H, W) float64
    GRAYSCALE array (ITU-R 601 luma for color inputs). Raises
    ValueError on anything else (WebP/video need codec libraries)."""
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(b)
    if b[:2] == b"BM":
        return _decode_bmp(b)
    if b[:2] in (b"P5", b"P6"):
        return _decode_pnm(b)
    if b[:2] == b"\xff\xd8":
        return _decode_jpeg(b)
    raise ValueError("unsupported image format (magic %r)" % b[:4])


def _luma(rgb: np.ndarray) -> np.ndarray:
    return rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114


def _decode_png(b: bytes) -> np.ndarray:
    """Minimal PNG reader: 8-bit depth, color types 0/2/4/6,
    non-interlaced. Pure stdlib zlib + numpy unfiltering."""
    import struct
    import zlib

    pos = 8
    idat = b""
    w = h = None
    bitdepth = ctype = None
    while pos < len(b):
        (length,) = struct.unpack(">I", b[pos : pos + 4])
        tag = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bitdepth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if bitdepth != 8 or interlace != 0 or ctype not in (0, 2, 4, 6):
                raise ValueError(
                    f"png variant not supported (depth={bitdepth} "
                    f"ctype={ctype} interlace={interlace})"
                )
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    nch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    raw = zlib.decompress(idat)
    stride = w * nch
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).copy()
        if f == 0:
            cur = line
        elif f == 2:  # Up
            cur = line + prev
        elif f in (1, 3, 4):  # Sub / Average / Paeth need a left scan
            cur = line
            for x in range(stride):
                a = int(cur[x - nch]) if x >= nch else 0
                bb = int(prev[x])
                if f == 1:
                    cur[x] = (int(line[x]) + a) & 0xFF
                elif f == 3:
                    cur[x] = (int(line[x]) + ((a + bb) >> 1)) & 0xFF
                else:
                    c = int(prev[x - nch]) if x >= nch else 0
                    p = a + bb - c
                    pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (bb if pb <= pc else c)
                    cur[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad png filter {f}")
        out[y] = cur
        prev = out[y]
    px = out.reshape(h, w, nch).astype(np.float64)
    if ctype == 0:
        return px[..., 0]
    if ctype == 4:  # gray + alpha
        return px[..., 0]
    return _luma(px[..., :3])


def _decode_bmp(b: bytes) -> np.ndarray:
    import struct

    data_off = struct.unpack("<I", b[10:14])[0]
    hdr_size = struct.unpack("<I", b[14:18])[0]
    if hdr_size < 40:
        raise ValueError("bmp core header not supported")
    w, h = struct.unpack("<ii", b[18:26])
    bpp = struct.unpack("<H", b[28:30])[0]
    comp = struct.unpack("<I", b[30:34])[0]
    if comp != 0 or bpp not in (24, 32):
        raise ValueError(f"bmp variant not supported (bpp={bpp} comp={comp})")
    flip = h > 0
    h = abs(h)
    nch = bpp // 8
    row_bytes = (w * nch + 3) & ~3
    px = np.frombuffer(
        b, dtype=np.uint8, count=row_bytes * h, offset=data_off
    ).reshape(h, row_bytes)[:, : w * nch].reshape(h, w, nch)
    if flip:
        px = px[::-1]
    bgr = px.astype(np.float64)
    return _luma(bgr[..., [2, 1, 0]])


def _decode_pnm(b: bytes) -> np.ndarray:
    # P5 (gray) / P6 (rgb), binary, maxval <= 255
    tokens: list[bytes] = []
    pos = 2
    while len(tokens) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        tokens.append(b[start:pos])
    pos += 1  # single whitespace after maxval
    w, h, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise ValueError("16-bit pnm not supported")
    nch = 1 if b[:2] == b"P5" else 3
    px = (
        np.frombuffer(b, dtype=np.uint8, count=w * h * nch, offset=pos)
        .reshape(h, w, nch)
        .astype(np.float64)
    )
    return px[..., 0] if nch == 1 else _luma(px)


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81 sequential DCT, huffman) — stdlib + numpy.
# ---------------------------------------------------------------------------

# zigzag order: _JPEG_ZIGZAG[k] = raster index of the k-th coefficient
_JPEG_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# 8x8 type-III DCT basis: M[u, x] = c(u)/2 * cos((2x+1) u pi / 16);
# idct2(B) = M.T @ B @ M
_IDCT_M = np.array(
    [
        [
            (np.sqrt(0.125) if u == 0 else 0.5)
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def _huff_lut(bits: list[int], vals: bytes) -> dict:
    """Canonical huffman (T.81 Annex C): {(length, code) -> value}."""
    lut, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lut[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return lut


class _JpegBits:
    """MSB-first bit reader over an UNSTUFFED entropy segment."""

    __slots__ = ("data", "pos", "acc", "n")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            # past the end: T.81 pads with 1-bits
            self.acc = self.data[self.pos] if self.pos < len(self.data) else 0xFF
            self.pos += 1
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def huff(self, lut: dict) -> int:
        length, code = 0, 0
        while length < 16:
            code = (code << 1) | self.bit()
            length += 1
            v = lut.get((length, code))
            if v is not None:
                return v
        raise ValueError("invalid huffman code in jpeg stream")


def _extend(v: int, s: int) -> int:
    # T.81 F.2.2.1 EXTEND: s-bit magnitude to signed value
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def _jpeg_entropy_segments(b: bytes, pos: int) -> tuple:
    """Collect entropy-coded data starting at ``pos``: unstuff 0xFF00,
    split at restart markers. Returns (segments, pos of next marker)."""
    segments: list[bytes] = []
    cur = bytearray()
    while pos < len(b):
        c = b[pos]
        if c != 0xFF:
            cur.append(c)
            pos += 1
            continue
        m = b[pos + 1] if pos + 1 < len(b) else 0xD9
        if m == 0x00:
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= m <= 0xD7:
            segments.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:  # EOI or next header
            break
    segments.append(bytes(cur))
    return segments, pos


def _jpeg_refine_nonzero(cf, k: int, reader, p1: int, m1: int) -> None:
    """AC-refinement correction bit for an already-nonzero coefficient
    (T.81 G.1.2.3): a 1-bit adds 1<<Al toward the sign, unless that bit
    of the magnitude is already set."""
    if reader.bit():
        if (cf[k] & p1) == 0:
            cf[k] += p1 if cf[k] > 0 else m1


def _decode_jpeg(b: bytes) -> np.ndarray:
    """Huffman JPEG decoder: baseline sequential (SOF0/SOF1) AND
    progressive (SOF2, spectral selection + successive approximation,
    DC/AC first and refinement scans, EOB runs), 8-bit, 1-4
    components, any sampling factors, restart markers. Pure stdlib
    struct + numpy — no codec libraries. Returns the LUMA plane (Y is
    already ITU-R 601 luma in JFIF), matching the grayscale contract
    of ``decode_image_bytes``; chroma blocks are entropy-decoded (the
    bitstream interleaves them) but skip the IDCT.

    Arithmetic-coded, lossless, and hierarchical variants raise
    ValueError — vanishingly rare on the web relative to the huffman
    baseline + progressive pair this kernel covers.

    Truncated streams decode without an error of their own. Past the
    end of a segment the bit reader feeds 1-bits, so the MCUs after a
    cut inside the entropy data are decoded from that padding: on a
    cut baseline stream they saturate (white after the clip), or a run
    walks past coefficient 63 and raises IndexError, which
    ``thumbnail_image`` catches. Blocks the decoder never reaches, such
    as the MCUs of restart segments lost to the cut, keep zero
    coefficients and render mid-gray (128, the IDCT level shift), as
    libjpeg leaves the coefficient blocks after a premature end of data
    at zero.
    """
    import struct

    qt: dict[int, np.ndarray] = {}
    huffs: dict[tuple[int, int], dict] = {}
    comps: list[tuple[int, int, int, int]] = []  # (id, h, v, tq)
    h = w = None
    sof = None
    restart_interval = 0
    pos = 2
    # each scan: (comps [(ci, dc_t, ac_t)], ss, se, ah, al,
    #             huff-table snapshot, restart interval, segments)
    scans: list[tuple] = []
    while pos < len(b) - 1:
        if b[pos] != 0xFF:
            pos += 1
            continue
        marker = b[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", b[pos + 2 : pos + 4])
        seg = b[pos + 4 : pos + 2 + seglen]
        if marker in (0xC0, 0xC1, 0xC2):  # baseline / ext. seq. / progressive
            sof = marker
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError(f"jpeg precision {prec} not supported")
            comps = [
                (seg[6 + 3 * i], seg[7 + 3 * i] >> 4, seg[7 + 3 * i] & 15,
                 seg[8 + 3 * i])
                for i in range(nc)
            ]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(f"jpeg SOF {marker:#x} (non-baseline) not supported")
        elif marker == 0xC4:  # DHT (possibly several tables)
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1 : p + 17])
                nvals = sum(bits)
                huffs[(tc, th)] = _huff_lut(bits, seg[p + 17 : p + 17 + nvals])
                p += 17 + nvals
        elif marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                if pq == 0:
                    tab = np.frombuffer(seg, np.uint8, 64, p + 1).astype(np.int32)
                    p += 65
                else:
                    tab = np.frombuffer(seg, ">u2", 64, p + 1).astype(np.int32)
                    p += 129
                qt[tq] = tab
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS: scan header + entropy data
            ns = seg[0]
            by_id = {c[0]: i for i, c in enumerate(comps)}
            sc = [
                (by_id[seg[1 + 2 * i]], seg[2 + 2 * i] >> 4, seg[2 + 2 * i] & 15)
                for i in range(ns)
            ]
            ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            segments, pos = _jpeg_entropy_segments(b, pos + 2 + seglen)
            scans.append(
                (sc, ss, se, ahal >> 4, ahal & 15, dict(huffs),
                 restart_interval, segments)
            )
            continue  # pos already sits at the next marker
        pos += 2 + seglen
    if h is None or not scans:
        raise ValueError("jpeg: missing SOF/SOS")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    ych, ycv, ytq = comps[0][1], comps[0][2], comps[0][3]
    yq = np.zeros(64)
    yq[_JPEG_ZIGZAG] = qt[ytq]
    yq = yq.reshape(8, 8)

    if sof == 0xC2:
        yplane = _jpeg_progressive_plane(
            b, comps, scans, h, w, hmax, vmax, mcux, mcuy, yq
        )
    else:
        yplane = _jpeg_baseline_plane(
            comps, scans[0], hmax, vmax, mcux, mcuy, yq
        )

    # luma sampling can be sub-maximal (rare); scale up to pixel grid
    if ych != hmax or ycv != vmax:
        yplane = np.kron(
            yplane, np.ones((vmax // ycv, hmax // ych))
        )
    return np.clip(yplane[:h, :w], 0.0, 255.0)


def _jpeg_baseline_plane(comps, scan_rec, hmax, vmax, mcux, mcuy, yq):
    """Sequential-mode MCU loop (single interleaved scan). Huffman
    decoding stays per-symbol (inherently serial), but the luma IDCT
    runs ONCE, batched over all blocks at the end (einsum), instead of
    two 8x8 matmuls per block inside the bit loop."""
    scan, _ss, _se, _ah, _al, huffs, restart_interval, segments = scan_rec
    yi = scan[0][0]
    ych, ycv = comps[yi][1], comps[yi][2]
    n_mcu = mcux * mcuy
    bw, bh = mcux * ych, mcuy * ycv
    ycoefs = np.zeros((bh * bw, 64))
    per_seg = restart_interval if restart_interval else n_mcu
    mcu = 0
    for seg_bytes in segments:
        if mcu >= n_mcu:
            break
        reader = _JpegBits(seg_bytes)
        preds = [0] * len(comps)
        for _ in range(min(per_seg, n_mcu - mcu)):
            my, mx = divmod(mcu, mcux)
            for ci, dc_t, ac_t in scan:
                _cid, ch, cv, _tq = comps[ci]
                dlut, alut = huffs[(0, dc_t)], huffs[(1, ac_t)]
                for by in range(cv):
                    for bx in range(ch):
                        coef = np.zeros(64)
                        s = reader.huff(dlut)
                        preds[ci] += _extend(reader.bits(s), s)
                        coef[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = reader.huff(alut)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r != 15:
                                    break  # EOB
                                k += 16
                            else:
                                k += r
                                coef[_JPEG_ZIGZAG[k]] = _extend(reader.bits(s), s)
                                k += 1
                        if ci == yi:  # stash zigzag coefs; IDCT batched
                            br = my * ycv + by
                            bc = mx * ych + bx
                            ycoefs[br * bw + bc] = coef
            mcu += 1
    deq = ycoefs.reshape(bh * bw, 8, 8) * yq
    px = (_IDCT_M.T @ deq) @ _IDCT_M + 128.0  # batched over blocks
    return (
        px.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
    )


def _jpeg_progressive_plane(b, comps, scans, h, w, hmax, vmax, mcux, mcuy, yq):
    """Progressive mode: accumulate zigzag-order coefficients across
    the scans (T.81 G.2 decoding: DC/AC first scans at Al precision,
    refinement scans appending one bit, EOB runs carrying correction
    bits), then dequantize + IDCT the luma plane once, batched."""
    n_comps = len(comps)
    # padded (interleaved-MCU) and true per-component block dims
    bdims = []
    coefs = []
    for _cid, ch, cv, _tq in comps:
        bw_pad, bh_pad = mcux * ch, mcuy * cv
        bw = (-(-w * ch // hmax) + 7) // 8
        bh = (-(-h * cv // vmax) + 7) // 8
        bdims.append((bw_pad, bh_pad, bw, bh))
        coefs.append(np.zeros((bh_pad, bw_pad, 64), dtype=np.int64))

    for scan, ss, se, ah, al, huffs, restart_interval, segments in scans:
        interleaved = len(scan) > 1
        if ss == 0 and se != 0 and interleaved:
            raise ValueError("jpeg: interleaved progressive scan with AC band")
        if interleaved:
            n_units = mcux * mcuy
        else:
            ci0 = scan[0][0]
            bw_pad, bh_pad, bw, bh = bdims[ci0]
            n_units = bw * bh
        per_seg = restart_interval if restart_interval else n_units
        unit = 0
        for seg_bytes in segments:
            if unit >= n_units:
                break
            reader = _JpegBits(seg_bytes)
            preds = [0] * n_comps
            eobrun = 0
            for _ in range(min(per_seg, n_units - unit)):
                if interleaved:  # DC scan over MCUs
                    my, mx = divmod(unit, mcux)
                    for ci, dc_t, _ac_t in scan:
                        _cid, ch, cv, _tq = comps[ci]
                        for by in range(cv):
                            for bx in range(ch):
                                cf = coefs[ci][my * cv + by, mx * ch + bx]
                                if ah == 0:
                                    s = reader.huff(huffs[(0, dc_t)])
                                    preds[ci] += _extend(reader.bits(s), s)
                                    cf[0] = preds[ci] << al
                                else:
                                    cf[0] |= reader.bit() << al
                else:
                    ci, dc_t, ac_t = scan[0]
                    bw_pad, _bh_pad, bw, _bh = bdims[ci]
                    by, bx = divmod(unit, bw)
                    cf = coefs[ci][by, bx]
                    if ss == 0:  # non-interleaved DC scan
                        if ah == 0:
                            s = reader.huff(huffs[(0, dc_t)])
                            preds[ci] += _extend(reader.bits(s), s)
                            cf[0] = preds[ci] << al
                        else:
                            cf[0] |= reader.bit() << al
                    elif ah == 0:  # AC first scan
                        if eobrun > 0:
                            eobrun -= 1
                        else:
                            k = ss
                            while k <= se:
                                rs = reader.huff(huffs[(1, ac_t)])
                                r, s = rs >> 4, rs & 15
                                if s == 0:
                                    if r == 15:
                                        k += 16
                                        continue
                                    eobrun = (1 << r) - 1
                                    if r:
                                        eobrun += reader.bits(r)
                                    break
                                k += r
                                if k > se:
                                    raise ValueError("jpeg: AC index past band")
                                cf[k] = _extend(reader.bits(s), s) * (1 << al)
                                k += 1
                    else:  # AC refinement scan
                        p1, m1 = 1 << al, -(1 << al)
                        if eobrun > 0:
                            eobrun -= 1
                            for k in range(ss, se + 1):
                                if cf[k] != 0:
                                    _jpeg_refine_nonzero(cf, k, reader, p1, m1)
                        else:
                            k = ss
                            while k <= se:
                                rs = reader.huff(huffs[(1, ac_t)])
                                r, s = rs >> 4, rs & 15
                                newval = 0
                                if s == 0:
                                    if r < 15:
                                        eobrun = (1 << r) - 1
                                        if r:
                                            eobrun += reader.bits(r)
                                        r = 64  # sweep the rest of the band
                                else:
                                    if s != 1:
                                        raise ValueError(
                                            "jpeg: AC refinement size != 1"
                                        )
                                    newval = p1 if reader.bit() else m1
                                while k <= se:
                                    if cf[k] != 0:
                                        _jpeg_refine_nonzero(cf, k, reader, p1, m1)
                                    else:
                                        if r == 0:
                                            if newval:
                                                cf[k] = newval
                                            k += 1
                                            break
                                        r -= 1
                                    k += 1
                unit += 1

    # dequantize + IDCT the luma plane, batched over all blocks
    zz = coefs[0]
    bh_pad, bw_pad = zz.shape[0], zz.shape[1]
    raster = np.zeros((bh_pad, bw_pad, 64))
    raster[:, :, _JPEG_ZIGZAG] = zz
    deq = raster.reshape(bh_pad * bw_pad, 8, 8) * yq
    px = (_IDCT_M.T @ deq) @ _IDCT_M + 128.0  # batched over blocks
    return (
        px.reshape(bh_pad, bw_pad, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh_pad * 8, bw_pad * 8)
    )


def _enc_dct_matrix() -> np.ndarray:
    u, x = np.mgrid[0:8, 0:8]
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16.0)
    m[0] /= np.sqrt(2.0)
    return m


# constant — computed once, not per encoded image
_ENC_DCT_M = _enc_dct_matrix()


def _enc_magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude category + amplitude bits for a signed value."""
    s = int(abs(v)).bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _enc_huffman(symbols: list[int]) -> tuple[list[int], list[int], dict]:
    """Canonical Huffman table (JPEG DHT shape) from a symbol stream:
    returns (bits[1..16] counts, values in code order, {sym: (len,
    code)}). Falls back to fixed-length codes if the optimal tree
    exceeds JPEG's 16-bit depth limit (pathological frequencies)."""
    import heapq
    from collections import Counter

    freq = Counter(symbols)
    if len(freq) == 1:
        sym = next(iter(freq))
        return [1] + [0] * 15, [sym], {sym: (1, 0)}
    heap = [(n, i, [s]) for i, (s, n) in enumerate(sorted(freq.items()))]
    heapq.heapify(heap)
    depth: dict[int, int] = {s: 0 for s in freq}
    tie = len(heap)
    while len(heap) > 1:
        n1, _, s1 = heapq.heappop(heap)
        n2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (n1 + n2, tie, s1 + s2))
        tie += 1
    if max(depth.values()) > 16:
        fixed = max((len(freq)).bit_length(), 1)
        depth = {s: fixed for s in freq}
    ordered = sorted(freq, key=lambda s: (depth[s], s))
    bits = [0] * 16
    for s in ordered:
        bits[depth[s] - 1] += 1
    codes: dict[int, tuple[int, int]] = {}
    code, prev_len = 0, depth[ordered[0]]
    for s in ordered:
        code <<= depth[s] - prev_len
        codes[s] = (depth[s], code)
        prev_len = depth[s]
        code += 1
    return bits, ordered, codes


class _EncBitWriter:
    """MSB-first bit writer with JPEG 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self._acc = (self._acc << 1) | ((value >> i) & 1)
            self._n += 1
            if self._n == 8:
                self.out.append(self._acc)
                if self._acc == 0xFF:
                    self.out.append(0x00)
                self._acc = 0
                self._n = 0

    def flush(self) -> None:
        if self._n:
            self._acc = (self._acc << (8 - self._n)) | ((1 << (8 - self._n)) - 1)
            self.out.append(self._acc)
            if self._acc == 0xFF:
                self.out.append(0x00)
            self._acc = 0
            self._n = 0


def encode_gray_jpeg(img: np.ndarray, quant: np.ndarray | None = None) -> bytes:
    """Baseline sequential JPEG encoder for an 8-bit grayscale array
    (SOF0, one component, canonical computed Huffman tables, all-ones
    quantization by default — ITU T.81 encode counterpart of
    ``_decode_jpeg``). Pure stdlib + numpy.

    Determinism note the oracle relies on: an image built of CONSTANT
    8x8 blocks with integer values has a DC-only spectrum, and with
    q=1 quantization the decode round-trip is BIT-EXACT (DC = 8*(v-128)
    is integral; every AC quantizes to zero), so decoded pixel values
    equal the source formula exactly — the property the
    ``multimodal_jpeg_features`` value-hash oracle is built on.
    """
    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape
    q = (
        np.ones(64, dtype=np.int64)
        if quant is None
        else np.asarray(quant, dtype=np.int64).ravel()
    )
    d = _ENC_DCT_M
    mcux, mcuy = (w + 7) // 8, (h + 7) // 8
    padded = np.pad(
        img, ((0, mcuy * 8 - h), (0, mcux * 8 - w)), mode="edge"
    ).astype(np.float64)

    # DCT of every block in one einsum (d @ blk @ d.T batched), then
    # zigzag + quantize vectorized — the per-block Python loop below
    # only does run-length coding over the (mostly zero) coefficients
    blk_grid = (
        padded.reshape(mcuy, 8, mcux, 8)
        .transpose(0, 2, 1, 3)
        .reshape(mcuy * mcux, 8, 8)
        - 128.0
    )
    coef_all = (d @ blk_grid) @ d.T  # broadcast over the block axis
    zz_all = np.round(
        coef_all.reshape(mcuy * mcux, 64)[:, _JPEG_ZIGZAG] / q
    ).astype(np.int64)

    blocks: list[tuple[int, list[tuple[int, int]], bool]] = []
    pred = 0
    for bi in range(mcuy * mcux):
        zz = zz_all[bi]
        diff = int(zz[0]) - pred
        pred = int(zz[0])
        acs: list[tuple[int, int]] = []
        run = 0
        nz = np.nonzero(zz[1:])[0]
        last = int(nz[-1]) + 1 if nz.size else 0
        for k in range(1, last + 1):
            if zz[k] == 0:
                run += 1
                if run == 16:
                    acs.append((15, 0))  # ZRL
                    run = 0
            else:
                acs.append((run, int(zz[k])))
                run = 0
        blocks.append((diff, acs, last < 63))  # no EOB when k=63 ends

    dc_syms = [_enc_magnitude(diff)[0] for diff, _, _ in blocks]
    ac_syms: list[int] = []
    for _, acs, eob in blocks:
        for run, v in acs:
            ac_syms.append(run << 4 | _enc_magnitude(v)[0])
        if eob:
            ac_syms.append(0x00)
    if not ac_syms:
        ac_syms = [0x00]  # table must exist even for DC-only streams
    dbits, dvals, dcodes = _enc_huffman(dc_syms)
    abits, avals, acodes = _enc_huffman(ac_syms)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(
        int(v) & 0xFF for v in q
    )
    out += (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + struct.pack(">BHHB", 8, h, w, 1)
        + bytes([1, 0x11, 0])
    )
    for tc, (tbits, tvals) in ((0, (dbits, dvals)), (1, (abits, avals))):
        out += (
            b"\xff\xc4"
            + struct.pack(">H", 19 + len(tvals))
            + bytes([tc << 4])
            + bytes(tbits)
            + bytes(tvals)
        )
    out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    wtr = _EncBitWriter()
    for diff, acs, eob in blocks:
        s, amp = _enc_magnitude(diff)
        ln, code = dcodes[s]
        wtr.put(code, ln)
        wtr.put(amp, s)
        for run, v in acs:
            vs, vamp = _enc_magnitude(v)
            ln, code = acodes[run << 4 | vs]
            wtr.put(code, ln)
            wtr.put(vamp, vs)
        if eob:
            ln, code = acodes[0x00]
            wtr.put(code, ln)
    wtr.flush()
    return bytes(out + wtr.out + b"\xff\xd9")


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zero_crossing_rate", T.DoubleType()),
    ]
)


def audio_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL audio feature extraction for WAV/PCM payloads.

    Unlike the image/video decoders (codec libs absent from this
    container), PCM WAV needs only the stdlib ``wave`` reader + numpy:
    the decode, RMS and zero-crossing computations here are the actual
    production transforms, Arrow-batched through mapInPandas. Non-WAV
    payloads yield a null-feature row rather than failing the batch.
    """
    import io
    import wave

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in AUDIO_FEATURES_SCHEMA.fields}
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                out["doc_id"].append(int(i))
                try:
                    with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                        sr = w.getframerate()
                        nch = w.getnchannels()
                        nf = w.getnframes()
                        raw = w.readframes(nf)
                    x = np.frombuffer(raw, dtype=np.int16).astype(np.float64)
                    if nch > 1:
                        x = x.reshape(-1, nch).mean(axis=1)
                    rms = float(np.sqrt((x**2).mean())) if x.size else 0.0
                    zc = (
                        float((np.diff(np.signbit(x)) != 0).mean())
                        if x.size > 1
                        else 0.0
                    )
                    out["sample_rate"].append(sr)
                    out["n_channels"].append(nch)
                    out["n_samples"].append(int(nf))
                    out["duration_sec"].append(nf / sr if sr else 0.0)
                    out["rms"].append(rms)
                    out["zero_crossing_rate"].append(zc)
                except Exception:
                    for k in (
                        "sample_rate",
                        "n_channels",
                        "n_samples",
                        "duration_sec",
                        "rms",
                        "zero_crossing_rate",
                    ):
                        out[k].append(None)
            yield pd.DataFrame(out)

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        run, schema=AUDIO_FEATURES_SCHEMA
    )


THUMBNAIL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("pixels", T.ArrayType(T.DoubleType())),
    ]
)


def _block_mean(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Vectorized block-mean downsample of a 2-D array to (out_h, out_w)."""
    ih, iw = arr.shape
    if ih % out_h == 0 and iw % out_w == 0 and ih >= out_h and iw >= out_w:
        # evenly-divisible fast path: one reshape + mean, no per-cell
        # Python slicing (identical cell boundaries to the generic
        # path: linspace over a divisible range lands on multiples)
        return (
            arr.reshape(out_h, ih // out_h, out_w, iw // out_w)
            .mean(axis=(1, 3))
        )
    ys = np.linspace(0, ih, out_h + 1).astype(int)
    xs = np.linspace(0, iw, out_w + 1).astype(int)
    return np.array(
        [
            [
                arr[ys[r] : max(ys[r + 1], ys[r] + 1),
                    xs[c] : max(xs[c + 1], xs[c] + 1)].mean()
                for c in range(out_w)
            ]
            for r in range(out_h)
        ]
    )


THUMBNAIL_REAL_SCHEMA = T.StructType(
    [*THUMBNAIL_SCHEMA.fields, T.StructField("decoded", T.BooleanType())]
)


def thumbnail_image(
    df: DataFrame,
    out_h: int = 8,
    out_w: int = 8,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Thumbnail pipeline with a REAL decode for PNG/BMP/PPM/PGM and
    baseline-JPEG payloads (``decode_image_bytes`` — stdlib + numpy, no
    codec libraries) and the byte-fake fallback for formats this
    container cannot decode (WebP/video). ``decoded``
    reports which path a row took. Same block-mean downsample on both
    paths."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hs, ws, px, ok = [], [], [], [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload) if payload is not None else b""
                try:
                    arr = decode_image_bytes(b)
                    real = True
                # corrupt-but-valid-magic payloads surface as struct.error
                # (truncated JPEG segment header) or zlib.error (bad PNG
                # IDAT) — on real crawl data those are routine, and they
                # must take the fallback, not fail the whole task
                except (ValueError, IndexError, KeyError,
                        struct.error, zlib.error, EOFError):
                    side = max(int(np.sqrt(max(len(b), 1))), 1)
                    arr = np.frombuffer(b, dtype=np.uint8).astype(np.float64)
                    arr = np.resize(arr, side * side).reshape(side, side)
                    real = False
                thumb = _block_mean(arr, out_h, out_w)
                ids.append(int(i))
                hs.append(out_h)
                ws.append(out_w)
                px.append([float(v) for v in thumb.ravel()])
                ok.append(real)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "height": hs,
                    "width": ws,
                    "pixels": px,
                    "decoded": ok,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        run, schema=THUMBNAIL_REAL_SCHEMA
    )
