"""Multimodal column plumbing: REAL WAV decode and the stdlib image
decoders (PNG, BMP, PGM, baseline and progressive JPEG)."""

from __future__ import annotations

import io
import math
import struct
import wave

import numpy as np

from kgtk_spark.textops.multimodal import audio_features


def _make_wav(freq: float = 440.0, sr: int = 8000, seconds: float = 0.5) -> bytes:
    n = int(sr * seconds)
    samples = (
        (np.sin(2 * math.pi * freq * np.arange(n) / sr) * 20000).astype(np.int16)
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def test_audio_features_real_wav_decode(spark):
    wav = _make_wav()
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"not a wav"))],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in audio_features(df).collect()}
    a = out[1]
    assert a["sample_rate"] == 8000
    assert a["n_channels"] == 1
    assert a["n_samples"] == 4000
    assert abs(a["duration_sec"] - 0.5) < 1e-9
    # a 20000-amplitude sine has RMS ≈ 20000/√2
    assert abs(a["rms"] - 20000 / math.sqrt(2)) < 200
    # 440 Hz crosses zero ~880 times/sec → rate ≈ 0.11 at 8 kHz
    assert 0.08 < a["zero_crossing_rate"] < 0.14
    # non-WAV payloads degrade to null features, not batch failure
    assert out[2]["sample_rate"] is None


def _make_png(arr, ctype=0, filters=None):
    """Encode a small image as PNG with chosen per-row filters."""
    import struct
    import zlib

    import numpy as np

    def chunk(tag, data):
        c = struct.pack(">I", len(data)) + tag + data
        return c + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)

    if arr.ndim == 2:
        h, w = arr.shape
        nch = 1
        px = arr[:, :, None]
    else:
        h, w, nch = arr.shape
        px = arr
    filters = filters or [0] * h
    raw = b""
    prev = np.zeros(w * nch, dtype=np.uint8)
    for y, f in zip(range(h), filters):
        line = px[y].reshape(-1).astype(np.uint8)
        if f == 0:
            enc = line
        elif f == 1:  # Sub
            left = np.concatenate([np.zeros(nch, np.uint8), line[:-nch]])
            enc = line - left
        elif f == 2:  # Up
            enc = line - prev
        else:
            raise ValueError
        raw += bytes([f]) + enc.tobytes()
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _make_bmp(rgb):
    import struct

    import numpy as np

    h, w, _ = rgb.shape
    row = w * 3
    pad = (4 - row % 4) % 4
    body = b""
    for y in range(h - 1, -1, -1):  # bottom-up
        bgr = rgb[y][:, ::-1].astype(np.uint8).tobytes()
        body += bgr + b"\x00" * pad
    off = 14 + 40
    hdr = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    return hdr + info + body


def test_decode_image_bytes_real_formats():
    import numpy as np

    from kgtk_spark.textops.multimodal import decode_image_bytes

    rng = np.random.RandomState(7)
    gray = rng.randint(0, 256, (5, 4)).astype(np.uint8)

    # PNG grayscale, every implemented filter type on some row
    png = _make_png(gray, ctype=0, filters=[0, 1, 2, 1, 0])
    out = decode_image_bytes(png)
    assert out.shape == (5, 4)
    assert np.array_equal(out, gray.astype(np.float64))

    # PNG RGB → luma
    rgb = rng.randint(0, 256, (3, 3, 3)).astype(np.uint8)
    png_rgb = _make_png(rgb, ctype=2)
    out = decode_image_bytes(png_rgb)
    luma = rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114
    assert np.allclose(out, luma)

    # BMP 24bpp bottom-up with row padding (w=3 → 9 bytes + 3 pad)
    bmp = _make_bmp(rgb)
    assert np.allclose(decode_image_bytes(bmp), luma)

    # PGM with a comment line
    pgm = b"P5\n# comment\n4 5\n255\n" + gray.tobytes()
    assert np.array_equal(decode_image_bytes(pgm), gray.astype(np.float64))

    # unknown magic raises
    import pytest

    with pytest.raises(ValueError):
        decode_image_bytes(b"\xff\xd8\xff\xe0 fake jpeg")


# ---------------------------------------------------------------------------
# Minimal baseline-JPEG ENCODER (test-only) — golden source for the
# decoder round-trip. All-ones quant tables make the codec near-lossless
# (only DCT-coefficient rounding), so decoded pixels must sit within a
# few grey levels of the source.
# ---------------------------------------------------------------------------

def _jpeg_dct_m():
    import numpy as np

    return np.array(
        [
            [
                (np.sqrt(0.125) if u == 0 else 0.5)
                * np.cos((2 * x + 1) * u * np.pi / 16.0)
                for x in range(8)
            ]
            for u in range(8)
        ]
    )


class _JW:
    """Bit writer with 0xFF byte stuffing."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, val, nbits):
        for i in reversed(range(nbits)):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self):
        while self.n:
            self.put(1, 1)


def _jpeg_mag(v):
    s = int(abs(v)).bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _jpeg_block_syms(block, pred, dct_m):
    """8x8 uint8 block → (dc_diff, [(run, val), ...], needs_eob,
    new_pred) with coefficients in zigzag order. Per T.81 F.1.2.2, NO
    EOB follows a block whose last nonzero coefficient is k=63."""
    import numpy as np

    from kgtk_spark.textops.multimodal import _JPEG_ZIGZAG

    coef = dct_m @ (block.astype(np.float64) - 128.0) @ dct_m.T
    zz = np.round(coef.reshape(64)[_JPEG_ZIGZAG]).astype(int)
    dc = int(zz[0])
    acs, run = [], 0
    for k in range(1, 64):
        if zz[k] == 0:
            run += 1
        else:
            while run > 15:
                acs.append((15, 0))  # ZRL
                run -= 16
            acs.append((run, int(zz[k])))
            run = 0
    return dc - pred, acs, run > 0, dc


def _jpeg_tables(symbols):
    """All symbols at code length 8 (canonical): (bits, vals, codebook)."""
    syms = sorted(set(symbols))
    assert len(syms) < 250
    bits = [0] * 16
    bits[7] = len(syms)
    return bits, bytes(syms), {s: (8, i) for i, s in enumerate(syms)}


def _jpeg_dht(tc, th, bits, vals):
    import struct

    body = bytes([tc << 4 | th]) + bytes(bits) + vals
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def _make_jpeg_gray(img, restart_interval=0):
    """Encode a grayscale uint8 array as baseline JPEG (1 component,
    all-ones quant, optional restart markers)."""
    import struct

    import numpy as np

    h, w = img.shape
    dct_m = _jpeg_dct_m()
    mcux, mcuy = (w + 7) // 8, (h + 7) // 8
    padded = np.pad(img, ((0, mcuy * 8 - h), (0, mcux * 8 - w)), mode="edge")

    blocks, pred = [], 0
    for my in range(mcuy):
        for mx in range(mcux):
            blk = padded[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8]
            if restart_interval:
                # each restart segment restarts DC prediction
                if (my * mcux + mx) % restart_interval == 0:
                    pred = 0
            diff, acs, eob, pred = _jpeg_block_syms(blk, pred, dct_m)
            blocks.append((diff, acs, eob))

    dc_syms, ac_syms = [], [0x00]
    for diff, acs, eob in blocks:
        dc_syms.append(_jpeg_mag(diff)[0])
        for run, v in acs:
            ac_syms.append(run << 4 | _jpeg_mag(v)[0])
        if eob:
            ac_syms.append(0x00)
    dbits, dvals, dcode = _jpeg_tables(dc_syms)
    abits, avals, acode = _jpeg_tables(ac_syms)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    out += (b"\xff\xc0" + struct.pack(">H", 11)
            + struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    out += _jpeg_dht(0, 0, dbits, dvals)
    out += _jpeg_dht(1, 0, abits, avals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])

    wtr = _JW()
    for i, (diff, acs, eob) in enumerate(blocks):
        if restart_interval and i and i % restart_interval == 0:
            wtr.flush()
            out += wtr.out + bytes([0xFF, 0xD0 + ((i // restart_interval - 1) % 8)])
            wtr = _JW()
        s, amp = _jpeg_mag(diff)
        ln, code = dcode[s]
        wtr.put(code, ln)
        wtr.put(amp, s)
        for run, v in acs:
            vs, vamp = _jpeg_mag(v)
            ln, code = acode[run << 4 | vs]
            wtr.put(code, ln)
            wtr.put(vamp, vs)
        if eob:
            ln, code = acode[0x00]
            wtr.put(code, ln)
    wtr.flush()
    out += wtr.out + b"\xff\xd9"
    return bytes(out)


def _make_jpeg_420(yimg):
    """Baseline JPEG with 4:2:0 sampling: Y from ``yimg`` (16x16-padded
    uint8), flat chroma (all-zero coefficients) — decoded luma must
    equal the Y plane."""
    import struct

    import numpy as np

    h, w = yimg.shape
    assert h % 16 == 0 and w % 16 == 0
    dct_m = _jpeg_dct_m()
    mcux, mcuy = w // 16, h // 16

    blocks, pred = [], 0  # interleaved: 4 Y blocks then Cb then Cr per MCU
    for my in range(mcuy):
        for mx in range(mcux):
            for by in range(2):
                for bx in range(2):
                    r0, c0 = my * 16 + by * 8, mx * 16 + bx * 8
                    blk = yimg[r0 : r0 + 8, c0 : c0 + 8]
                    diff, acs, eob, pred = _jpeg_block_syms(blk, pred, dct_m)
                    blocks.append(("y", diff, acs, eob))
            blocks.append(("c", 0, [], True))  # Cb: DC diff 0 + EOB
            blocks.append(("c", 0, [], True))  # Cr

    dc_syms, ac_syms = [], [0x00]
    for kind, diff, acs, eob in blocks:
        if kind == "y":
            dc_syms.append(_jpeg_mag(diff)[0])
            for run, v in acs:
                ac_syms.append(run << 4 | _jpeg_mag(v)[0])
            if eob:
                ac_syms.append(0x00)
    dbits, dvals, dcode = _jpeg_tables(dc_syms)
    abits, avals, acode = _jpeg_tables(ac_syms)
    cbits, cvals, ccode = _jpeg_tables([0x00])  # chroma: symbol 0 only

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    comp = bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0])
    out += (b"\xff\xc0" + struct.pack(">H", 17)
            + struct.pack(">BHHB", 8, h, w, 3) + comp)
    out += _jpeg_dht(0, 0, dbits, dvals)
    out += _jpeg_dht(1, 0, abits, avals)
    out += _jpeg_dht(0, 1, cbits, cvals)
    out += _jpeg_dht(1, 1, cbits, cvals)
    out += (b"\xff\xda" + struct.pack(">H", 12)
            + bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))

    wtr = _JW()
    for kind, diff, acs, eob in blocks:
        if kind == "y":
            s, amp = _jpeg_mag(diff)
            ln, code = dcode[s]
            wtr.put(code, ln)
            wtr.put(amp, s)
            for run, v in acs:
                vs, vamp = _jpeg_mag(v)
                ln, code = acode[run << 4 | vs]
                wtr.put(code, ln)
                wtr.put(vamp, vs)
            if eob:
                ln, code = acode[0x00]
                wtr.put(code, ln)
        else:
            ln, code = ccode[0x00]
            wtr.put(code, ln)  # DC: size 0 (no amplitude bits)
            wtr.put(code, ln)  # AC: EOB
    wtr.flush()
    out += wtr.out + b"\xff\xd9"
    return bytes(out)


def test_decode_jpeg_baseline_grayscale_roundtrip():
    import numpy as np

    from kgtk_spark.textops.multimodal import decode_image_bytes

    rng = np.random.RandomState(13)
    img = rng.randint(0, 256, (24, 17)).astype(np.uint8)  # non-multiple of 8
    jpg = _make_jpeg_gray(img)
    out = decode_image_bytes(jpg)
    assert out.shape == (24, 17)
    # all-ones quant: only DCT rounding error survives
    assert np.abs(out - img.astype(np.float64)).max() < 4.0

    # gradient image decodes smoothly too
    grad = np.tile(np.arange(32, dtype=np.uint8) * 8, (16, 1))
    assert np.abs(decode_image_bytes(_make_jpeg_gray(grad))
                  - grad.astype(np.float64)).max() < 4.0


def test_decode_jpeg_restart_markers():
    import numpy as np

    from kgtk_spark.textops.multimodal import decode_image_bytes

    rng = np.random.RandomState(29)
    img = rng.randint(0, 256, (16, 16)).astype(np.uint8)  # 4 MCUs
    jpg = _make_jpeg_gray(img, restart_interval=1)
    assert b"\xff\xd0" in jpg  # RST0 really present
    out = decode_image_bytes(jpg)
    assert np.abs(out - img.astype(np.float64)).max() < 4.0


def test_decode_jpeg_420_subsampling():
    import numpy as np

    from kgtk_spark.textops.multimodal import decode_image_bytes

    rng = np.random.RandomState(31)
    img = rng.randint(0, 256, (16, 32)).astype(np.uint8)
    jpg = _make_jpeg_420(img)
    out = decode_image_bytes(jpg)
    assert out.shape == (16, 32)
    assert np.abs(out - img.astype(np.float64)).max() < 4.0


def _make_jpeg_progressive(img):
    """Encode a grayscale uint8 array as PROGRESSIVE JPEG (SOF2, one
    component, all-ones quant) with the canonical 5-scan progression:
    DC first at Al=1, DC refinement, AC first (bands 1-5 and 6-63) at
    Al=1, AC refinement of 1-63 down to Al=0. Independent test-side
    implementation of T.81 G.1/G.2 (incl. EOB correction-bit carriage
    and position-windowed ZRL in the refinement scan) used to golden
    the engine decoder."""
    import struct

    import numpy as np

    from kgtk_spark.textops.multimodal import _JPEG_ZIGZAG

    h, w = img.shape
    dct_m = _jpeg_dct_m()
    mcux, mcuy = (w + 7) // 8, (h + 7) // 8
    padded = np.pad(img, ((0, mcuy * 8 - h), (0, mcux * 8 - w)), mode="edge")
    zzs = []
    for my in range(mcuy):
        for mx in range(mcux):
            blk = padded[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8]
            coef = dct_m @ (blk.astype(np.float64) - 128.0) @ dct_m.T
            zzs.append(np.round(coef.reshape(64)[_JPEG_ZIGZAG]).astype(int))

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    out += (b"\xff\xc2" + struct.pack(">H", 11)
            + struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))

    def sos(ss, se, ah, al):
        return (b"\xff\xda" + struct.pack(">H", 8)
                + bytes([1, 1, 0x00, ss, se, ah << 4 | al]))

    # scan 1: DC first, point transform = arithmetic shift by Al=1
    dcs = [int(zz[0]) for zz in zzs]
    diffs, pred = [], 0
    for dc in dcs:
        v = dc >> 1
        diffs.append(v - pred)
        pred = v
    bits, vals, codes = _jpeg_tables([_jpeg_mag(d)[0] for d in diffs])
    out += _jpeg_dht(0, 0, bits, vals)
    out += sos(0, 0, 0, 1)
    wtr = _JW()
    for d in diffs:
        s, amp = _jpeg_mag(d)
        ln, code = codes[s]
        wtr.put(code, ln)
        wtr.put(amp, s)
    wtr.flush()
    out += wtr.out

    # scan 2: DC refinement — one raw bit per block, no huffman
    out += sos(0, 0, 1, 0)
    wtr = _JW()
    for dc in dcs:
        wtr.put(dc & 1, 1)
    wtr.flush()
    out += wtr.out

    # scans 3+4: AC first at Al=1, split spectral bands
    for ss, se in ((1, 5), (6, 63)):
        blocks_ev = []
        for zz in zzs:
            t = [int(np.sign(zz[k])) * (abs(int(zz[k])) >> 1)
                 for k in range(ss, se + 1)]
            acs, run = [], 0
            for v in t:
                if v == 0:
                    run += 1
                else:
                    while run > 15:
                        acs.append((15, 0))
                        run -= 16
                    acs.append((run, v))
                    run = 0
            blocks_ev.append((acs, run > 0))
        syms = [0x00]
        for acs, eob in blocks_ev:
            syms += [r << 4 | _jpeg_mag(v)[0] for r, v in acs]
        bits, vals, codes = _jpeg_tables(syms)
        out += _jpeg_dht(1, 0, bits, vals)
        out += sos(ss, se, 0, 1)
        wtr = _JW()
        for acs, eob in blocks_ev:
            for r, v in acs:
                s, amp = _jpeg_mag(v)
                ln, code = codes[r << 4 | s]
                wtr.put(code, ln)
                wtr.put(amp, s)
            if eob:
                ln, code = codes[0x00]
                wtr.put(code, ln)
        wtr.flush()
        out += wtr.out

    # scan 5: AC refinement 1-63, Ah=1 -> Al=0. Correction bits ride in
    # POSITIONAL order inside each symbol's walk window (T.81 G.1.2.3).
    blocks_ev = []
    for zz in zzs:
        ev, items, r = [], [], 0  # items: ('z',) | ('b', bit), since last symbol
        for k in range(1, 64):
            v = int(zz[k])
            t = abs(v)
            if t == 0:
                items.append(("z",))
                r += 1
            elif t > 1:
                items.append(("b", t & 1))
            else:  # newly significant at this precision
                while r > 15:
                    cnt, win = 0, []
                    while cnt < 16:
                        it = items.pop(0)
                        win.append(it)
                        if it[0] == "z":
                            cnt += 1
                    ev.append(("zrl", [b for tag, *b_ in win for b in b_]))
                    r -= 16
                ev.append(("sig", r, 1 if v > 0 else 0,
                           [b for tag, *b_ in items for b in b_]))
                items, r = [], 0
        if items:
            ev.append(("eob", [b for tag, *b_ in items for b in b_]))
        blocks_ev.append(ev)
    syms = [0x00]
    for ev in blocks_ev:
        syms += [0xF0 if e[0] == "zrl" else (e[1] << 4 | 1) if e[0] == "sig"
                 else 0x00 for e in ev]
    bits, vals, codes = _jpeg_tables(syms)
    out += _jpeg_dht(1, 0, bits, vals)
    out += sos(1, 63, 1, 0)
    wtr = _JW()
    for ev in blocks_ev:
        for e in ev:
            if e[0] == "zrl":
                ln, code = codes[0xF0]
                wtr.put(code, ln)
                for bbit in e[1]:
                    wtr.put(bbit, 1)
            elif e[0] == "sig":
                _, r, sign, br = e
                ln, code = codes[r << 4 | 1]
                wtr.put(code, ln)
                wtr.put(sign, 1)
                for bbit in br:
                    wtr.put(bbit, 1)
            else:
                ln, code = codes[0x00]
                wtr.put(code, ln)
                for bbit in e[1]:
                    wtr.put(bbit, 1)
    wtr.flush()
    out += wtr.out
    return bytes(out + b"\xff\xd9")


def test_decode_jpeg_progressive_roundtrip():
    """full 5-scan progressive (DC/AC spectral selection + successive
    approximation) refines to the same coefficients as baseline q=1,
    so the decode must match the source within IDCT rounding."""
    import numpy as np

    from kgtk_spark.textops.multimodal import decode_image_bytes

    rng = np.random.RandomState(17)
    img = rng.randint(0, 256, (24, 17)).astype(np.uint8)
    out = decode_image_bytes(_make_jpeg_progressive(img))
    assert out.shape == (24, 17)
    assert np.abs(out - img).max() < 2.0

    grad = np.tile(np.arange(32, dtype=np.uint8) * 8, (16, 1))
    gout = decode_image_bytes(_make_jpeg_progressive(grad))
    assert np.abs(gout - grad).max() < 2.0

    # constant blocks: DC-only spectrum survives the Al split exactly
    bv = rng.randint(0, 256, (2, 3))
    cimg = np.kron(bv, np.ones((8, 8), dtype=np.int64)).astype(np.uint8)
    cout = decode_image_bytes(_make_jpeg_progressive(cimg))
    assert np.abs(cout - cimg).max() < 1e-9

    # high-frequency checkerboard: exercises ZRL + correction-bit
    # windows in the refinement scan
    checker = (np.indices((16, 16)).sum(axis=0) % 2 * 255).astype(np.uint8)
    cb = decode_image_bytes(_make_jpeg_progressive(checker))
    assert np.abs(cb - checker).max() < 2.0

    # progressive and baseline encodings of the same image must decode
    # to nearly identical planes (same final coefficients)
    base = decode_image_bytes(_make_jpeg_gray(img))
    prog = decode_image_bytes(_make_jpeg_progressive(img))
    assert np.abs(base - prog).max() < 1e-9


def test_thumbnail_image_progressive_takes_real_path(spark):
    """progressive payloads now take decoded=True — the round-4
    fallback flag is flipped."""
    import numpy as np

    from kgtk_spark.textops.multimodal import thumbnail_image

    grad = np.tile(np.arange(16, dtype=np.uint8) * 16, (16, 1))
    rows = [(1, bytearray(_make_jpeg_progressive(grad)))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in thumbnail_image(df, out_h=4, out_w=4).collect()}
    assert out[1]["decoded"] is True
    pix = np.array(out[1]["pixels"]).reshape(4, 4)
    assert (np.diff(pix[0]) > 0).all()


def test_thumbnail_image_real_and_fallback(spark):
    import numpy as np

    from kgtk_spark.textops.multimodal import thumbnail_image

    grad = np.tile(np.arange(16, dtype=np.uint8) * 16, (16, 1))
    png = _make_png(grad, ctype=0)
    rows = [(1, bytearray(png)), (2, bytearray(b"\xff\xd8 not decodable")),
            (3, bytearray(_make_jpeg_gray(grad)))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in thumbnail_image(df, out_h=4, out_w=4).collect()}
    assert out[1]["decoded"] is True
    # baseline JPEG now takes the REAL decode path: same gradient, so
    # its thumbnail must match the PNG one within codec rounding
    assert out[3]["decoded"] is True
    assert np.allclose(out[3]["pixels"], out[1]["pixels"], atol=2.0)
    # horizontal gradient: each thumbnail row identical, increasing
    pix = np.array(out[1]["pixels"]).reshape(4, 4)
    assert np.allclose(pix[0], pix[3])
    assert (np.diff(pix[0]) > 0).all()
    # undecodable payload takes the disclosed fallback
    assert out[2]["decoded"] is False


def test_thumbnail_image_corrupt_valid_magic_payloads(spark):
    """corrupt payloads WITH valid magic bytes raise struct.error
    (truncated JPEG segment header) or zlib.error (corrupt PNG IDAT)
    inside the decoder; the batch loop must route them to the byte-fake
    fallback instead of failing the whole mapInPandas task — routine on
    real crawl data."""
    import numpy as np

    from kgtk_spark.textops.multimodal import thumbnail_image

    grad = np.tile(np.arange(16, dtype=np.uint8) * 16, (16, 1))
    good_png = _make_png(grad, ctype=0)
    # truncated JPEG: SOI + marker byte + half a segment-length word
    trunc_jpeg = b"\xff\xd8\xff\xe0\x00"
    # PNG with a corrupted IDAT payload (valid signature + IHDR kept)
    bad_png = bytearray(good_png)
    idat = bytes(good_png).find(b"IDAT")
    assert idat > 0
    for off in range(4, 12):
        bad_png[idat + off] ^= 0xFF
    rows = [(1, bytearray(good_png)), (2, bytearray(trunc_jpeg)),
            (3, bad_png)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in thumbnail_image(df, out_h=4, out_w=4).collect()}
    assert out[1]["decoded"] is True
    assert out[2]["decoded"] is False
    assert out[3]["decoded"] is False
    assert len(out[2]["pixels"]) == 16 and len(out[3]["pixels"]) == 16


def test_encode_gray_jpeg_roundtrip():
    """the package's own baseline encoder must round-trip through the
    T.81 decoder: ~exact at q=1 on arbitrary images, BIT-exact (before
    float noise ~1e-14) on constant 8x8 blocks — the property the
    multimodal_jpeg_features oracle is built on."""
    import numpy as np

    from kgtk_spark.textops.multimodal import decode_image_bytes, encode_gray_jpeg

    rng = np.random.RandomState(0)
    # arbitrary content, non-multiple-of-8 dims
    img = rng.randint(0, 256, (24, 17)).astype(np.uint8)
    out = decode_image_bytes(encode_gray_jpeg(img))
    assert out.shape == (24, 17)
    assert np.abs(out - img).max() < 2.0  # q=1: IDCT rounding only

    # constant blocks: DC-only spectrum, exact round-trip
    bv = rng.randint(0, 256, (4, 4))
    cimg = np.kron(bv, np.ones((8, 8), dtype=np.int64)).astype(np.uint8)
    cout = decode_image_bytes(encode_gray_jpeg(cimg))
    assert np.abs(cout - cimg).max() < 1e-9

    # >16 consecutive zero ACs force ZRL symbols; a block whose last
    # nonzero coefficient is k=63 must carry no EOB — exercise both
    # with a high-frequency checkerboard
    checker = (np.indices((16, 16)).sum(axis=0) % 2 * 255).astype(np.uint8)
    cb = decode_image_bytes(encode_gray_jpeg(checker))
    assert np.abs(cb - checker).max() < 2.0


def test_decode_jpeg_truncated_streams():
    """What a cut inside the entropy data decodes to (``_decode_jpeg``'s
    docstring): the MCUs after the cut read the reader's 1-bit padding,
    which here saturates them to white or runs past coefficient 63
    (IndexError, thumbnail_image's fallback); MCUs the decoder never
    reaches, those of lost restart segments, keep zero coefficients and
    render mid-gray, libjpeg's fill after a premature end of data."""
    import numpy as np
    import pytest

    from kgtk_spark.textops.multimodal import decode_image_bytes, encode_gray_jpeg

    img = np.random.RandomState(0).randint(0, 40, (64, 64)).astype(np.uint8)  # dark noise
    b = encode_gray_jpeg(img)
    full = decode_image_bytes(b)
    sos = b.index(b"\xff\xda")
    start = sos + 2 + int.from_bytes(b[sos + 2 : sos + 4], "big")
    entropy = len(b) - 2 - start  # the stream ends with EOI

    # a tenth of the way in: 6 MCUs decode as before, the 7th is cut
    # short, and every MCU row below saturates
    out = decode_image_bytes(b[: start + entropy // 10])
    assert out.shape == (64, 64)
    assert np.array_equal(out[:8, :48], full[:8, :48])
    assert (out[8:] == 255).all()

    # a twentieth of the way in: the padding decodes past coefficient 63
    with pytest.raises(IndexError):
        decode_image_bytes(b[: start + entropy // 20])

    # restart segments of one MCU row each, cut at the third RST marker:
    # rows 4-8 of MCUs are never reached
    b = _make_jpeg_gray(img, restart_interval=8)
    full = decode_image_bytes(b)
    rst = [i for i in range(start, len(b) - 1) if b[i] == 0xFF and 0xD0 <= b[i + 1] <= 0xD7]
    out = decode_image_bytes(b[: rst[2]])
    assert np.array_equal(out[:24], full[:24])
    assert (out[24:] == 128).all()
