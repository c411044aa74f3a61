"""Real pure-stdlib codec branches (functions/mediaops.py): PNG decode
with all five scanline filters, PCM WAV decode, header-only dimension
sniffing for BMP/PNG/GIF/JPEG."""

from __future__ import annotations

import struct
import zlib

import pytest

from html_parser_spark.functions import mediaops


# ---------------------------------------------------------------------------
# PNG


def _png_with_filters(pixels, filters):
    """Encode top-down RGB(A) rows applying the given per-row filter type
    (the encoder-side transform, spec §9) — exercises the decoder's
    un-filtering, which encode_png (filter 0 only) cannot."""
    height = len(pixels)
    width = len(pixels[0])
    bpp = len(pixels[0][0])
    color = 2 if bpp == 3 else 6
    stride = width * bpp
    prev = bytearray(stride)
    flat = bytearray()
    for row, ftype in zip(pixels, filters):
        line = bytearray()
        for px in row:
            line += bytes(px)
        out = bytearray(line)
        for i in range(stride):
            a = line[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ftype == 1:
                out[i] = (line[i] - a) & 0xFF
            elif ftype == 2:
                out[i] = (line[i] - b) & 0xFF
            elif ftype == 3:
                out[i] = (line[i] - ((a + b) >> 1)) & 0xFF
            elif ftype == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out[i] = (line[i] - pr) & 0xFF
        flat.append(ftype)
        flat += out
        prev = line

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8,
                                         color, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(flat)))
            + chunk(b"IEND", b""))


def _gradient(width, height, bpp=3):
    return [[tuple((x * 37 + y * 11 + ch * 5) % 256 for ch in range(bpp))
             for x in range(width)] for y in range(height)]


def test_png_roundtrip_filter0():
    px = _gradient(5, 4)
    img = mediaops.decode_image(mediaops.encode_png(px))
    assert (img["width"], img["height"], img["mode"]) == (5, 4, "RGB")
    assert img["pixels"] == px


@pytest.mark.parametrize("ftype", [1, 2, 3, 4])
def test_png_each_filter_type_unfilters_exactly(ftype):
    px = _gradient(7, 5)
    raw = _png_with_filters(px, [ftype] * 5)
    assert mediaops.decode_image(raw)["pixels"] == px


def test_png_mixed_filters_and_rgba():
    px = _gradient(6, 5, bpp=4)
    raw = _png_with_filters(px, [0, 1, 2, 3, 4])
    img = mediaops.decode_image(raw)
    assert img["mode"] == "RGBA"
    assert img["pixels"] == px


def test_png_rejects_unsupported_shapes():
    # 16-bit depth
    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))
    raw = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)))
    with pytest.raises(NotImplementedError):
        mediaops.decode_image(raw)
    # pixel stream shorter than IHDR promises
    good = mediaops.encode_png(_gradient(4, 4))
    with pytest.raises(ValueError):
        mediaops.decode_image(_png_truncate_idat(good))


def _png_truncate_idat(raw: bytes) -> bytes:
    # rebuild with IDAT zlib stream of a SHORTER image than IHDR claims
    pos = 8
    out = bytearray(raw[:8])
    while pos + 8 <= len(raw):
        length, ctype = struct.unpack_from(">I4s", raw, pos)
        data = raw[pos + 8:pos + 8 + length]
        if ctype == b"IDAT":
            data = zlib.compress(zlib.decompress(data)[:-4])
            out += struct.pack(">I", len(data)) + ctype + data
            out += struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        else:
            out += raw[pos:pos + 12 + length]
        pos += 12 + length
    return bytes(out)


# ---------------------------------------------------------------------------
# WAV


def test_wav_roundtrip_16bit():
    samples = [0, 1000, -1000, 32767, -32768, 5, -5] * 100
    raw = mediaops.encode_wav(samples, sample_rate=8000)
    info = mediaops.decode_wav(raw)
    assert info["n_channels"] == 1 and info["sample_width"] == 2
    assert info["sample_rate"] == 8000
    assert info["n_frames"] == len(samples)
    assert info["duration_ms"] == round(len(samples) * 1000 / 8000, 3)
    assert info["peak"] == 32768  # abs(-32768)
    import math
    expect_rms = math.sqrt(sum(s * s for s in samples) / len(samples))
    assert info["rms"] == round(expect_rms, 6)


def test_wav_8bit_and_stereo_first_channel():
    import io
    import wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(1)
        w.setframerate(4000)
        # L channel 128+20, R channel 128-40 interleaved, unsigned 8-bit
        w.writeframes(bytes([148, 88] * 50))
    info = mediaops.decode_wav(buf.getvalue())
    assert info["n_channels"] == 2 and info["sample_width"] == 1
    assert info["peak"] == 20          # first channel only
    assert info["rms"] == 20.0


def test_wav_vectorized_matches_scalar_reference():
    """The array-native decode path (np.frombuffer + int64 dot) must be
    bit-identical to the per-sample scalar form it replaced, on a long
    stereo 16-bit stream including the -32768 abs-overflow edge."""
    import io
    import math
    import struct
    import wave
    n = 40000
    left = [((i * 2654435761) % 65536) - 32768 for i in range(n)]
    right = [((i * 40503) % 65536) - 32768 for i in range(n)]
    inter = [v for lr in zip(left, right) for v in lr]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(struct.pack(f"<{len(inter)}h", *inter))
    info = mediaops.decode_wav(buf.getvalue())
    assert info["peak"] == max(abs(s) for s in left)
    assert info["rms"] == round(
        math.sqrt(sum(s * s for s in left) / n), 6)
    assert info["n_frames"] == n and info["n_channels"] == 2


def test_wav_rejects_nonpcm_widths():
    import io
    import wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(4)
        w.setframerate(4000)
        w.writeframes(b"\x00" * 40)
    with pytest.raises(NotImplementedError):
        mediaops.decode_wav(buf.getvalue())


# ---------------------------------------------------------------------------
# Header-only dimensions


def test_dimensions_bmp_png_gif_jpeg():
    bmp = mediaops.encode_bmp([[(1, 2, 3)] * 13] * 7)
    assert mediaops.image_dimensions(bmp) == {
        "format": "bmp", "width": 13, "height": 7}
    png = mediaops.encode_png(_gradient(31, 17))
    assert mediaops.image_dimensions(png) == {
        "format": "png", "width": 31, "height": 17}
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 3
    assert mediaops.image_dimensions(gif) == {
        "format": "gif", "width": 320, "height": 200}
    # minimal JPEG: SOI + APP0 + SOF0(8x12) — dimensions sit in the SOF
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", 8, 12) + b"\x03" + b"\x00" * 9)
    assert mediaops.image_dimensions(b"\xff\xd8" + app0 + sof0) == {
        "format": "jpeg", "width": 12, "height": 8}


def test_dimensions_rejects_unknown_magic():
    with pytest.raises(NotImplementedError):
        mediaops.image_dimensions(b"RIFF....WEBP")
    with pytest.raises(ValueError):
        # JPEG with no SOF marker before the stream ends
        mediaops.image_dimensions(b"\xff\xd8\xff\xe0" + struct.pack(">H", 4)
                                  + b"\x00\x00")


def test_jpeg_fill_bytes_between_markers():
    """Spec B.1.1.2: any number of 0xFF fill bytes may pad a marker; the
    SOF scan must treat them as padding, not as a marker byte."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (b"\xff\xff\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", 21, 34) + b"\x03" + b"\x00" * 9)
    assert mediaops.image_dimensions(b"\xff\xd8" + app0 + sof0) == {
        "format": "jpeg", "width": 34, "height": 21}


def test_png_missing_idat_and_bad_ihdr_raise_valueerror():
    """zlib/struct failures must surface as the module's ValueError
    contract, not leak zlib.error / struct.error."""
    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))
    no_idat = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
               + chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        mediaops.decode_image(no_idat)
    short_ihdr = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", b"\x00" * 5))
    with pytest.raises(ValueError):
        mediaops.decode_image(short_ihdr)


# ---------------------------------------------------------------------------
# Baseline JPEG (real decode; encode_jpeg is the test inverse)


def _jpeg_gradient(w, h):
    return [[((y * 9) % 256, (x * 5) % 200 + 20, ((x + y) * 3) % 256)
             for x in range(w)] for y in range(h)]


@pytest.mark.parametrize("subsample,restart", [
    ((1, 1), 0), ((1, 1), 3), ((2, 2), 0), ((2, 2), 3),
])
def test_jpeg_roundtrip_within_quantization_error(subsample, restart):
    """Encode (DCT+quant+Huffman, Annex K tables) → decode → pixels within
    quantization error of the original. 4:4:4 exercises the 1-block MCU
    path, 4:2:0 the 4-luma+2-chroma MCU with chroma upsampling; restart=3
    exercises DRI/RSTn byte-aligned predictor resets on both."""
    base = _jpeg_gradient(37, 21)  # non-multiple-of-8 on both axes
    enc = mediaops.encode_jpeg(base, quality=92, subsample=subsample,
                               restart_interval=restart)
    d = mediaops.decode_image(enc)
    assert (d["width"], d["height"], d["mode"]) == (37, 21, "RGB")
    worst = max(abs(g - w) for grow, wrow in zip(d["pixels"], base)
                for gpx, wpx in zip(grow, wrow)
                for g, w in zip(gpx, wpx))
    # 4:2:0 averages 2x2 chroma; its bound is looser than 4:4:4's.
    assert worst <= (3 if subsample == (1, 1) else 10), worst
    assert mediaops.image_dimensions(enc) == {
        "format": "jpeg", "width": 37, "height": 21}


def test_jpeg_solid_color_roundtrips_exactly():
    """A flat block is pure DC — quantization cannot move it, so the
    decode must be bit-exact (any error would be a codec bug, not loss)."""
    base = [[(200, 64, 32)] * 24 for _ in range(16)]
    d = mediaops.decode_image(mediaops.encode_jpeg(base, quality=90))
    assert d["pixels"] == base


def test_jpeg_noise_q100_bounded_error():
    """Random pixels at quality 100 exercise the full AC coefficient range
    (every run/size Huffman class, ZRL, long magnitudes) with the quant
    table near 1 — round-trip error stays within rounding (±3)."""
    import random
    rnd = random.Random(11)
    base = [[(rnd.randrange(256), rnd.randrange(256), rnd.randrange(256))
             for _ in range(16)] for _ in range(16)]
    d = mediaops.decode_image(mediaops.encode_jpeg(base, quality=100))
    worst = max(abs(g - w) for grow, wrow in zip(d["pixels"], base)
                for gpx, wpx in zip(grow, wrow)
                for g, w in zip(gpx, wpx))
    assert worst <= 3, worst


def test_jpeg_grayscale_single_component():
    base = [[(y * 11 + x * 3) % 256 for x in range(30)] for y in range(19)]
    d = mediaops.decode_image(mediaops.encode_jpeg(base, quality=95))
    assert (d["width"], d["height"], d["mode"]) == (30, 19, "L")
    worst = max(abs(g - w) for grow, wrow in zip(d["pixels"], base)
                for g, w in zip(grow, wrow))
    assert worst <= 8, worst


def test_jpeg_hierarchical_and_12bit_raise_typed():
    enc = bytearray(mediaops.encode_jpeg(_jpeg_gradient(16, 16)))
    i = enc.find(b"\xff\xc0")
    hier = bytearray(enc)
    hier[i + 1] = 0xC5  # SOF5: hierarchical — still out of scope
    with pytest.raises(NotImplementedError):
        mediaops.decode_image(bytes(hier))
    deep = bytearray(enc)
    deep[i + 4] = 12    # precision byte inside SOF0
    with pytest.raises(NotImplementedError):
        mediaops.decode_image(bytes(deep))


def test_jpeg_sof2_with_baseline_scan_raises_valueerror():
    # Flipping SOF0→SOF2 on a baseline stream yields a "progressive" file
    # whose single scan claims the full 0..63 band for an interleaved
    # scan — invalid under G.1 (DC scans must have Se=0) and rejected
    # cleanly rather than mis-decoded.
    enc = bytearray(mediaops.encode_jpeg(_jpeg_gradient(16, 16)))
    i = enc.find(b"\xff\xc0")
    enc[i + 1] = 0xC2
    with pytest.raises(ValueError):
        mediaops.decode_image(bytes(enc))


def test_jpeg_sof0_one_scan_per_component():
    """A SOF0 frame may code each component in its own non-interleaved
    scan (T.81 A.2.2). Three grayscale encode_jpeg streams — a Y gradient
    and flat 128 for Cb and Cr — become one 3-component frame with one SOS
    per component; YCbCr with Cb = Cr = 128 is gray, so every channel must
    equal the Y stream's own decode."""
    import numpy as np
    ys = [[(x * 7 + y * 3) % 256 for x in range(20)] for y in range(13)]
    flat = [[128] * 20 for _ in range(13)]
    streams = [mediaops.encode_jpeg(p, quality=90) for p in (ys, flat, flat)]
    y = streams[0]
    frame = (b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, 13, 20, 3)
             + bytes((1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0)))
    out = y[:y.index(b"\xff\xc0")] + frame  # SOI, APP0, DQT, 3-comp SOF0
    out += y[y.index(b"\xff\xc4"):y.index(b"\xff\xda")]  # DHT
    for cid, s in enumerate(streams, 1):
        at = s.index(b"\xff\xda")
        entropy = s[at + 2 + struct.unpack_from(">H", s, at + 2)[0]:-2]
        out += (b"\xff\xda" + struct.pack(">HB", 8, 1)
                + bytes((cid, 0x00, 0, 63, 0)) + entropy)
    out += b"\xff\xd9"
    d = mediaops._decode_image_array(out)
    assert (d["width"], d["height"], d["mode"]) == (20, 13, "RGB")
    ref = mediaops._decode_image_array(y)["array"]
    for ch in range(3):
        assert np.array_equal(d["array"][..., ch], ref)


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2): spectral selection + successive approximation.
# encode_jpeg_progressive shares _jpeg_precompute with the baseline
# encoder, so both encodings carry IDENTICAL quantized coefficients: the
# entropy half of the decoder must return exactly those coefficients for
# both (which pins every scan type — DC first/refine, AC first at two
# shift levels, AC refinement chains, EOB runs, ZRL — against the
# encoder), and the two decodes must be bit-identical.


@pytest.mark.parametrize("w,h", [(37, 21), (16, 16), (9, 30)])
@pytest.mark.parametrize("subsample", [(1, 1), (2, 2)])
@pytest.mark.parametrize("quality", [75, 95])
@pytest.mark.parametrize("pattern", ["gradient", "noise", "gray"])
def test_jpeg_coefficients_equal_the_encoders(w, h, subsample, quality,
                                              pattern):
    import numpy as np
    if pattern == "gradient":
        px = _jpeg_gradient(w, h)
    elif pattern == "gray":
        px = [[(x * 11 + y * 5) % 256 for x in range(w)] for y in range(h)]
    else:
        px = [[tuple(int(v) for v in c) for c in row] for row in
              np.random.RandomState(w * h).randint(0, 256, (h, w, 3))]
    pre = mediaops._jpeg_precompute(px, quality, subsample)
    want = [pre["ycoefs"], *(pre["ccoefs"] or ())]
    for encode in (mediaops.encode_jpeg, mediaops.encode_jpeg_progressive):
        frame, coefs = mediaops._jpeg_coefficients(
            encode(px, quality=quality, subsample=subsample))
        assert len(coefs) == len(want)
        for c, got, ref in zip(frame["comps"], coefs, want):
            # The encoder pads to the MCU grid the decoder allocates.
            assert got.shape == ref.shape
            # The natural grid: a non-interleaved progressive AC scan
            # leaves the MCU padding beyond it at zero.
            nbh, nbw = c["nbh"], c["nbw"]
            assert np.array_equal(got[:nbh, :nbw], ref[:nbh, :nbw])


def _assert_progressive_matches_baseline(pixels, quality, subsample):
    import numpy as np
    base = mediaops.encode_jpeg(pixels, quality=quality,
                                subsample=subsample)
    prog = mediaops.encode_jpeg_progressive(pixels, quality=quality,
                                            subsample=subsample)
    assert b"\xff\xc2" in prog and b"\xff\xc0" not in prog
    db = mediaops._decode_image_array(base)
    dp = mediaops._decode_image_array(prog)
    assert dp["width"] == db["width"] and dp["height"] == db["height"]
    assert dp["mode"] == db["mode"]
    assert np.array_equal(db["array"], dp["array"])


@pytest.mark.parametrize("subsample", [(1, 1), (2, 2)])
@pytest.mark.parametrize("quality", [40, 90])
def test_jpeg_progressive_gradient_bit_matches_baseline(quality, subsample):
    _assert_progressive_matches_baseline(
        _jpeg_gradient(40, 24), quality, subsample)


def test_jpeg_progressive_odd_dims_and_solid():
    # Odd dims exercise the natural-vs-MCU-padded block grid split in
    # non-interleaved AC scans; solid color exercises pure EOB-run scans.
    grad = [[((x * 13) % 256, (y * 7) % 256, (x + y * 3) % 256)
             for x in range(19)] for y in range(13)]
    _assert_progressive_matches_baseline(grad, 85, (2, 2))
    solid = [[(10, 200, 30)] * 24 for _ in range(16)]
    _assert_progressive_matches_baseline(solid, 95, (1, 1))


def test_jpeg_progressive_grayscale():
    g = [[(x * 3 + y * 5) % 256 for x in range(30)] for y in range(22)]
    _assert_progressive_matches_baseline(g, 90, (1, 1))


def test_jpeg_progressive_noise_exercises_refinement():
    # High-frequency noise maximizes newly-nonzero insertions and
    # correction bits in the Al=2→1→0 luma refinement chain.
    import numpy as np
    rng = np.random.RandomState(7)
    noise = [[tuple(int(v) for v in px) for px in row]
             for row in rng.randint(0, 256, (24, 24, 3)).tolist()]
    _assert_progressive_matches_baseline(noise, 75, (1, 1))
    _assert_progressive_matches_baseline(noise, 95, (2, 2))


def test_jpeg_progressive_large_smooth_accumulates_eob_runs():
    # A large smooth image makes consecutive all-zero high bands, so the
    # encoder accumulates multi-block EOB runs (EOBn, n > 0) — the decode
    # side must honor runs spanning many blocks (and restart-free scans).
    import math
    w, h = 96, 64
    px = [[(int(127 + 60 * math.sin(x / 17)),
            int(127 + 60 * math.cos(y / 13)),
            128) for x in range(w)] for y in range(h)]
    _assert_progressive_matches_baseline(px, 90, (2, 2))


def test_jpeg_progressive_resize_and_dimensions():
    prog = mediaops.encode_jpeg_progressive(_jpeg_gradient(32, 16),
                                            quality=90)
    dims = mediaops.image_dimensions(prog)
    assert dims == {"format": "jpeg", "width": 32, "height": 16}
    out = mediaops.resize_image(prog, 16, 8)
    assert mediaops.image_dimensions(out)["format"] == "jpeg"
    d = mediaops.decode_image(out)
    assert (d["width"], d["height"]) == (16, 8)


def test_jpeg_batched_idct_matches_per_block_reference():
    """The decoder's one batched dequant + IDCT equals a per-block loop
    (dequantize, de-zigzag, ``m.T @ block @ m + 128``) over the same
    coefficients, baseline and progressive, 4:2:0 and grayscale."""
    import numpy as np
    rng = np.random.RandomState(5)
    noise = [[tuple(int(v) for v in c) for c in row]
             for row in rng.randint(0, 256, (24, 24, 3))]
    gray = [[(x * 3 + y * 5) % 256 for x in range(30)] for y in range(22)]
    m = mediaops._idct_basis()
    for enc in (mediaops.encode_jpeg(_jpeg_gradient(37, 21),
                                     subsample=(2, 2)),
                mediaops.encode_jpeg_progressive(noise, quality=75),
                mediaops.encode_jpeg(gray, quality=90)):
        frame, coefs = mediaops._jpeg_coefficients(enc)
        planes = []
        for c, coef in zip(frame["comps"], coefs):
            plane = np.zeros((c["bh"] * 8, c["bw"] * 8))
            for by in range(c["bh"]):
                for bx in range(c["bw"]):
                    blk = np.zeros(64)
                    blk[mediaops._ZIGZAG] = coef[by, bx] * np.array(c["q"])
                    plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = (
                        m.T @ blk.reshape(8, 8) @ m + 128)
            planes.append(plane)
        assert np.array_equal(mediaops._jpeg_finish(frame, planes)["array"],
                              mediaops._decode_image_array(enc)["array"])


def test_jpeg_malformed_scans_raise_valueerror():
    """Malformed scan headers are the module's ValueError: an SOS before
    any frame header, and a progressive AC band past coefficient 63."""
    enc = mediaops.encode_jpeg(_jpeg_gradient(16, 16))
    sof = enc.index(b"\xff\xc0")
    no_frame = enc[:sof] + enc[sof + 2 + struct.unpack_from(
        ">H", enc, sof + 2)[0]:]
    with pytest.raises(ValueError):
        mediaops.decode_image(no_frame)
    prog = bytearray(mediaops.encode_jpeg_progressive(
        _jpeg_gradient(16, 16)))
    at = 0
    while True:  # the first AC scan: one component, Ss > 0
        at = prog.index(b"\xff\xda", at + 1)
        if prog[at + 4] == 1 and prog[at + 7] > 0:
            break
    prog[at + 8] = 70  # Se
    with pytest.raises(ValueError):
        mediaops.decode_image(bytes(prog))


def test_jpeg_truncated_stream_raises_valueerror():
    enc = mediaops.encode_jpeg(_jpeg_gradient(16, 16))
    with pytest.raises(ValueError):
        mediaops.decode_image(enc[:len(enc) // 2])


@pytest.mark.parametrize("restart", [-1, 0x10000])
def test_jpeg_restart_interval_outside_u16_raises(restart):
    for encode in (mediaops.encode_jpeg, mediaops.encode_jpeg_progressive):
        with pytest.raises(ValueError, match="restart_interval"):
            encode(_jpeg_gradient(8, 8), restart_interval=restart)


# Encoder byte pin: the md5 of each encoder's output over a fixed grid
# (odd sizes, seeded gradient and noise, q50/q95, restart 0/3). The
# digests were taken from the earlier separate baseline and progressive
# encoders; the shared header writer and scan encoder must reproduce
# their bytes exactly.


def _pin_images(gray):
    import numpy as np
    for w, h in ((13, 9), (37, 21)):
        noise = np.random.RandomState(w * h).randint(0, 256, (h, w, 3))
        for px in (_jpeg_gradient(w, h), noise.tolist()):
            yield [[p[0] if gray else tuple(p) for p in row] for row in px]


@pytest.mark.parametrize("encoder,shape,digest", [
    ("encode_jpeg", "gray", "20e303107f5c48d2ed643f00caba22db"),
    ("encode_jpeg", "4:4:4", "aff4f360a014bd520a6d0178460d9f95"),
    ("encode_jpeg", "4:2:0", "4eeb9bb5ce9d46f656a3bd6c74c10141"),
    ("encode_jpeg_progressive", "gray", "1bd8b95fd5cdfa956163a665ad3d0599"),
    ("encode_jpeg_progressive", "4:4:4", "00f52837df991d9ef43745b9f20f680c"),
    ("encode_jpeg_progressive", "4:2:0", "6b4bd80090b52badfce195de4b72dc8d"),
])
def test_jpeg_encoder_bytes_pinned(encoder, shape, digest):
    import hashlib
    sub = (2, 2) if shape == "4:2:0" else (1, 1)
    md5 = hashlib.md5()
    for px in _pin_images(shape == "gray"):
        for quality in (50, 95):
            for restart in (0, 3):
                md5.update(getattr(mediaops, encoder)(
                    px, quality=quality, subsample=sub,
                    restart_interval=restart))
    assert md5.hexdigest() == digest


# ---------------------------------------------------------------------------
# GIF (real decode; encode_gif is the test inverse)


def test_gif_roundtrip_lossless():
    """GIF is palette + LZW = lossless: decode(encode(x)) == x, including
    dictionary code-width growth (7 colors) and a full 256-color table."""
    import random
    rnd = random.Random(3)
    pal7 = [(rnd.randrange(256), rnd.randrange(256), rnd.randrange(256))
            for _ in range(7)]
    img = [[pal7[rnd.randrange(7)] for _ in range(61)] for _ in range(47)]
    assert mediaops.decode_image(mediaops.encode_gif(img))["pixels"] == img
    pal256 = [(i, (i * 3) % 256, (i * 7) % 256) for i in range(256)]
    img = [[pal256[rnd.randrange(256)] for _ in range(96)]
           for _ in range(64)]
    enc = mediaops.encode_gif(img)
    assert mediaops.decode_image(enc)["pixels"] == img
    assert mediaops.image_dimensions(enc) == {
        "format": "gif", "width": 96, "height": 64}


def test_gif_dictionary_reset_at_4096():
    """A long constant run overflows the 12-bit LZW dictionary; the
    encoder must emit CLEAR and both sides must resync."""
    big = [[(5, 6, 7)] * 400 for _ in range(400)]
    assert mediaops.decode_image(mediaops.encode_gif(big))["pixels"] == big


def test_gif_interlaced_decode():
    """Flag an encoder output as interlaced after permuting its rows into
    the 4-pass order — the decoder must de-scramble back to the original."""
    import random
    rnd = random.Random(5)
    pal = [(i * 16 % 256, 0, i * 32 % 256) for i in range(16)]
    h = 30
    img = [[pal[rnd.randrange(16)] for _ in range(20)] for _ in range(h)]
    order = (list(range(0, h, 8)) + list(range(4, h, 8))
             + list(range(2, h, 4)) + list(range(1, h, 2)))
    enc = bytearray(mediaops.encode_gif([img[dst] for dst in order]))
    idesc = 6 + 7 + 16 * 3  # header + LSD + global color table
    assert enc[idesc] == 0x2C
    enc[idesc + 9] |= 0x40  # set the interlace flag
    assert mediaops.decode_image(bytes(enc))["pixels"] == img


def test_gif_rejects_overflow_palette_and_truncation():
    with pytest.raises(ValueError):
        mediaops.encode_gif([[(i % 256, i // 256, 0) for i in range(300)]])
    enc = mediaops.encode_gif([[(1, 2, 3)] * 40] * 40)
    with pytest.raises(ValueError):
        mediaops.decode_image(enc[:len(enc) // 2])


# ---------------------------------------------------------------------------
# resize_image (real: own codecs + numpy resample, no PIL)


def test_resize_all_formats_same_container():
    grad = [[((y * 9) % 256, (x * 5) % 200 + 20, ((x + y) * 3) % 256)
             for x in range(40)] for y in range(24)]
    for enc_fn, fmt in ((mediaops.encode_bmp, "bmp"),
                        (mediaops.encode_png, "png"),
                        (lambda p: mediaops.encode_jpeg(p, 95), "jpeg")):
        small = mediaops.resize_image(enc_fn(grad), 20, 12)
        assert mediaops.image_dimensions(small) == {
            "format": fmt, "width": 20, "height": 12}
        # down-then-up: bilinear content survives within a small mean error
        back = mediaops.decode_image(
            mediaops.resize_image(small, 40, 24))["pixels"]
        tot = n = 0
        for grow, wrow in zip(back, grad):
            for gpx, wpx in zip(grow, wrow):
                for g, w in zip(gpx, wpx):
                    tot += abs(g - w)
                    n += 1
        assert tot / n < 6, tot / n


def test_resize_gif_preserves_palette():
    """GIF resamples nearest-neighbor: no invented colors, output palette
    is a subset of the input's."""
    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]
    img = [[pal[(x // 5 + y // 5) % 3] for x in range(30)]
           for y in range(18)]
    small = mediaops.decode_image(
        mediaops.resize_image(mediaops.encode_gif(img), 10, 6))
    assert (small["width"], small["height"]) == (10, 6)
    assert {px for row in small["pixels"] for px in row} <= set(pal)


def test_resize_grayscale_jpeg_stays_grayscale():
    g = [[(y * 7 + x * 3) % 256 for x in range(32)] for y in range(20)]
    small = mediaops.resize_image(mediaops.encode_jpeg(g, quality=95),
                                  16, 10)
    assert mediaops.decode_image(small)["mode"] == "L"


def test_jpeg_restart_marker_with_fill_bytes():
    """T.81 B.1.1.2: RSTn markers may be padded with 0xFF fill bytes; the
    restart scan must skip them, not report 0xFF as the marker."""
    base = _jpeg_gradient(37, 21)
    enc = mediaops.encode_jpeg(base, quality=92, restart_interval=3)
    first_rst = min(enc.find(bytes((0xFF, 0xD0 + i))) for i in range(8)
                    if enc.find(bytes((0xFF, 0xD0 + i))) != -1)
    padded = enc[:first_rst] + b"\xff" + enc[first_rst:]
    d = mediaops.decode_image(padded)
    assert d["pixels"] == mediaops.decode_image(enc)["pixels"]


def test_jpeg_standalone_markers_in_header_section():
    """T.81 B.1.1.4: TEM (0x01) and RSTn carry NO length field; a stray
    one in the header section must be skipped as 2 bytes, not read as a
    segment (which would swallow arbitrary header bytes). A premature
    EOI must raise a descriptive ValueError, not misparse."""
    base = _jpeg_gradient(16, 16)
    enc = mediaops.encode_jpeg(base, quality=92)
    ref = mediaops.decode_image(enc)["pixels"]
    # splice TEM then a stray RST2 right after SOI
    spliced = enc[:2] + b"\xff\x01\xff\xd2" + enc[2:]
    assert mediaops.decode_image(spliced)["pixels"] == ref
    with pytest.raises(ValueError):
        mediaops.decode_image(enc[:2] + b"\xff\xd9" + enc[2:])


def test_grayscale_channel_means_are_the_gray_mean():
    """A 2-D mode-'L' array indexed px[..., 0/1/2] would take pixel
    COLUMNS — the kernels must replicate the single-channel mean."""
    from html_parser_spark.functions.mediaops import (
        _channel_means, _decode_image_array)
    g = [[10 if x == 0 else 200 for x in range(8)] for _ in range(4)]
    enc = mediaops.encode_jpeg(g, quality=100)
    img = _decode_image_array(enc)
    assert img["mode"] == "L"
    mr, mg, mb = _channel_means(img)
    true_mean = float(img["array"].mean())
    assert mr == mg == mb == true_mean
    assert abs(true_mean - (10 * 4 + 200 * 28) / 32) < 3


def test_jpeg_progressive_restart_intervals():
    """DRI/RSTn inside progressive scans: predictors and EOB runs reset
    at each marker (G.1.2.2 — an EOB run cannot span a restart), and the
    decode stays bit-identical to baseline. Noise maximizes entropy data
    between markers."""
    import numpy as np
    rng = np.random.RandomState(11)
    px = [[tuple(int(v) for v in c) for c in row]
          for row in rng.randint(0, 256, (24, 40, 3)).tolist()]
    for sub, ri in (((1, 1), 2), ((2, 2), 3)):
        base = mediaops._decode_image_array(
            mediaops.encode_jpeg(px, quality=85, subsample=sub))
        prog = mediaops.encode_jpeg_progressive(
            px, quality=85, subsample=sub, restart_interval=ri)
        assert prog.count(b"\xff\xdd") == 1  # DRI emitted once
        assert any(bytes((0xFF, 0xD0 + i)) in prog for i in range(8))
        dp = mediaops._decode_image_array(prog)
        assert np.array_equal(base["array"], dp["array"])
