"""Multimodal plumbing tests: binary payload columns ride Arrow batches
through ``mapInArrow`` row kernels. BMP/PNG/JPEG/GIF/PCM-WAV codecs and
the resize are real (pure Python + numpy, see test_codecs.py); other
image formats are a typed ``NotImplementedError``."""

from __future__ import annotations

import hashlib

import pytest

from html_parser_spark.functions import mediaops
from html_parser_spark.sources.media import media_from_documents


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(12)], ["doc_id", "text"])
    return media_from_documents(docs)


def test_media_schema_and_kinds(media):
    assert [f.name for f in media.schema.fields] == \
        ["media_id", "kind", "payload", "meta"]
    assert dict(media.dtypes)["payload"] == "binary"
    kinds = {r.media_id: r.kind for r in media.select("media_id", "kind").collect()}
    assert kinds[0] == "image" and kinds[1] == "audio" and kinds[2] == "video"


def test_feature_extraction_matches_python(media):
    feats = {r.media_id: r for r in
             mediaops.extract_media_features(media).collect()}
    for i in range(12):
        hexd = hashlib.md5(str(i).encode()).hexdigest()
        payload = (hexd * (i % 4 + 1)).encode()
        r = feats[i]
        assert r.n_bytes == len(payload)
        assert r.header == hexd[:8]
        assert r.checksum == hashlib.md5(payload).hexdigest()
        assert r.width == 16 * (i % 64 + 1)
        assert r.height == 16 * (i % 48 + 1)


def test_real_decoders_are_clearly_stubbed():
    # unknown container magic is a typed refusal, never a silent decode
    with pytest.raises(NotImplementedError):
        mediaops.decode_image(b"RIFF....WEBPVP8 ")
    # truncated JPEG (headers only, no SOS) is a ValueError, not a stub:
    # all four image decodes are real (test_codecs.py round-trips them)
    with pytest.raises(ValueError):
        mediaops.decode_image(b"\xff\xd8\xff\xe0\x00\x02")


def test_null_payload_safe(spark):
    from pyspark.sql.types import (BinaryType, IntegerType, LongType,
                                   StringType, StructField, StructType)
    schema = StructType([
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("meta", StructType([
            StructField("format", StringType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("duration_ms", IntegerType()),
        ])),
    ])
    df = spark.createDataFrame(
        [(1, "image", None, ("png", 16, 16, 0))], schema)
    row = mediaops.extract_media_features(df).collect()[0]
    assert row.n_bytes == 0 and row.header == ""


def test_bmp_decode_real_codec_roundtrip():
    """decode_image has one REAL branch the sandbox can exercise:
    uncompressed 24-bit BMP (VERDICT r2 task 8). Round-trip a generated
    image incl. a non-multiple-of-4 row width (padding path) and a
    top-down (negative height) variant."""
    from html_parser_spark.functions.mediaops import (
        decode_image, encode_bmp)
    pixels = [[(255, 0, 0), (0, 255, 0), (0, 0, 255)],
              [(1, 2, 3), (4, 5, 6), (7, 8, 9)]]  # 3x2: row pad = 3 bytes
    raw = encode_bmp(pixels)
    img = decode_image(raw)
    assert (img["width"], img["height"], img["mode"]) == (3, 2, "RGB")
    assert img["pixels"] == [[tuple(p) for p in row] for row in pixels]
    # top-down variant: negate height, rows stored in display order
    import struct
    neg = bytearray(raw)
    struct.pack_into("<i", neg, 22, -2)
    flipped = encode_bmp(pixels[::-1])  # bottom-up of reversed == same data
    img2 = decode_image(bytes(bytearray(flipped[:22]) + neg[22:26]
                              + bytearray(flipped[26:])))
    assert img2["pixels"] == img["pixels"]


def test_bmp_decode_rejects_other_formats_and_truncation():
    from html_parser_spark.functions.mediaops import decode_image, encode_bmp
    import pytest
    with pytest.raises(ValueError):
        # PNG decode is real now: junk chunks fail the chunk parser.
        decode_image(b"\x89PNG\r\n\x1a\n" + b"0" * 64)
    with pytest.raises(ValueError):
        decode_image(b"BM" + b"\x00" * 10)           # truncated header
    raw = encode_bmp([[(1, 2, 3)] * 4] * 4)
    with pytest.raises(ValueError):
        decode_image(raw[:-8])                        # truncated pixels


def test_media_payloads_decode_roundtrip_spark(spark):
    """Real codecs through the Spark plan: generate actual BMP/PNG/JPEG/WAV
    payloads from doc_id, decode them in the Arrow kernel, and check every
    stat against the closed form the DuckDB oracle also uses."""
    from html_parser_spark.sources.media import media_payloads

    docs = spark.range(0, 60).withColumnRenamed("id", "doc_id")
    rows = {r.media_id: r for r in
            mediaops.decode_media_features(media_payloads(docs)).collect()}
    assert len(rows) == 60
    for did, r in rows.items():
        if did % 4 == 3:
            a = did % 1000
            assert (r.fmt, r.peak, r.rms, r.duration_ms) == \
                ("wav", a, float(a), 10.0), r
            assert r.width is None and r.mean_r is None
        else:
            assert r.fmt == ["bmp", "png", "jpeg", "gif"][(did % 8) // 2], r
            assert (r.width, r.height) == \
                (8 * (did % 8 + 1), 8 * (did % 6 + 1)), r
            assert (r.mean_r, r.mean_g, r.mean_b) == \
                (did % 256, (did * 7) % 256, (did * 13) % 256), r
            assert r.peak is None and r.rms is None


def test_thumbnail_features_solid_exact(spark):
    """Thumbnailing a solid image yields the same solid at 8x8 in every
    codec; audio rows are dropped by the image sniff."""
    from html_parser_spark.sources.media import media_payloads

    docs = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    rows = {r.media_id: r for r in
            mediaops.thumbnail_features(media_payloads(docs)).collect()}
    assert set(rows) == {i for i in range(40) if i % 4 != 3}
    for did, r in rows.items():
        assert (r.width, r.height) == (8, 8), r
        assert r.fmt == ["bmp", "png", "jpeg", "gif"][(did % 8) // 2], r
        assert (r.mean_r, r.mean_g, r.mean_b) == \
            (did % 256, (did * 7) % 256, (did * 13) % 256), r


def test_media_decode_error_tolerance(spark):
    """One corrupt payload in 10^12 rows must degrade to a status row,
    never fail the job — the extract_pages contract, media edition."""
    from pyspark.sql.types import (BinaryType, LongType, StructField,
                                   StructType)
    schema = StructType([StructField("media_id", LongType()),
                         StructField("payload", BinaryType())])
    good_png = mediaops.encode_png([[(9, 8, 7)] * 8] * 8)
    junk = [
        (1, b""),                                   # empty
        (2, b"\x89PNG\r\n\x1a\n" + b"\xff" * 40),   # corrupt PNG body
        (3, b"\xff\xd8\xff\xe0\x00\x10JFIFjunk"),   # truncated JPEG
        (4, b"GIF89a\x04\x00\x04\x00\x00\x00\x00"), # GIF, no color table
        (5, b"RIFFxxxxWAVEfmt corrupt"),            # corrupt WAV
        (6, b"\x00" * 100),                         # unknown magic
        (7, None),                                  # NULL payload
        (8, good_png),                              # control: decodes
    ]
    df = spark.createDataFrame(junk, schema)
    rows = {r.media_id: r for r in
            mediaops.decode_media_features(df).collect()}
    assert len(rows) == 8
    for i in range(1, 8):
        assert rows[i].status.startswith("error:"), (i, rows[i])
        assert rows[i].mean_r is None
    assert rows[8].status == "ok" and rows[8].mean_r == 9.0

    thumbs = {r.media_id: r for r in
              mediaops.thumbnail_features(df).collect()}
    # payloads with NO image magic (audio/unknown/empty/NULL) are dropped
    # as non-images; anything leading with an image signature — corrupt
    # header (3) or corrupt body (2, 4) — degrades to an error row, the
    # same never-drop-an-image contract as decode_media_features; the
    # control thumbnails cleanly
    assert set(thumbs) == {2, 3, 4, 8}
    for i in (2, 3, 4):
        assert thumbs[i].status.startswith("error:"), thumbs[i]
        assert thumbs[i].width is None
    assert thumbs[8].status == "ok" and thumbs[8].width == 8

    # truncated PNG IHDR: image magic, header sniff fails → error row
    # (and the sniff itself reports ValueError, not unrecognized-magic)
    trunc_png = spark.createDataFrame(
        [(1, b"\x89PNG\r\n\x1a\n\x00\x00")], schema)
    with pytest.raises(ValueError):
        mediaops.image_dimensions(b"\x89PNG\r\n\x1a\n\x00\x00")
    t = mediaops.thumbnail_features(trunc_png).collect()
    assert len(t) == 1 and t[0].status == "error:ValueError"


def test_decode_stats_grayscale_jpeg(spark):
    """Grayscale JPEG through the decode kernel: stats are the gray mean
    in all three channels, never per-column slices (and an image narrower
    than 3 px must not become an error row)."""
    from pyspark.sql.types import (BinaryType, LongType, StructField,
                                   StructType)
    schema = StructType([StructField("media_id", LongType()),
                         StructField("payload", BinaryType())])
    g16 = mediaops.encode_jpeg([[128] * 16] * 8, quality=95)
    g2 = mediaops.encode_jpeg([[64] * 2] * 8, quality=95)
    rows = {r.media_id: r for r in mediaops.decode_media_features(
        spark.createDataFrame([(1, g16), (2, g2)], schema)).collect()}
    assert rows[1].status == "ok" and rows[2].status == "ok"
    assert rows[1].mean_r == rows[1].mean_g == rows[1].mean_b == 128.0
    assert rows[2].mean_r == 64.0 and rows[2].width == 2


# ---------------------------------------------------------------------------
# Header-only metadata tier (MP3 / MP4 / WAV — VERDICT r4 task 8)


def test_mp3_metadata_roundtrip_and_id3_skip():
    from html_parser_spark.functions import mediaops as M
    p = M.encode_mp3(5, bitrate_kbps=128, sample_rate=44100, id3_size=37)
    m = M.media_metadata(p)
    assert m["format"] == "mp3" and m["n_frames"] == 5
    assert m["bitrate_kbps"] == 128.0 and m["sample_rate"] == 44100
    assert abs(m["duration_ms"] - 5 * 1152 * 1000 / 44100) < 1e-9
    # no tag → same metadata
    assert M.media_metadata(M.encode_mp3(5, 128))["duration_ms"] == \
        m["duration_ms"]
    # trailing ID3v1 tag after the last frame must not add frames
    assert M.media_metadata(
        M.encode_mp3(3, 192, 48000) + b"TAG" + bytes(125))["n_frames"] == 3


def test_mp3_metadata_vbr_exact_duration():
    """Frames at different bitrates: duration sums per frame (exact for
    VBR), bitrate reports the mean."""
    from html_parser_spark.functions import mediaops as M
    p = M.encode_mp3(2, 64) + M.encode_mp3(2, 320)
    m = M.media_metadata(p)
    assert m["n_frames"] == 4
    assert m["bitrate_kbps"] == (64 + 64 + 320 + 320) / 4
    assert abs(m["duration_ms"] - 4 * 1152 * 1000 / 44100) < 1e-9


def test_mp3_metadata_rejects_malformed():
    from html_parser_spark.functions import mediaops as M
    with pytest.raises(ValueError):
        M.mp3_metadata(b"\x00" * 32)                # no sync
    with pytest.raises(NotImplementedError):
        # sync with MPEG-2 version bits (0xF2 = version 10, layer III)
        M.mp3_metadata(bytes((0xFF, 0xF2, 0x90, 0xC0)) + bytes(100))
    with pytest.raises(ValueError):
        # bitrate index 15 is forbidden
        M.mp3_metadata(bytes((0xFF, 0xFB, 0xF0, 0xC0)) + bytes(100))


def test_mp4_metadata_roundtrip():
    from html_parser_spark.functions import mediaops as M
    p = M.encode_mp4(640, 360, 12345)
    assert M.media_metadata(p) == {
        "format": "mp4", "duration_ms": 12345.0,
        "width": 640, "height": 360, "n_tracks": 1}
    with pytest.raises(ValueError):
        M.mp4_metadata(b"\x00\x00\x00\x08free")     # no ftyp
    # ftyp but no moov
    with pytest.raises(ValueError):
        M.mp4_metadata(M.encode_mp4(64, 64, 1000)[:24])


def test_mp4_metadata_version1_boxes():
    """64-bit mvhd/tkhd (version 1) layouts parse to the same values."""
    import struct
    from html_parser_spark.functions import mediaops as M

    def box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    ts, dur = 1000, 4500
    mvhd = box(b"mvhd", bytes((1, 0, 0, 0)) + struct.pack(">QQ", 0, 0)
               + struct.pack(">I", ts) + struct.pack(">Q", dur)
               + bytes(80))
    tkhd = box(b"tkhd", bytes((1, 0, 0, 7)) + struct.pack(">QQ", 0, 0)
               + struct.pack(">I", 1) + bytes(4) + struct.pack(">Q", dur)
               + bytes(8) + bytes(8) + struct.pack(">9I", *([0] * 9))
               + struct.pack(">II", 320 << 16, 240 << 16))
    raw = (box(b"ftyp", b"isom\x00\x00\x02\x00isom")
           + box(b"moov", mvhd + box(b"trak", tkhd)))
    m = M.mp4_metadata(raw)
    assert m["duration_ms"] == 4500.0
    assert (m["width"], m["height"]) == (320, 240)


def _patched_wav(offset: int, fmt: str, value: int) -> bytes:
    """A valid 16-bit mono WAV with one fmt-chunk field overwritten."""
    import struct
    from html_parser_spark.functions import mediaops as M
    raw = bytearray(M.encode_wav([5] * 16, sample_rate=16000))
    struct.pack_into(fmt, raw, offset, value)
    return bytes(raw)


ZERO_CHANNEL_WAV = _patched_wav(22, "<H", 0)
FOUR_BIT_WAV = _patched_wav(34, "<H", 4)
ZERO_RATE_WAV = _patched_wav(24, "<I", 0)
HUGE_RATE_WAV = _patched_wav(24, "<I", 2 ** 31)  # overflows sample_rate int


def test_media_meta_kernel_never_fails(spark):
    """Junk/truncated/unknown payloads must land as error rows."""
    from html_parser_spark.functions import mediaops as M
    rows = [
        (0, M.encode_mp3(2, 128)),
        (1, M.encode_mp4(64, 64, 1000)),
        (2, M.encode_wav([5] * 16, sample_rate=16000)),
        (3, b"\x00\x01junkjunkjunk"),               # unknown magic
        (4, M.encode_mp4(64, 64, 1000)[:20]),       # truncated mp4
        (5, None),                                   # NULL payload
        (6, ZERO_CHANNEL_WAV),
        (7, FOUR_BIT_WAV),
        (8, ZERO_RATE_WAV),
        (9, HUGE_RATE_WAV),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in M.media_meta_features(df).collect()}
    assert got[0].status == "ok" and got[0].fmt == "mp3"
    assert got[1].status == "ok" and got[1].width == 64
    assert got[2].status == "ok" and got[2].sample_rate == 16000
    assert got[3].status == "error:NotImplementedError"
    assert got[4].status.startswith("error:")
    assert got[5].status.startswith("error:")
    assert got[6].status == "error:ValueError"
    assert got[7].status == "error:ValueError"
    assert got[8].status == "error:ValueError"
    assert got[9].status == "error:ValueError"


def test_mp4_corrupt_largesize_raises_not_hangs():
    """A box with size==1 and largesize < 16 must raise, not loop: the
    never-fail batch kernel can catch an error but not a hang."""
    import struct
    from html_parser_spark.functions import mediaops as M
    # size==1, largesize=0: without the guard, pos += 0 loops forever
    evil = struct.pack(">I", 1) + b"free" + struct.pack(">Q", 0) + bytes(8)
    with pytest.raises(ValueError, match="largesize"):
        list(M._mp4_boxes(evil, 0, len(evil)))
    # same corrupt box after a valid ftyp, through the public API
    ftyp = M.encode_mp4(64, 64, 1000)[:24]
    with pytest.raises(ValueError):
        M.mp4_metadata(ftyp + evil)


def test_mp3_trailing_false_sync_keeps_good_frames():
    """Junk after the last frame that happens to carry sync bits (wrong
    version/layer, or bad bitrate index) must not void the whole file."""
    from html_parser_spark.functions import mediaops as M
    base = M.encode_mp3(3, 128)
    # 0xFF 0xE2: sync + MPEG-2.5 version bits — false sync
    assert M.mp3_metadata(base + bytes((0xFF, 0xE2)) + bytes(30)
                          )["n_frames"] == 3
    # 0xFF 0xFB 0xF0: valid sync/version but forbidden bitrate index 15
    assert M.mp3_metadata(base + bytes((0xFF, 0xFB, 0xF0, 0xC0))
                          )["n_frames"] == 3
    # but a file that STARTS with those still errors
    with pytest.raises(NotImplementedError):
        M.mp3_metadata(bytes((0xFF, 0xE2)) + bytes(30))
