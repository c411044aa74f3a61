"""Charset sniffing (htmlkit/charset.py): WHATWG order — BOM, meta
declaration, UTF-8 probe, windows-1252 fallback — and its effect on the
extraction path for non-UTF-8 crawl pages."""

from __future__ import annotations

import pytest

from html_parser_spark.htmlkit.charset import normalize_label, sniff_decode


def test_bom_beats_everything():
    assert sniff_decode(b"\xef\xbb\xbfhello") == ("hello", "utf-8")
    text, enc = sniff_decode("héllo".encode("utf-16-le")[0:0]
                             + b"\xff\xfe" + "héllo".encode("utf-16-le"))
    assert (text, enc) == ("héllo", "utf-16-le")
    text, enc = sniff_decode(b"\xfe\xff" + "héllo".encode("utf-16-be"))
    assert (text, enc) == ("héllo", "utf-16-be")


def test_meta_charset_declaration():
    page = (b'<html><head><meta charset="windows-1252"></head>'
            b"<body>caf\xe9 \x93quoted\x94</body></html>")
    text, enc = sniff_decode(page)
    assert enc == "cp1252"
    assert "café" in text and "“quoted”" in text


def test_meta_http_equiv_form():
    page = (b'<meta http-equiv="Content-Type" '
            b'content="text/html; charset=ISO-8859-1">'
            b"r\xe9sum\xe9")
    text, enc = sniff_decode(page)
    # WHATWG: latin-1 label maps to windows-1252
    assert enc == "cp1252"
    assert "résumé" in text


def test_unlabeled_valid_utf8_stays_utf8():
    page = "<html><body>ünïcødé ✓</body></html>".encode()
    text, enc = sniff_decode(page)
    assert enc == "utf-8" and "ünïcødé ✓" in text


def test_unlabeled_invalid_utf8_falls_back_to_1252():
    page = b"<html><body>caf\xe9 nights \x97 dash</body></html>"
    text, enc = sniff_decode(page)
    assert enc == "cp1252"
    assert "café" in text and "—" in text  # 0x97 = em dash
    assert "�" not in text  # the old errors="replace" artifact


def test_lying_meta_never_raises():
    # declares shift_jis but carries bytes invalid in it
    page = (b'<meta charset="shift_jis">' + bytes([0x85, 0x00, 0xFF]))
    text, enc = sniff_decode(page)
    assert enc == "shift_jis" and isinstance(text, str)


def test_label_normalization():
    assert normalize_label("Latin-1") == "cp1252"
    assert normalize_label("GB2312") == "gbk"
    assert normalize_label("UTF8") == "utf-8"
    assert normalize_label("no-such-charset-xyz") is None
    # unknown label in meta → falls through to probe chain
    assert sniff_decode(b'<meta charset="klingon">abc')[1] == "utf-8"


def test_utf16_meta_claim_treated_as_utf8():
    # a scannable byte stream claiming UTF-16 is lying (WHATWG rule)
    assert sniff_decode(b'<meta charset="utf-16">ok') == (
        '<meta charset="utf-16">ok', "utf-8")


def test_extraction_decodes_legacy_page(spark):
    """End-to-end: a windows-1252 page must extract its text with real
    characters, not U+FFFD — the byte-identical contract extends to
    legacy-charset crawl records."""
    from html_parser_spark.job import pipeline as P
    from pyspark.sql import functions as F
    html = (b'<html><head><meta charset="windows-1252"><title>t</title>'
            b"</head><body><p>Grand caf\xe9 \x93Les Amis\x94 \x97 est. "
            b"1890</p></body></html>")
    pages = spark.createDataFrame(
        [("http://legacy.example/", None, html, None, None)],
        P.PAGES_SCHEMA)
    row = P.extract_pages(pages).select("status", "text").collect()[0]
    assert row.status in ("ok", "no_rule")
    assert "café" in row.text and "“Les Amis”" in row.text
    assert "�" not in row.text


def test_non_text_codec_labels_fall_through():
    """codecs.lookup resolves bytes-to-bytes transforms (hex, base64,
    rot13, zlib); a page declaring one must not raise LookupError — it
    falls through to the probe chain."""
    assert normalize_label("hex") is None
    assert normalize_label("base64") is None
    assert normalize_label("rot13") is None
    text, enc = sniff_decode(b'<meta charset=hex>plain body')
    assert enc == "utf-8" and "plain body" in text


def test_utf16_python_aliases_also_treated_as_lying():
    """'utf16'/'utf_16_le'/'unicode' resolve to UTF-16 codecs in Python;
    the lying-meta rule must fire on the RESOLVED name, not the label
    spelling, or the page decodes to CJK mojibake."""
    for label in ("utf16", "utf_16", "UTF-16LE", "unicode"):
        page = f'<meta charset={label}>ascii body here'.encode()
        text, enc = sniff_decode(page)
        assert enc == "utf-8", (label, enc)
        assert "ascii body here" in text


def test_transport_charset_ranks_between_bom_and_meta():
    from html_parser_spark.htmlkit.charset import charset_from_content_type
    assert charset_from_content_type(
        "text/html; charset=ISO-8859-1") == "cp1252"
    assert charset_from_content_type('text/html; charset="utf-8"') == \
        "utf-8"
    assert charset_from_content_type("text/html") is None
    assert charset_from_content_type(None) is None
    # transport beats meta
    page = b'<meta charset="utf-8">caf\xe9'
    text, enc = sniff_decode(page, transport_label="ISO-8859-1")
    assert enc == "cp1252" and "café" in text
    # BOM beats transport
    text, enc = sniff_decode(b"\xef\xbb\xbfok",
                             transport_label="ISO-8859-1")
    assert enc == "utf-8" and text == "ok"
    # unknown transport label falls through to meta/probe
    page2 = b'<meta charset="windows-1252">caf\xe9'
    text, enc = sniff_decode(page2, transport_label="bogus-charset")
    assert enc == "cp1252" and "café" in text


def test_cp1252_holes_take_whatwg_c1_mapping():
    """Python's cp1252 leaves 0x81 0x8D 0x8F 0x90 0x9D undefined; WHATWG
    windows-1252 maps them to C1 controls. The fallback and the declared
    path must both decode them (found by fuzz — raw b'\\x9d' crashed)."""
    for b in (0x81, 0x8D, 0x8F, 0x90, 0x9D):
        text, enc = sniff_decode(bytes([b]))
        assert enc == "cp1252" and text == chr(b)
        text2, enc2 = sniff_decode(
            b'<meta charset="windows-1252">x' + bytes([b]))
        assert enc2 == "cp1252" and text2.endswith(chr(b))
