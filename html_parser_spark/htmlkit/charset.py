"""Charset sniffing for crawl page bytes (WHATWG encoding-standard order,
simplified): BOM → in-document ``<meta charset>`` declaration → strict
UTF-8 probe → windows-1252 fallback.

Real Common-Crawl HTML is not all UTF-8 — legacy pages are mostly
windows-1252 (or mislabeled latin-1, which WHATWG maps to 1252 for
exactly that reason) and CJK pages declare their charset in a meta tag.
The previous ``decode("utf-8", errors="replace")`` turned every such
byte into U+FFFD, which breaks the byte-identical extracted-text
contract on anything non-UTF-8. windows-1252 is made total via the
WHATWG C1 mapping for Python's five cp1252 holes, so the fallback chain
never raises: ``sniff_decode`` always returns text.

Reference: the WHATWG "Encoding" standard's label table and the HTML
standard's encoding sniffing algorithm (public specs); only the subset a
batch extractor needs — no transport (HTTP header) layer here, callers
that have one should decode upstream.
"""

from __future__ import annotations

import codecs
import re

__all__ = ["sniff_decode", "normalize_label", "charset_from_content_type"]

# WHATWG maps the whole latin-1 family to windows-1252 (superset on the
# 0x80-0x9F range real pages actually use for smart quotes etc.).
_LABEL_MAP = {
    "latin1": "cp1252", "latin-1": "cp1252", "iso-8859-1": "cp1252",
    "iso8859-1": "cp1252", "us-ascii": "cp1252", "ascii": "cp1252",
    "windows-1252": "cp1252", "cp1252": "cp1252", "ansi_x3.4-1968":
    "cp1252",
    "utf8": "utf-8", "utf-8": "utf-8", "unicode-1-1-utf-8": "utf-8",
    "gb2312": "gbk", "gb_2312": "gbk", "gbk": "gbk", "csgb2312": "gbk",
    "shift-jis": "shift_jis", "shift_jis": "shift_jis", "sjis":
    "shift_jis", "ms_kanji": "shift_jis",
    "euc-jp": "euc_jp", "euc-kr": "euc_kr", "ks_c_5601-1987": "euc_kr",
    "big5": "big5", "big5-hkscs": "big5hkscs",
}

_META_RE = re.compile(
    rb"""<meta[^>]+?(?:
        charset\s*=\s*["']?\s*([a-zA-Z0-9._:-]+)
        |
        content\s*=\s*["'][^"']*charset\s*=\s*([a-zA-Z0-9._:-]+)
    )""", re.IGNORECASE | re.VERBOSE)


def normalize_label(label: str) -> str | None:
    """WHATWG label → Python codec name; None for labels Python can't
    decode AS TEXT (caller falls through to the probe chain). The
    as-text probe matters: ``codecs.lookup`` also resolves bytes-to-
    bytes transforms (hex, base64, zlib, rot13 …), and a page declaring
    ``<meta charset=hex>`` must not crash the decode with LookupError."""
    name = _LABEL_MAP.get(label.strip().lower(), label.strip().lower())
    try:
        info = codecs.lookup(name)
    except LookupError:
        return None
    if not getattr(info, "_is_text_encoding", True):
        return None  # hex/base64/zlib/rot13 resolve but can't decode text
    return info.name  # canonical ('utf-16', 'cp1252', …) — see caller


_CT_CHARSET_RE = re.compile(r"charset\s*=\s*\"?([A-Za-z0-9._:-]+)",
                            re.IGNORECASE)


def _cp1252_whatwg_errors(err: UnicodeDecodeError) -> tuple:
    """Python's cp1252 leaves five bytes undefined (0x81 0x8D 0x8F 0x90
    0x9D); the WHATWG windows-1252 table maps them to the C1 controls
    (latin-1 identity). This handler closes the gap so the cp1252
    fallback is total — the fuzz suite pins it."""
    frag = err.object[err.start:err.end]
    return frag.decode("latin-1"), err.end


codecs.register_error("whatwg1252", _cp1252_whatwg_errors)


def charset_from_content_type(content_type: str | None) -> str | None:
    """charset= parameter of an HTTP ``Content-Type`` header value →
    canonical codec name (or None). This is the TRANSPORT layer a WARC
    record carries (``sources/warc.py`` exposes it per record); WHATWG
    ranks it above the in-document meta declaration, below a BOM."""
    if not content_type:
        return None
    m = _CT_CHARSET_RE.search(content_type)
    return normalize_label(m.group(1)) if m else None


def _declared_encoding(raw: bytes) -> tuple[str | None, int]:
    """Cheap header-only declaration check: (codec, BOM length), or
    (None, 0) when nothing is declared and the probe chain decides."""
    if raw[:3] == b"\xef\xbb\xbf":
        return "utf-8", 3
    if raw[:2] == b"\xff\xfe":
        return "utf-16-le", 2
    if raw[:2] == b"\xfe\xff":
        return "utf-16-be", 2
    m = _META_RE.search(raw[:1024])
    if m:
        label = (m.group(1) or m.group(2)).decode("ascii", "ignore")
        enc = normalize_label(label)
        if enc is not None:
            # A meta claiming UTF-16/32 on a byte stream whose ASCII we
            # just scanned is lying (WHATWG: treat as UTF-8). The check
            # runs on the canonical codec name normalize_label returns,
            # so Python alias spellings ("utf16", "utf_16_le") can't
            # slip through and silently mojibake the page.
            if enc.startswith(("utf-16", "utf-32")):
                return "utf-8", 0
            return enc, 0
    return None, 0


def sniff_decode(raw: bytes,
                 transport_label: str | None = None) -> tuple[str, str]:
    """Decode page bytes to text: (text, codec used). Total — decode
    errors under a (possibly lying) declared charset degrade per-byte
    rather than raising. Hot-path shape: the dominant case (unlabeled
    valid UTF-8) is ONE strict decode — the probe's success IS the
    decode, so the kernel never pays a second pass per page.

    ``transport_label``: charset label from the transport layer (e.g.
    :func:`charset_from_content_type` over a WARC record's HTTP
    Content-Type). WHATWG order applies: BOM > transport > meta >
    probe; an unrecognized transport label falls through."""
    raw = bytes(raw)
    enc, bom = _declared_encoding(raw)
    if bom == 0 and transport_label is not None:
        t = normalize_label(transport_label)
        if t is not None:
            enc = t
    if enc is None:
        try:
            return raw.decode("utf-8"), "utf-8"
        except UnicodeDecodeError:
            return raw.decode("cp1252", errors="whatwg1252"), "cp1252"
    body = raw[bom:]
    try:
        return body.decode(enc), enc
    except (UnicodeDecodeError, ValueError):
        # declared charset lied about the bytes — salvage rather than
        # fail the record: cp1252 holes take the WHATWG C1 mapping,
        # anything else the standard replacement character
        errors = "whatwg1252" if enc == "cp1252" else "replace"
        return body.decode(enc, errors=errors), enc
