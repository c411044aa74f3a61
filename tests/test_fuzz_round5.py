"""Hypothesis fuzz for the round-5 surfaces' totality contracts: the
charset sniffer never raises on any byte string, the WARC / media-
metadata parsers fail only with their typed errors (never hang, never
leak a foreign exception type), and the link extractor never raises on
arbitrary text."""

from __future__ import annotations

import signal
from struct import error as struct_error

import pytest

from hypothesis import given, settings, strategies as st

from html_parser_spark.functions import mediaops
from html_parser_spark.htmlkit.charset import sniff_decode
from html_parser_spark.extract.links import links_of
from html_parser_spark.sources.warc import iter_warc_records


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=2048))
def test_sniff_decode_total_on_arbitrary_bytes(raw):
    text, enc = sniff_decode(raw)
    assert isinstance(text, str) and isinstance(enc, str)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=2048),
       st.sampled_from(["utf-8", "ISO-8859-1", "shift_jis", "utf16",
                        "hex", "bogus", None]))
def test_sniff_decode_total_with_transport_label(raw, label):
    text, enc = sniff_decode(raw, transport_label=label)
    assert isinstance(text, str)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=2048))
def test_warc_parse_typed_errors_only(raw):
    try:
        list(iter_warc_records(raw))
    except ValueError:
        pass  # the one allowed failure type (kernel degrades it)


def test_warc_negative_content_length_raises_not_hangs():
    """A negative Content-Length once moved the parse offset backwards
    and looped forever; it must raise ValueError within the timeout."""
    def hung(signum, frame):
        raise TimeoutError("iter_warc_records hung")

    old = signal.signal(signal.SIGALRM, hung)
    signal.setitimer(signal.ITIMER_REAL, 5.0)
    try:
        with pytest.raises(ValueError, match="Content-Length"):
            list(iter_warc_records(
                b"WARC/1.0\r\nContent-Length: -33\r\n\r\n"))
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=2048))
def test_media_metadata_typed_errors_only(raw):
    try:
        mediaops.media_metadata(raw)
    except (ValueError, NotImplementedError, IndexError, KeyError,
            EOFError, OSError, struct_error):
        pass


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096))
def test_media_metadata_never_hangs_on_mutated_containers(raw):
    """Graft random bytes onto real container prefixes — the historical
    hang was a corrupt MP4 largesize box; any mutation must terminate
    with a typed error or a result."""
    for prefix in (mediaops.encode_mp4(32, 32, 500)[:24],
                   mediaops.encode_mp3(1, 128)[:2],
                   b"RIFF"):
        try:
            mediaops.media_metadata(prefix + raw)
        except Exception:
            pass  # termination is the property; type checked above


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=2048))
def test_links_of_never_raises(text):
    for ln in links_of(text):
        assert isinstance(ln["href"], str)
        assert isinstance(ln["nofollow"], bool)
