"""Independent TEXT-SPEC v1 / BOILER-SPEC v1 oracle built on stdlib
``html.parser``.

Deliberately a *different* implementation from the engine's regex tokenizer
and flat-DOM walk (html_parser_spark/extract/boilerplate.py): the pipeline's
extracted text must match this byte-for-byte per url (BASELINE.json
input_hint), and its scored lines must match this line for line, which
catches tokenizer and walk bugs the engine couldn't find by agreeing with
itself.

Tag-soup semantics mirrored from HTML5 (and pinned by fuzz in
tests/test_adversarial.py):
- textarea/title are RCDATA: their content is text (markup not parsed),
  entities decoded — stdlib's default CDATA set is only script/style, so
  both are added here and their data entity-decoded to match;
- an unmatched close tag is ignored (no line boundary), EXCEPT '</p>',
  which HTML5 turns into an empty paragraph (a block boundary);
- a matched close pops every element above it; popped blocks flush only
  when not inside an excluded subtree at pop time.

Scored lines keep their own buffer: every block or '<br>' boundary ends a
scored line, excluded subtree or not. A text node's link characters are
its collapsed, stripped length when it sits under an '<a>'; a line is
boilerplate when any non-blank text node in it sits under a
nav/footer/header/aside/form.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

from html_parser_spark.extract.boilerplate import BLOCK_TAGS, EXCLUDED_TAGS
from html_parser_spark.htmlkit.tokenizer import VOID_ELEMENTS

_WS_RE = re.compile(r"\s+")

_RCDATA = ("textarea", "title")
_BOILER = ("nav", "footer", "header", "aside", "form")


def _collapse(s: str) -> str:
    return _WS_RE.sub(" ", s).strip()


class _TextOracle(HTMLParser):
    CDATA_CONTENT_ELEMENTS = ("script", "style") + _RCDATA

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.lines: list[str] = []
        self.scored: list[tuple[str, int, int, bool]] = []
        self.buf: list[str] = []      # current text line
        self.sbuf: list[str] = []     # current scored line
        self.run: list[str] = []      # current text node (data between markup)
        self.link = 0
        self.boiler = False
        self.excl = 0
        self.stack: list[str] = []

    def _end_run(self) -> None:
        # A text node ends at the next markup event, whatever its kind.
        if self.run:
            piece = _collapse("".join(self.run))
            del self.run[:]
            if "a" in self.stack:
                self.link += len(piece)
            if piece and any(t in _BOILER for t in self.stack):
                self.boiler = True

    def _flush(self, hard: bool = True) -> None:
        line = _collapse("".join(self.sbuf))
        del self.sbuf[:]
        if line:
            self.scored.append((line, len(line), min(self.link, len(line)),
                                self.boiler))
        self.link = 0
        self.boiler = False
        if hard:
            line = _collapse("".join(self.buf))
            del self.buf[:]
            if line:
                self.lines.append(line)

    def handle_starttag(self, tag, attrs):
        self._end_run()
        if tag == "br":
            self._flush(not self.excl)
            return
        if tag in EXCLUDED_TAGS:
            self.excl += 1
        elif tag in BLOCK_TAGS:
            self._flush(not self.excl)
        if tag not in VOID_ELEMENTS:
            self.stack.append(tag)

    def handle_startendtag(self, tag, attrs):
        self._end_run()
        if tag == "br" or tag in BLOCK_TAGS:
            self._flush(not self.excl)

    def handle_endtag(self, tag):
        self._end_run()
        # Pop to the matching open (engine tokenizer semantics); an
        # unmatched close is ignored except the HTML5 '</p>' empty-
        # paragraph rule.
        for k in range(len(self.stack) - 1, -1, -1):
            if self.stack[k] == tag:
                popped = self.stack[k:]
                del self.stack[k:]
                for t in reversed(popped):   # top-down, like the engine
                    if t in EXCLUDED_TAGS:
                        if self.excl:
                            self.excl -= 1
                    elif t in BLOCK_TAGS:
                        self._flush(not self.excl)
                return
        if tag == "p":
            self._flush(not self.excl)       # empty paragraph boundary

    def handle_comment(self, data):
        self._end_run()

    handle_decl = handle_pi = unknown_decl = handle_comment

    def handle_data(self, data):
        if not self.excl:
            if self.cdata_elem in _RCDATA:
                data = unescape(data)        # RCDATA decodes entities
            self.buf.append(data)
            self.sbuf.append(data)
            self.run.append(data)


def oracle_text_and_scored(html: str) -> tuple[str, list[tuple[str, int, int, bool]]]:
    """(TEXT-SPEC text, BOILER-SPEC scored lines) of ``html``."""
    p = _TextOracle()
    try:
        p.feed(html)
        p.close()
    except Exception:
        pass
    p._end_run()
    p._flush()
    return "\n".join(p.lines), p.scored


def oracle_text(html: str) -> str:
    return oracle_text_and_scored(html)[0]
