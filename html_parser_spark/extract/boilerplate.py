"""Plain text and main content of a page, from one walk over the flat DOM.

The reference parsers strip tags with ``soup.get_text()``
(1.samsclub/parse_samsclub.py:45-50,
bedbathbeyond/parse_bedbathbeyond.py:87-89). That function's whitespace
behavior is bs4-defined; since goldens here are produced by our own oracle
(SURVEY.md §5.2), we pin an explicit spec — **TEXT-SPEC v1** — implemented
here over flat arrays (engine) and in ``tests/oracle.py`` over stdlib
``html.parser`` events (independent check).

TEXT-SPEC v1
============
1. Subtrees under ``script style template noscript iframe svg head`` and
   comment nodes contribute no text.
2. Text nodes accumulate into the current line buffer (entity-decoded).
3. Opening OR closing a *block* element (``BLOCK_TAGS``) or ``<br>``
   outside an excluded subtree terminates the current line: the buffer is
   concatenated, runs of whitespace collapsed to a single space, stripped;
   non-empty results are emitted as one line.
4. Output = lines joined with ``"\\n"``.

Main content for pages with no site rule (north_star) is
Boilerpipe/trafilatura-style scoring (Kohlschütter et al., WSDM 2010
"Boilerplate Detection using Shallow Text Features" — public method):
segment the page into text *lines*, score each line by text length and
link-character density, and keep content-like lines.

BOILER-SPEC v1 (deterministic, pinned for goldens):
  * Lines are the TEXT-SPEC lines, except that a block or ``<br>`` inside
    an excluded subtree also ends a line.
  * Lines inside nav/footer/header/aside/form subtrees are boilerplate.
  * A line is content iff link_density < 0.34 AND text length ≥ 25 chars,
    OR (length ≥ 8, zero link chars, and adjacent to a content line —
    one-pass "continuation" smoothing, applied forward then backward).
  * Output = content lines joined with "\\n".
"""

from __future__ import annotations

import re

from ..htmlkit.tokenizer import COMMENT, TEXT, FlatDOM

__all__ = ["text_and_scored", "select_content", "BLOCK_TAGS",
           "EXCLUDED_TAGS"]

EXCLUDED_TAGS = frozenset(
    "script style template noscript iframe svg head".split()
)

BLOCK_TAGS = frozenset(
    """address article aside blockquote body caption dd details div dl dt
    fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header hr html
    li main menu nav ol optgroup option p pre section select table tbody td
    tfoot th thead tr ul""".split()
)

_BOILER_CONTAINERS = frozenset("nav footer header aside form".split())
_WS_RE = re.compile(r"\s+")

MIN_CONTENT_CHARS = 25
MAX_LINK_DENSITY = 0.34
MIN_CONT_CHARS = 8


def text_and_scored(dom: FlatDOM) -> tuple[str, list[tuple[str, int, int, bool]]]:
    """One walk producing the TEXT-SPEC v1 text and the BOILER-SPEC v1
    scored lines ``(text, n_chars, n_link_chars, in_boiler_container)``.

    The two line splits differ only at a block or ``<br>`` inside an
    excluded subtree (no text there, and no tag is both excluded and a
    block): that *soft* boundary ends the scored line ``buf[cut:]`` and
    moves ``cut``; every other boundary is *hard* and ends both lines, the
    text line being all of ``buf``. Ancestry (under <a> / boiler container
    / excluded) is tracked as counters on the open-element stack."""
    tags = dom.tags
    depth = dom.depth
    texts = dom.texts

    t_lines: list[str] = []
    s_lines: list[tuple[str, int, int, bool]] = []
    buf: list[str] = []
    cut = 0
    link = 0
    boiler = False
    stack: list[tuple[int, bool, bool, int, int]] = []
    in_a = in_boiler = excluded = 0
    ws_sub = _WS_RE.sub

    def collapse(line: str) -> str:
        # The C substring scans are ~free next to the regex sub, and most
        # lines carry single spaces only.
        if (not line.isascii() or "  " in line or "\n" in line
                or "\t" in line or "\r" in line or "\f" in line
                or "\v" in line):
            line = ws_sub(" ", line)
        return line.strip()

    def flush(hard: bool) -> None:
        nonlocal cut, link, boiler
        line = ""
        if len(buf) > cut:
            line = collapse("".join(buf[cut:] if cut else buf))
            if line:
                s_lines.append((line, len(line), min(link, len(line)), boiler))
            link = 0
            boiler = False
        if not hard:
            cut = len(buf)
            return
        if cut:
            line = collapse("".join(buf))
        if line:
            t_lines.append(line)
        del buf[:]
        cut = 0

    for i in range(1, len(tags)):
        d = depth[i]
        while stack and stack[-1][0] >= d:
            _, was_block, was_excl, d_a, d_boiler = stack.pop()
            in_a -= d_a
            in_boiler -= d_boiler
            if was_excl:
                excluded -= 1
            elif was_block and buf:
                flush(not excluded)
        t = tags[i]
        if t == TEXT:
            if not excluded:
                piece = texts[i] or ""
                buf.append(piece)
                if in_a or in_boiler:
                    stripped = ws_sub(" ", piece).strip()
                    if in_a:
                        link += len(stripped)
                    if in_boiler and stripped:
                        boiler = True
        elif t == COMMENT:
            continue
        elif t == "br":
            buf and flush(not excluded)
        else:
            is_excl = t in EXCLUDED_TAGS
            is_block = t in BLOCK_TAGS
            if is_block and buf:
                flush(not excluded)
            d_a = 1 if t == "a" else 0
            d_boiler = 1 if t in _BOILER_CONTAINERS else 0
            in_a += d_a
            in_boiler += d_boiler
            if is_excl:
                excluded += 1
            stack.append((d, is_block, is_excl, d_a, d_boiler))
    while stack:
        _, was_block, was_excl, _, _ = stack.pop()
        if was_excl:
            excluded -= 1
        elif was_block and buf:
            flush(not excluded)
    buf and flush(True)
    return "\n".join(t_lines), s_lines


def select_content(lines: list[tuple[str, int, int, bool]]) -> str:
    """BOILER-SPEC v1 content selection over scored lines."""
    n = len(lines)
    keep = [not boiler and chars >= MIN_CONTENT_CHARS
            and link_chars / max(chars, 1) < MAX_LINK_DENSITY
            for _, chars, link_chars, boiler in lines]
    # Continuation smoothing: a short linkless line next to content is
    # content; a forward then a backward pass carry it along runs.
    cont = [not boiler and not link_chars and chars >= MIN_CONT_CHARS
            for _, chars, link_chars, boiler in lines]
    for i in range(1, n):
        if cont[i] and keep[i - 1]:
            keep[i] = True
    for i in range(n - 2, -1, -1):
        if cont[i] and keep[i + 1]:
            keep[i] = True
    return "\n".join(lines[i][0] for i in range(n) if keep[i])
