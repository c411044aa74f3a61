"""From-scratch streaming HTML tokenizer + flat DOM builder.

This replaces the reference's ``BeautifulSoup(html, "html.parser")`` full-tree
parse (see /root/reference/1.samsclub/parse_samsclub.py:207,
costco/parse_costco.py:37, bestbuy/parse_bestbuy_detai.py:17-18) with a
single-pass tokenizer whose output is a **flattened DOM node array** —
parallel arrays (tag id, parent, depth, text, attrs) instead of per-node
Python objects — so downstream selector matching and boilerplate scoring walk
plain index lists rather than a tree of objects.

Design notes (scale):
  * The hot loop is one compiled master regex (``_TOKEN_RE``) driven by
    ``finditer`` — the per-character work happens in CPython's C regex
    engine, not in Python bytecode.
  * Raw-text elements (script/style/textarea/title) are skipped to their
    closing tag with a single ``str.find`` — no tokenization of JS payloads,
    which on real retail pages is >80% of the bytes.
  * Entity decoding (``html.unescape``) is applied lazily: only to text that
    actually contains ``&`` and only for text nodes / attribute values.
"""

from __future__ import annotations

import re
from html import unescape
from typing import Optional

__all__ = ["FlatDOM", "tokenize", "TEXT", "COMMENT"]

# Sentinel tag names for non-element nodes.
TEXT = "#text"
COMMENT = "#comment"

# Void elements never take children (HTML5 spec list).
VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Raw-text elements: content is not markup; runs to the matching close tag.
RAWTEXT_ELEMENTS = frozenset(("script", "style", "textarea", "title"))

# Block-ish elements used for implied-close of <p> (subset of HTML5 spec).
_P_CLOSERS = frozenset(
    "address article aside blockquote details div dl fieldset figcaption figure "
    "footer form h1 h2 h3 h4 h5 h6 header hr main menu nav ol p pre section "
    "table ul".split()
)

# Implied sibling closes: opening `key` closes an open `value` element.
_SIBLING_CLOSERS = {
    "li": frozenset(("li",)),
    "tr": frozenset(("tr", "td", "th")),
    "td": frozenset(("td", "th")),
    "th": frozenset(("td", "th")),
    "option": frozenset(("option",)),
    "dd": frozenset(("dd", "dt")),
    "dt": frozenset(("dd", "dt")),
    "thead": frozenset(("tr", "td", "th")),
    "tbody": frozenset(("tr", "td", "th", "thead")),
    "tfoot": frozenset(("tr", "td", "th", "tbody")),
}

# Union of tags that can trigger ANY implied close — checked inline in the
# hot loop so the implied-close logic only runs when it could matter.
_IMPLIED_TRIGGERS = _P_CLOSERS | frozenset(_SIBLING_CLOSERS)

_TOKEN_RE = re.compile(
    r"""
      <!--(?P<comment>.*?)(?:-->|\Z)
    | <!\[CDATA\[(?P<cdata>.*?)(?:\]\]>|\Z)
    | <!(?P<decl>[^>]*)>
    | <\?(?P<pi>[^>]*)>?
    | </\s*(?P<close>[a-zA-Z][a-zA-Z0-9:_-]*)\s*[^>]*>
    | <(?P<open>[a-zA-Z][a-zA-Z0-9:_-]*)
        (?P<attrs>(?:"[^"]*"|'[^']*'|[^>"'])*)>
    """,
    re.DOTALL | re.VERBOSE,
)

_ATTR_RE = re.compile(
    r"""([a-zA-Z_:@][-a-zA-Z0-9_:.@]*)
        (?:\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]*)))?""",
    re.VERBOSE,
)



class FlatDOM:
    """Flattened DOM: parallel arrays over nodes in document order.

    Node 0 is a synthetic root. Element nodes carry ``attrs`` dicts; text
    and comment nodes carry ``texts`` payloads.

    Layout: the subtree of node i is the contiguous span ``i+1 .. end(i)-1``
    and ``ids_of(tag)`` is the one tag index; consumers read these two.
    """

    __slots__ = ("tags", "parent", "depth", "attrs", "texts", "_tag_index")

    def __init__(self) -> None:
        self.tags: list[str] = ["#root"]
        self.parent: list[int] = [-1]
        self.depth: list[int] = [0]
        self.attrs: list[Optional[dict]] = [None]
        self.texts: list[Optional[str]] = [None]
        self._tag_index: Optional[dict] = None

    # -- structure ---------------------------------------------------------
    def __len__(self) -> int:
        return len(self.tags)

    def end(self, i: int) -> int:
        """One past the last node of i's subtree: the first node after i
        whose depth is not below i's."""
        depth = self.depth
        d, n, j = depth[i], len(depth), i + 1
        while j < n and depth[j] > d:
            j += 1
        return j

    def ids_of(self, tag: str):
        """Element ids carrying ``tag``, doc order — a per-dom index built
        in one pass on first use, so every later tag lookup is
        O(candidates) instead of O(nodes)."""
        ti = self._tag_index
        if ti is None:
            ti = {}
            for i, t in enumerate(self.tags):
                if t[0] != "#":
                    lst = ti.get(t)
                    if lst is None:
                        ti[t] = [i]
                    else:
                        lst.append(i)
            self._tag_index = ti
        return ti.get(tag, ())

    def children(self, i: int) -> list[int]:
        """Direct children of i, doc order: the nodes of i's span one
        level below it."""
        depth = self.depth
        d = depth[i] + 1
        return [j for j in range(i + 1, self.end(i)) if depth[j] == d]

    # -- convenience accessors (used by rules, not hot loops) --------------
    def attrs_of(self, i: int) -> Optional[dict]:
        """Attr dict for node i, parsing the raw attribute substring on
        first access (lazy: most elements' attrs are never read, so the
        tokenizer stores the raw string and we memoize the parse here)."""
        a = self.attrs[i]
        if type(a) is str:
            a = _parse_attrs(a)
            self.attrs[i] = a
        return a

    def attr(self, i: int, name: str) -> Optional[str]:
        a = self.attrs_of(i)
        return a.get(name) if a else None

    def node_text(self, i: int) -> str:
        """Concatenated descendant text of node i (whitespace as-is); a
        text node's own payload."""
        if self.tags[i] == TEXT:
            return self.texts[i] or ""
        return "".join(self.descendant_texts(i))

    def child_texts(self, i: int) -> list[str]:
        """Direct text-node children of i — lxml's ``node/text()`` list
        (each entry one contiguous text run, whitespace preserved)."""
        return [self.texts[k] or "" for k in self.children(i)
                if self.tags[k] == TEXT]

    def descendant_texts(self, i: int) -> list[str]:
        """All text nodes in the subtree of i, document order — lxml's
        ``node//text()`` list."""
        tags, texts = self.tags, self.texts
        return [texts[n] or "" for n in range(i + 1, self.end(i))
                if tags[n] == TEXT]

    def iter_descendants(self, i: int) -> range:
        """Node ids strictly inside the subtree rooted at i, in doc order."""
        return range(i + 1, self.end(i))


def _parse_attrs(raw: str) -> dict:
    if not raw or raw.isspace():
        return {}
    out: dict = {}
    for m in _ATTR_RE.finditer(raw):
        name = m.group(1)
        if not name.islower():
            name = name.lower()
        if name in out:
            continue  # first occurrence wins (browser behavior)
        if m.group(2) is None:
            out[name] = ""
        else:
            # Exactly one of groups 3/4/5 matched; "" collapses harmlessly.
            val = m.group(3) or m.group(4) or m.group(5) or ""
            out[name] = unescape(val) if "&" in val else val
    return out


def tokenize(html: str) -> FlatDOM:
    """Single-pass tokenize + tree build. Never raises on malformed input.

    Hot-loop notes: the five parallel-array appends are inlined at each
    node-emission site onto locally-bound ``list.append`` (a helper call per
    node costs ~15% of tokenize); the open-element stack carries
    (node_id, tag, depth) so no array lookups are needed to place children;
    tag names skip ``.lower()`` when already lowercase (the overwhelmingly
    common case in real markup).
    """
    dom = FlatDOM()
    tags_app = dom.tags.append
    parent_app = dom.parent.append
    depth_app = dom.depth.append
    attrs_app = dom.attrs.append
    texts_app = dom.texts.append
    unesc = unescape

    # Open-element stack of (node_id, tag, depth).
    stack = [(0, "#root", 0)]
    top = stack[-1]
    pos = 0
    n = len(html)
    find = _TOKEN_RE.search
    node_count = 1  # root

    while pos < n:
        m = find(html, pos)
        if m is None:
            raw = html[pos:]
            tags_app(TEXT)
            parent_app(top[0])
            depth_app(top[2] + 1)
            attrs_app(None)
            texts_app(unesc(raw) if "&" in raw else raw)
            node_count += 1
            break
        start, end = m.span()
        if start > pos:
            raw = html[pos:start]
            tags_app(TEXT)
            parent_app(top[0])
            depth_app(top[2] + 1)
            attrs_app(None)
            texts_app(unesc(raw) if "&" in raw else raw)
            node_count += 1
        pos = end

        # Branch on lastindex — one C call replaces up to five named
        # m.group() probes per token (groups: 1 comment, 2 cdata, 3 decl,
        # 4 pi, 5 close; 7 = attrs, which always participates for an open
        # tag, so lastindex==7 <=> open). A trailing '/' lands in attrs and
        # closes nothing: '<div/>' opens a div, as HTML5 has it for
        # non-void elements.
        li = m.lastindex
        if li == 7:
            open_tag, raw_attrs = m.group(6, 7)
            tag = open_tag if open_tag.islower() else open_tag.lower()
            if tag in _IMPLIED_TRIGGERS and len(stack) > 1:
                # Implied closes (hot: fires on every p/div/li/…).
                closers = _SIBLING_CLOSERS.get(tag)
                if closers:
                    while len(stack) > 1 and stack[-1][1] in closers:
                        stack.pop()
                elif stack[-1][1] == "p":  # tag is in _P_CLOSERS
                    stack.pop()
                top = stack[-1]
            pdepth = top[2]
            tags_app(tag)
            parent_app(top[0])
            depth_app(pdepth + 1)
            attrs_app(raw_attrs if raw_attrs else {})  # lazy: see attrs_of
            texts_app(None)
            node = node_count
            node_count += 1
            if tag not in VOID_ELEMENTS:
                if tag in RAWTEXT_ELEMENTS:
                    # Raw text: skip to the matching close tag with str.find.
                    idx = _find_end_tag(html, tag, pos)
                    if idx == -1:
                        raw = html[pos:]
                        pos = n
                    else:
                        raw = html[pos:idx]
                        gt = html.find(">", idx)
                        pos = n if gt == -1 else gt + 1
                    if raw:
                        tags_app(TEXT)
                        parent_app(node)
                        depth_app(pdepth + 2)
                        attrs_app(None)
                        if tag in ("script", "style"):
                            texts_app(raw)
                        else:
                            texts_app(unesc(raw) if "&" in raw else raw)
                        node_count += 1
                else:
                    top = (node, tag, pdepth + 1)
                    stack.append(top)
            continue

        if li == 5:
            close_tag = m.group(5)
            tag = close_tag if close_tag.islower() else close_tag.lower()
            # Pop to the matching open tag; ignore unmatched closes —
            # except '</p>', which HTML5 turns into an empty paragraph
            # (a block boundary the text spec must see; stray '</p>' is
            # ubiquitous in real tag soup).
            for k in range(len(stack) - 1, 0, -1):
                if stack[k][1] == tag:
                    del stack[k:]
                    top = stack[-1]
                    break
            else:
                if tag == "p":
                    tags_app("p")
                    parent_app(top[0])
                    depth_app(top[2] + 1)
                    attrs_app({})
                    texts_app(None)
                    node_count += 1
            continue

        if li == 1:
            tags_app(COMMENT)
            parent_app(top[0])
            depth_app(top[2] + 1)
            attrs_app(None)
            texts_app(m.group(1))
            node_count += 1
            continue

        # CDATA sections, doctype, processing instructions: dropped
        # (HTML5 treats CDATA outside foreign content as bogus comment).

    return dom


# What may follow a raw-text end tag's name (HTML5 "appropriate end tag"):
# whitespace, "/" or ">"; "</scripts>" does not end a script.
_END_TAG_DELIMS = frozenset("\t\n\f\r />")


def _find_end_tag(html: str, tag: str, start: int) -> int:
    """Index of the first ``</tag`` at or after ``start`` whose name is
    followed by whitespace, ``/`` or ``>``, the tag name compared
    ASCII-case-insensitively (``</SCRIPT>``, ``</Style>``); -1 if none.
    ``tag`` is lowercase. Most raw-text bodies hold no other ``</``,
    so this is usually one ``str.find``."""
    k = len(tag)
    idx = html.find("</", start)
    while idx != -1:
        name = html[idx + 2:idx + 2 + k]
        if ((name == tag or (name.isascii() and name.lower() == tag))
                and html[idx + 2 + k:idx + 3 + k] in _END_TAG_DELIMS):
            return idx
        idx = html.find("</", idx + 2)
    return -1
