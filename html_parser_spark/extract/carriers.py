"""Carrier dispatch: locate + deserialize the embedded JSON state of a page.

"Most fields come from JSON blobs inside <script> tags, not from visible
DOM" (SURVEY.md §1.1). Each carrier below reproduces one extraction shape
from the reference (SURVEY.md §2.4 J1-J7):

  next_data          <script id="__NEXT_DATA__">          walmart/parse_walmart.py:36-37,
                                                          walmart/parse_walmart-2.py:75-76,
                                                          bedbathbeyond/parse_bedbathbeyond.py:42-43
  redux_state        <script id="tb-djs-wml-redux-state"> 1.samsclub/parse_samsclub.py:214-217
  ld_json            <script type="application/ld+json">  walmart/parse_walmart-2.py:19-20
  discover_json      <script type="application/discover+json">
                                                          prev/parse_tesco_html.py:29-30
  webpack_entry      window["WEBPACK_ENTRY_DATA"] = {..}; prev/parse_wayfair.py:44-48
  inline_js          regex-carved JS objects/scalars      costco/parse_costco.py:47-64,288-300;
                                                          overstock/parse_overstock.py:79-110
  pixels             <script id="web-pixels-manager-setup"> overstock-family pixel payload
  escaped_component  double-escaped initializeComponent   bestbuy/parse_bestbuy_detai.py:22-28,93-106

All functions operate on the already-collected list of (script_text, attrs)
pairs for one document — the per-batch flow extracts script nodes once from
the FlatDOM and then runs only string ops (regex carving is C-speed).
"""

from __future__ import annotations

import json
import re
from typing import Any, Optional

from ..htmlkit.tokenizer import FlatDOM

__all__ = [
    "collect_scripts", "script_by_id", "script_by_type", "script_containing",
    "json_script_by_id", "json_scripts_by_type", "webpack_entry_data",
    "regex_json", "regex_scalar", "regex_all", "unescape_embedded_json",
]


def collect_scripts(dom: FlatDOM) -> list[tuple[str, dict]]:
    """All <script> (text, attrs) in document order — gathered once per doc
    from the dom's tag index."""
    return [(dom.node_text(i), dom.attrs_of(i) or {})
            for i in dom.ids_of("script")]


def script_by_id(scripts: list, script_id: str) -> Optional[str]:
    """First script with id=...; None-safe like ``select_one`` (J1)."""
    for text, attrs in scripts:
        if attrs.get("id") == script_id:
            return text
    return None


def script_by_type(scripts: list, script_type: str) -> list[str]:
    return [t for t, a in scripts if a.get("type") == script_type]


def script_containing(scripts: list, marker: str) -> Optional[str]:
    """First script whose text contains marker — the reference's loop+break
    scan (Q3, costco/parse_costco.py:47-64: ``if "priceMax" in script``)."""
    for text, _attrs in scripts:
        if marker in text:
            return text
    return None


def _loads(blob: Optional[str]) -> Any:
    if blob is None:
        return None
    try:
        return json.loads(blob)
    except (ValueError, TypeError):
        return None


def json_script_by_id(scripts: list, script_id: str) -> Any:
    return _loads(script_by_id(scripts, script_id))


def json_scripts_by_type(scripts: list, script_type: str) -> list:
    out = []
    for t in script_by_type(scripts, script_type):
        v = _loads(t)
        if v is not None:
            out.append(v)
    return out


_WEBPACK_RE = re.compile(
    r"""window\[["']WEBPACK_ENTRY_DATA["']\]\s*=\s*""", re.DOTALL
)


def carve_balanced(text: str, start: int) -> Optional[str]:
    """The balanced ``{...}`` object beginning at ``text[start]``,
    respecting string literals and escapes — the robust form of the
    reference's find('{')/rfind('}') slicing (used wherever JSON is
    embedded mid-JavaScript and followed by more code)."""
    if start < 0 or start >= len(text) or text[start] != "{":
        return None
    depth = 0
    in_str = False
    esc = False
    for i in range(start, len(text)):
        c = text[i]
        if in_str:
            if esc:
                esc = False
            elif c == "\\":
                esc = True
            elif c == '"':
                in_str = False
        elif c == '"':
            in_str = True
        elif c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return text[start:i + 1]
    return None


def webpack_entry_data(scripts: list) -> Any:
    """``window["WEBPACK_ENTRY_DATA"] = {...};`` assignment slice (J5).

    The reference picks the script positionally (``select("script")[-4]``,
    prev/parse_wayfair.py:44-48) then splits on the marker; we re-key on
    the marker itself (positional index is fragile — SURVEY.md §2.4 J5).
    Real pages carry SEVERAL assignments — guarded re-assignments and a
    spread-merge form ``={...window[...], ...{json}}`` — so every
    occurrence is brace-carved and the largest JSON-parsable blob wins
    (the full entry payload; the spread deltas are strict subsets)."""
    best = None
    best_len = -1
    for text, _attrs in scripts:
        if "WEBPACK_ENTRY_DATA" not in text:
            continue  # str.find prefilter: the regex scan is ~10× costlier
        for m in _WEBPACK_RE.finditer(text):
            blob = carve_balanced(text, m.end())
            if blob is None or len(blob) <= best_len:
                continue
            v = _loads(blob)
            if v is not None:
                best, best_len = v, len(blob)
    return best


def regex_json(text: Optional[str], pattern: str,
               normalize_quotes: bool = False) -> Any:
    """Regex-carve a JSON object/array out of inline JS (J2).

    ``normalize_quotes`` reproduces costco's ``'`` → ``"`` fix-up before
    ``json.loads`` (costco/parse_costco.py:298).
    """
    if text is None:
        return None
    m = re.search(pattern, text, re.DOTALL)
    if not m:
        return None
    blob = m.group(1)
    if normalize_quotes:
        blob = blob.replace("'", '"')
    return _loads(blob)


def regex_scalar(text: Optional[str], pattern: str) -> Optional[str]:
    """Scalar regex pick from inline JS (J3), e.g. ``priceMax\\s*:\\s*'(.*?)',``."""
    if text is None:
        return None
    m = re.search(pattern, text, re.DOTALL)
    return m.group(1) if m else None


def regex_all(text: Optional[str], pattern: str) -> list[str]:
    """``findall`` variant of J3 — e.g. every ``cdn_url: '…',`` in the
    itemDetailsList script (costco/parse_costco.py:125-132); Spark-native
    twin is ``regexp_extract_all``."""
    if text is None:
        return []
    return re.findall(pattern, text, re.DOTALL)


def unescape_embedded_json(escaped: str) -> Any:
    """Double-escaped JSON decode (J4, bestbuy/parse_bestbuy_detai.py:24-28):
    first ``json.loads`` of the string literal, then of the payload."""
    try:
        inner = json.loads(f'"{escaped}"')
    except ValueError:
        inner = escaped.replace('\\"', '"').replace("\\\\", "\\")
    return _loads(inner)
