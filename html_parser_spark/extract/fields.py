"""Shared scalar / fragment transforms (SURVEY.md §2.5, §2.7).

Each helper names the reference operator it re-expresses. These run inside
the extract kernel, called from ``rules/profiles.py`` on one page's values.
"""

from __future__ import annotations

import base64
import re
from typing import Any, Optional

from ..htmlkit.tokenizer import FlatDOM
from ..htmlkit import selectors as S

__all__ = [
    "parse_money", "parse_money_triple", "parse_int", "strip_query",
    "prefix_url", "collapse_ws", "decode_b64",
    "hires_image", "parse_ul",
    "parse_plain_table", "parse_sectioned_table", "parse_strong_props",
    "parse_html_as_data", "normalize_specs", "join_variant_criteria",
    "sectionize_lines", "sectionize_children", "weighted_rating",
    "dedup_preserve_order", "camel_to_snake", "snake_case_keys",
    "restructure_nutrition", "order_keys", "NUTRITION_KEYS",
]

# Comma-grouped form needs ≥1 ",ddd" group, else fall back to a plain number
# (otherwise "1088.59" would match as "108").
_MONEY_RE = re.compile(r"[-+]?\d{1,3}(?:,\d{3})+(?:\.\d+)?|[-+]?\d+(?:\.\d+)?")


def parse_money(s: Optional[str]) -> Optional[float]:
    """T5: ``float(s.replace('$','').replace(',',''))`` generalized
    (bestbuy/parse_bestbuy_detai.py:51; prev/parse_wayfair.py:101-106)."""
    if s is None:
        return None
    m = _MONEY_RE.search(s)
    if not m:
        return None
    try:
        return float(m.group(0).replace(",", ""))
    except ValueError:
        return None


_SYMBOL_CCY = {"$": "USD", "€": "EUR", "£": "GBP", "¥": "JPY"}


def parse_money_triple(s: Optional[str]) -> tuple:
    """T5 full form: the reference's external ``parse_money`` util returns
    (amount, currency ISO, symbol) (walmart/parse_walmart-2.py:8,45 —
    module ``utils.parsers`` is absent from the repo; re-specified per
    SURVEY.md §2.5 T5)."""
    if s is None:
        return (None, None, None)
    amount = parse_money(s)
    symbol = next((c for c in s if c in _SYMBOL_CCY), None)
    return (amount, _SYMBOL_CCY.get(symbol), symbol)


def parse_int(s: Optional[str]) -> Optional[int]:
    """T6: strip ``( ) ,`` → int (bestbuy/parse_bestbuy_detai.py:67)."""
    if s is None:
        return None
    m = re.search(r"\d[\d,]*", s)
    if not m:
        return None
    try:
        return int(m.group(0).replace(",", ""))
    except ValueError:
        return None


def strip_query(u: Optional[str]) -> Optional[str]:
    """T9: ``split('?')[0]`` (costco/parse_costco.py:122,
    walmart/parse_walmart.py:73-74); also trims ``#fragment``."""
    if u is None:
        return None
    return u.split("?", 1)[0].split("#", 1)[0]


def prefix_url(base: str, path: Optional[str]) -> Optional[str]:
    """T10: ``f'https://site{path}'`` / ``'https:'+src``
    (walmart/parse_walmart.py:90; overstock/parse_overstock.py:177)."""
    if path is None:
        return None
    if path.startswith(("http://", "https://")):
        return path
    if path.startswith("//"):
        return "https:" + path
    return base.rstrip("/") + "/" + path.lstrip("/")


_WS2 = re.compile(r"\s{2,}")


def collapse_ws(s: Optional[str]) -> Optional[str]:
    """T12 (prev/parse_wayfair.py:69)."""
    return _WS2.sub(" ", s).strip() if s is not None else None


_TIMG_RE = re.compile(r"timg-h\d+(?:-w\d+)?")
_RESIZE_RE = re.compile(r"resize-h\d+(?:-w\d+)?")
_COMPR_RE = re.compile(r"compr-r\d+")


def hires_image(u: Optional[str]) -> Optional[str]:
    """T11 hi-res rewrite (prev/parse_wayfair.py:85-90,203-204): timg and
    existing resize segments → resize-h800-w800, compr → compr-r85."""
    if u is None:
        return None
    u = _TIMG_RE.sub("resize-h800-w800", u)
    u = _RESIZE_RE.sub("resize-h800-w800", u)
    return _COMPR_RE.sub("compr-r85", u)


def decode_b64(s: Optional[str]) -> Optional[str]:
    """T8 obfuscated price decode (costco/parse_costco.py:313-319)."""
    if s is None:
        return None
    try:
        return base64.b64decode(s, validate=True).decode("utf-8")
    except Exception:
        return None


# -- fragment parsers (HTML values inside JSON fields, P3/X3-X6) -----------

def _table_rows(dom: FlatDOM, table: int):
    for i in dom.iter_descendants(table):
        if dom.tags[i] == "tr":
            yield i


def parse_plain_table(dom: FlatDOM, table: int) -> dict:
    """X4 dict form: k/v rows → entries; empty-key rows → ``Items[]``
    (1.samsclub/parse_samsclub.py:128-145)."""
    data: dict = {}
    for tr in _table_rows(dom, table):
        tds = [c for c in dom.children(tr) if dom.tags[c] == "td"]
        if len(tds) < 2:
            continue
        key = dom.node_text(tds[0]).strip()
        val = dom.node_text(tds[1]).strip()
        if key and val:
            data[key] = val
        elif not key and val:
            data.setdefault("Items", []).append(val)
    return data


def parse_sectioned_table(dom: FlatDOM, table: int) -> dict:
    """X3 sectioned table: ``<th>`` rows set the current section; empty-key
    data rows append to the section's list with scalar→list promotion
    (1.samsclub/parse_samsclub.py:83-126)."""
    data: dict = {}
    current: Optional[str] = None
    for tr in _table_rows(dom, table):
        ths = [c for c in dom.children(tr) if dom.tags[c] == "th"]
        if ths:
            sect = dom.node_text(ths[0]).strip()
            if sect:
                current = sect
            continue
        tds = [c for c in dom.children(tr) if dom.tags[c] == "td"]
        if len(tds) < 2:
            continue
        key = dom.node_text(tds[0]).strip()
        val = dom.node_text(tds[1]).strip()
        if key and val:
            data[key] = val
        elif not key and val and current:
            if current not in data:
                data[current] = []
            if isinstance(data[current], list):
                data[current].append(val)
            else:
                data[current] = [data[current], val]
    return data


def parse_strong_props(dom: FlatDOM) -> dict:
    """T16: ``<p><strong>Name: </strong>value</p>`` → {Name: value}; the
    value is the paragraph text with the strong text removed once
    (1.samsclub/parse_samsclub.py:147-168)."""
    props: dict = {}
    for p in S.select(dom, "p"):
        strong = next((i for i in dom.iter_descendants(p)
                       if dom.tags[i] == "strong"), None)
        if strong is None:
            continue
        s_text = dom.node_text(strong)
        name = s_text.strip().rstrip(":")
        value = dom.node_text(p).strip().replace(s_text, "", 1).strip()
        if name and value:
            props[name] = value
    return props


def parse_html_as_data(dom: FlatDOM) -> list:
    """Composite fragment parser (1.samsclub/parse_samsclub.py:53-170):
    each ``<ul>`` → list (orphan ``<li>`` fallback), each table → dict
    (sectioned when a ``<thead>`` is present), then p/strong props."""
    ret: list = []
    uls = S.select(dom, "ul")
    for ul in uls:
        items = parse_ul(dom, ul)
        if items:
            ret.append(items)
    if not uls:
        items = parse_ul(dom)
        if items:
            ret.append(items)
    for table in S.select(dom, "table"):
        has_thead = any(dom.tags[i] == "thead"
                        for i in dom.iter_descendants(table))
        data = (parse_sectioned_table(dom, table) if has_thead
                else parse_plain_table(dom, table))
        if data:
            ret.append(data)
    props = parse_strong_props(dom)
    if props:
        ret.append(props)
    return ret


def normalize_specs(parsed: list) -> tuple[Optional[list], Optional[list]]:
    """X6 spec normalizer (1.samsclub/parse_samsclub.py:352-384): table
    dicts → {name,value} rows, list-values → additional_details, ul entries
    split on ':' (default name ``Feature``)."""
    specs: list = []
    extra: list = []
    for item in parsed:
        if isinstance(item, dict):
            for key, value in item.items():
                if isinstance(value, list):
                    extra.append({"name": key, "value": value})
                else:
                    specs.append({"name": key, "value": value})
        elif isinstance(item, list):
            for entry in item:
                if ":" in entry:
                    name, value = entry.split(":", 1)
                    specs.append({"name": name.strip(), "value": value.strip()})
                else:
                    specs.append({"name": "Feature", "value": entry.strip()})
    return (specs or None, extra or None)


def join_variant_criteria(criteria: list, info_map: list) -> list:
    """R3 variant join (1.samsclub/parse_samsclub.py:428-455): the
    reference's O(options×infos×values) nested loop, semantically a hash
    join of (type, value) pairs; emission order preserved."""
    variants: list = []
    for option in criteria or []:
        option_type = option.get("name")
        for value in option.get("values") or []:
            variant_value = value.get("value")
            for info in info_map or []:
                for vi in info.get("values") or []:
                    if (vi.get("name") == option_type
                            and vi.get("value") == variant_value):
                        variants.append({
                            "type": option_type,
                            "name": variant_value,
                            "sku_id": info.get("variantSkuId"),
                            "family_sku_id": info.get("variantItemGroupId"),
                            "image_url": value.get("imageUrl"),
                        })
    return variants


def parse_ul(dom: FlatDOM, root: Optional[int] = None) -> list[str]:
    """X5: each <li> → stripped text (1.samsclub/parse_samsclub.py:62-78).

    Reference-exact: ``get_text().strip()`` only — internal whitespace
    runs survive and empty items are KEPT (the reference appends '' for
    an empty li); a collapse-and-drop here would silently diverge from
    the golden field values on any li with nested markup whitespace.
    All three twins (samsclub :62-78, bedbathbeyond :178-187, walmart-2
    key_features) share the strip-only shape."""
    lis = S.select(dom, "li", root=root)
    return [dom.node_text(li).strip() for li in lis]


def sectionize_lines(lines: list[str],
                     headers: dict[str, str]) -> dict[str, list[str]]:
    """X1 line state machine, reference-exact
    (overstock/parse_overstock.py:205-229): a header line matches by
    EXACT lowercased equality (``features:`` as the whole line, never a
    prefix); any OTHER line ending in ':' switches to a discard state
    ("none") whose following lines are dropped — without it, an unknown
    section like 'Care Instructions:' pollutes the previous bucket.
    Blank lines are skipped; lines before any header go to
    ``description``."""
    buckets: dict[str, list[str]] = {"description": []}
    for b in headers.values():
        buckets.setdefault(b, [])
    status = "description"
    for ln in lines:
        line = ln.strip()
        if not line:
            continue
        low = line.lower()
        if low in headers:
            status = headers[low]
        elif low.endswith(":"):
            status = "none"
        elif status != "none":
            buckets[status].append(line)
    return buckets


def sectionize_children(dom: FlatDOM,
                        root: int = 0) -> tuple[str, list[str], list[str]]:
    """X2 DOM-child state machine (bedbathbeyond/parse_bedbathbeyond.py:
    162-191): walk the fragment's top-level element children; a child whose
    text equals ``features:``/``dimensions:`` switches state; details
    children accumulate text + newline; features/dimensions children are
    REPLACED by their ``<li>`` texts (assignment, not extend — last wins,
    mirroring the reference)."""
    description = ""
    features: list[str] = []
    dimensions: list[str] = []
    status = "details"
    for child in dom.children(root):
        if dom.tags[child][0] == "#":  # text/comment children skipped
            continue
        t = dom.node_text(child)
        key = t.strip().lower()
        if key == "features:":
            status = "features"
        elif key == "dimensions:":
            status = "dimensions"
        elif status == "details":
            if t.strip() == "":
                continue
            description += t + "\n"
        elif status == "features":
            features = parse_ul(dom, child)
        elif status == "dimensions":
            dimensions = parse_ul(dom, child)
    return description, features, dimensions


def weighted_rating(hist: Optional[dict]) -> float:
    """T18/R6: Σ(star×count)/Σcount, 0 if empty
    (bedbathbeyond/parse_bedbathbeyond.py:102-109)."""
    if not hist:
        return 0
    tot = sum(int(v) for v in hist.values())
    if not tot:
        return 0
    return sum(int(k) * int(v) for k, v in hist.items()) / tot


def dedup_preserve_order(items: list) -> list:
    """R8: ``list(dict.fromkeys(x))`` (bestbuy/parse_bestbuy_detai.py:46)."""
    return list(dict.fromkeys(items))


_CAMEL_RE = re.compile(r"(?<!^)(?=[A-Z])")


def camel_to_snake(key: str) -> str:
    """T2: ``re.sub(r'(?<!^)(?=[A-Z])', '_', k).lower()``
    (walmart/parse_walmart-2.py:82)."""
    return _CAMEL_RE.sub("_", key).lower()


def snake_case_keys(obj: Any) -> Any:
    """T2 recursive variant (walmart/parse_walmart-2.py:96-104)."""
    if isinstance(obj, dict):
        return {camel_to_snake(k): snake_case_keys(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [snake_case_keys(v) for v in obj]
    return obj


NUTRITION_KEYS = ("calorieInfo", "keyNutrients", "vitaminMinerals",
                  "servingInfo", "additionalDisclaimer", "staticContent")


def restructure_nutrition(nutrition: dict) -> dict:
    """T17: pick the 6 nutrition sub-objects into a new struct, then
    recursive snake_case (walmart/parse_walmart-2.py:83-104)."""
    picked = {camel_to_snake(k): nutrition.get(k) for k in NUTRITION_KEYS}
    return snake_case_keys(picked)


def order_keys(detail: dict, key_order: list[str]) -> dict:
    """T4: stable sort of detail keys by a fixed order list; unknown keys
    keep insertion order at the end (walmart/parse_walmart-2.py:152-164)."""
    idx = {k: i for i, k in enumerate(key_order)}
    n = len(key_order)
    return dict(sorted(detail.items(), key=lambda kv: idx.get(kv[0], n)))
