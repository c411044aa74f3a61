"""CSS-selector subset compiled to node-mask kernels over a FlatDOM.

Covers exactly the selector grammar the reference uses (SURVEY.md §2.3 Q1-Q2):
tag, ``#id``, ``.class``, ``[attr]``, ``[attr=value]``, compound simple
selectors, descendant (space) and child (``>``) combinators, and comma
unions. ``select_one`` = first match in document order, matching
``soup.select_one`` semantics at /root/reference/1.samsclub/parse_samsclub.py:214,
costco/parse_costco.py:70, prev/parse_wayfair.py:153
(``button[data-hb-id=ReviewStars]>p``).

The tiny XPath subset used by bestbuy (/root/reference/bestbuy/
parse_bestbuy_detai.py:33-86 — ``//div[@class="sku-title"]/h1/text()``)
compiles to the same structure via :func:`xpath_to_css`.

Compilation strategy: parse once into ``CompiledSelector`` (module/broadcast
scope — the reference recompiles regexes per page, costco/parse_costco.py:49-62;
we don't). Matching walks only the rightmost simple selector's candidates
(``FlatDOM.ids_of``), then verifies ancestor chains with the
``parent`` array — candidates are usually rare, ancestry walks are O(depth).
"""

from __future__ import annotations

import re
from bisect import bisect_left
from functools import lru_cache
from typing import Optional

from .tokenizer import FlatDOM

__all__ = ["compile_selector", "select", "select_one", "xpath_to_css"]

_SIMPLE_RE = re.compile(
    r"""(?P<tag>[a-zA-Z][a-zA-Z0-9_-]*|\*)?
        (?P<parts>(?:\#[-\w]+|\.[-\w]+|\[[^\]]+\])*)""",
    re.VERBOSE,
)
_PART_RE = re.compile(r"\#([-\w]+)|\.([-\w]+)|\[([^\]]+)\]")


class SimpleSelector:
    __slots__ = ("tag", "id", "classes", "attrs", "needles")

    def __init__(self, tag: Optional[str], id_: Optional[str],
                 classes: tuple, attrs: tuple) -> None:
        self.tag = tag
        self.id = id_
        self.classes = classes  # tuple[str]
        self.attrs = attrs      # tuple[(name, value-or-None, op)]; op in
        #   {"=", "*="} — "*=" is substring containment, the CSS twin of
        #   XPath contains(@attr, v) (bestbuy/parse_bestbuy_detai.py:60-66).
        # Strings a match's attr values must contain: without '&' a raw
        # attr string parses to values that are substrings of it.
        self.needles = tuple(
            ([id_] if id_ is not None else []) + list(classes)
            + [v for _n, v, _op in attrs if v is not None])

    def matches(self, dom: FlatDOM, i: int) -> bool:
        if self.tag is not None and dom.tags[i] != self.tag:
            return False
        if self.id is None and not self.classes and not self.attrs:
            return True
        raw = dom.attrs[i]
        if type(raw) is str and "&" not in raw:
            # Reject on the unparsed attrs before paying for _parse_attrs.
            for s in self.needles:
                if s not in raw:
                    return False
        a = dom.attrs_of(i)
        if self.id is not None:
            if not a or a.get("id") != self.id:
                return False
        if self.classes:
            cls = (a.get("class") if a else None) or ""
            have = cls.split()
            for c in self.classes:
                if c not in have:
                    return False
        for name, val, op in self.attrs:
            if not a or name not in a:
                return False
            if val is not None:
                have_v = a[name] or ""
                if op == "*=":
                    if val not in have_v:
                        return False
                elif have_v != val:
                    return False
        return True


class CompiledSelector:
    """One comma-branch: chain of (SimpleSelector, combinator-to-next)."""

    __slots__ = ("chains",)

    def __init__(self, chains: list) -> None:
        # chains: list of list[(SimpleSelector, combinator)] where combinator
        # is ' ' (descendant) or '>' (child); last entry's combinator unused.
        self.chains = chains


def _parse_simple(token: str) -> SimpleSelector:
    m = _SIMPLE_RE.match(token)
    if not m or m.end() != len(token):
        raise ValueError(f"unsupported selector token: {token!r}")
    tag = m.group("tag")
    tag = None if tag in (None, "*") else tag.lower()
    id_: Optional[str] = None
    classes: list[str] = []
    attrs: list[tuple] = []
    for pm in _PART_RE.finditer(m.group("parts") or ""):
        if pm.group(1):
            id_ = pm.group(1)
        elif pm.group(2):
            classes.append(pm.group(2))
        else:
            body = pm.group(3)
            if "=" in body:
                name, _, val = body.partition("=")
                op = "="
                if name.endswith("*"):
                    name, op = name[:-1], "*="
                val = val.strip()
                if len(val) >= 2 and val[0] in "\"'" and val[-1] == val[0]:
                    val = val[1:-1]
                attrs.append((name.strip().lower(), val, op))
            else:
                attrs.append((body.strip().lower(), None, "="))
    return SimpleSelector(tag, id_, tuple(classes), tuple(attrs))


def _split_tokens(branch: str) -> list[str]:
    """Whitespace/'>' tokenization that never splits inside ``[...]`` —
    attribute values may contain spaces (bestbuy's exact-class XPath
    ``@class="priceView-hero-price priceView-customer-price"``)."""
    out: list[str] = []
    buf: list[str] = []
    depth = 0
    for ch in branch:
        if ch == "[":
            depth += 1
        elif ch == "]":
            depth -= 1
        if depth == 0 and (ch.isspace() or ch == ">"):
            if buf:
                out.append("".join(buf))
                buf = []
            if ch == ">":
                out.append(">")
            continue
        buf.append(ch)
    if buf:
        out.append("".join(buf))
    return out


def _split_branches(selector: str) -> list[str]:
    """Comma-union split that never splits inside ``[...]`` — attribute
    values may legally contain commas (xpath_to_css emits them for
    contains() predicates whose needle has a comma)."""
    out: list[str] = []
    buf: list[str] = []
    depth = 0
    for ch in selector:
        if ch == "[":
            depth += 1
        elif ch == "]":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    out.append("".join(buf))
    return out


@lru_cache(maxsize=1024)
def compile_selector(selector: str) -> CompiledSelector:
    chains = []
    for branch in _split_branches(selector):
        branch = branch.strip()
        if not branch:
            continue
        raw = _split_tokens(branch)
        chain: list[tuple] = []
        pending_comb = " "
        for tok in raw:
            if tok == ">":
                pending_comb = ">"
                continue
            chain.append([_parse_simple(tok), " "])
            if len(chain) >= 2:
                chain[-2][1] = pending_comb
            pending_comb = " "
        chains.append([(s, c) for s, c in chain])
    return CompiledSelector(chains)


def _match_chain(dom: FlatDOM, i: int, chain: list) -> bool:
    """Check node i against the full chain (rightmost already matched).

    Backtracks over descendant steps: a greedy ancestor walk would bind
    the NEAREST matching ancestor and then fail chains like ``A > B C``
    when a deeper B also matches but its parent is not A."""
    return _match_up(dom, i, chain, len(chain) - 2)


def _match_up(dom: FlatDOM, node: int, chain: list, k: int) -> bool:
    if k < 0:
        return True
    parent = dom.parent
    simple, comb = chain[k]  # comb relates chain[k] to chain[k+1]
    p = parent[node]
    if comb == ">":
        return (p > 0 and simple.matches(dom, p)
                and _match_up(dom, p, chain, k - 1))
    while p > 0:
        if simple.matches(dom, p) and _match_up(dom, p, chain, k - 1):
            return True
        p = parent[p]
    return False


def select(dom: FlatDOM, selector: str, limit: int = 0,
           root: Optional[int] = None) -> list[int]:
    """All matching element node ids in document order. ``root`` restricts
    matches to the subtree strictly below that node (the span
    ``root+1 .. dom.end(root)-1``)."""
    comp = compile_selector(selector)
    out: list[int] = []
    tags = dom.tags
    lo, hi = (1, len(dom)) if root is None else (root + 1, dom.end(root))
    for chain in comp.chains:
        last = chain[-1][0]
        if last.tag is not None:
            # Tag-anchored: walk only this tag's ids (bisected to the
            # subtree span when rooted).
            ids = dom.ids_of(last.tag)
            if root is not None:
                ids = ids[bisect_left(ids, lo):bisect_left(ids, hi)]
            for i in ids:
                if last.matches(dom, i) and _match_chain(dom, i, chain):
                    out.append(i)
                    if limit and len(out) >= limit and len(comp.chains) == 1:
                        return out
            continue
        for i in range(lo, hi):
            if tags[i][0] == "#":  # text/comment
                continue
            if last.matches(dom, i) and _match_chain(dom, i, chain):
                out.append(i)
                if limit and len(out) >= limit and len(comp.chains) == 1:
                    return out
    if len(comp.chains) > 1:
        out = sorted(set(out))
        if limit:
            out = out[:limit]
    return out


def select_one(dom: FlatDOM, selector: str,
               root: Optional[int] = None) -> Optional[int]:
    res = select(dom, selector, limit=1, root=root)
    return res[0] if res else None


_XPATH_STEP_RE = re.compile(
    r"(/{1,2})([a-zA-Z][a-zA-Z0-9_-]*|\*)"
    r"((?:\[[^\]]*\])*)"
)
_XPATH_PRED_RE = re.compile(
    r"""\[\s*(?:
        @(?P<eq_attr>[a-zA-Z-]+)\s*=\s*"(?P<eq_val>[^"]*)"
      | contains\(\s*@(?P<ct_attr>[a-zA-Z-]+)\s*,\s*"(?P<ct_val>[^"]*)"\s*\)
    )\s*\]""", re.VERBOSE)


@lru_cache(maxsize=256)
def xpath_to_css(xpath: str) -> str:
    """Compile the bestbuy XPath subset to our CSS grammar.

    Supports ``//tag``, ``/tag``, ``[@attr="value"]`` (exact, even when the
    value contains spaces) and ``[contains(@attr, "v")]`` (substring →
    ``[attr*="v"]``) predicates, plus a trailing ``/text()`` or ``/@attr``
    (both dropped — callers read text/attributes themselves). E.g.
    ``//div[@class="sku-title"]/h1/text()`` → ``div[class="sku-title"] > h1``,
    ``//img[@draggable="false"]/@src`` → ``img[draggable="false"]``.
    These are exactly the forms bestbuy uses
    (/root/reference/bestbuy/parse_bestbuy_detai.py:33-86,125)."""
    xp = xpath.strip()
    if xp.endswith("/text()"):
        xp = xp[: -len("/text()")]
    else:
        xp = re.sub(r"/@[a-zA-Z-]+$", "", xp)
    out: list[str] = []
    pos = 0
    first = True
    for m in _XPATH_STEP_RE.finditer(xp):
        if m.start() != pos:
            raise ValueError(f"unsupported xpath: {xpath!r}")
        pos = m.end()
        sep, tag, preds = m.groups()
        css = tag if tag != "*" else "*"
        ppos = 0
        for pm in _XPATH_PRED_RE.finditer(preds or ""):
            if pm.start() != ppos:
                raise ValueError(f"unsupported xpath predicate: {xpath!r}")
            ppos = pm.end()
            if pm.group("eq_attr"):
                css += f'[{pm.group("eq_attr")}="{pm.group("eq_val")}"]'
            else:
                css += f'[{pm.group("ct_attr")}*="{pm.group("ct_val")}"]'
        if ppos != len(preds or ""):
            raise ValueError(f"unsupported xpath predicate: {xpath!r}")
        if first:
            out.append(css)
            first = False
        else:
            out.append((" > " if sep == "/" else " ") + css)
    if pos != len(xp):
        raise ValueError(f"unsupported xpath: {xpath!r}")
    # Plain concatenation: a split()-based renormalization here would
    # rewrite whitespace INSIDE quoted attribute values (e.g. a double
    # space in an exact-class predicate) into single spaces — a silent
    # never-matches.
    return "".join(out)
