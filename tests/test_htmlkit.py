"""Unit tests: tokenizer, text spec, selectors (SURVEY.md §5.2 item 2)."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings, strategies as st

from html_parser_spark.extract.carriers import collect_scripts
from html_parser_spark.htmlkit.tokenizer import tokenize, TEXT
from html_parser_spark.extract.boilerplate import text_and_scored
from html_parser_spark.htmlkit import selectors as S

from .oracle import oracle_text, oracle_text_and_scored
from .test_adversarial import _htmlish, _well_formed


class TestTokenizer:
    def test_basic_tree(self):
        dom = tokenize("<div><p>a</p><p>b</p></div>")
        assert dom.tags[1:] == ["div", "p", TEXT, "p", TEXT]
        assert dom.parent[2] == 1 and dom.parent[4] == 1

    def test_void_elements(self):
        dom = tokenize("<div><img src='x.png'><br><p>t</p></div>")
        i = dom.tags.index("p")
        assert dom.parent[i] == dom.tags.index("div")

    def test_rawtext_script_not_parsed(self):
        dom = tokenize("<script>if (a<b) { x = '<div>'; }</script><p>ok</p>")
        assert "div" not in dom.tags
        s = dom.tags.index("script")
        kid = dom.children(s)[0]
        assert "<div>" in dom.texts[kid]

    def test_entities(self):
        dom = tokenize("<p>&amp;&lt;x&gt; &#65;&nbsp;</p>")
        t = dom.texts[dom.tags.index(TEXT)]
        assert t == "&<x> A\xa0"

    def test_attr_forms(self):
        dom = tokenize('<a href="u" data-x=\'y\' checked id=z class="c1 c2">t</a>')
        a = dom.attrs_of(1)
        assert a == {"href": "u", "data-x": "y", "checked": "", "id": "z",
                     "class": "c1 c2"}

    def test_implied_close_li(self):
        dom = tokenize("<ul><li>a<li>b</ul>")
        lis = [i for i, t in enumerate(dom.tags) if t == "li"]
        ul = dom.tags.index("ul")
        assert [dom.parent[i] for i in lis] == [ul, ul]

    def test_implied_close_p(self):
        dom = tokenize("<p>a<div>b</div>")
        d = dom.tags.index("div")
        p = dom.tags.index("p")
        assert dom.parent[d] != p

    def test_malformed_never_raises(self):
        for bad in ["<", "<x", "<<<>>>", "<p <div>", "a<b>c</b", "<!--",
                    "<script>x", "</nope>", "<p></p></p>", "\x00<p>\x00</p>"]:
            tokenize(bad)  # must not raise

    def test_unmatched_close_ignored(self):
        dom = tokenize("<div><p>a</span></p></div>")
        assert text_and_scored(dom)[0] == "a"

    def test_comment_not_text(self):
        assert text_and_scored(tokenize("<p>a<!-- hidden -->b</p>"))[0] == "ab"

    def test_case_insensitive_tags(self):
        dom = tokenize("<DIV><P>a</P></DIV>")
        assert "div" in dom.tags and "p" in dom.tags

    def test_trailing_slash_closes_only_void_elements(self):
        """'<div/>' opens a div (HTML5 ignores the slash on a non-void
        element); '<br/>' and '<img src=a />' stay void."""
        dom = tokenize("<div/>x")
        assert dom.tags[1:] == ["div", TEXT]
        assert dom.parent[2] == 1
        dom = tokenize("<p><br/>a<img src=a />b</p>")
        assert dom.tags[1:] == ["p", "br", TEXT, "img", TEXT]
        assert [dom.parent[i] for i in range(2, 6)] == [1, 1, 1, 1]
        assert dom.attrs_of(4) == {"src": "a"}


class TestTextSpec:
    CASES = [
        "<div><p>one</p><p>two</p></div>",
        "<p>Hello <b>World</b>!</p>",
        "<ul><li>a<li>b</ul>after",
        "<script>skip()</script><style>p{}</style><p>keep</p>",
        "<head><title>skip</title></head><body>keep</body>",
        "<p>a</p>tail<br>line2",
        "<table><tr><td>k</td><td>v</td></tr></table>",
        "<p>  spaces   collapse  </p>",
        "<p>&amp; &lt;tag&gt; &#1071;</p>",
        "<div>a<div>b<div>c</div>d</div>e</div>",
        "text only, no tags",
        "<noscript>gone</noscript><p>here</p>",
        "<p>a<p>b<p>c",
        "<div><span>in</span><span>line</span></div>",
        # Raw-text end tags match ASCII-case-insensitively, even when a
        # lowercase one comes later.
        "<div><script>var a=1</SCRIPT><p>visible text</p>"
        "<script>var b=2</script><p>after</p></div>",
        "<head><title>one</TITLE></head><p>shown</p><title>two</title>",
        "<style>p{}</Style><p>kept</p><style>q{}</style><p>end</p>",
        # A raw-text end tag's name must end at whitespace, "/" or ">".
        "<div><script>a</scripts>b</script><p>x</p></div>",
        "<style>a</stylex>b</style><p>x</p>",
        "<title>a</titles>b</title><p>x</p>",
        "<textarea>a</textarea2>b</textarea><p>x</p>",
    ]

    @pytest.mark.parametrize("html", CASES)
    def test_matches_stdlib_oracle(self, html):
        assert text_and_scored(tokenize(html)) == oracle_text_and_scored(html)

    @pytest.mark.parametrize("html", [
        "<div><script>a</script/>b</div>",
        "<div><script>a</script\tfoo>b</div>",
    ])
    def test_end_tag_name_then_slash_or_whitespace_ends_script(self, html):
        # HTML5 ends the script at either end tag; the stdlib oracle keeps
        # the rest in the script (it needs "</script" + spaces + ">"), so
        # the engine's behaviour is pinned here instead.
        assert text_and_scored(tokenize(html))[0] == "b"

    def test_synthetic_corpus_matches_oracle(self):
        from html_parser_spark.sources import synth
        for idx in range(0, 120):
            if synth.profile_for(idx) == "pdf":
                continue
            html = synth.render_page(idx).decode("utf-8", errors="replace")
            assert (text_and_scored(tokenize(html))
                    == oracle_text_and_scored(html)), idx


class TestSelectors:
    DOC = """
    <html><body>
      <div id="main" class="wrap outer">
        <h1 class="title">T</h1>
        <ul class="list"><li>one</li><li class="sel">two</li></ul>
        <div class="inner"><p data-k="v">deep</p></div>
      </div>
      <p>outside</p>
      <script id="__NEXT_DATA__" type="application/json">{}</script>
    </body></html>"""

    @pytest.fixture(scope="class")
    def dom(self):
        return tokenize(self.DOC)

    def test_by_tag(self, dom):
        assert len(S.select(dom, "p")) == 2

    def test_by_id(self, dom):
        n = S.select_one(dom, "#main")
        assert n is not None and dom.tags[n] == "div"

    def test_by_class(self, dom):
        n = S.select_one(dom, ".sel")
        assert n is not None and dom.tags[n] == "li"

    def test_compound(self, dom):
        assert S.select_one(dom, "div.wrap.outer") is not None
        assert S.select_one(dom, "div.wrap.missing") is None

    def test_attr_selectors(self, dom):
        assert S.select_one(dom, '[data-k]') is not None
        assert S.select_one(dom, 'p[data-k="v"]') is not None
        assert S.select_one(dom, 'p[data-k="w"]') is None
        assert S.select_one(dom, 'script[type="application/json"]') is not None

    def test_descendant(self, dom):
        assert S.select_one(dom, "#main p") is not None
        assert S.select_one(dom, ".list p") is None

    def test_child_combinator(self, dom):
        assert S.select_one(dom, "ul > li") is not None
        assert S.select_one(dom, "#main > p") is None  # p is 2 levels down
        assert S.select_one(dom, "div.inner > p") is not None

    def test_select_one_is_first_in_doc_order(self, dom):
        lis = S.select(dom, "li")
        assert S.select_one(dom, "li") == lis[0]

    def test_union(self, dom):
        assert len(S.select(dom, "h1, li")) == 3

    def test_xpath_subset(self, dom):
        css = S.xpath_to_css('//div[@class="inner"]/p/text()')
        assert S.select_one(dom, css) is not None
        css2 = S.xpath_to_css("//ul//li")
        assert len(S.select(dom, css2)) == 2

    def test_xpath_contains_and_attr_tail(self):
        # The bestbuy forms (parse_bestbuy_detai.py:45,60-66), verbatim.
        assert (S.xpath_to_css('//img[@draggable="false"]/@src')
                == 'img[draggable="false"]')
        assert (S.xpath_to_css(
            '//div[contains(@class, "ugc-ratings-reviews")]'
            '//span[contains(@class, "ugc-c-review-average")]/text()')
            == 'div[class*="ugc-ratings-reviews"] '
               'span[class*="ugc-c-review-average"]')
        # exact-match attr values may contain spaces
        css = S.xpath_to_css(
            '//div[@class="priceView-hero-price priceView-customer-price"]'
            '/span/text()')
        assert css == ('div[class="priceView-hero-price '
                       'priceView-customer-price"] > span')
        import pytest as _pytest
        with _pytest.raises(ValueError):
            S.xpath_to_css('//div[starts-with(@id, "x")]')


# -- SimpleSelector.matches against parse-then-match ------------------------

_WORDS = ["x", "y", "xy", "Deal", "a-b"]
# Raw attr values: entity escapes (&#120; is 'x', &amp; is '&') must
# still match after decoding.
_VALUES = _WORDS + ["x y", "&#120;", "&#120;y z", "&amp;x", "Deal&#32;x", ""]


def _reference_matches(sel, tag, attrs):
    """The matching rule on a parsed attr dict, with no shortcut."""
    if sel.tag is not None and tag != sel.tag:
        return False
    if sel.id is not None and attrs.get("id") != sel.id:
        return False
    have = (attrs.get("class") or "").split()
    if any(c not in have for c in sel.classes):
        return False
    for name, val, op in sel.attrs:
        if name not in attrs:
            return False
        if val is not None and not (val in attrs[name] if op == "*="
                                    else attrs[name] == val):
            return False
    return True


@st.composite
def _element(draw):
    attrs = []
    for _ in range(draw(st.integers(0, 4))):
        name = draw(st.sampled_from(["id", "ID", "class", "Class",
                                     "data-k", "DATA-K", "href"]))
        val = draw(st.sampled_from(_VALUES))
        quote = draw(st.sampled_from(['"', "'", ""]))
        if not quote and (not val or " " in val):
            quote = '"'
        attrs.append(f"{name}={quote}{val}{quote}")
    if draw(st.booleans()):
        attrs.append("checked")
    tag = draw(st.sampled_from(["a", "div", "A"]))
    return f"<{tag} {' '.join(attrs)}>t</{tag}>"


@st.composite
def _simple_selector(draw):
    sel = draw(st.sampled_from(["", "a", "div", "*"]))
    if draw(st.booleans()):
        sel += "#" + draw(st.sampled_from(_WORDS))
    for c in draw(st.lists(st.sampled_from(_WORDS), max_size=2)):
        sel += "." + c
    for _ in range(draw(st.integers(0, 2))):
        name = draw(st.sampled_from(["id", "class", "data-k", "href"]))
        op = draw(st.sampled_from(["", "=", "*="]))
        sel += (f"[{name}]" if not op else
                f'[{name}{op}"{draw(st.sampled_from(_VALUES[:-1]))}"]')
    return sel or "*"


@given(st.lists(_element(), min_size=1, max_size=4), _simple_selector())
@example(['<a ID="&#120;">t</a>'], "#x")
@example(["<div DATA-K='&#120;y z' class=&amp;x>t</div>"], 'div[data-k*="xy"]')
@settings(max_examples=400, deadline=None)
def test_simple_selector_matches_parse_then_match(elements, selector):
    html = "".join(elements)
    sel = S.compile_selector(selector).chains[0][-1][0]
    parsed = tokenize(html)
    for i in range(1, len(parsed)):
        if parsed.tags[i] == TEXT:
            continue
        want = _reference_matches(sel, parsed.tags[i],
                                  parsed.attrs_of(i) or {})
        assert sel.matches(tokenize(html), i) == want, (html, selector, i)


def test_chain_backtracks_over_descendant_steps():
    """'article > div span': the nearest div ancestor of span fails the
    '>' step, but a higher div satisfies it — requires backtracking."""
    from html_parser_spark.htmlkit import selectors as S
    from html_parser_spark.htmlkit.tokenizer import tokenize
    dom = tokenize("<article><div><section><div><span>x</span>"
                   "</div></section></div></article>")
    hits = S.select(dom, "article > div span")
    assert len(hits) == 1
    assert dom.tags[hits[0]] == "span"


def test_rcdata_and_stray_close_text_semantics():
    """Reviewer-found engine↔oracle divergences, pinned to HTML5 behavior
    on BOTH sides: textarea/title are RCDATA (markup not parsed, entities
    decoded); an unmatched block close is ignored except '</p>', which
    becomes an empty-paragraph line boundary."""
    cases = {
        "<div><textarea><b>x</b></textarea></div>": "<b>x</b>",
        "<div><textarea>a &amp; b</textarea></div>": "a & b",
        "a</p>b<br>c": "a\nb\nc",      # stray </p>: boundary (HTML5)
        "a</div>b": "ab",              # stray </div>: ignored
        "<div>a</div></p>b": "a\nb",
    }
    for html, expected in cases.items():
        got = text_and_scored(tokenize(html))
        assert got[0] == expected, (html, got)
        assert oracle_text(html) == expected, (html, oracle_text(html))
        assert got == oracle_text_and_scored(html), html


# -- FlatDOM layout: end(), children(), ids_of(), node_text() and
# collect_scripts() against brute-force definitions over the parent array -

# Token soup that reaches implied closes, voids, self-closed and unclosed
# rawtext elements, which the other two strategies rarely emit.
_soup = st.lists(st.sampled_from([
    "<li>", "<tr>", "<td>", "<p>", "</p>", "<div>", "</div>", "<br>",
    "<a href=x>", "</a>", "<script>s</script>", "<script/>", "<script>",
    "<style>c</style>", "<title>t&amp;</title>", "<!--c-->", "w", " ",
]), max_size=40).map("".join)


@given(st.one_of(_well_formed(), _htmlish, _soup))
@settings(max_examples=300, deadline=None)
def test_flatdom_layout_matches_brute_force(html):
    dom = tokenize(html)
    n = len(dom)
    last = list(range(n))  # last node whose parent chain reaches i
    kids = [[] for _ in range(n)]  # children from the parent array
    for j in range(1, n):
        kids[dom.parent[j]].append(j)
        p = dom.parent[j]
        while p >= 0:
            last[p] = max(last[p], j)
            p = dom.parent[p]

    def dfs_text(i):
        if dom.tags[i] == TEXT:
            return dom.texts[i] or ""
        return "".join(dfs_text(c) for c in kids[i])

    for i in range(n):
        assert dom.end(i) == last[i] + 1, i
        assert dom.children(i) == kids[i], i
        assert list(dom.iter_descendants(i)) == list(range(i + 1, last[i] + 1))
        assert dom.node_text(i) == dfs_text(i), i
    for t in set(dom.tags) | {"nosuchtag"}:
        want = [i for i, tag in enumerate(dom.tags) if tag == t]
        assert list(dom.ids_of(t)) == ([] if t[0] == "#" else want), t
    old_rule = [
        ((dom.texts[i + 1] or "") if i + 1 < n and dom.parent[i + 1] == i
         and dom.tags[i + 1] == TEXT else "", dom.attrs_of(i) or {})
        for i, tag in enumerate(dom.tags) if tag == "script"]
    assert collect_scripts(dom) == old_rule
