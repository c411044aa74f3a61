"""Unit tests: carriers, jsonpath, field transforms, boilerplate, pdf."""

from __future__ import annotations

import json

from hypothesis import given, settings, strategies as st

from html_parser_spark.htmlkit.tokenizer import tokenize
from html_parser_spark.extract import carriers as C
from html_parser_spark.extract import fields as F
from html_parser_spark.extract import boilerplate, pdfkit
from html_parser_spark.extract.jsonpath import get_from_json

from .oracle import oracle_text_and_scored


class TestJsonPath:
    OBJ = {"a": {"b": [{"c": 1}, {"c": 2}]}, "n": None}

    def test_hit(self):
        assert get_from_json(self.OBJ, ["a", "b", 1, "c"]) == 2

    def test_negative_index(self):
        assert get_from_json(self.OBJ, ["a", "b", -1, "c"]) == 2

    def test_misses_return_none(self):
        assert get_from_json(self.OBJ, ["a", "x"]) is None
        assert get_from_json(self.OBJ, ["a", "b", 9, "c"]) is None  # bounds-checked
        assert get_from_json(self.OBJ, ["a", "b", "c"]) is None  # str on list
        assert get_from_json(self.OBJ, ["n", "x"]) is None
        assert get_from_json(None, ["a"]) is None


class TestCarriers:
    def _scripts(self, html):
        return C.collect_scripts(tokenize(html))

    def test_script_by_id_and_type(self):
        s = self._scripts(
            '<script id="x">1</script><script type="t">2</script>')
        assert C.script_by_id(s, "x") == "1"
        assert C.script_by_type(s, "t") == ["2"]
        assert C.script_by_id(s, "nope") is None

    def test_script_containing_first_match(self):
        s = self._scripts("<script>aaa</script><script>needle 1</script>"
                          "<script>needle 2</script>")
        assert C.script_containing(s, "needle") == "needle 1"  # R9 break

    def test_webpack_slice(self):
        s = self._scripts(
            '<script>window["WEBPACK_ENTRY_DATA"] = {"k": [1,2]};</script>')
        assert C.webpack_entry_data(s) == {"k": [1, 2]}

    def test_regex_json_quote_normalize(self):
        v = C.regex_json("var options = [{'a': 1}];",
                         r"var options\s*=\s*(\[.*?\]);", normalize_quotes=True)
        assert v == [{"a": 1}]

    def test_double_escaped(self):
        payload = {"upc": "123", "price": 9.99}
        escaped = json.dumps(json.dumps(payload))[1:-1]
        assert C.unescape_embedded_json(escaped) == payload

    def test_bad_json_returns_none(self):
        s = self._scripts('<script id="x">{broken</script>')
        assert C.json_script_by_id(s, "x") is None

    def test_carve_balanced(self):
        t = 'before {"a": {"b": "}x{"}, "c": [1]} ; trailing()'
        start = t.index("{")
        assert C.carve_balanced(t, start) == '{"a": {"b": "}x{"}, "c": [1]}'
        # escaped quote inside string
        t2 = '{"a": "q\\"}", "b": 1} tail'
        assert C.carve_balanced(t2, 0) == '{"a": "q\\"}", "b": 1}'
        # unterminated → None; bad start → None
        assert C.carve_balanced('{"a": 1', 0) is None
        assert C.carve_balanced("abc", 0) is None
        assert C.carve_balanced("", 0) is None
        assert C.carve_balanced("{}", 5) is None

    def test_webpack_spread_merge_picks_largest_parsable(self):
        # Real wayfair pages: guarded spread re-assignment + the full
        # assignment in the same document; the carve must skip the
        # non-JSON spread and the smaller delta.
        s = self._scripts(
            "<script>if (!window[\"WEBPACK_ENTRY_DATA\"]) {"
            'window["WEBPACK_ENTRY_DATA"]={...window["WEBPACK_ENTRY_DATA"],'
            ' ...{"application":{"key":"HotDeals"}}};}</script>'
            '<script>window["WEBPACK_ENTRY_DATA"] = {"application":'
            ' {"props": {"productData": {"x": 1}}}};</script>'
            '<script>window["WEBPACK_ENTRY_DATA"]={"small": 1};</script>')
        v = C.webpack_entry_data(s)
        assert v == {"application": {"props": {"productData": {"x": 1}}}}


class TestFieldTransforms:
    def test_parse_money(self):
        assert F.parse_money("$1,299.99") == 1299.99
        assert F.parse_money("1088.59") == 1088.59
        assert F.parse_money("$12") == 12.0
        assert F.parse_money("USD 1,000") == 1000.0
        assert F.parse_money("no digits") is None
        assert F.parse_money(None) is None

    def test_parse_int(self):
        assert F.parse_int("(1,234)") == 1234
        assert F.parse_int("56 reviews") == 56

    def test_strip_query_and_prefix(self):
        assert F.strip_query("https://x/p?a=1#f") == "https://x/p"
        assert F.prefix_url("https://b.com", "/x") == "https://b.com/x"
        assert F.prefix_url("", "//img/x.jpg") == "https://img/x.jpg"
        assert F.prefix_url("https://b.com", "https://o.com/y") == "https://o.com/y"

    def test_hires_rewrite(self):
        assert F.hires_image("https://i/timg-h310-w310/p/1.jpg") == \
            "https://i/resize-h800-w800/p/1.jpg"
        assert F.hires_image("https://i/compr-r50/p.jpg") == \
            "https://i/compr-r85/p.jpg"

    def test_b64(self):
        import base64
        assert F.decode_b64(base64.b64encode(b"12.34").decode()) == "12.34"
        assert F.decode_b64("!!!") is None

    def test_ul_fragment(self):
        dom = tokenize("<ul><li> a </li><li>b<li>c</ul>")
        assert F.parse_ul(dom) == ["a", "b", "c"]

    def test_sectionizer(self):
        lines = ["intro one", "Features:", "f1", "f2", "Dimensions:", "W: 3"]
        b = F.sectionize_lines(
            lines, {"features:": "features", "dimensions:": "dimensions"})
        assert b["description"] == ["intro one"]
        assert b["features"] == ["f1", "f2"]
        assert b["dimensions"] == ["W: 3"]

    def test_weighted_rating(self):
        assert F.weighted_rating({"5": 1, "1": 1}) == 3.0
        assert F.weighted_rating({}) == 0
        assert F.weighted_rating(None) == 0

    def test_dedup_preserves_order(self):
        assert F.dedup_preserve_order(["b", "a", "b", "c", "a"]) == ["b", "a", "c"]


def _main_text(html: str) -> str:
    return boilerplate.select_content(
        boilerplate.text_and_scored(tokenize(html))[1])


class TestBoilerplate:
    def test_strips_chrome_keeps_content(self):
        html = (
            "<nav><ul><li><a href='/'>Home</a></li><li><a href='/d'>Deals "
            "and many other things</a></li></ul></nav>"
            "<main><p>This is the long main article content of the page, "
            "talking about useful durable quality things at length.</p>"
            "<p>Second long paragraph with plenty of descriptive text to "
            "stay above the content threshold.</p></main>"
            "<footer><a href='/about'>About our great company</a> "
            "<a href='/privacy'>Privacy and legal information page</a></footer>"
        )
        mt = _main_text(html)
        assert "main article content" in mt
        assert "Second long paragraph" in mt
        assert "Home" not in mt and "Privacy" not in mt

    def test_link_density_filter(self):
        html = ("<div><a href='x'>A long linky line of nothing but anchor "
                "text that should be dropped entirely</a></div>"
                "<div>A long plain prose line that easily clears the "
                "twenty-five char bar.</div>")
        mt = _main_text(html)
        assert "plain prose" in mt and "anchor text" not in mt

    @given(st.lists(st.tuples(st.integers(0, 40),
                              st.one_of(st.just(0), st.integers(1, 40)),
                              st.booleans()), max_size=30))
    @settings(max_examples=300, deadline=None)
    def test_select_content_matches_fixpoint(self, rows):
        """The forward + backward smoothing passes keep exactly the lines
        the continuation rule keeps when iterated to a fixpoint."""
        lines = [(f"l{i}", chars, min(link, chars), boiler)
                 for i, (chars, link, boiler) in enumerate(rows)]
        assert boilerplate.select_content(lines) == _fixpoint_select(lines)


def _fixpoint_select(lines):
    n = len(lines)
    keep = [not boiler and chars >= boilerplate.MIN_CONTENT_CHARS
            and link_chars / max(chars, 1) < boilerplate.MAX_LINK_DENSITY
            for _, chars, link_chars, boiler in lines]
    changed = True
    while changed:
        changed = False
        for i, (_, chars, link_chars, boiler) in enumerate(lines):
            if (keep[i] or boiler or link_chars
                    or chars < boilerplate.MIN_CONT_CHARS):
                continue
            if (i > 0 and keep[i - 1]) or (i + 1 < n and keep[i + 1]):
                keep[i] = True
                changed = True
    return "\n".join(lines[i][0] for i in range(n) if keep[i])


class TestPdf:
    def test_roundtrip(self):
        from html_parser_spark.sources import synth
        idx = 48  # profile_for(48) == 'pdf'
        assert synth.profile_for(idx) == "pdf"
        data = synth.render_page(idx)
        assert pdfkit.is_pdf(data)
        text = pdfkit.extract_pdf_text(data)
        p = synth.payload_for(idx)
        assert f"Report {idx}" in text
        assert p["name"] in text
        assert f"Price: {p['price']:.2f}" in text

    def test_escapes(self):
        import zlib
        content = b"BT (a\\(b\\)c \\\\ \\110i) Tj ET"
        comp = zlib.compress(content)
        pdf = (b"%PDF-1.4\nstream\n" + comp + b"\nendstream\n")
        assert pdfkit.extract_pdf_text(pdf) == "a(b)c \\ Hi"

    def test_not_pdf(self):
        assert not pdfkit.is_pdf(b"<html>")


class TestFragmentParsers:
    """X3/X4/T16 composite + X6 normalizer + R3 join
    (1.samsclub/parse_samsclub.py:53-170, :341-384, :428-455)."""

    def test_sectioned_table_scalar_to_list_promotion(self):
        html = ("<table><thead><tr><th>Specs</th></tr></thead><tbody>"
                "<tr><td>Color</td><td>Red</td></tr>"
                "<tr><th>Contents</th></tr>"
                "<tr><td></td><td>One</td></tr>"
                "<tr><td></td><td>Two</td></tr>"
                "</tbody></table>")
        dom = tokenize(html)
        data = F.parse_sectioned_table(dom, 1)
        assert data == {"Color": "Red", "Contents": ["One", "Two"]}

    def test_sectioned_table_promotes_existing_scalar(self):
        # A kv row keyed by the section name, then empty-key rows: the
        # scalar becomes [old, new] (reference :118-123).
        html = ("<table><thead><tr><th>Kit</th></tr></thead><tbody>"
                "<tr><td>Kit</td><td>Base</td></tr>"
                "<tr><th>Kit</th></tr>"
                "<tr><td></td><td>Addon</td></tr>"
                "</tbody></table>")
        data = F.parse_sectioned_table(tokenize(html), 1)
        assert data == {"Kit": ["Base", "Addon"]}

    def test_plain_table_items_bucket(self):
        html = ("<table><tr><td>A</td><td>1</td></tr>"
                "<tr><td></td><td>loose</td></tr></table>")
        assert F.parse_plain_table(tokenize(html), 1) == {
            "A": "1", "Items": ["loose"]}

    def test_strong_props_replace_once(self):
        html = "<p><strong>Net Volume: </strong>15.99 Liters</p>"
        assert F.parse_strong_props(tokenize(html)) == {
            "Net Volume": "15.99 Liters"}

    def test_strong_props_skips_empty(self):
        html = "<p><strong>OnlyName:</strong></p><p>no strong here</p>"
        assert F.parse_strong_props(tokenize(html)) == {}

    def test_parse_html_as_data_order(self):
        html = ("<ul><li>F1</li><li>K: V</li></ul>"
                "<table><tr><td>A</td><td>1</td></tr></table>"
                "<p><strong>W:</strong> 2 kg</p>")
        parsed = F.parse_html_as_data(tokenize(html))
        assert parsed == [["F1", "K: V"], {"A": "1"}, {"W": "2 kg"}]

    def test_orphan_li_fallback(self):
        parsed = F.parse_html_as_data(tokenize("<li>a</li><li>b</li>"))
        assert parsed == [["a", "b"]]

    def test_normalize_specs(self):
        specs, extra = F.normalize_specs(
            [["Plain feature", "K: V"],
             {"A": "1", "Contents": ["x", "y"]},
             {"W": "2 kg"}])
        assert specs == [
            {"name": "Feature", "value": "Plain feature"},
            {"name": "K", "value": "V"},
            {"name": "A", "value": "1"},
            {"name": "W", "value": "2 kg"},
        ]
        assert extra == [{"name": "Contents", "value": ["x", "y"]}]

    def test_normalize_specs_empty(self):
        assert F.normalize_specs([]) == (None, None)

    def test_join_variant_criteria(self):
        criteria = [{"name": "Color", "values": [
            {"value": "Red", "imageUrl": "r.jpg"},
            {"value": "Phantom", "imageUrl": None}]}]
        info_map = [
            {"variantSkuId": "S1", "variantItemGroupId": "G",
             "values": [{"name": "Color", "value": "Red"}]},
            {"variantSkuId": "S2", "variantItemGroupId": "G",
             "values": [{"name": "Size", "value": "Red"}]},  # wrong type
        ]
        assert F.join_variant_criteria(criteria, info_map) == [
            {"type": "Color", "name": "Red", "sku_id": "S1",
             "family_sku_id": "G", "image_url": "r.jpg"}]

    def test_join_variant_criteria_empty(self):
        assert F.join_variant_criteria(None, None) == []

    def test_sectionize_children_x2(self):
        html = ("<p>Intro text</p><p>  </p>"
                "<p>Features:</p><ul><li>F1</li><li>F2</li></ul>"
                "<p>Dimensions:</p><ul><li>W: 3 in</li></ul>")
        desc, feats, dims = F.sectionize_children(tokenize(html))
        assert desc == "Intro text\n"
        assert feats == ["F1", "F2"]
        assert dims == ["W: 3 in"]

    def test_sectionize_children_last_ul_wins(self):
        html = ("<p>Features:</p><ul><li>A</li></ul><ul><li>B</li></ul>")
        desc, feats, dims = F.sectionize_children(tokenize(html))
        assert desc == "" and feats == ["B"] and dims == []


class TestCombinedPass:
    """text_and_scored must equal the stdlib oracle's text AND scored
    lines."""

    def test_equivalent_on_corpus(self):
        from html_parser_spark.sources import synth
        for idx in range(120):
            raw = synth.render_page(idx, filler=3)
            if raw[:4] == b"%PDF":
                continue
            html = raw.decode("utf-8", "replace")
            assert (boilerplate.text_and_scored(tokenize(html))
                    == oracle_text_and_scored(html)), idx

    def test_equivalent_around_excluded_subtrees(self):
        for html in ("a<noscript><div>x</div></noscript>b",
                     "a<noscript><br></noscript>b",
                     "a<script>x</script>b",
                     "<div>a<style>p{}</style>b</div>c"):
            assert (boilerplate.text_and_scored(tokenize(html))
                    == oracle_text_and_scored(html)), html


def test_pdf_spec_edge_cases():
    """Reviewer-found PDF parsing gaps, pinned: stolen stream-final 0x0D,
    balanced parens in strings, ']' inside TJ array strings, backslash
    line continuation, unknown-escape backslash drop."""
    import zlib
    from html_parser_spark.extract import pdfkit as K

    def mkpdf(content, compress=True):
        body = zlib.compress(content) if compress else content
        return b"%PDF-1.4\nstream\n" + body + b"\nendstream\n"

    base = b"BT (Report %d) Tj (Brand: X26999) Tj ET"
    stolen = next(base % k for k in range(100000)
                  if zlib.compress(base % k).endswith(b"\r"))
    assert "Brand: X26999" in K.extract_pdf_text(mkpdf(stolen))
    assert K.extract_pdf_text(mkpdf(b"BT (a (b) c) Tj ET")) == "a (b) c"
    assert K.extract_pdf_text(mkpdf(b"BT [(x]y) -5 (z)] TJ ET")) == "x]yz"
    assert K.extract_pdf_text(
        mkpdf(b"BT (long\\\ntext) Tj (a\\xb) Tj ET")) == "longtext\naxb"
    assert K.extract_pdf_text(mkpdf(b"BT (A\\051B\\nC) Tj ET")) == "A)B\nC"
    assert K.extract_pdf_text(mkpdf(b"BT [(He) -30 (llo)] TJ ET")) == "Hello"
    assert K.extract_pdf_text(
        mkpdf(b"BT (plain) Tj ET", compress=False)) == "plain"


def test_sectionizer_unknown_header_discards():
    """Reference-exact (overstock :205-229): unknown 'X:' headers switch
    to a discard state; header match is exact, not prefix."""
    lines = ["Nice product", "Specifications:", "Width: 5", "Features:",
             "Sturdy", "Care Instructions:", "Wipe clean"]
    b = F.sectionize_lines(
        lines, {"features:": "features", "dimensions:": "dimensions"})
    assert b["description"] == ["Nice product"]
    assert b["features"] == ["Sturdy"]
    assert b["dimensions"] == []
    # header + trailing text on one line is BODY text, not a header
    b2 = F.sectionize_lines(["Features: A", "x"], {"features:": "features"})
    assert b2["description"] == ["Features: A", "x"]
    assert b2["features"] == []


def test_parse_ul_reference_exact():
    """strip-only, empties kept (samsclub :62-78 get_text().strip())."""
    from html_parser_spark.htmlkit.tokenizer import tokenize
    dom = tokenize("<ul><li>A  B</li><li>  </li><li>C</li></ul>")
    assert F.parse_ul(dom) == ["A  B", "", "C"]
