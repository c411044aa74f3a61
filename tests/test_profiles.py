"""Golden parity: payload → html → extract == payload → golden (pure Python,
no Spark — the same kernels the UDF runs). SURVEY.md §5.2 item 1."""

from __future__ import annotations

import pytest

from html_parser_spark.sources import synth
from html_parser_spark.htmlkit.tokenizer import tokenize
from html_parser_spark.extract.carriers import collect_scripts
from html_parser_spark.rules.profiles import extract_page

N = 300  # covers every profile ≥ 24 times incl. pdf/error slots


@pytest.mark.parametrize("idx", range(N))
def test_golden_envelope(idx):
    profile = synth.profile_for(idx)
    if profile in ("pdf", "error"):
        pytest.skip("non-extraction row")
    dom = tokenize(synth.render_page(idx).decode("utf-8"))
    got_profile, env = extract_page(dom, collect_scripts(dom), synth.url_for(idx))
    assert got_profile == profile
    assert env == synth.golden_envelope(idx)


def test_error_pages_yield_no_rule():
    for idx in (49, 99, 149):
        assert synth.profile_for(idx) == "error"
        dom = tokenize(synth.render_page(idx).decode("utf-8"))
        prof, env = extract_page(dom, collect_scripts(dom), synth.url_for(idx))
        assert prof is None and env is None


def test_bestbuy_missing_component_key_degrades_not_errors():
    """A real page missing a componentData sub-key must surface as a
    '_degraded' envelope that keeps the already-extracted DOM fields —
    not crash into status='error' (ADVICE r2: reference :92-120 indexes
    the keys directly and would discard the whole row)."""
    idx = next(i for i in range(40)
               if synth.profile_for(i) == "escaped-component-detail")
    html = synth.render_page(idx).decode("utf-8")
    assert "whats-included" in html
    mutated = html.replace("whats-included", "whats-excluded")
    dom = tokenize(mutated)
    prof, env = extract_page(dom, collect_scripts(dom), synth.url_for(idx))
    assert prof == "escaped-component-detail"
    assert "whats-included" in env.pop("_degraded")
    gold = synth.golden_envelope(idx)
    assert env["detail"]["name"] == gold["detail"]["name"]
    assert env["detail"]["price"] == gold["detail"]["price"]
    assert env["detail"]["included_items"] == []
