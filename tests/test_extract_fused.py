"""extract_all (fused single-pass) must byte-match the four separate
helpers on every corpus we have — the DuckDB oracles depend on it."""

import pathlib

from html5ever_elixir_spark.parser.api import parse_document
from html5ever_elixir_spark.parser.extract import (
    dom_metrics,
    extract_all,
    extract_links,
    extract_text,
    extract_title,
)
from html5ever_elixir_spark.sources.pages import _CASES, _LINKFARM

FIXTURES = pathlib.Path(__file__).resolve().parent / "fixtures"

DOCS = (
    [html for _, html in _CASES]
    + [_LINKFARM]
    + [(FIXTURES / n).read_text()
       for n in ("placeholder_page.html", "linkfarm_page.html")]
    + [
        "<title>T1</title><svg><title>svg t</title></svg><title>T2</title>",
        "<div class='sidebar'><a href='/x'>x</a><title>inside</title></div><p>keep</p>",
        "",
        "<table><td><nav><a href=/n>n</a></nav>cell",
    ]
)


def test_fused_equals_separate_everywhere():
    for html in DOCS:
        doc = parse_document(html).doc
        fused = extract_all(doc)
        m = dom_metrics(doc)
        assert fused["text"] == extract_text(doc), html[:60]
        assert fused["title"] == extract_title(doc), html[:60]
        assert fused["links"] == extract_links(doc), html[:60]
        for k in ("n_nodes", "n_elements", "n_text_chars", "n_anchors",
                  "max_depth"):
            assert fused[k] == m[k], (k, html[:60])


def test_extract_v2_density_thresholds():
    from html5ever_elixir_spark.parser.extract import extract_text_v2

    doc = parse_document(
        "<body><h1>Stub</h1>"
        "<p>a long enough paragraph of real body prose content</p>"
        "<div><a href='/x'>linky link link</a> y</div></body>"
    ).doc
    # stub (<15 chars) dropped; link-dominated block dropped; prose kept
    assert extract_text_v2(doc) == (
        "a long enough paragraph of real body prose content"
    )
