"""Golden parse tests ported from the reference's own suite
(/root/reference/test/html5ever_test.exs and lib/html5ever.ex doctests).

Elixir terms map to Python as: tuples → tuples, `:comment` atoms →
leading "comment" string tag, maps → dicts, charlists → str.
"""

import pathlib

import pytest

from html5ever_elixir_spark.parser import (
    flat_parse,
    flat_parse_attrs_maps,
    parse,
    parse_attrs_maps,
)
from html5ever_elixir_spark.parser.api import UTF8_ERROR

# hand-written real-page-shaped documents (a small placeholder page; a
# >100-node link-farm page with nav, tables, scripts and entities)
FIXTURES = pathlib.Path(__file__).resolve().parent / "fixtures"

INVALID_UTF8 = bytes(
    [98, 29, 104, 122, 46, 145, 14, 37, 122, 155, 227, 121, 49, 120, 108,
     209, 155, 113, 229, 98, 90, 181, 146]
)


# -- html5ever_test.exs:10-22 -------------------------------------------------
def test_parse_basic_html():
    html = "<html><head></head><body><h1>Hello</h1><!-- my comment --></body></html>"
    assert parse(html) == (
        "ok",
        [
            ("html", [], [
                ("head", [], []),
                ("body", [], [("h1", [], ["Hello"]), ("comment", " my comment ")]),
            ])
        ],
    )


# -- html5ever_test.exs:24-31, :58-65 ------------------------------------------
def test_invalid_utf8_nested():
    assert parse(INVALID_UTF8) == ("error", UTF8_ERROR)


def test_invalid_utf8_flat():
    assert flat_parse(INVALID_UTF8) == ("error", UTF8_ERROR)


# -- html5ever_test.exs:33-56 ---------------------------------------------------
def test_flat_parse_basic_html():
    html = '<html><head></head><body test="woo"></body></html>'
    assert flat_parse(html) == (
        "ok",
        {
            "root": 0,
            "nodes": {
                0: {"children": [1], "id": 0, "parent": None, "type": "document"},
                1: {"children": [2, 3], "id": 1, "parent": 0, "type": "element",
                    "attrs": [], "name": "html"},
                2: {"children": [], "id": 2, "parent": 1, "type": "element",
                    "attrs": [], "name": "head"},
                3: {"children": [], "id": 3, "parent": 1, "type": "element",
                    "attrs": [("test", "woo")], "name": "body"},
            },
        },
    )


# -- html5ever_test.exs:67-91 ----------------------------------------------------
def test_flat_parse_attrs_maps_dedup():
    html = (
        '<html><head></head>'
        '<body test="woo" class="content" test="baz"></body></html>'
    )
    assert flat_parse_attrs_maps(html) == (
        "ok",
        {
            "root": 0,
            "nodes": {
                0: {"children": [1], "id": 0, "parent": None, "type": "document"},
                1: {"children": [2, 3], "id": 1, "parent": 0, "type": "element",
                    "attrs": {}, "name": "html"},
                2: {"children": [], "id": 2, "parent": 1, "type": "element",
                    "attrs": {}, "name": "head"},
                3: {"children": [], "id": 3, "parent": 1, "type": "element",
                    "attrs": {"test": "woo", "class": "content"}, "name": "body"},
            },
        },
    )


# -- lib/html5ever.ex:32-37 doctest -----------------------------------------------
def test_doctest_parse():
    assert parse("<!doctype html><html><body><h1>Hello world</h1></body></html>") == (
        "ok",
        [
            ("doctype", "html", "", ""),
            ("html", [], [("head", [], []),
                          ("body", [], [("h1", [], ["Hello world"])])]),
        ],
    )


# -- lib/html5ever.ex:52-59 doctest -------------------------------------------------
def test_doctest_parse_attrs_maps():
    assert parse_attrs_maps(
        "<!doctype html><html><body><h1 class=title>Hello world</h1></body></html>"
    ) == (
        "ok",
        [
            ("doctype", "html", "", ""),
            ("html", {}, [("head", {}, []),
                          ("body", {}, [("h1", {"class": "title"},
                                         ["Hello world"])])]),
        ],
    )


# -- lib/html5ever.ex:73-114 doctest ---------------------------------------------------
def test_doctest_flat_parse():
    assert flat_parse(
        "<!doctype html><html><body><h1>Hello world</h1></body></html>"
    ) == (
        "ok",
        {
            "root": 0,
            "nodes": {
                0: {"id": 0, "parent": None, "type": "document", "children": [1, 2]},
                1: {"id": 1, "parent": 0, "type": "doctype", "name": "html"},
                2: {"attrs": [], "children": [3, 4], "id": 2, "name": "html",
                    "parent": 0, "type": "element"},
                3: {"attrs": [], "children": [], "id": 3, "name": "head",
                    "parent": 2, "type": "element"},
                4: {"attrs": [], "children": [5], "id": 4, "name": "body",
                    "parent": 2, "type": "element"},
                5: {"attrs": [], "children": [6], "id": 5, "name": "h1",
                    "parent": 4, "type": "element"},
                6: {"contents": "Hello world", "id": 6, "parent": 5,
                    "type": "text"},
            },
        },
    )


# -- html5ever_test.exs:93-111 (real pages smoke) ----------------------------------------
@pytest.mark.parametrize(
    "name, min_nodes",
    [("placeholder_page.html", 10), ("linkfarm_page.html", 100)],
)
def test_parse_real_pages(name, min_nodes):
    html = (FIXTURES / name).read_bytes()
    ok, tree = parse(html)
    assert ok == "ok"
    ok, flat = flat_parse(html)
    assert ok == "ok"
    assert flat["root"] == 0
    assert len(flat["nodes"]) > min_nodes


# -- html5ever_test.exs:113-121 (unbalanced stress) ---------------------------------------
def test_unbalanced_divs():
    html = "<div>" * 100
    ok, tree = parse(html)
    assert ok == "ok"
    ok, flat = flat_parse(html)
    assert ok == "ok"
    # 100-deep chain exists
    assert len(flat["nodes"]) == 100 + 4  # doc, html, head, body + 100 divs


def test_unbalanced_divs_deep_10k():
    # far beyond the reference's 100: iterative encoders must not blow up
    html = "<div>" * 10000
    ok, flat = flat_parse(html)
    assert ok == "ok"
    assert len(flat["nodes"]) == 10004


# -- html5ever_test.exs:123-186 ---------------------------------------------------------
DEEP_HTML = """<!doctype html>
<html>
  <head>
    <title>Test</title>
  </head>
  <body>
    <div class="content">
      <span>
        <div>
          <span>
            <small>
            very deep content
            </small>
          </span>
        </div>
        <img src="file.jpg" />
      </span>
    </div>
  </body>
</html>
"""


def test_reasonably_deep_html():
    assert parse(DEEP_HTML) == (
        "ok",
        [
            ("doctype", "html", "", ""),
            ("html", [], [
                ("head", [], ["\n    ", ("title", [], ["Test"]), "\n  "]),
                "\n  ",
                ("body", [], [
                    "\n    ",
                    ("div", [("class", "content")], [
                        "\n      ",
                        ("span", [], [
                            "\n        ",
                            ("div", [], [
                                "\n          ",
                                ("span", [], [
                                    "\n            ",
                                    ("small", [],
                                     ["\n            very deep content\n            "]),
                                    "\n          ",
                                ]),
                                "\n        ",
                            ]),
                            "\n        ",
                            ("img", [("src", "file.jpg")], []),
                            "\n      ",
                        ]),
                        "\n    ",
                    ]),
                    "\n  \n\n",
                ]),
            ]),
        ],
    )


def test_reasonably_deep_html_attrs_maps():
    ok, document = parse_attrs_maps(DEEP_HTML)
    assert ok == "ok"
    assert document == [
        ("doctype", "html", "", ""),
        ("html", {}, [
            ("head", {}, ["\n    ", ("title", {}, ["Test"]), "\n  "]),
            "\n  ",
            ("body", {}, [
                "\n    ",
                ("div", {"class": "content"}, [
                    "\n      ",
                    ("span", {}, [
                        "\n        ",
                        ("div", {}, [
                            "\n          ",
                            ("span", {}, [
                                "\n            ",
                                ("small", {},
                                 ["\n            very deep content\n            "]),
                                "\n          ",
                            ]),
                            "\n        ",
                        ]),
                        "\n        ",
                        ("img", {"src": "file.jpg"}, []),
                        "\n      ",
                    ]),
                    "\n    ",
                ]),
                "\n  \n\n",
            ]),
        ]),
    ]


# -- html5ever_test.exs:257-284 (template contents detached) -------------------------------
def test_template_contents_ignored():
    html = """<!doctype html>
<html>
<head><title>With template</title></head>
<body>
<h1>Document</h1>
<template>
  <h2>Flower</h2>
  <img src="img_white_flower.jpg" width="214" height="204">
</template>
</body>
</html>
"""
    assert parse(html) == (
        "ok",
        [
            ("doctype", "html", "", ""),
            ("html", [], [
                ("head", [], [("title", [], ["With template"])]),
                "\n",
                ("body", [], [
                    "\n", ("h1", [], ["Document"]), "\n",
                    ("template", [], []), "\n\n\n",
                ]),
            ]),
        ],
    )


# -- html5ever_test.exs:286-321 (XML prolog → comment) ---------------------------------------
def test_xml_prolog_becomes_comment():
    html = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        "<!-- also a comment is allowed -->\n"
        '<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Strict//EN" '
        '"http://www.w3.org/TR/xhtml1/DTD/xhtml1-strict.dtd">\n'
        '<html xmlns="http://www.w3.org/1999/xhtml" xml:lang="en" lang="en">\n'
        "  <head><title>Hello</title></head>\n"
        "  <body>\n"
        '    <a id="anchor" href="https://example.com">link</a>\n'
        "  </body>\n"
        "</html>\n"
    )
    assert parse(html) == (
        "ok",
        [
            ("comment", '?xml version="1.0" encoding="UTF-8"?'),
            ("comment", " also a comment is allowed "),
            ("doctype", "html", "-//W3C//DTD XHTML 1.0 Strict//EN",
             "http://www.w3.org/TR/xhtml1/DTD/xhtml1-strict.dtd"),
            ("html",
             [("xmlns", "http://www.w3.org/1999/xhtml"), ("xml:lang", "en"),
              ("lang", "en")],
             [
                 ("head", [], [("title", [], ["Hello"])]),
                 "\n  ",
                 ("body", [], [
                     "\n    ",
                     ("a", [("id", "anchor"), ("href", "https://example.com")],
                      ["link"]),
                     "\n  \n\n",
                 ]),
             ]),
        ],
    )
