"""Spec-conformance regression tests for adversarial constructs
(adoption agency, foster parenting, entities, script escapes, table
synthesis). Expected trees verified against WHATWG-spec/browser
behavior at introduction time; these lock the behavior down."""

from html5ever_elixir_spark.parser import parse


def body(tree):
    # tree = [("html", [], [head, body, ...])]
    html = next(n for n in tree if isinstance(n, tuple) and n[0] == "html")
    return next(n for n in html[2] if isinstance(n, tuple) and n[0] == "body")


def test_adoption_agency_misnested_b_i():
    ok, tree = parse("<p>1<b>2<i>3</b>4</i>5</p>")
    assert body(tree)[2] == [
        ("p", [], ["1", ("b", [], ["2", ("i", [], ["3"])]),
                   ("i", [], ["4"]), "5"])
    ]


def test_adoption_agency_a_across_divs():
    ok, tree = parse("<a href=x>1<div>2<div>3</a>4</div></div>")
    assert body(tree)[2] == [
        ("a", [("href", "x")], ["1"]),
        ("div", [], [
            ("a", [("href", "x")], ["2"]),
            ("div", [], [("a", [("href", "x")], ["3"]), "4"]),
        ]),
    ]


def test_formatting_reconstruction_across_p():
    ok, tree = parse("<b><p>one</b>two")
    assert body(tree)[2] == [
        ("b", [], []),
        ("p", [], [("b", [], ["one"]), "two"]),
    ]


def test_foster_parented_text_before_table():
    ok, tree = parse("<table><tr><td>cell</td></tr>foster</table>")
    assert body(tree)[2] == [
        "foster",
        ("table", [], [("tbody", [], [("tr", [], [("td", [], ["cell"])])])]),
    ]


def test_foster_parented_element():
    ok, tree = parse("<table><div>oops</div><tr><td>x</td></tr></table>")
    assert body(tree)[2] == [
        ("div", [], ["oops"]),
        ("table", [], [("tbody", [], [("tr", [], [("td", [], ["x"])])])]),
    ]


def test_implied_tbody_tr_td():
    ok, tree = parse("<table><td>a<td>b")
    assert body(tree)[2] == [
        ("table", [], [("tbody", [], [
            ("tr", [], [("td", [], ["a"]), ("td", [], ["b"])])
        ])]),
    ]


def test_li_auto_close():
    ok, tree = parse("<ul><li>a<li>b</ul>")
    assert body(tree)[2] == [
        ("ul", [], [("li", [], ["a"]), ("li", [], ["b"])]),
    ]


def test_entities_and_numeric_refs():
    ok, tree = parse("<p>&amp; &lt;tag&gt; &copy; &notin; &#65; &#x42; &ampy</p>")
    assert body(tree)[2] == [("p", [], ["& <tag> © ∉ A B &y"])]


def test_legacy_entity_in_attr_not_expanded_before_equals():
    ok, tree = parse("<p title='&amp=1'>x</p>")
    assert body(tree)[2] == [("p", [("title", "&amp=1")], ["x"])]


def test_script_double_escape():
    ok, tree = parse(
        "<script><!-- document.write('<script>x</scr'+'ipt>') --></script>"
        "<p>after</p>"
    )
    html = tree[0]
    head = html[2][0]
    assert head == ("head", [], [
        ("script", [], ["<!-- document.write('<script>x</scr'+'ipt>') -->"])
    ])
    assert body(tree)[2] == [("p", [], ["after"])]


def test_rcdata_title_keeps_raw_markupish_text():
    ok, tree = parse("<title>a < b & c</title>")
    head = tree[0][2][0]
    assert head == ("head", [], [("title", [], ["a < b & c"])])


def test_textarea_leading_newline_skipped():
    ok, tree = parse("<textarea>\nfirst</textarea>")
    assert body(tree)[2] == [("textarea", [], ["first"])]


def test_select_option_auto_close():
    ok, tree = parse("<select><option>a<option>b</select>")
    assert body(tree)[2] == [
        ("select", [], [("option", [], ["a"]), ("option", [], ["b"])]),
    ]


def test_svg_with_foreign_object_html_island():
    ok, tree = parse(
        '<svg viewBox="0 0 1 1"><circle r=1 /><foreignObject><p>h</p>'
        "</foreignObject></svg>"
    )
    assert body(tree)[2] == [
        ("svg", [("viewBox", "0 0 1 1")], [
            ("circle", [("r", "1")], []),
            ("foreignObject", [], [("p", [], ["h"])]),
        ]),
    ]


def test_mathml_annotation_xml_html_integration():
    ok, tree = parse(
        "<math><mi>x</mi><annotation-xml encoding='text/html'><p>h</p>"
        "</annotation-xml></math>"
    )
    assert body(tree)[2] == [
        ("math", [], [
            ("mi", [], ["x"]),
            ("annotation-xml", [("encoding", "text/html")],
             [("p", [], ["h"])]),
        ]),
    ]


def test_svg_breakout_to_html():
    # <p> inside raw svg (not an integration point) breaks out
    ok, tree = parse("<svg><rect/><p>broke out</p>")
    assert body(tree)[2] == [
        ("svg", [], [("rect", [], [])]),
        ("p", [], ["broke out"]),
    ]


def test_eof_in_comment_emits_comment():
    ok, tree = parse("<!-- unterminated")
    assert tree[0] == ("comment", " unterminated")


def test_abrupt_comment_close():
    ok, tree = parse("<p>a<!--->b")
    assert body(tree)[2] == [("p", [], ["a", ("comment", ""), "b"])]


def test_p_closed_by_div():
    ok, tree = parse("<div><p>para<div>sib")
    assert body(tree)[2] == [
        ("div", [], [("p", [], ["para"]), ("div", [], ["sib"])]),
    ]


def test_nul_ignored_in_body_replaced_in_foreign():
    ok, tree = parse("<p>a\x00b</p>")
    assert body(tree)[2] == [("p", [], ["ab"])]


def test_duplicate_html_attrs_merged_first_wins():
    ok, tree = parse('<html lang="a"><head></head><body></body></html><html lang="b" dir="x">')
    html = tree[0]
    assert html[1] == [("lang", "a"), ("dir", "x")]


def test_frameset_document():
    ok, tree = parse(
        "<frameset cols='50%,50%'><frame src=a><frame src=b></frameset>"
    )
    html = tree[0]
    fs = html[2][1]
    assert fs[0] == "frameset"
    assert [c[0] for c in fs[2]] == ["frame", "frame"]


def test_noahs_ark_font_soup():
    # 4 identical <font> opens: only 3 reconstructed after the text
    ok, tree = parse("<p><font>a<font>b<font>c<font>d</p><p>tail")
    p2 = body(tree)[2][1]
    depth = 0
    node = p2
    while node[0] == "p" or node[0] == "font":
        kids = [c for c in node[2] if isinstance(c, tuple)]
        if not kids:
            break
        node = kids[0]
        if node[0] == "font":
            depth += 1
    assert depth == 3


def test_quirks_mode_table_stays_in_p():
    # no doctype → quirks → <table> does NOT close an open <p>
    ok, tree = parse("<p>x<table><td>y")
    assert body(tree)[2] == [
        ("p", [], ["x", ("table", [], [("tbody", [], [
            ("tr", [], [("td", [], ["y"])])
        ])])]),
    ]


def test_standards_mode_table_closes_p():
    ok, tree = parse("<!doctype html><p>x<table><td>y")
    assert body(tree)[2] == [
        ("p", [], ["x"]),
        ("table", [], [("tbody", [], [("tr", [], [("td", [], ["y"])])])]),
    ]


def test_doctype_public_and_system_ids():
    ok, tree = parse(
        "<!DOCTYPE HTML PUBLIC '-//W3C//DTD HTML 4.01//EN' "
        "'http://www.w3.org/TR/html4/strict.dtd'><p>a"
    )
    assert tree[0] == ("doctype", "html", "-//W3C//DTD HTML 4.01//EN",
                       "http://www.w3.org/TR/html4/strict.dtd")


def test_doctype_system_only():
    ok, tree = parse("<!doctype html system 'about:legacy-compat'><p>a")
    assert tree[0] == ("doctype", "html", "", "about:legacy-compat")


def test_doctype_empty():
    ok, tree = parse("<!doctype>")
    assert tree[0] == ("doctype", "", "", "")


def test_aaa_blocked_by_cell_scope():
    # </b> inside <td>: b is outside the cell scope boundary → ignored;
    # X lands back inside the still-open <b>
    ok, tree = parse("<b><table><td></b><i></table>X")
    assert body(tree)[2] == [
        ("b", [], [
            ("table", [], [("tbody", [], [("tr", [], [
                ("td", [], [("i", [], [])])
            ])])]),
            "X",
        ]),
    ]


def test_a_around_p_reconstruction():
    ok, tree = parse("<a>1<p>2</a>3</p>")
    assert body(tree)[2] == [
        ("a", [], ["1"]),
        ("p", [], [("a", [], ["2"]), "3"]),
    ]


def test_button_closes_button():
    ok, tree = parse("<button>a<p>b<button>c")
    assert body(tree)[2] == [
        ("button", [], ["a", ("p", [], ["b"])]),
        ("button", [], ["c"]),
    ]


def test_second_form_in_table_ignored():
    ok, tree = parse("<form><table><form><td>x")
    assert body(tree)[2] == [
        ("form", [], [("table", [], [("tbody", [], [("tr", [], [
            ("td", [], ["x"])
        ])])])]),
    ]


def test_table_start_ignored_in_select():
    ok, tree = parse("<select><table><option>o")
    assert body(tree)[2] == [("select", [], [("option", [], ["o"])])]


def test_charref_longest_match_and_numeric_bounds():
    ok, tree = parse("<p>&not;in &notit; &#0; &#x110000;</p>")
    assert body(tree)[2] == [("p", [], ["¬in ¬it; � �"])]


def test_attr_edge_cases():
    ok, tree = parse("<div a=b c>t</div>")
    assert body(tree)[2] == [("div", [("a", "b"), ("c", "")], ["t"])]
    ok, tree = parse("<div =x>t</div>")
    assert body(tree)[2] == [("div", [("=x", "")], ["t"])]
    ok, tree = parse("<div a\"b='c'>t</div>")
    assert body(tree)[2] == [("div", [('a"b', "c")], ["t"])]


def test_eof_in_tag_drops_token():
    ok, tree = parse("<div a='x'")
    assert body(tree)[2] == []


def test_plaintext_consumes_rest_raw():
    ok, tree = parse("<plaintext><div>raw</div>")
    assert body(tree)[2] == [("plaintext", [], ["<div>raw</div>"])]


def test_rcdata_end_tag_attrs_dropped():
    ok, tree = parse("<title x=1>t</title x=2>after")
    head = tree[0][2][0]
    assert head == ("head", [], [("title", [("x", "1")], ["t"])])
    assert body(tree)[2] == ["after"]


def test_caption_closed_by_cell():
    ok, tree = parse("<table><caption>cap<td>cell")
    assert body(tree)[2] == [
        ("table", [], [
            ("caption", [], ["cap"]),
            ("tbody", [], [("tr", [], [("td", [], ["cell"])])]),
        ]),
    ]


def test_caption_close_counts_open_child_as_parse_error():
    # closing the caption while <b> is still the current node is a
    # parse error, on the </caption> path and the </table> path alike;
    # the missing doctype is the other one
    from html5ever_elixir_spark.parser.api import parse_document

    for html in ("<table><caption><b>x</caption></table>",
                 "<table><caption><b>x</table>"):
        b = parse_document(html)
        assert b.parse_errors + b.tokenizer.parse_errors == 2, html
    b = parse_document("<table><caption>x</caption></table>")
    assert b.parse_errors + b.tokenizer.parse_errors == 1


def test_heading_closes_heading():
    ok, tree = parse("<h1>a<h2>b")
    assert body(tree)[2] == [("h1", [], ["a"]), ("h2", [], ["b"])]


def test_li_behind_div_still_closes():
    ok, tree = parse("<ul><li>a<div><li>b")
    assert body(tree)[2] == [
        ("ul", [], [("li", [], ["a", ("div", [], [])]), ("li", [], ["b"])]),
    ]


def test_parse_budget_exceeded():
    import pytest as _pytest

    from html5ever_elixir_spark.parser.api import parse_document
    from html5ever_elixir_spark.parser.treebuilder import ParseBudgetExceeded

    with _pytest.raises(ParseBudgetExceeded):
        parse_document("<div>" * 100, max_nodes=50)
    # no budget → parses fine
    assert parse_document("<div>" * 100).next_id == 104


def test_template_hidden_document_id_order():
    # reference arena_sink.rs:267-276: Rust evaluates the struct argument
    # (incl. template_contents: Some(self.new_node(Document))) before the
    # outer new_node call — hidden document id n, template element id n+1
    from html5ever_elixir_spark.parser.api import parse_document
    from html5ever_elixir_spark.parser.dom import ELEMENT

    doc = parse_document("<body><template><p>x</p></template>").doc
    stack = [doc]
    while stack:
        node = stack.pop()
        if node.type == ELEMENT and node.name == "template":
            assert node.template_contents.id == node.id - 1
            assert node.children == []  # contents detached
            assert node.template_contents.children[0].name == "p"
            return
        stack.extend(node.children)
    raise AssertionError("template not found")


def test_class_based_boilerplate_skipped():
    from html5ever_elixir_spark.parser.api import parse_document
    from html5ever_elixir_spark.parser.extract import extract_text

    doc = parse_document(
        "<body><div class='sidebar'>junk links</div>"
        "<p>real content here</p>"
        "<div id='comments'><p>spam</p></div></body>"
    ).doc
    assert extract_text(doc) == "real content here"


def test_max_depth_budget():
    import pytest as _pytest

    from html5ever_elixir_spark.parser.api import parse_document
    from html5ever_elixir_spark.parser.treebuilder import ParseBudgetExceeded

    with _pytest.raises(ParseBudgetExceeded):
        parse_document("<div>" * 600, max_depth=512)
    # real-world depth passes
    assert parse_document("<div>" * 400, max_depth=512).next_id == 404
