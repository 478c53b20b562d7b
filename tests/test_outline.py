"""heading_outline: h1-h6 document structure over real parsed nodes."""

from html5ever_elixir_spark.operators.outline import heading_outline


def _rows(spark, html, url="u1"):
    df = spark.createDataFrame([(url, html)], "url string, html string")
    return sorted(
        (r.heading_idx, r.level, r.text, r.parent_idx)
        for r in heading_outline(pages=df).collect()
    )


def test_basic_nesting_and_pop(spark):
    got = _rows(
        spark,
        "<html><body><h1>A</h1><p>x</p><h2>B</h2><h3>C</h3>"
        "<h2>D</h2><h6>E</h6></body></html>",
    )
    assert got == [
        (1, 1, "A", None),
        (2, 2, "B", 1),
        (3, 3, "C", 2),
        (4, 2, "D", 1),   # pops back to the h1
        (5, 6, "E", 4),   # skipped levels attach to nearest shallower
    ]


def test_leading_deep_heading_has_no_parent(spark):
    got = _rows(
        spark, "<html><body><h3>A</h3><h1>B</h1><h2>C</h2></body></html>"
    )
    assert got == [
        (1, 3, "A", None),  # nothing shallower precedes it
        (2, 1, "B", None),
        (3, 2, "C", 2),
    ]


def test_entity_decoding_and_direct_children_only(spark):
    got = _rows(
        spark,
        "<html><body><h1>T &amp; <b>bold</b> tail</h1></body></html>",
    )
    # direct text children only ('bold' belongs to <b>), entities decoded
    assert got == [(1, 1, "T &  tail", None)]


def test_no_headings_no_rows(spark):
    assert _rows(spark, "<html><body><p>just text</p></body></html>") == []


# ---------------------------------------------------------------------------
# section_chunks: heading-scoped text with path context


def test_assemble_sections_pure():
    from html5ever_elixir_spark.operators.outline import assemble_sections

    items = [
        (1, "p", 0, "pre"),               # preamble paragraph
        (2, "h", 1, "Intro"),
        (3, "p", 0, "a"), (4, "p", 0, "b"),
        (5, "h", 2, "Deep"),              # no paragraphs
        (6, "h", 2, "More"),
        (7, "p", 0, "c"),
    ]
    got = assemble_sections(items)
    assert got == [
        {"section_idx": 0, "heading_path": "", "section_text": "pre",
         "n_paragraphs": 1},
        {"section_idx": 1, "heading_path": "Intro",
         "section_text": "a b", "n_paragraphs": 2},
        {"section_idx": 2, "heading_path": "Intro > Deep",
         "section_text": "", "n_paragraphs": 0},
        {"section_idx": 3, "heading_path": "Intro > More",
         "section_text": "c", "n_paragraphs": 1},
    ]


def test_section_chunks_end_to_end(spark):
    from html5ever_elixir_spark.operators.outline import section_chunks

    df = spark.createDataFrame(
        [(
            "u1",
            "<html><body><p>lead</p><h1>A</h1><p>one</p><p>two</p>"
            "<h2>B</h2><p>three</p></body></html>",
        ), (
            "u2",
            "<html><body><p>only text no headings</p></body></html>",
        )],
        "url string, html string",
    )
    rows = sorted(
        (r.url, r.section_idx, r.heading_path, r.section_text,
         r.n_paragraphs)
        for r in section_chunks(pages=df).collect()
    )
    assert rows == [
        ("u1", 0, "", "lead", 1),
        ("u1", 1, "A", "one two", 2),
        ("u1", 2, "A > B", "three", 1),
        ("u2", 0, "", "only text no headings", 1),
    ]
