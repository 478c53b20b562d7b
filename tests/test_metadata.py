"""page_metadata: head-metadata extraction over real parsed nodes."""

import pyspark.sql.functions as F
import pytest

from html5ever_elixir_spark.operators.metadata import page_metadata


def _meta(spark, rows):
    df = spark.createDataFrame(rows, "url string, html string")
    return {r["url"]: r.asDict() for r in page_metadata(df).collect()}


def test_full_head(spark):
    out = _meta(
        spark,
        [(
            "u1",
            '<!doctype html><html lang="fr"><head>'
            "<title>T &amp; A</title>"
            '<meta name="Description" content="d1">'
            '<meta property="og:title" content="o1">'
            '<link rel="prev canonical" href="https://c/x">'
            '<script type="application/LD+JSON">'
            '{"@type":"NewsArticle"}</script>'
            "</head><body></body></html>",
        )],
    )["u1"]
    assert out["title"] == "T & A"  # entity decoded by the real parser
    assert out["description"] == "d1"  # capital-D name matched
    assert out["og_title"] == "o1"
    assert out["canonical"] == "https://c/x"  # rel token list
    assert out["jsonld_type"] == "NewsArticle"  # uppercase type attr
    assert out["html_lang"] == "fr"


def test_missing_fields_are_null_and_first_wins(spark):
    out = _meta(
        spark,
        [
            ("bare", "<html><body><p>no head metadata</p></body></html>"),
            (
                "dup",
                "<head><title>first</title><title>second</title>"
                '<meta name="description" content="a">'
                '<meta name="description" content="b"></head>',
            ),
        ],
    )
    bare = out["bare"]
    assert all(
        bare[k] is None
        for k in ("title", "description", "og_title", "canonical",
                  "jsonld_type", "html_lang")
    )
    assert out["dup"]["title"] == "first"
    assert out["dup"]["description"] == "a"


def test_non_matching_rel_and_type(spark):
    out = _meta(
        spark,
        [(
            "u",
            '<head><link rel="canonicalish" href="https://no">'
            '<script type="text/javascript">{"@type":"No"}</script></head>',
        )],
    )["u"]
    assert out["canonical"] is None  # token match, not substring
    assert out["jsonld_type"] is None


def test_error_rows_absent(spark):
    df = spark.createDataFrame(
        [("ok", bytearray(b"<title>t</title>")),
         ("bad", bytearray(bytes([0xFF, 0xFE, 0x91])))],
        "url string, html binary",
    )
    urls = {r.url for r in page_metadata(df).collect()}
    assert urls == {"ok"}  # undecodable page contributes no metadata row


def test_plan_has_no_window(spark):
    df = spark.createDataFrame([("u", "<title>t</title>")],
                               "url string, html string")
    plan = page_metadata(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# jsonld_records: ALL ld+json blocks per page, in document order


def test_jsonld_records_order_and_parse(spark):
    from html5ever_elixir_spark.operators.metadata import jsonld_records

    df = spark.createDataFrame(
        [(
            "u1",
            "<html><head>"
            '<script type="application/ld+json">'
            '{"@type":"Article","x":1}</script>'
            '<script type="text/javascript">var a=1;</script>'
            '<script type=" Application/LD+JSON ">'
            '{"@type":"Recipe","x":2}</script>'
            "</head><body></body></html>",
        ), (
            "u2",
            "<html><head><title>no ld</title></head><body></body></html>",
        )],
        "url string, html string",
    )
    rows = jsonld_records(pages=df).collect()
    by_key = {(r.url, r.block_idx): r.raw for r in rows}
    # u2 has no blocks at all; u1 has exactly two, in document order,
    # the non-ld script filtered out and the type match case/space-lax
    assert set(by_key) == {("u1", 1), ("u1", 2)}
    assert '"Article"' in by_key[("u1", 1)]
    assert '"Recipe"' in by_key[("u1", 2)]


def test_jsonld_records_malformed_json_null_fields(spark):
    import pyspark.sql.functions as F

    from html5ever_elixir_spark.operators.metadata import jsonld_records

    df = spark.createDataFrame(
        [(
            "u1",
            '<html><head><script type="application/ld+json">'
            '{"@type":"Article","n":</script></head><body></body></html>',
        )],
        "url string, html string",
    )
    out = (
        jsonld_records(pages=df)
        .select(
            "url",
            F.get_json_object("raw", "$['@type']").alias("t"),
            F.get_json_object("raw", "$.n").alias("n"),
        )
        .collect()
    )
    assert len(out) == 1  # the block row survives …
    assert out[0].t is None and out[0].n is None  # … with NULL fields


def test_first_match_wins_even_when_null_and_bare_names(spark):
    out = _meta(
        spark,
        [
            ("null_first",
             '<head><meta name="description">'
             '<meta name="description" content="late"></head>'),
            # a foreign-content <title> matches by its bare name
            ("svg", "<body><svg><title>s</title></svg></body>"),
            # Spark-style whitespace: a tab neither splits rel tokens nor
            # is stripped from the script type
            ("tabs",
             '<head><link rel="x\tcanonical" href="https://c">'
             '<script type="\tapplication/ld+json">{"@type":"T"}</script>'
             "</head>"),
        ],
    )
    assert out["null_first"]["description"] is None
    assert out["svg"]["title"] == "s"
    assert out["tabs"]["canonical"] is None
    assert out["tabs"]["jsonld_type"] is None


def test_pages_sharing_a_url_keep_their_own_rows(spark):
    from html5ever_elixir_spark.operators.graph import link_edges
    from html5ever_elixir_spark.operators.outline import (
        heading_outline,
        section_chunks,
    )

    url = "https://h.example/page1"
    df = spark.createDataFrame(
        [(url, '<title>dup1</title><h1>x</h1><p>a</p><a href="/p/2">d1</a>'),
         (url, '<title>dup2</title><h1>y</h1><p>b</p><a href="/p/3">d2</a>'),
         (None, '<title>nu</title><h1>z</h1><p>c</p><a href="/p/4">n</a>')],
        "url string, html string",
    )

    def rows(out):
        return sorted((tuple(r) for r in out.collect()), key=repr)

    assert rows(page_metadata(df).select("url", "title")) == sorted(
        [(url, "dup1"), (url, "dup2"), (None, "nu")], key=repr
    )
    # the null url has no page id, so its anchor is not an edge
    assert rows(link_edges(df)) == [(1, 2, "d1"), (1, 3, "d2")]
    assert rows(heading_outline(df)) == sorted(
        [(url, 1, 1, "x", None), (url, 1, 1, "y", None),
         (None, 1, 1, "z", None)], key=repr
    )
    assert rows(section_chunks(df)) == sorted(
        [(url, 1, "x", "a", 1), (url, 1, "y", "b", 1),
         (None, 1, "z", "c", 1)], key=repr
    )
