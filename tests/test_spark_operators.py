"""Spark-side operator tests at sf0.001 (fast gate; the full
query-vs-DuckDB-oracle sweep lives in tools/oracle_check.py and runs
per-round via the driver at sf0.01)."""

import pyspark.sql.functions as F
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pages(spark):
    from html5ever_elixir_spark.sources.pages import pages_from_documents

    return pages_from_documents(spark, SF).cache()


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"url", "error", "text", "title", "n_nodes"}
    assert set(e.queries()) >= set(e.oracle_sql())


def test_extraction_parity_vs_fixture_column(spark, pages):
    from html5ever_elixir_spark.operators.parse import parse_and_extract

    parsed = parse_and_extract(pages)
    mism = (
        parsed.join(pages.select("url", F.col("text").alias("expected")), "url")
        .where("text <> expected OR text IS NULL")
        .count()
    )
    assert mism == 0


def test_flat_nodes_structure(spark, pages):
    from html5ever_elixir_spark.operators.parse import flat_parse_nodes

    nodes = flat_parse_nodes(pages.limit(50)).cache()
    assert nodes.where("node_id = 0").where("type <> 'document'").count() == 0
    assert nodes.where("parent_id IS NULL AND node_id <> 0").count() == 0
    # children ids all exist per url
    child = nodes.select("url", F.explode("children").alias("cid"))
    orphan = child.join(
        nodes.select("url", F.col("node_id").alias("cid")), ["url", "cid"],
        "left_anti",
    )
    assert orphan.count() == 0


def test_invalid_utf8_rows_error_not_fail(spark):
    from html5ever_elixir_spark.operators.parse import parse_and_extract
    from html5ever_elixir_spark.parser.api import UTF8_ERROR
    from html5ever_elixir_spark.sources.pages import synth_pages

    parsed = parse_and_extract(synth_pages(spark, 100)).cache()
    errs = parsed.where("error IS NOT NULL")
    assert errs.count() > 0
    assert errs.select("error").first()[0] == UTF8_ERROR
    assert errs.where("text IS NOT NULL").count() == 0
    assert parsed.where("error IS NULL").count() + errs.count() == 100


def test_exact_dedup(spark):
    from html5ever_elixir_spark.operators.dedup import exact_dedup

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y")], "doc_id bigint, text string"
    )
    out = {r.text_hash: (r.keep_id, r.group_size) for r in exact_dedup(docs).collect()}
    assert sorted(v for v in out.values()) == [(1, 2), (3, 1)]


def test_minhash_identical_docs_share_all_bands(spark):
    from html5ever_elixir_spark.operators.dedup import lsh_candidate_pairs

    docs = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6 w7 w8"), (2, "w1 w2 w3 w4 w5 w6 w7 w8"),
         (3, "z1 z2 z3 z4 z5 z6 z7 z8")],
        "doc_id bigint, text string",
    )
    pairs = [(r.id_a, r.id_b) for r in lsh_candidate_pairs(docs).collect()]
    assert pairs == [(1, 2)]


def test_cosine_topk_self_excluded_and_ranked(spark):
    from html5ever_elixir_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = cosine_topk(emb, n_queries=3, k=4).collect()
    assert len(out) == 12
    by_q = {}
    for r in out:
        assert r.query_id != r.neighbor_id
        by_q.setdefault(r.query_id, []).append((r.rank, r.sim))
    for q, rs in by_q.items():
        rs.sort()
        sims = [s for _, s in rs]
        assert sims == sorted(sims, reverse=True)


def test_multimodal_plumbing(spark):
    from html5ever_elixir_spark.operators.multimodal import extract_media_features

    media = spark.createDataFrame(
        [(1, "image", bytearray(b"\x01\x02\x03" * 100), (10, 10, "image/fake")),
         (2, "image", None, (0, 0, "image/fake"))],
        "media_id bigint, kind string, payload binary, "
        "meta struct<width:int,height:int,mime:string>",
    )
    out = {r.media_id: r for r in extract_media_features(media).collect()}
    assert out[1].n_bytes == 300
    assert len(out[1].feature) == 8
    assert out[1].decode_error is None
    assert out[2].decode_error is not None
    assert out[2].feature is None


# ---------------------------------------------------------------------------
# WET conversion records (extracted-text WARC): writer + reader


def test_wet_roundtrip_plain_and_gzip(spark):
    from html5ever_elixir_spark.sources.warc import make_wet, wet_to_text

    recs = [
        ("https://a/1", "2024-01-01T00:00:00Z", "hello world"),
        ("https://a/2", "2024-01-01T00:00:01Z", "héllo — unicode ✓"),
        ("https://a/3", "2024-01-01T00:00:02Z", ""),  # empty text survives
    ]
    df = spark.createDataFrame(
        [(0, bytearray(make_wet(recs))),
         (1, bytearray(make_wet(recs, gzip_records=True)))],
        "wet_id long, content binary",
    )
    out = wet_to_text(df).collect()
    assert len(out) == 6 and all(r.error is None for r in out)
    for wid in (0, 1):
        got = sorted(
            (r.url, r.warc_ts, r.text) for r in out if r.wet_id == wid
        )
        assert got == sorted(recs)


def test_wet_reader_skips_response_records_and_flags_bad_blobs(spark):
    from html5ever_elixir_spark.sources.warc import (
        make_warc,
        make_wet,
        wet_to_text,
    )

    mixed = make_warc(
        [("https://a/raw", "2024-01-01T00:00:00Z", b"<html>x</html>")]
    ) + make_wet([("https://a/wet", "2024-01-01T00:00:01Z", "clean text")])
    df = spark.createDataFrame(
        [(0, bytearray(mixed)), (1, bytearray(b"not a warc at all")),
         (2, None)],
        "wet_id long, content binary",
    )
    out = wet_to_text(df).collect()
    ok = [r for r in out if r.wet_id == 0]
    bad = [r for r in out if r.wet_id == 1]
    null = [r for r in out if r.wet_id == 2]
    # response record skipped silently; only the conversion row emerges
    assert [(r.url, r.text) for r in ok] == [("https://a/wet", "clean text")]
    assert len(bad) == 1 and bad[0].error is not None and bad[0].url is None
    assert [(r.url, r.text, r.error) for r in null] == [
        (None, None, "null payload")
    ]


# ---------------------------------------------------------------------------
# row-level error contract of the HTML document operators


_CONTRACT_PAGE = (
    b"<!DOCTYPE html><html><head><title>Shop &amp; Co</title></head><body>"
    b"<h1>Deals</h1><p class=lead>Fresh <a href='/a'>apples</a></p>"
    b"<table><tr><th>item</th><th>price</th></tr>"
    b"<tr><td colspan=2>sold out</td></tr></table></body></html>"
)
_BUDGET_ERROR = "parse budget exceeded: document exceeds max tree depth 512"
_MD = "# Deals\n\nFresh [apples](/a)\n\n| item | price |\n| --- | --- |\n| sold out |"
_METRICS = ("n_nodes bigint, n_elements bigint, n_anchors bigint, "
            "n_text_chars bigint, max_depth bigint, n_texts bigint, "
            "n_comments bigint, n_doctypes bigint, n_pis bigint, "
            "n_documents bigint")


def test_html_operators_error_contract(spark):
    """Every HTML document operator under the four contract inputs — a
    valid page, invalid UTF-8, a 600-deep ``<div>`` bomb (depth budget)
    and null html — pinned row for row (schema included), and identical
    whether the four documents arrive as one Arrow batch or four."""
    from html5ever_elixir_spark.operators.markdown import to_markdown
    from html5ever_elixir_spark.operators.metadata import (
        jsonld_records,
        page_metadata,
    )
    from html5ever_elixir_spark.operators.outline import (
        heading_outline,
        section_chunks,
    )
    from html5ever_elixir_spark.operators.parse import (
        flat_parse_nodes,
        parse_and_extract,
    )
    from html5ever_elixir_spark.operators.select import (
        select_counts,
        select_nodes,
    )
    from html5ever_elixir_spark.operators.tables import (
        extract_table_cells,
        extract_table_grid,
    )
    from html5ever_elixir_spark.parser.api import UTF8_ERROR

    pages = spark.createDataFrame(
        [("ok", bytearray(_CONTRACT_PAGE)),
         ("utf8", bytearray(b"<p>caf\xe9</p>")),
         ("bomb", bytearray(b"<div>" * 600)),
         ("null", None)],
        "url string, html binary",
    ).coalesce(1)
    u8, bud = UTF8_ERROR, _BUDGET_ERROR
    text = "Deals\nFresh apples\nitem\nprice\nsold out"
    tree = (
        '["#doc",[["d","html","",""],["e","html",[],[["e","head",[],'
        '[["e","title",[],["Shop & Co"]]]],["e","body",[],[["e","h1",[],'
        '["Deals"]],["e","p",[["class","lead"]],["Fresh ",["e","a",'
        '[["href","/a"]],["apples"]]]],["e","table",[],[["e","tbody",[],'
        '[["e","tr",[],[["e","th",[],["item"]],["e","th",[],["price"]]]],'
        '["e","tr",[],[["e","td",[["colspan","2"]],["sold out"]]]]]]]]]]]]]]'
    )
    empty_tree = (
        '["#doc",[["e","html",[],[["e","head",[],[]],["e","body",[],[]]]]]]'
    )
    null16 = (None,) * 16
    ok_metrics = (23, 14, 1, 43, 7, 7, 0, 1, 0, 1)
    null_metrics = (4, 3, 0, 0, 2, 0, 0, 0, 0, 1)
    parsed_ddl = (
        "url string, error string, text string, title string, "
        "links array<string>, n_parse_errors bigint, tree_json string, "
        "markdown string, " + _METRICS
    )
    cases = {
        "parse_and_extract": (
            lambda d: parse_and_extract(d),
            parsed_ddl,
            [("bomb", bud, *null16),
             ("null", None, "", None, [], 1, None, None, *null_metrics),
             ("ok", None, text, "Shop & Co", ["/a"], 0, None, None,
              *ok_metrics),
             ("utf8", u8, *null16)],
        ),
        "parse_and_extract+tree+md": (
            lambda d: parse_and_extract(
                d, with_tree_json=True, with_markdown=True),
            parsed_ddl,
            [("bomb", bud, *null16),
             ("null", None, "", None, [], 1, empty_tree, "", *null_metrics),
             ("ok", None, text, "Shop & Co", ["/a"], 0, tree, _MD,
              *ok_metrics),
             ("utf8", u8, *null16)],
        ),
        "flat_parse_nodes": (
            flat_parse_nodes,
            "url string, node_id bigint, parent_id bigint, "
            "children array<bigint>, type string, name string, "
            "attrs array<struct<name:string,value:string>>, "
            "attrs_map map<string,string>, contents string",
            [("bomb", None, None, None, "error", None, None, None, bud),
             ("null", 0, None, [1], "document", None, None, None, None),
             ("null", 1, 0, [2, 3], "element", "html", [], {}, None),
             ("null", 2, 1, [], "element", "head", [], {}, None),
             ("null", 3, 1, [], "element", "body", [], {}, None),
             ("utf8", None, None, None, "error", None, None, None, u8)],
        ),
        "select_nodes": (
            lambda d: select_nodes(d, "p a, th"),
            "url string, error string, node_id bigint, name string, "
            "text string",
            [("bomb", bud, None, None, None),
             ("ok", None, 11, "a", "apples"),
             ("ok", None, 16, "th", "item"),
             ("ok", None, 18, "th", "price"),
             ("utf8", u8, None, None, None)],
        ),
        "select_counts": (
            lambda d: select_counts(d, {"links": "a", "cells": "td, th"}),
            "url string, error string, links bigint, cells bigint",
            [("bomb", bud, None, None), ("null", None, 0, 0),
             ("ok", None, 1, 3), ("utf8", u8, None, None)],
        ),
        "extract_table_cells": (
            extract_table_cells,
            "url string, error string, table_idx bigint, row_idx bigint, "
            "col_idx bigint, is_header bigint, cell_text string",
            [("bomb", bud, None, None, None, None, None),
             ("ok", None, 1, 1, 1, 1, "item"),
             ("ok", None, 1, 1, 2, 1, "price"),
             ("ok", None, 1, 2, 1, 0, "sold out"),
             ("utf8", u8, None, None, None, None, None)],
        ),
        "extract_table_grid": (
            extract_table_grid,
            "url string, error string, table_idx bigint, grid_row bigint, "
            "col_idx bigint, grid_col bigint, rowspan bigint, "
            "colspan bigint, is_header bigint, cell_text string",
            [("bomb", bud, *(None,) * 8),
             ("ok", None, 1, 1, 1, 1, 1, 1, 1, "item"),
             ("ok", None, 1, 1, 2, 2, 1, 1, 1, "price"),
             ("ok", None, 1, 2, 1, 1, 1, 2, 0, "sold out"),
             ("utf8", u8, *(None,) * 8)],
        ),
        "to_markdown": (
            to_markdown,
            "url string, error string, markdown string",
            [("bomb", bud, None), ("null", None, ""), ("ok", None, _MD),
             ("utf8", u8, None)],
        ),
        # the page operators drop error pages; null html is the empty
        # document, so it has one all-null metadata row and nothing else
        "page_metadata": (
            page_metadata,
            "url string, title string, description string, "
            "og_title string, canonical string, jsonld_type string, "
            "html_lang string",
            [("null", *(None,) * 6),
             ("ok", "Shop & Co", *(None,) * 5)],
        ),
        "jsonld_records": (
            jsonld_records,
            "url string, block_idx bigint, raw string",
            [],
        ),
        "heading_outline": (
            heading_outline,
            "url string, heading_idx bigint, level bigint, text string, "
            "parent_idx bigint",
            [("ok", 1, 1, "Deals", None)],
        ),
        "section_chunks": (
            section_chunks,
            "url string, section_idx bigint, heading_path string, "
            "section_text string, n_paragraphs bigint",
            [("ok", 1, "Deals", "Fresh ", 1)],
        ),
    }
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        for name, (op, ddl, expected) in cases.items():
            got = {}
            for n in (1, 512):
                spark.conf.set(key, str(n))
                df = op(pages)
                assert df.schema.simpleString() == spark.createDataFrame(
                    [], ddl).schema.simpleString(), name
                got[n] = sorted((tuple(r) for r in df.collect()), key=repr)
            assert got[1] == got[512], name
            rows = got[512]
            if name == "flat_parse_nodes":
                assert sum(r[0] == "ok" for r in rows) == 23
                rows = [r for r in rows if r[0] != "ok"]
            assert rows == sorted(expected, key=repr), name
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("op", ["link_edges", "page_metadata",
                                "jsonld_records", "heading_outline",
                                "section_chunks"])
def test_page_operator_plan_is_one_narrow_stage(spark, op):
    """Each page operator parses once and emits its final rows from the
    kernel: exactly one Arrow stage, and no shuffle regroups the pages."""
    from html5ever_elixir_spark.operators import graph, metadata, outline

    fn = {"link_edges": graph.link_edges,
          "page_metadata": metadata.page_metadata,
          "jsonld_records": metadata.jsonld_records,
          "heading_outline": outline.heading_outline,
          "section_chunks": outline.section_chunks}[op]
    pages = spark.createDataFrame(
        [("https://h.example/page1", bytearray(_CONTRACT_PAGE))],
        "url string, html binary",
    )
    plan = fn(pages)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "Exchange" not in plan, plan
