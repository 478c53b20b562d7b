def test_sql_scalar_functions(spark):
    from html5ever_elixir_spark.functions.sql_udfs import register_all

    register_all(spark)
    spark.createDataFrame(
        [
            ("<html><head><title>T</title></head><body><p>hello world "
             "content</p></body></html>",),
            (None,),
        ],
        "html string",
    ).createOrReplaceTempView("mini_pages")
    rows = spark.sql(
        "SELECT h5_title(html) AS t, h5_extract_text(html) AS x, "
        "h5_n_nodes(html) AS n, h5_parse_error(html) AS e, "
        "h5_tree_json(html) AS j FROM mini_pages"
    ).collect()
    ok = rows[0]
    assert ok.t == "T"
    assert ok.x == "hello world content"
    assert ok.n == 8  # doc, html, head, title, 'T', body, p, text
    assert ok.e is None
    assert ok.j.startswith('["#doc",')
    nul = rows[1]
    assert nul.t is None and nul.x is None and nul.n is None


def test_h5_parse_error_is_the_kernel_error(spark):
    # h5_parse_error answers with decode_and_parse's row-level error, so
    # a parse-budget document reports it as every operator's error
    # column does; a null document parses as the empty one
    from html5ever_elixir_spark.functions.sql_udfs import register_all
    from html5ever_elixir_spark.operators.parse import decode_and_parse
    from html5ever_elixir_spark.parser.api import UTF8_ERROR

    register_all(spark)
    deep = b"<div>" * 600
    budget = decode_and_parse(deep)[1]
    assert budget.startswith("parse budget exceeded: ")
    spark.createDataFrame(
        [(0, bytearray(deep)), (1, bytearray(b"\xff")), (2, None)],
        "i bigint, html binary",
    ).createOrReplaceTempView("bad_pages")
    rows = spark.sql(
        "SELECT h5_parse_error(html) AS e, h5_title(html) AS t "
        "FROM bad_pages ORDER BY i"
    ).collect()
    assert [r.e for r in rows] == [budget, UTF8_ERROR, None]
    assert [r.t for r in rows] == [None, None, None]


def test_h5_pdf_text_sql_udf(spark):
    from html5ever_elixir_spark.functions.sql_udfs import register_all
    from html5ever_elixir_spark.parser.pdf import make_simple_pdf

    register_all(spark)
    rows = [
        (0, bytearray(make_simple_pdf(["pdf line one", "and two"]))),
        (1, bytearray(b"%PDF-1.4 not really a pdf")),
        (2, None),
    ]
    spark.createDataFrame(rows, "i bigint, payload binary").createOrReplaceTempView("pdfs")
    got = {r.i: r.t for r in spark.sql("SELECT i, h5_pdf_text(payload) AS t FROM pdfs").collect()}
    assert got[0] == "pdf line one\nand two"
    assert got[1] is None and got[2] is None


def test_h5_fragment_and_image_sql_udfs(spark):
    from html5ever_elixir_spark.functions.sql_udfs import register_all
    from html5ever_elixir_spark.operators.multimodal import (
        encode_jpeg_gray_blocks,
    )

    register_all(spark)
    df = spark.createDataFrame(
        [(1, "<p>one<p>two", bytearray(encode_jpeg_gray_blocks(b"\x64"))),
         (2, None, None)],
        "id bigint, frag string, img binary",
    )
    df.createOrReplaceTempView("t_udf6")
    rows = {r.id: r for r in spark.sql(
        "SELECT id, h5_fragment_json(frag) AS fj, "
        "h5_image_luma_mean(img) AS lm FROM t_udf6"
    ).collect()}
    assert rows[1].fj == '["#frag",[["e","p",[],["one"]],["e","p",[],["two"]]]]'
    assert rows[1].lm == 100.0  # constant 0x64 block
    assert rows[2].fj is None and rows[2].lm is None


def test_h5_css_count_sql_udf(spark):
    from html5ever_elixir_spark.functions.sql_udfs import register_all

    register_all(spark)
    spark.createDataFrame(
        [
            (1, '<div class="a"><p>x</p><p>y</p></div><p>z</p>'),
            (2, "<span>no para</span>"),
            (3, None),
        ],
        "id bigint, html string",
    ).createOrReplaceTempView("t_udf_css")
    rows = {r.id: r for r in spark.sql(
        "SELECT id, h5_css_count(html, 'div.a > p') AS c1, "
        "h5_css_count(html, 'p:last-child') AS c2 FROM t_udf_css"
    ).collect()}
    assert (rows[1].c1, rows[1].c2) == (2, 2)  # p.y last in div, p.z in body
    assert (rows[2].c1, rows[2].c2) == (0, 0)
    assert rows[3].c1 is None and rows[3].c2 is None


def test_h5_markdown_sql_udf(spark):
    from html5ever_elixir_spark.functions.sql_udfs import register_all

    register_all(spark)
    spark.createDataFrame(
        [(1, "<h1>T</h1><p>see <b>x</b></p>"), (2, None)],
        "id bigint, html string",
    ).createOrReplaceTempView("t_udf_md")
    got = {
        r.id: r.md
        for r in spark.sql(
            "SELECT id, h5_markdown(html) AS md FROM t_udf_md"
        ).collect()
    }
    assert got == {1: "# T\n\nsee **x**", 2: None}
