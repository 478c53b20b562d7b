"""The Python batch stages' output schemas, pinned field by field
(name, Spark type, nullability), so a change to how a stage assembles
its Arrow batches cannot silently change what it returns. Building a
frame only analyses the plan; nothing here runs a Spark job."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def sf_dir(spark, tmp_path_factory):
    """A two-row ``documents.parquet`` with the oracle corpus's schema,
    for the ``__spark_entry__`` queries that read one."""
    d = tmp_path_factory.mktemp("sf")
    spark.createDataFrame(
        [(1, "alpha beta", "en", "web", 10), (2, "gamma", "en", "web", 5)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    ).write.parquet(str(d / "documents.parquet"))
    return str(d)


def _docs(spark):
    # a 32-bit id: a stage that promises bigint ids must cast it
    return spark.createDataFrame([(1, "abc")], "doc_id int, text string")


def _media(spark):
    return spark.createDataFrame(
        [(1, "image", b"P5 1 1 255\n\x00", (1, 1, "image/x-pnm"))],
        "media_id int, kind string, payload binary, "
        "meta struct<width:int, height:int, mime:string>",
    )


def _pages(spark):
    return spark.createDataFrame(
        [("u", "<p>x</p>", "2024-01-01", 7)],
        "url string, html string, warc_ts string, n bigint",
    )


def _robots(spark):
    return spark.createDataFrame(
        [("h", "User-agent: *\nDisallow: /x\nAllow: /x/y")],
        "host string, robots_txt string",
    )


def _stage(name, spark, sf_dir):
    from html5ever_elixir_spark.functions.robots import robots_rules
    from html5ever_elixir_spark.operators import multimodal, pdf, textstats
    from html5ever_elixir_spark.operators.parse import (
        flat_parse_nodes,
        parse_and_extract,
    )
    from html5ever_elixir_spark.sources.warc import wet_to_text

    if name.startswith("q:"):
        import __spark_entry__ as e

        return e.queries()[name[2:]](spark, sf_dir)
    docs, media = _docs(spark), _media(spark)
    return {
        "docs_to_gifs": lambda: multimodal.docs_to_gifs(docs),
        "docs_to_webps": lambda: multimodal.docs_to_webps(docs),
        "docs_to_wavs": lambda: multimodal.docs_to_wavs(docs),
        "docs_to_dhash_pnms": lambda: multimodal.docs_to_dhash_pnms(docs),
        "image_dhash": lambda: multimodal.image_dhash(media),
        "sample_frames": lambda: multimodal.sample_frames(media),
        "extract_media_features": lambda: (
            multimodal.extract_media_features(media)
        ),
        "pdf_extract": lambda: pdf.pdf_extract(
            docs.select("doc_id", F.col("text").cast("binary").alias("pdf"))
        ),
        "docs_to_pdfs": lambda: pdf.docs_to_pdfs(docs),
        "nfc_normalize_docs": lambda: textstats.nfc_normalize_docs(docs),
        "fix_mojibake": lambda: textstats.fix_mojibake(docs),
        "wet_to_text": lambda: wet_to_text(
            docs.select(
                F.col("doc_id").alias("wet_id"),
                F.col("text").cast("binary").alias("content"),
            )
        ),
        "parse_and_extract": lambda: parse_and_extract(_pages(spark)),
        "parse_and_extract_passthrough": lambda: parse_and_extract(
            _pages(spark), passthrough_cols=("warc_ts", "n")
        ),
        "flat_parse_nodes": lambda: flat_parse_nodes(_pages(spark)),
        "robots_rules": lambda: robots_rules(_robots(spark)),
    }[name]()


_S, _L, _B, _BIN = "string", "bigint", "boolean", "binary"
_MEDIA_PAYLOAD = [("media_id", _L), ("payload", _BIN)]
_PARSED = [
    ("url", _S), ("error", _S), ("text", _S), ("title", _S),
    ("links", "array<string>"), ("n_parse_errors", _L), ("tree_json", _S),
    ("markdown", _S), ("n_nodes", _L), ("n_elements", _L),
    ("n_anchors", _L), ("n_text_chars", _L), ("max_depth", _L),
    ("n_texts", _L), ("n_comments", _L), ("n_doctypes", _L),
    ("n_pis", _L), ("n_documents", _L),
]
PINNED = {
    "docs_to_gifs": _MEDIA_PAYLOAD,
    "docs_to_webps": _MEDIA_PAYLOAD,
    "docs_to_wavs": _MEDIA_PAYLOAD,
    "docs_to_dhash_pnms": _MEDIA_PAYLOAD,
    "image_dhash": [
        ("media_id", _L), ("width", _L), ("height", _L), ("dhash_hi", _L),
        ("dhash_lo", _L), ("decode_error", _S),
    ],
    "sample_frames": [
        ("media_id", _L), ("frame_idx", _L), ("n_bytes", _L),
        ("frame_sha256", _S),
    ],
    "extract_media_features": [
        ("media_id", _L), ("kind", _S), ("n_bytes", _L), ("sha256", _S),
        ("feature", "array<double>"), ("decode_error", _S),
    ],
    "pdf_extract": [
        ("doc_id", _L), ("error", _S), ("text", _S), ("n_pages", _L),
        ("n_bytes", _L),
    ],
    "docs_to_pdfs": [("doc_id", _L), ("pdf", _BIN)],
    "nfc_normalize_docs": [
        ("doc_id", _L), ("text_nfc", _S), ("changed", _B),
        ("n_chars_before", _L), ("n_chars_after", _L),
    ],
    "fix_mojibake": [("doc_id", _L), ("text_fixed", _S), ("n_passes", _L)],
    "wet_to_text": [
        ("url", _S), ("warc_ts", _S), ("text", _S), ("wet_id", _L),
        ("error", _S),
    ],
    "q:html_tree_json_maps": [("url", _S), ("tree_json_maps", _S)],
    "q:html_fragment_tree": [("url", _S), ("frag_json", _S)],
    "q:html_extract_text_v2": [("url", _S), ("text_v2", _S)],
    "q:media_jpeg_roundtrip": [
        ("media_id", _L), ("text_rt", _S), ("w", _L), ("h", _L),
    ],
    "q:media_wav_features": [
        ("media_id", _L), ("n_samples", _L),
        *[(f"s{d}", _L) for d in range(8)],
    ],
    "q:html_extract_cp1252": [("url", _S), ("text", _S)],
    "q:html_extract_charsets": [("url", _S), ("text", _S)],
    "parse_and_extract": _PARSED,
    "parse_and_extract_passthrough": [
        *_PARSED, ("warc_ts", _S), ("n", _L),
    ],
    "flat_parse_nodes": [
        ("url", _S), ("node_id", _L), ("parent_id", _L),
        ("children", "array<bigint>"), ("type", _S), ("name", _S),
        ("attrs", "array<struct<name:string,value:string>>"),
        ("attrs_map", "map<string,string>"), ("contents", _S),
    ],
    "robots_rules": [("host", _S), ("allow", _B), ("prefix", _S)],
}


@pytest.mark.parametrize("name", sorted(PINNED))
def test_stage_output_schema_is_pinned(spark, sf_dir, name):
    got = [
        (f.name, f.dataType.simpleString(), f.nullable)
        for f in _stage(name, spark, sf_dir).schema.fields
    ]
    # every field of every pinned stage is nullable
    assert got == [(n, t, True) for n, t in PINNED[name]]


@pytest.mark.parametrize("batch", [1, 512])
def test_map_rows_kernel(spark, batch):
    import pyarrow as pa

    from html5ever_elixir_spark.operators import map_rows

    # "n" is both a key and a value; a row emits n rows (0, 1 or 3)
    df = spark.createDataFrame(
        [("a", 0), ("b", 1), ("c", 3)], "k string, n bigint"
    )

    def emit(out, n) -> int:
        out["i"].extend(range(n))
        return n

    schema = pa.schema([("i", pa.int64()), ("unset", pa.string())])
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(batch))
    try:
        got = map_rows(df, ["k", "n"], ["n"], emit, schema)
        rows = sorted(tuple(r) for r in got.collect())
        empty = map_rows(df.limit(0), ["k", "n"], ["n"], emit, schema)
        assert empty.collect() == []
    finally:
        spark.conf.set(key, old)
    assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
        ("k", "string"), ("n", "bigint"), ("i", "bigint"), ("unset", "string"),
    ]
    # no emit appended to "unset": it comes out all null
    assert rows == [
        ("b", 1, 0, None), ("c", 3, 0, None), ("c", 3, 1, None),
        ("c", 3, 2, None),
    ]
    assert empty.schema == got.schema


@pytest.mark.parametrize(
    "name",
    ["docs_to_gifs", "docs_to_webps", "docs_to_dhash_pnms",
     "q:media_jpeg_roundtrip"],
)
def test_null_doc_id_takes_the_plain_branch(spark, tmp_path, name):
    # the emitters pick a variant by doc_id parity; a null id picks
    # none and its row comes out like any other, never a task failure
    from html5ever_elixir_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(None, "abc"), (2, "def")], "doc_id bigint, text string"
    )
    if name.startswith("q:"):
        import __spark_entry__ as e

        docs.write.parquet(str(tmp_path / "documents.parquet"))
        out = e.queries()[name[2:]](spark, str(tmp_path))
    else:
        out = getattr(multimodal, name)(docs)
    rows = out.collect()
    assert sorted(r.media_id or 0 for r in rows) == [0, 2]
