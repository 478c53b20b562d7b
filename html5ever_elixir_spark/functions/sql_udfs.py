"""SQL-callable scalar functions over html strings — the ergonomic
Spark-SQL equivalent of the reference's per-string API
(``Html5ever.parse/1`` etc., lib/html5ever.ex:40-129): after
``register_all(spark)`` a user can write

    SELECT h5_title(html), h5_extract_text(html) FROM pages

These are Arrow-batched pandas UDFs (one Python call per batch). The
column-shaped operators in ``operators/parse.py`` remain the
recommended path for full-table jobs (one traversal produces every
output at once); these scalar functions each parse independently.

UDF objects are created lazily inside :func:`register_all` — wrapping
with ``pandas_udf`` at module-import time requires an active session.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.parse import decode_and_parse
from ..parser.api import _to_text, tree_to_json
from ..parser.extract import extract_all, extract_text_v2


def _doc_or_none(html):
    # ONLY the contract's row-level errors (invalid UTF-8, parse budget)
    # null out; a genuine parser defect must propagate, not become NULL
    if html is None:
        return None
    parsed, _ = decode_and_parse(html)
    return None if parsed is None else parsed.doc


def _udf_extract_text(html):
    return html.map(
        lambda h: extract_all(d)["text"] if (d := _doc_or_none(h)) else None
    )


def _udf_extract_text_v2(html):
    return html.map(
        lambda h: extract_text_v2(d) if (d := _doc_or_none(h)) else None
    )


def _udf_title(html):
    return html.map(
        lambda h: extract_all(d)["title"] if (d := _doc_or_none(h)) else None
    )


def _udf_tree_json(html):
    return html.map(
        lambda h: tree_to_json(d) if (d := _doc_or_none(h)) else None
    )


def _udf_n_nodes(html):
    return html.map(
        lambda h: extract_all(d)["n_nodes"] if (d := _doc_or_none(h)) else None
    )


def _udf_parse_error(html):
    # the row-level error of the kernel's contract: UTF8_ERROR or the
    # parse-budget error; None for a parsed or null document
    return html.map(lambda h: decode_and_parse(h)[1])


def _udf_pdf_text(payload):
    """Scalar PDF text extraction (binary column → extracted text;
    NULL on the reader's typed row-level errors)."""
    from ..parser.pdf import PdfError, extract_pdf_text

    def ext(p):
        if p is None:
            return None
        try:
            return extract_pdf_text(bytes(p))[0]
        except PdfError:
            return None

    return payload.map(ext)


def _udf_fragment_json(html):
    """Scalar §13.4 fragment parse (div context) → ["#frag",…] JSON;
    NULL on invalid UTF-8 (same typed-error contract as h5_tree_json)."""
    from ..parser.api import fragment_to_json, parse_fragment

    def frag(h):
        if h is None:
            return None
        try:
            return fragment_to_json(parse_fragment(_to_text(h), "div"))
        except UnicodeDecodeError:
            return None

    return html.map(frag)


def _udf_image_luma_mean(payload):
    """Scalar raster decode (PNG/GIF/JPEG/PNM/BMP) → mean luma 0-255
    rounded 3dp; NULL on typed decode errors / unknown magic."""
    from ..operators.multimodal import CorruptMediaError, _decode_raster

    def mean(p):
        if p is None:
            return None
        try:
            _, _, px = _decode_raster(bytes(p))
        except (CorruptMediaError, ValueError):
            return None
        return round(sum(px) / len(px), 3) if px else None

    return payload.map(mean)


def _udf_css_count(html, selector):
    """Scalar ``h5_css_count(html, selector)`` → number of elements
    matching the CSS selector (NULL html / row-level parse errors →
    NULL). A malformed SELECTOR is caller error and raises
    ``SelectorError`` — selectors are normally literals, so per-batch
    compilation is cached per distinct string."""
    import pandas as pd

    from .selectors import _matches_complex, compile_selector, iter_elements

    cache: dict = {}

    def count(h, s):
        if h is None or s is None:
            return None
        try:
            compiled = cache[s]
        except KeyError:
            compiled = cache[s] = compile_selector(s)
        d = _doc_or_none(h)
        if d is None:
            return None
        return sum(
            1
            for e in iter_elements(d)
            if any(_matches_complex(e, alt) for alt in compiled)
        )

    return pd.Series(
        [count(h, s) for h, s in zip(html, selector)], dtype="object"
    )


def _udf_markdown(html):
    """Scalar ``h5_markdown(html)`` → Markdown conversion (pinned v1
    rules, operators/markdown.py). NULL html / row-level parse errors
    → NULL."""
    from ..operators.markdown import _doc_markdown

    return html.map(
        lambda h: _doc_markdown(d) if (d := _doc_or_none(h)) else None
    )


_REGISTRY = [
    ("h5_extract_text", _udf_extract_text, "string"),
    ("h5_extract_text_v2", _udf_extract_text_v2, "string"),
    ("h5_title", _udf_title, "string"),
    ("h5_tree_json", _udf_tree_json, "string"),
    ("h5_n_nodes", _udf_n_nodes, "bigint"),
    ("h5_parse_error", _udf_parse_error, "string"),
    ("h5_pdf_text", _udf_pdf_text, "string"),
    ("h5_fragment_json", _udf_fragment_json, "string"),
    ("h5_image_luma_mean", _udf_image_luma_mean, "double"),
    ("h5_css_count", _udf_css_count, "bigint"),
    ("h5_markdown", _udf_markdown, "string"),
]


def register_all(spark: SparkSession) -> None:
    from pyspark.sql.functions import pandas_udf

    for name, fn, rtype in _REGISTRY:
        spark.udf.register(name, pandas_udf(fn, rtype))
