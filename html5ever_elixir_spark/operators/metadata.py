"""Page-metadata extraction from the parsed tree: ``<title>``,
``<meta name=…>`` / OpenGraph ``<meta property=…>``, ``<link
rel=canonical>``, JSON-LD ``@type`` and the root ``<html lang>``.

The reference engine returns one result per document from its one
TreeSink walk (``arena_sink.rs:204-362``, ``lib/html5ever.ex:117-127``);
head-metadata extraction is the first thing every crawl consumer does
with that tree (search indexing, dedup canonicalization, social-card
pipelines). This operator is the corpus-level form: one row per page
with the scalar metadata fields, emitted by one walk per document in
the HTML document kernel (:func:`.parse.page_rows`).

Semantics (documented, oracle-pinned):

* **First occurrence in node-id order wins** for every field, even
  when its value is null (``<meta name=description>`` with no
  ``content`` makes ``description`` null). Node ids are creation order.
* Tags match by bare name, as in the flat node table (``<svg><title>``
  counts); template contents are not walked.
* ``meta[name]`` matching is case-insensitive (``Description`` counts);
  OpenGraph ``property`` and script ``type`` compare lowercased, and
  the script ``type`` is stripped of spaces only (Spark ``trim``).
  A ``<meta>`` whose name is ``description`` never counts as og:title.
* ``link rel`` is a space-separated token list per the HTML spec —
  ``rel="other canonical"`` matches via token split, not equality (a
  tab does not separate tokens).
* JSON-LD: the raw text of the first
  ``<script type="application/ld+json">`` is parsed JVM-side with
  ``get_json_object`` for the top-level ``@type``.
* Values carry the REAL parser's entity decoding (``&amp;`` in a title
  arrives as ``&``), which is what makes the driver gate a parse gate
  and not a regex gate.

Plan shape: one narrow ``mapInArrow`` stage, no shuffle. Error pages
give no rows; null html is the empty document.
"""

from __future__ import annotations

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .parse import direct_text, elements_by_id, page_rows

__all__ = ["page_metadata", "jsonld_records"]

_META_FIELDS = (
    "title", "description", "og_title", "canonical", "_jsonld", "html_lang"
)
_META_SCHEMA = pa.schema([(k, pa.string()) for k in _META_FIELDS])
_JSONLD_SCHEMA = pa.schema([("block_idx", pa.int64()), ("raw", pa.string())])


def _is_jsonld(e) -> bool:
    t = e.get_attr("type")
    return t is not None and t.strip(" ").lower() == "application/ld+json"


def _meta_kind(e) -> tuple[str | None, str | None]:
    """(field, value) an element supplies, or (None, None)."""
    name = e.name
    if name == "title":
        return "title", direct_text(e)
    if name == "script":
        return ("_jsonld", direct_text(e)) if _is_jsonld(e) else (None, None)
    if name == "meta":
        if (e.get_attr("name") or "").lower() == "description":
            return "description", e.get_attr("content")
        if (e.get_attr("property") or "").lower() == "og:title":
            return "og_title", e.get_attr("content")
        return None, None
    if name == "link":
        rel = (e.get_attr("rel") or "").lower().split(" ")
        return ("canonical", e.get_attr("href")) if "canonical" in rel \
            else (None, None)
    return "html_lang", e.get_attr("lang")  # name == "html"


def _meta_row(doc) -> list[tuple]:
    found: dict = {}
    for e in elements_by_id(doc, ("title", "meta", "link", "script", "html")):
        kind, value = _meta_kind(e)
        if kind is not None and kind not in found:
            found[kind] = value
    return [tuple(found.get(k) for k in _META_FIELDS)]


def page_metadata(pages: DataFrame) -> DataFrame:
    """pages(url, html) → one row per page:
    ``(url, title, description, og_title, canonical, jsonld_type,
    html_lang)`` — all nullable strings; a field is null when the page
    has no matching element."""
    return page_rows(pages, _meta_row, _META_SCHEMA).select(
        "url",
        "title",
        "description",
        "og_title",
        "canonical",
        F.get_json_object(F.col("_jsonld"), "$['@type']").alias(
            "jsonld_type"
        ),
        "html_lang",
    )


def _jsonld_rows(doc) -> list[tuple]:
    scripts = [e for e in elements_by_id(doc, ("script",)) if _is_jsonld(e)]
    return [(i, direct_text(e)) for i, e in enumerate(scripts, 1)]


def jsonld_records(pages: DataFrame) -> DataFrame:
    """ALL JSON-LD blocks per page, in document order — the structured-
    data side of crawl extraction (schema.org cards power search
    snippets, product/recipe corpora, KG construction). Where
    :func:`page_metadata` keeps only the FIRST block's ``@type``, this
    emits one row per ``<script type="application/ld+json">`` element
    of each page:

        (url, block_idx bigint, raw string)

    ``block_idx`` is the 1-based node-id position among the page's
    blocks. ``raw`` is the REAL parser's text content for the script
    element (RAWTEXT concatenation of its text children) — parse it
    JVM-side with ``get_json_object`` / ``from_json``; malformed JSON
    then yields NULL fields row-locally, never a job failure."""
    return page_rows(pages, _jsonld_rows, _JSONLD_SCHEMA)
