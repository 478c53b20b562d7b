"""Document heading outline from the parsed tree: one row per
``<h1>``–``<h6>`` element in document order, with its level, REAL-parser
text content, and a parent pointer to the nearest preceding heading of
smaller level — the section tree every structure-aware consumer builds
(section-scoped chunking for RAG, TOC generation, heading-path context
strings for training data).

The reference engine stops at the parsed tree (``lib/html5ever.ex:
40-127``); the outline is the canonical body-structure consumer of
that tree, complementing :mod:`metadata` (head) and :mod:`tables` /
:mod:`markdown` (block content).

Semantics (oracle-pinned):

* ``heading_idx`` — 1-based node-id position among the page's
  headings (node ids are creation order).
* ``level`` — the numeral in the tag name (h3 → 3).
* ``text`` — concatenated direct text children in node order, with the
  real parser's entity decoding (a parse gate, not a regex gate).
* ``parent_idx`` — the LARGEST j < heading_idx with level_j <
  level_idx, else NULL (the HTML5 outline "nearest ancestor candidate"
  rule over flat heading sequences; skipped levels attach to the
  nearest shallower heading, an h2 opening the page has no parent).

Plan shape: one narrow ``mapInArrow`` stage per operator, no shuffle —
each page's rows come from one walk of its parsed tree in the HTML
document kernel (:func:`.parse.page_rows`). Headings and paragraphs
are taken in node-id order by bare tag name; template contents are not
walked. Error pages give no rows.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

from .parse import direct_text, elements_by_id, page_rows

__all__ = ["heading_outline", "section_chunks", "assemble_sections"]

_HEADINGS = ("h1", "h2", "h3", "h4", "h5", "h6")
_OUTLINE_SCHEMA = pa.schema([
    ("heading_idx", pa.int64()), ("level", pa.int64()),
    ("text", pa.string()), ("parent_idx", pa.int64()),
])
_SECTION_SCHEMA = pa.schema([
    ("section_idx", pa.int64()), ("heading_path", pa.string()),
    ("section_text", pa.string()), ("n_paragraphs", pa.int64()),
])


def _nearest_shallower(levels: list[int], level: int) -> int | None:
    """1-based index of the last entry of ``levels`` smaller than
    ``level``, else None — the parent rule of the outline."""
    for j in range(len(levels) - 1, -1, -1):
        if levels[j] < level:
            return j + 1
    return None


def _outline_rows(doc) -> list[tuple]:
    levels: list[int] = []
    rows = []
    for h in elements_by_id(doc, _HEADINGS):
        level = int(h.name[1])
        rows.append((len(levels) + 1, level, direct_text(h),
                     _nearest_shallower(levels, level)))
        levels.append(level)
    return rows


def heading_outline(pages: DataFrame) -> DataFrame:
    """pages(url, html) → one row per h1–h6 of each page:
    ``(url, heading_idx bigint, level bigint, text string,
    parent_idx bigint)`` — pages without headings contribute no rows."""
    return page_rows(pages, _outline_rows, _OUTLINE_SCHEMA)


def assemble_sections(items: list[tuple[int, str, int, str]]) -> list[dict]:
    """Pure per-page assembly (testable Spark-free): ``items`` =
    [(node_id, kind 'h'|'p', level, text)] in any order. Returns one
    dict per section in document order: paragraphs belong to the most
    recent heading (section_idx = that heading's 1-based index, 0 for
    preamble paragraphs before any heading), and ``heading_path`` walks
    the nearest-shallower parent chain (the :func:`heading_outline`
    rule) root-first, ' > '-joined."""
    items = sorted(items)
    levels: list[int] = []
    headings: list[tuple[str, int | None]] = []  # (text, parent)
    out: list[dict] = []
    cur: dict | None = None

    def flush():
        # emit heading sections always (empty ones keep the outline
        # covered); a preamble row only exists if paragraphs preceded
        # every heading
        if cur is not None and (
            cur["n_paragraphs"] > 0 or cur["section_idx"] > 0
        ):
            out.append(cur)

    for _nid, kind, level, text in items:
        if kind == "h":
            flush()
            headings.append((text, _nearest_shallower(levels, level)))
            levels.append(level)
            path, k = [], len(headings)
            while k is not None:
                path.append(headings[k - 1][0])
                k = headings[k - 1][1]
            cur = {
                "section_idx": len(headings),
                "heading_path": " > ".join(reversed(path)),
                "section_text": "",
                "n_paragraphs": 0,
            }
        else:
            if cur is None:
                cur = {"section_idx": 0, "heading_path": "",
                       "section_text": "", "n_paragraphs": 0}
            cur["section_text"] = (
                (cur["section_text"] + " " + text) if cur["section_text"]
                else text
            )
            cur["n_paragraphs"] += 1
    flush()
    return out


def _section_rows(doc) -> list[tuple]:
    items = [
        (e.id, "p", 0, direct_text(e)) if e.name == "p"
        else (e.id, "h", int(e.name[1]), direct_text(e))
        for e in elements_by_id(doc, (*_HEADINGS, "p"))
    ]
    return [
        tuple(s[k] for k in _SECTION_SCHEMA.names)
        for s in assemble_sections(items)
    ]


def section_chunks(pages: DataFrame) -> DataFrame:
    """Section-scoped chunking — the RAG-grade unit: one row per
    heading-delimited section of each page with its ``heading_path``
    context string (what retrieval pipelines prepend so an isolated
    chunk keeps its document position) and the concatenated ``<p>``
    text in document order:

        (url, section_idx bigint, heading_path string,
         section_text string, n_paragraphs bigint)

    Headings with no paragraphs still emit (empty text) so the section
    table covers the whole outline; preamble paragraphs before any
    heading emit section_idx 0 with an empty path. Each page is
    assembled by :func:`assemble_sections` inside the kernel, so
    nothing shuffles."""
    return page_rows(pages, _section_rows, _SECTION_SCHEMA)
