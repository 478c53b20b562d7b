"""CSS-selector queries over page corpora.

Spark surface for :mod:`functions.selectors`: selector matching needs
the per-document tree, so it runs row-local inside the same vectorized
Arrow stage as parsing (documents are the atomic unit, exactly like
:func:`operators.parse.parse_and_extract`) — the 100 TB plan is an
embarrassingly parallel narrow stage over a 2-column pruned scan with
ZERO shuffle, not a corpus-wide node-table self-join per combinator.

Two operators:

* :func:`select_nodes` — one output row per (page, matched element):
  node id, tag, and the element's full descendant text (querySelector +
  ``textContent`` semantics).
* :func:`select_counts` — one output row per page with a bigint match
  count per named selector; ALL selectors are evaluated in a single
  parse pass (compile once on the driver, match per document).

Error pages (invalid UTF-8 / parse budget) surface the row-level
``error`` column with null matches — the reference's ``{:error,
reason}`` contract (``lib/html5ever.ex:117-119``), never a task
failure. Selectors are validated eagerly on the driver
(``SelectorError`` before any job runs).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

from ..functions.selectors import compile_selector, iter_elements, \
    _matches_complex
from ..parser.api import preorder
from ..parser.dom import TEXT
from .parse import map_documents, rows_emitter

__all__ = ["select_nodes", "select_counts"]


def _node_text(node) -> str:
    """Concatenated descendant text in document order (textContent;
    skips <template> hidden contents like the matcher)."""
    return "".join(
        n.contents or "" for n in preorder(node) if n.type == TEXT
    )


_MATCH_SCHEMA = pa.schema(
    [
        ("error", pa.string()),
        ("node_id", pa.int64()),
        ("name", pa.string()),
        ("text", pa.string()),
    ]
)


def select_nodes(
    df: DataFrame,
    selector: str,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """pages → ``(url, error, node_id, name, text)``; one row per
    matched element, document order; error pages yield one null-match
    sentinel row carrying ``error``."""
    compiled = compile_selector(selector)  # driver-side validation

    def walk(doc):
        return [
            (e.id, e.name, _node_text(e))
            for e in iter_elements(doc)
            if any(_matches_complex(e, alt) for alt in compiled)
        ]

    return map_documents(
        df, url_col, html_col,
        [rows_emitter(walk, ("node_id", "name", "text"))],
        _MATCH_SCHEMA, id_name="url",
    )


def select_counts(
    df: DataFrame,
    selectors: dict[str, str],
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """pages → one row per page: ``(url, error, <alias> bigint …)`` —
    match counts for every selector from ONE parse of each document."""
    aliases = list(selectors)
    compiled = [compile_selector(selectors[a]) for a in aliases]

    def walk(doc):
        counts = [0] * len(aliases)
        for e in iter_elements(doc):
            for i, alts in enumerate(compiled):
                if any(_matches_complex(e, alt) for alt in alts):
                    counts[i] += 1
        return [tuple(counts)]

    schema = pa.schema(
        [("error", pa.string())] + [(a, pa.int64()) for a in aliases]
    )
    return map_documents(
        df, url_col, html_col, [rows_emitter(walk, aliases)], schema,
        id_name="url",
    )
