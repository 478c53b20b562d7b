"""HTML table extraction: ``<table>`` markup → structured cell rows.

The reference's tuple tree (``lib/html5ever.ex:40``) is what users walk
to scrape tables; this operator does that walk as a first-class Spark
surface. Per-document tree walking needs the document tree, so it runs
row-local inside the vectorized Arrow parse stage (same unit-of-work
argument as :mod:`operators.select`): the 100 TB plan is ONE narrow
mapInArrow stage over a 2-column pruned scan — zero shuffle, no node
self-joins — and the output explodes to one row per cell, which is the
shape downstream relational queries want.

Semantics (documented, oracle-pinned):

* ``table_idx``: 1-based document-order index over ALL ``<table>``
  elements (nested tables get their own index).
* ``row_idx``: 1-based document-order index of each ``<tr>`` within its
  NEAREST ancestor table (``thead``/``tbody``/``tfoot`` wrappers are
  transparent; a ``<tr>`` inside a nested table belongs to the nested
  table only).
* ``col_idx``: 1-based index of each ``<th>``/``<td>`` child of its
  row. ``colspan``/``rowspan`` do NOT expand (the attribute is
  preserved on the node for callers that want grid semantics).
* ``is_header``: 1 for ``<th>`` cells, else 0 (bigint — the repo's
  cross-engine hash convention).
* ``cell_text``: full descendant text in document order (textContent),
  including any nested-table text.

Error pages surface the row-level ``error`` column with a single
sentinel row (null indices) — the reference's ``{:error, reason}``
contract, never a task failure.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

from ..functions.selectors import iter_elements
from ..parser.dom import ELEMENT
from .parse import map_documents, rows_emitter
from .select import _node_text

__all__ = [
    "extract_table_cells",
    "extract_table_grid",
    "docs_to_table_html_expr",
    "docs_to_grid_html_expr",
    "oracle_table_cells_sql",
    "oracle_table_grid_sql",
]

_CELL_TAGS = ("td", "th")

_CELLS_COLS = ("table_idx", "row_idx", "col_idx", "is_header", "cell_text")
_GRID_COLS = ("table_idx", "grid_row", "col_idx", "grid_col", "rowspan",
              "colspan", "is_header", "cell_text")


def _cells_schema(cols: tuple[str, ...]) -> pa.Schema:
    return pa.schema(
        [("error", pa.string())]
        + [(k, pa.string() if k == "cell_text" else pa.int64()) for k in cols]
    )


_CELLS_SCHEMA = _cells_schema(_CELLS_COLS)
_GRID_SCHEMA = _cells_schema(_GRID_COLS)


def _table_trs(table):
    """``<tr>`` elements of THIS table in document order: DFS the
    subtree (thead/tbody/tfoot transparent) without descending into
    nested tables (their trs belong to their own table_idx)."""
    trs = []
    stack = list(reversed(table.children))
    while stack:
        n = stack.pop()
        if n.type != ELEMENT or n.name == "table":
            continue
        if n.name == "tr":
            trs.append(n)
        stack.extend(reversed(n.children))
    return trs


def _doc_cells(doc):
    """(table_idx, row_idx, col_idx, is_header, text) per cell,
    document order; iterative walks only (10k-depth rule)."""
    out = []
    for t_idx, table in enumerate(
        (e for e in iter_elements(doc) if e.name == "table"), 1
    ):
        trs = _table_trs(table)
        for r_idx, tr in enumerate(trs, 1):
            c_idx = 0
            for cell in tr.children:
                if cell.type == ELEMENT and cell.name in _CELL_TAGS:
                    c_idx += 1
                    out.append(
                        (
                            t_idx,
                            r_idx,
                            c_idx,
                            1 if cell.name == "th" else 0,
                            _node_text(cell),
                        )
                    )
    return out


def extract_table_cells(
    df: DataFrame,
    id_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """pages → one row per table cell:
    ``(<id_col>, error, table_idx, row_idx, col_idx, is_header,
    cell_text)``. The id column keeps its input name and type (string
    url or bigint doc_id)."""
    return map_documents(
        df, id_col, html_col, [rows_emitter(_doc_cells, _CELLS_COLS)],
        _CELLS_SCHEMA,
    )


def _span_attr(cell, name: str, cap: int) -> int:
    """colspan/rowspan per the HTML table model: leading-digits parse,
    invalid/missing → 1, clamped to [1, cap]. ``rowspan=0`` ("rest of
    row group") is simplified to 1 — documented v1 deviation; we don't
    track row-group boundaries."""
    for n, v in cell.attrs or ():
        if n == name:
            digits = ""
            for ch in v.strip():
                if ch.isdigit():
                    digits += ch
                else:
                    break
            if digits:
                return min(max(int(digits), 1), cap)
            return 1
    return 1


def _doc_grid_cells(doc):
    """(table_idx, grid_row, col_idx, grid_col, rowspan, colspan,
    is_header, text) per cell with §4.9.12-style slot assignment: each
    cell takes the first free column of its row, columns stay occupied
    for the remaining rows of an earlier cell's rowspan. ``col_idx``
    is the plain child-index (``_doc_cells`` semantics) so one gate
    covers both numbering schemes."""
    out = []
    for t_idx, table in enumerate(
        (e for e in iter_elements(doc) if e.name == "table"), 1
    ):
        pending: dict = {}  # grid_col -> rows still occupied BELOW
        for r_idx, tr in enumerate(_table_trs(table), 1):
            col = 1
            c_idx = 0
            for cell in tr.children:
                if cell.type != ELEMENT or cell.name not in _CELL_TAGS:
                    continue
                c_idx += 1
                while pending.get(col, 0) > 0:
                    col += 1
                cs = _span_attr(cell, "colspan", 1000)
                rs = _span_attr(cell, "rowspan", 65534)
                out.append(
                    (
                        t_idx,
                        r_idx,
                        c_idx,
                        col,
                        rs,
                        cs,
                        1 if cell.name == "th" else 0,
                        _node_text(cell),
                    )
                )
                for c in range(col, col + cs):
                    if rs > 1:
                        pending[c] = max(pending.get(c, 0), rs)
                col += cs
            for c in list(pending):
                pending[c] -= 1
                if pending[c] <= 0:
                    del pending[c]
    return out


def extract_table_grid(
    df: DataFrame,
    id_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """pages → one row per table cell with GRID semantics:
    ``(<id_col>, error, table_idx, grid_row, col_idx, grid_col,
    rowspan, colspan, is_header, cell_text)`` — colspan/rowspan place
    each cell in its true (row, col) slot; ``col_idx`` carries the
    plain child-index (:func:`extract_table_cells` semantics) so one
    output covers both numbering schemes. Same plan shape: one narrow
    mapInArrow over a 2-column pruned scan, zero shuffle."""
    return map_documents(
        df, id_col, html_col, [rows_emitter(_doc_grid_cells, _GRID_COLS)],
        _GRID_SCHEMA,
    )


# ---------------------------------------------------------------------------
# deterministic table corpus over documents.text (driver gate)
#
# Both engines derive cells from the SAME token rule; Spark then builds
# real HTML and round-trips it through the parser + this operator,
# while DuckDB predicts the output rows directly — so the gate checks
# the synthesis SQL, the §13.2 table parsing, and the walk end to end.


def _cell_expr(i: int, dialect: str) -> str:
    """i-th sanitized whitespace token of ``text``; '' / missing →
    'p<i>'. Sanitization strips non-alphanumerics so cells never embed
    markup-significant characters."""
    if dialect == "spark":
        tok = f"try_element_at(split(text, ' '), {i})"
        clean = f"regexp_replace({tok}, '[^A-Za-z0-9]', '')"
    elif dialect == "duckdb":
        tok = f"string_split(text, ' ')[{i}]"
        clean = f"regexp_replace({tok}, '[^A-Za-z0-9]', '', 'g')"
    else:  # pragma: no cover
        raise ValueError(dialect)
    return f"coalesce(nullif({clean}, ''), 'p{i}')"


#: data rows in table 1: 1 + doc_id % 3 (cells 3.. in token order)
_MAX_DATA_ROWS = 3


def docs_to_table_html_expr() -> str:
    """Spark SQL expression building each document's table HTML:
    table 1 = ``thead`` header row (2 ``th``) + 1-3 ``tbody`` data rows
    (2 ``td``), table 2 (docs with doc_id % 4 = 0) = one bare ``tr``
    with 3 ``td`` (exercises the parser's implied tbody).

    r9: cell tokens come from ONE lambda-bound cleaned-prefix array —
    the old per-reference split+regexp_replace could not be hoisted out
    of the CASE WHEN row gates by codegen subexpression elimination
    (see docs_to_md_html_expr). Output bytes identical."""
    c = lambda i: (  # noqa: E731
        f"coalesce(nullif(try_element_at(cw, {i}), ''), 'p{i}')"
    )
    parts = [
        "'<table><thead><tr><th>'",
        c(1),
        "'</th><th>'",
        c(2),
        "'</th></tr></thead><tbody>'",
    ]
    for k in range(1, _MAX_DATA_ROWS + 1):
        row = "concat('<tr><td>', {a}, '</td><td>', {b}, '</td></tr>')".format(
            a=c(2 * k + 1), b=c(2 * k + 2)
        )
        if k == 1:
            parts.append(row)
        else:
            parts.append(
                f"CASE WHEN doc_id % 3 >= {k - 1} THEN {row} ELSE '' END"
            )
    parts.append("'</tbody></table>'")
    t2 = (
        "concat('<table><tr><td>', {a}, '</td><td>', {b}, "
        "'</td><td>', {d}, '</td></tr></table>')"
    ).format(a=c(9), b=c(10), d=c(11))
    parts.append(f"CASE WHEN doc_id % 4 = 0 THEN {t2} ELSE '' END")
    inner = "concat(" + ", ".join(parts) + ")"
    return (
        "element_at(transform(array(transform(slice(split(text, ' '), "
        "1, 11), w -> regexp_replace(w, '[^A-Za-z0-9]', ''))), "
        f"cw -> {inner}), 1)"
    )


def oracle_table_cells_sql(table: str = "documents") -> str:
    """DuckDB mirror predicting :func:`extract_table_cells` over
    :func:`docs_to_table_html_expr` pages, row for row."""
    c = lambda i: _cell_expr(i, "duckdb")  # noqa: E731
    selects = [
        # table 1 header row
        f"SELECT doc_id, 1::BIGINT AS table_idx, 1::BIGINT AS row_idx, "
        f"1::BIGINT AS col_idx, 1::BIGINT AS is_header, {c(1)} AS cell_text "
        f"FROM {table}",
        f"SELECT doc_id, 1, 1, 2, 1, {c(2)} FROM {table}",
    ]
    for k in range(1, _MAX_DATA_ROWS + 1):
        gate = "" if k == 1 else f" WHERE doc_id % 3 >= {k - 1}"
        selects.append(
            f"SELECT doc_id, 1, {1 + k}, 1, 0, {c(2 * k + 1)} "
            f"FROM {table}{gate}"
        )
        selects.append(
            f"SELECT doc_id, 1, {1 + k}, 2, 0, {c(2 * k + 2)} "
            f"FROM {table}{gate}"
        )
    for j in range(3):
        selects.append(
            f"SELECT doc_id, 2, 1, {j + 1}, 0, {c(9 + j)} "
            f"FROM {table} WHERE doc_id % 4 = 0"
        )
    return " UNION ALL ".join(selects)


# ---------------------------------------------------------------------------
# grid-semantics corpus (driver gate): colspan merges two columns on
# even docs; a rowspan=2 cell occupies col 1 so the last row's only
# cell lands at grid_col 2 — the slot algorithm is what's under test.


def docs_to_grid_html_expr() -> str:
    """Spark SQL expression building each document's grid-table HTML:
    header row, a colspan=2 row (even doc_id) or a plain 2-cell row,
    a rowspan=2 row, and a 1-cell row whose cell must shift to col 2."""
    c = lambda i: _cell_expr(i, "spark")  # noqa: E731
    even = (
        "concat('<tr><td colspan=2>', {a}, '</td></tr>')"
    ).format(a=c(3))
    odd = (
        "concat('<tr><td>', {a}, '</td><td>', {b}, '</td></tr>')"
    ).format(a=c(3), b=c(4))
    return (
        "concat('<table><tr><th>', {c1}, '</th><th>', {c2}, "
        "'</th></tr>', CASE WHEN doc_id % 2 = 0 THEN {even} "
        "ELSE {odd} END, '<tr><td rowspan=2>', {c5}, '</td><td>', "
        "{c6}, '</td></tr><tr><td>', {c7}, '</td></tr></table>')"
    ).format(c1=c(1), c2=c(2), even=even, odd=odd, c5=c(5), c6=c(6),
             c7=c(7))


def oracle_table_grid_sql(table: str = "documents") -> str:
    """DuckDB mirror predicting :func:`extract_table_grid` over
    :func:`docs_to_grid_html_expr` pages, slot for slot."""
    c = lambda i: _cell_expr(i, "duckdb")  # noqa: E731
    first = (
        f"SELECT doc_id, 1::BIGINT AS table_idx, 1::BIGINT AS grid_row, "
        f"1::BIGINT AS col_idx, 1::BIGINT AS grid_col, "
        f"1::BIGINT AS rowspan, 1::BIGINT AS colspan, "
        f"1::BIGINT AS is_header, {c(1)} AS cell_text FROM {table}"
    )
    rows = [
        first,
        f"SELECT doc_id, 1, 1, 2, 2, 1, 1, 1, {c(2)} FROM {table}",
        f"SELECT doc_id, 1, 2, 1, 1, 1, 2, 0, {c(3)} FROM {table} "
        "WHERE doc_id % 2 = 0",
        f"SELECT doc_id, 1, 2, 1, 1, 1, 1, 0, {c(3)} FROM {table} "
        "WHERE doc_id % 2 <> 0",
        f"SELECT doc_id, 1, 2, 2, 2, 1, 1, 0, {c(4)} FROM {table} "
        "WHERE doc_id % 2 <> 0",
        f"SELECT doc_id, 1, 3, 1, 1, 2, 1, 0, {c(5)} FROM {table}",
        f"SELECT doc_id, 1, 3, 2, 2, 1, 1, 0, {c(6)} FROM {table}",
        # the slot algorithm's money row: child index 1, grid col 2
        # (col 1 still occupied by the rowspan=2 cell above)
        f"SELECT doc_id, 1, 4, 1, 2, 1, 1, 0, {c(7)} FROM {table}",
    ]
    return " UNION ALL ".join(rows)
