"""Static guards for the kernel rules. Every row-local Python batch
stage is one ``emit`` over ``operators.map_rows``, and every
per-document HTML operator is an emitter list over
``operators.parse.map_documents``, whose ``decode_and_parse`` is the
only place that parses and owns the parse budget and the UTF-8 gate;
each tree encoding has one walker in ``parser/api.py``. The PDF module
has one file serializer, one linear object scan and one stream-payload
span, and the package one PNG row unfilter. Pure ``ast`` scan, no
Spark."""

import ast
import os
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "html5ever_elixir_spark"
SCANNED = sorted(
    p
    for d in ("operators", "functions", "sources", "plans", "streaming")
    for p in (PKG / d).glob("*.py")
) + [ROOT / "__spark_entry__.py"]
KERNEL = PKG / "operators" / "parse.py"
API = PKG / "parser" / "api.py"
PDF = PKG / "parser" / "pdf.py"
# the calls that make a Python batch stage of their own
BATCH_CALLS = (
    "mapInArrow", "mapInPandas", "from_pydict", "from_pylist",
    "pandas_udf", "applyInPandas", "applyInPandasWithState",
)
# (file, outermost enclosing function, call): the row kernel, plus the
# stages that are not row-local
BATCH_STAGES = {
    ("operators/__init__.py", "map_rows", "mapInArrow"),
    # the WARC walk flushes its output by size for GiB blobs
    ("sources/warc.py", "warc_to_pages", "mapInArrow"),
    ("sources/warc.py", "_records_fn", "from_pydict"),
    # the IVF trainer aggregates a whole sample in one task
    ("operators/similarity.py", "_train_ivf", "mapInArrow"),
    # SQL-registered scalar functions, called from SQL text
    ("functions/sql_udfs.py", "register_all", "pandas_udf"),
    # stateful: per-host sessions across micro-batches
    ("streaming/ingest.py", "stream_host_sessions", "applyInPandasWithState"),
    # group-level container builders: one WARC/WET file per group
    ("../__spark_entry__.py", "_q_warc_extract", "applyInPandas"),
    ("../__spark_entry__.py", "_q_warc_write_wet", "applyInPandas"),
}


def _scopes(tree):
    """(node, name of the outermost enclosing function or None)."""
    stack = [(tree, None)]
    while stack:
        node, fn = stack.pop()
        yield node, fn
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name if fn is None else fn
        stack.extend((c, fn) for c in ast.iter_child_nodes(node))


def _called(node, name):
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    return (isinstance(f, ast.Name) and f.id == name) or (
        isinstance(f, ast.Attribute) and f.attr == name
    )


def test_parse_document_only_in_kernel_helper():
    offenders = []
    for path in SCANNED:
        for node, fn in _scopes(ast.parse(path.read_text())):
            if _called(node, "parse_document") and not (
                path == KERNEL and fn == "decode_and_parse"
            ):
                offenders.append(f"{path.name}:{node.lineno} in {fn}")
    assert offenders == []


def test_batch_stages_only_on_allowlist():
    found = set()
    for path in SCANNED:
        rel = os.path.relpath(path, PKG)
        for node, fn in _scopes(ast.parse(path.read_text())):
            found.update(
                (rel, fn, call) for call in BATCH_CALLS if _called(node, call)
            )
    assert found == BATCH_STAGES


def test_page_operators_do_not_rejoin_flat_nodes():
    # a per-page operator emits its final rows from a map_documents
    # walk; the flat node table is an output of its own, never an
    # intermediate that an operator joins back together
    offenders = [
        f"{path.name}:{i}"
        for path in sorted((PKG / "operators").glob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "flat_parse_nodes" in line
        and not (path == KERNEL and line.startswith("def flat_parse_nodes("))
    ]
    assert offenders == []


def test_no_operator_takes_a_parse_budget():
    # the budget is decode_and_parse's constant; no operator forwards it
    offenders = [
        f"{path.name}:{node.lineno} {node.name}({arg.arg}=)"
        for d in ("operators", "functions", "plans", "streaming")
        for path in sorted((PKG / d).glob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        for arg in (*node.args.posonlyargs, *node.args.args,
                    *node.args.kwonlyargs)
        if arg.arg in ("max_nodes", "max_depth")
    ]
    assert offenders == []


def test_one_strict_utf8_gate():
    decodes = [
        f"{path.name}:{node.lineno}"
        for path in (API, KERNEL)
        for node in ast.walk(ast.parse(path.read_text()))
        if _called(node, "decode")
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and str(node.args[0].value).lower().replace("-", "") == "utf8"
    ]
    assert len(decodes) == 1, decodes


def test_one_walker_per_tree_encoding():
    # the nested walk (parity tuples + JSON columns) and the flat walk
    # (flat map + flat_parse_nodes rows) are the only tree loops of the
    # parse surface
    walkers = {
        path.name: sorted(
            {fn for node, fn in _scopes(ast.parse(path.read_text()))
             if isinstance(node, ast.While)}
        )
        for path in (API, KERNEL)
    }
    assert walkers == {"api.py": ["_nested", "preorder"], "parse.py": []}


def _reversed_children(node):
    # reversed(<x>.children): a hand-rolled preorder stack push
    return (
        _called(node, "reversed")
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Attribute)
        and node.args[0].attr == "children"
    )


def test_preorder_walks_use_api_preorder():
    # a document-order walk is api.preorder; only the walks that prune
    # (nested tables) or need enter/exit events (markdown) keep a stack
    found = sorted(
        f"{path.parent.name}/{path.name}::{fn}"
        for d in ("functions", "operators")
        for path in sorted((PKG / d).glob("*.py"))
        for node, fn in _scopes(ast.parse(path.read_text()))
        if _reversed_children(node)
    )
    assert sorted(set(found)) == [
        "operators/markdown.py::_doc_markdown",
        "operators/tables.py::_table_trs",
    ], found


def _chain_tag_names(fn, module):
    """Tag names the in-body elif chain ``fn`` compares ``name`` with
    (``==`` or ``in``) after its hot-table lookup; a set name such as
    ``BLOCK_CLOSERS`` is resolved through ``module``."""
    lookup = next(
        i for i, st in enumerate(fn.body)
        for n in ast.walk(st)
        if _called(n, "get")
        and isinstance(n.func.value, ast.Name)
        and n.func.value.id in ("_HOT_START", "_HOT_END")
    )
    names = set()
    for st in fn.body[lookup + 1:]:
        for node in ast.walk(st):
            if not (isinstance(node, ast.Compare)
                    and isinstance(node.left, ast.Name)
                    and node.left.id == "name"):
                continue
            for op, comp in zip(node.ops, node.comparators):
                if not isinstance(op, (ast.Eq, ast.In)):
                    continue
                if isinstance(comp, ast.Name):
                    names |= set(getattr(module, comp.id))
                elif isinstance(comp, ast.Constant):
                    names.add(comp.value)
                else:
                    names |= set(ast.literal_eval(comp))
    return names


def test_hot_table_entry_is_the_only_in_body_handler():
    # _in_body_start/_in_body_end look a tag up in _HOT_START/_HOT_END
    # first, so a chain branch for a hot tag could never run
    from html5ever_elixir_spark.parser import treebuilder

    path = PKG / "parser" / "treebuilder.py"
    methods = {
        node.name: node for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.FunctionDef)
    }
    shadowed = {
        fn: sorted(_chain_tag_names(methods[fn], treebuilder) & set(table))
        for fn, table in (("_in_body_start", treebuilder._HOT_START),
                          ("_in_body_end", treebuilder._HOT_END))
    }
    assert shadowed == {"_in_body_start": [], "_in_body_end": []}


def _pdf_functions_with(pred):
    """Names of the functions of ``parser/pdf.py`` holding a node for
    which ``pred(node)`` is true (f-string pieces included, docstrings
    left out)."""
    tree = ast.parse(PDF.read_text())
    docs = {
        id(node.body[0].value) for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and ast.get_docstring(node) is not None
    }
    return sorted({
        fn for node, fn in _scopes(tree)
        if fn is not None and id(node) not in docs and pred(node)
    })


def _text_constant(node, *needles):
    return isinstance(node, ast.Constant) and isinstance(
        node.value, (str, bytes)
    ) and any(
        (n.encode() if isinstance(node.value, bytes) else n) in node.value
        for n in needles
    )


def test_one_pdf_file_serializer():
    # every writer hands its numbered objects to _write_pdf, the one
    # place that writes a cross-reference section and startxref; the
    # encrypt writers share the one loop that appends /Encrypt + trailer
    xref = _pdf_functions_with(lambda n: _text_constant(
        n, "startxref\n", " 00000 n ", " 65535 f "))
    trailer = _pdf_functions_with(lambda n: _text_constant(n, "trailer\n"))
    assert (xref, trailer) == (
        ["_write_pdf"], ["_encrypt_streams", "_write_pdf"])


def _loops(tree):
    """(node inside a loop body, name of the outermost function)."""
    for node, fn in _scopes(tree):
        if isinstance(node, (ast.For, ast.While)):
            for inner in ast.walk(node):
                yield inner, fn


def test_one_linear_object_scan():
    # the `N G obj … endobj` scan loop is _scan_objects; the reader's
    # fallback and the encrypt writers iterate over it
    scans = sorted({
        fn for node, fn in _loops(ast.parse(PDF.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "_OBJ_RE"
    })
    assert scans == ["_scan_objects"]


def test_one_stream_payload_span():
    # "/Length, else endstream minus one EOL" is computed in _stream_span
    # only; _object_body_end reads /Length just to skip the payload
    ends = _pdf_functions_with(
        lambda n: isinstance(n, ast.Call) and n.args
        and _text_constant(n.args[0], "endstream")
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in ("find", "rfind", "index", "rindex"))
    lengths = _pdf_functions_with(
        lambda n: isinstance(n, ast.Name) and n.id == "_LENGTH_RE")
    assert (ends, lengths) == (
        ["_stream_span"], ["_object_body_end", "_stream_span"])


def _is_paeth_abs(node):
    # abs(p - a): the predictor-distance step of a Paeth filter
    return (
        _called(node, "abs") and len(node.args) == 1
        and isinstance(node.args[0], ast.BinOp)
        and isinstance(node.args[0].op, ast.Sub)
        and isinstance(node.args[0].left, ast.Name)
        and isinstance(node.args[0].right, ast.Name)
    )


def test_one_png_unfilter():
    # PDF predictors and PNG decode share parser/pdf.py::_png_unfilter
    found = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                    and sum(map(_is_paeth_abs, ast.walk(node))) >= 3:
                found.append(f"{path.relative_to(PKG)}::{node.name}")
    assert found == ["parser/pdf.py::_png_unfilter"], found
