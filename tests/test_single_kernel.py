"""Static guard for the one-HTML-document-kernel rule: every
per-document HTML operator is an emitter list over
``operators.parse.map_documents``. Parsing goes through the kernel's
``decode_and_parse`` and no HTML operator runs its own ``mapInArrow``
loop. Pure ``ast`` scan, no Spark."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "html5ever_elixir_spark"
SCANNED = sorted(
    p for d in ("operators", "functions") for p in (PKG / d).glob("*.py")
)
KERNEL = PKG / "operators" / "parse.py"
# importing any of these makes a module an HTML operator module
HTML_MODULES = {"api", "dom", "encoding", "extract", "tokenizer",
                "treebuilder", "parse", "select", "tables", "markdown"}


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


def _is_html_module(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module and node.level:
            if node.module.split(".")[-1] in HTML_MODULES:
                return True
    return False


def test_parse_document_only_in_kernel_helper():
    offenders = []
    for path in SCANNED:
        for node, fn in _scopes(ast.parse(path.read_text())):
            if _called(node, "parse_document") and not (
                path == KERNEL and fn == "decode_and_parse"
            ):
                offenders.append(f"{path.name}:{node.lineno} in {fn}")
    assert offenders == []


def test_html_operators_have_no_own_arrow_loop():
    kernel_calls = 0
    offenders = []
    for path in SCANNED:
        tree = ast.parse(path.read_text())
        html = _is_html_module(tree)
        for node, fn in _scopes(tree):
            if _called(node, "mapInArrow"):
                if path == KERNEL and fn == "map_documents":
                    kernel_calls += 1
                elif html:
                    offenders.append(f"{path.name}:{node.lineno} in {fn}")
            if html and _called(node, "from_pylist"):
                offenders.append(f"{path.name}:{node.lineno} row-dict path")
    assert offenders == []
    assert kernel_calls == 1


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
