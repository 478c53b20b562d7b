"""Public parse API — parity with the reference's four entry points
(``lib/html5ever.ex:40-129``) plus the canonical encoders used by the
Spark operators.

All tree traversals are **iterative** (explicit stacks): the reference's
flat encoder already is (``arena_sink.rs:476-479``), its nested encoder
is recursive (``arena_sink.rs:364-423``) — a deep-document hazard we do
not copy. Each tree shape has one walker: :func:`_nested` builds the
parity tuples and the JSON columns from a tag table, and
:func:`preorder` feeds the flat map and ``flat_parse_nodes`` rows.
"""

from __future__ import annotations

import json

from .dom import COMMENT, DOCTYPE, DOCUMENT, ELEMENT, PI, TEXT, Node, \
    attrs_map
from .tokenizer import Tokenizer
from .treebuilder import TreeBuilder

# Reference error string: native/html5ever_nif/src/lib.rs:10-12
UTF8_ERROR = "cannot transform bytes from binary to a valid UTF8 string"


def parse_document(
    html: str,
    max_nodes: int | None = None,
    max_depth: int | None = None,
) -> TreeBuilder:
    """Parse an HTML string into a DOM; never raises on malformed HTML
    (spec error recovery; reference arena_sink.rs:216). ``max_nodes`` /
    ``max_depth`` bound adversarial documents (ParseBudgetExceeded)."""
    builder = TreeBuilder(max_nodes=max_nodes, max_depth=max_depth)
    tokenizer = Tokenizer(html, builder)
    builder.tokenizer = tokenizer
    tokenizer.run()
    return builder


def parse_fragment(
    html: str,
    context: str = "div",
    context_attrs: tuple = (),
    max_nodes: int | None = None,
    max_depth: int | None = None,
) -> TreeBuilder:
    """WHATWG §13.4 HTML fragment parsing — the innerHTML algorithm.
    (Not in the reference's public API — lib/html5ever.ex exposes only
    whole-document parse/flat_parse — but it is the other half of the
    html5ever crate's surface and what fragment-context html5lib tests
    exercise.)

    ``context`` is the context element: an HTML tag name ("div",
    "template", "textarea", …) or a namespaced pair ("svg title",
    "math ms"). Setup per spec: the context element is created DETACHED
    (it stands in for reset-insertion-mode and the adjusted current
    node, and is never part of the output); a root <html> element is
    appended to the document and the fragment's nodes are its children
    (``builder.fragment_root.children``). Tokenizer starts in the
    context-appropriate state (RCDATA/RAWTEXT/script data/PLAINTEXT),
    with the context name as the "appropriate end tag". Node ids: doc=0,
    context=1, root=2, then creation order."""
    from .dom import HTML_NS, MATHML_NS, SVG_NS
    from .tokenizer import PLAINTEXT, RAWTEXT, RCDATA, SCRIPT_DATA
    from .treebuilder import M_IN_TEMPLATE

    builder = TreeBuilder(max_nodes=max_nodes, max_depth=max_depth)
    ns, name = HTML_NS, context
    if " " in context:
        prefix, name = context.split(" ", 1)
        ns = {"svg": SVG_NS, "math": MATHML_NS}[prefix]
    ctx = builder._create_element(name, [list(a) for a in context_attrs], ns)
    builder.fragment_context = ctx
    root = builder._create_element("html", [])
    builder.doc.append_child(root)
    builder.open.append(root)
    if ns == HTML_NS and name == "template":
        builder.template_modes.append(M_IN_TEMPLATE)
    builder._reset_mode()
    if ns == HTML_NS and name == "form":
        builder.form = ctx
    tokenizer = Tokenizer(html, builder)
    if ns == HTML_NS:
        state = {
            "title": RCDATA, "textarea": RCDATA,
            "style": RAWTEXT, "xmp": RAWTEXT, "iframe": RAWTEXT,
            "noembed": RAWTEXT, "noframes": RAWTEXT,
            # scripting enabled (html5ever default) → noscript is RAWTEXT
            "noscript": RAWTEXT,
            "script": SCRIPT_DATA,
            "plaintext": PLAINTEXT,
        }.get(name)
        if state is not None:
            tokenizer.state = state
            tokenizer.last_start = name
    builder.tokenizer = tokenizer
    builder.fragment_root = root
    tokenizer.run()
    return builder


def _to_text(v) -> str:
    """The UTF-8 gate (reference lib.rs:27-30): binary html must be
    valid UTF-8 (``UnicodeDecodeError`` otherwise); str input is
    already decoded and passes through."""
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).decode("utf-8", errors="strict")
    return v


# ---------------------------------------------------------------------------
# the two walks: nested (reference nodes_to_term, arena_sink.rs:364-423)
# and flat (nodes_to_flat_term, arena_sink.rs:458-607)

# :func:`_nested` tag tables — (element prefix, comment, doctype, pi):
# the parity tuples, and the JSON tagged arrays (``json.dumps`` writes a
# tuple as an array)
_TUPLE_TAGS = ((), "comment", "doctype", "pi")
_JSON_TAGS = (("e",), "c", "d", "p")


def _attrs_list(attrs) -> list:
    return [(n, v) for n, v in attrs]


def _nested(root: Node, attrs_as_maps: bool, tags: tuple) -> list:
    """The encoded child list of ``root``: element → (*prefix, name,
    attrs, children); text → str; comment → (comment, s); doctype →
    (doctype, name, public, system); pi → (pi, target, contents), the
    tags taken from ``tags``. Iterative post-order assembly: the
    reference's encoder recurses, 100k-deep <div> chains must not."""
    el, comment, doctype, pi = tags
    enc_attrs = attrs_map if attrs_as_maps else _attrs_list
    children: dict[int, list] = {root.id: []}
    stack = [(root, iter(root.children))]
    while stack:
        parent, it = stack[-1]
        child = next(it, None)
        if child is None:
            stack.pop()
            if stack:
                # finalize parent into its grandparent's list
                children[stack[-1][0].id].append(
                    (*el, parent.name, enc_attrs(parent.attrs),
                     children.pop(parent.id))
                )
            continue
        t = child.type
        if t == ELEMENT:
            children[child.id] = []
            stack.append((child, iter(child.children)))
        elif t == TEXT:
            children[parent.id].append(child.contents)
        elif t == COMMENT:
            children[parent.id].append((comment, child.contents))
        elif t == DOCTYPE:
            children[parent.id].append(
                (doctype, child.name, child.public_id, child.system_id)
            )
        elif t == PI:
            children[parent.id].append((pi, child.name, child.contents))
    return children[root.id]


def preorder(root: Node):
    """``root`` and its descendants in document order (template contents
    are not walked): an explicit work stack, as arena_sink.rs:476-479."""
    stack = [root]
    while stack:
        node = stack.pop()
        yield node
        if node.children:
            stack.extend(reversed(node.children))


def _encode_flat(doc: Node, attrs_as_maps: bool):
    """%{root: 0, nodes: %{id => node_map}} over :func:`preorder`.
    Per-kind fields per arena_sink.rs:482-598 (flat doctype drops
    public/system ids)."""
    enc_attrs = attrs_map if attrs_as_maps else _attrs_list
    nodes: dict[int, dict] = {}
    for node in preorder(doc):
        t = node.type
        entry: dict = {
            "id": node.id,
            "parent": node.parent.id if node.parent is not None else None,
        }
        if t == DOCUMENT:
            entry["type"] = "document"
            entry["parent"] = None
            entry["children"] = [c.id for c in node.children]
        elif t == DOCTYPE:
            entry["type"] = "doctype"
            entry["name"] = node.name
        elif t == TEXT:
            entry["type"] = "text"
            entry["contents"] = node.contents
        elif t == COMMENT:
            entry["type"] = "comment"
            entry["contents"] = node.contents
        elif t == ELEMENT:
            entry["type"] = "element"
            entry["name"] = node.name
            entry["children"] = [c.id for c in node.children]
            entry["attrs"] = enc_attrs(node.attrs)
        else:  # PI
            entry["type"] = "pi"
            entry["name"] = node.name
            entry["contents"] = node.contents
        nodes[node.id] = entry
    return {"root": 0, "nodes": nodes}


# ---------------------------------------------------------------------------
# the reference's four entry points (lib/html5ever.ex:40-129)


def _parity(html, flat: bool, attrs_as_maps: bool):
    """The UTF-8 gate, an unbudgeted parse, then the nested or the flat
    encoding: ``("ok", encoded)`` | ``("error", UTF8_ERROR)``."""
    try:
        text = _to_text(html)
    except UnicodeDecodeError:
        return ("error", UTF8_ERROR)
    doc = parse_document(text).doc
    if flat:
        return ("ok", _encode_flat(doc, attrs_as_maps))
    return ("ok", _nested(doc, attrs_as_maps, _TUPLE_TAGS))


def parse(html):
    """HTML → ``("ok", nested_tree)`` | ``("error", reason)``: document →
    list of encoded children; element → (name, attrs, children); text →
    str; comment → ("comment", s); doctype → ("doctype", n, p, s); pi →
    ("pi", target, contents). Parity: ``Html5ever.parse/1``
    (lib/html5ever.ex:40-42)."""
    return _parity(html, flat=False, attrs_as_maps=False)


def parse_attrs_maps(html):
    """Parity: ``Html5ever.parse_with_attributes_as_maps/1``."""
    return _parity(html, flat=False, attrs_as_maps=True)


def flat_parse(html):
    """Parity: ``Html5ever.flat_parse/1`` (lib/html5ever.ex:117-119)."""
    return _parity(html, flat=True, attrs_as_maps=False)


def flat_parse_attrs_maps(html):
    """Parity: ``Html5ever.flat_parse_with_attributes_as_maps/1``."""
    return _parity(html, flat=True, attrs_as_maps=True)


# ---------------------------------------------------------------------------
# canonical JSON encodings for Spark columns


def _dumps(tag: str, root: Node, attrs_as_maps: bool) -> str:
    return json.dumps(
        [tag, _nested(root, attrs_as_maps, _JSON_TAGS)],
        separators=(",", ":"), ensure_ascii=False,
    )


def tree_to_json(doc: Node, attrs_as_maps: bool = False) -> str:
    """Byte-stable canonical nested encoding (Spark ``tree_json`` column).

    Tagged arrays: document → ["#doc", [children]], element →
    ["e", name, [[n,v],...], [children]], text → "…", comment →
    ["c", data], doctype → ["d", name, public, system], pi →
    ["p", target, data]. Compact separators, non-ASCII preserved.

    ``attrs_as_maps=True`` encodes attrs as a JSON object (insertion =
    first-occurrence order) — the maps-mode surface of the reference's
    ``parse_with_attributes_as_maps/1`` (lib/html5ever.ex:62-64)."""
    return _dumps("#doc", doc, attrs_as_maps)


def fragment_to_json(builder: TreeBuilder) -> str:
    """Byte-stable encoding of a :func:`parse_fragment` result: the
    fragment's node list (children of the fragment root, per §13.4 —
    the innerHTML return value) as ``["#frag", [children]]``, same
    child encoding as :func:`tree_to_json`."""
    return _dumps("#frag", builder.fragment_root, False)
