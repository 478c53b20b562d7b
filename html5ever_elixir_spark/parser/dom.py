"""Arena-style DOM used by the tree builder.

Mirrors the reference's node model (``native/html5ever_nif/src/
arena_sink.rs:63-98``): ids assigned in creation order with the document
root fixed at 0 (``arena_sink.rs:36-42``, ``:165-170``), six node kinds
(document / doctype / text / comment / element / pi), ``<template>``
elements carrying a hidden per-template document for their contents
(``arena_sink.rs:270-273``), and the ``annotation-xml`` MathML
integration-point flag (``arena_sink.rs:88-93``).

Unlike the reference's sibling-pointer links we keep a ``children``
list per node — the output encoders need child *lists* anyway and
Python list insert/remove is the idiomatic equivalent of the reference's
``Node.append`` / ``Node.insert_before`` / ``Node.detach``
(``arena_sink.rs:113-161``).
"""

from __future__ import annotations

DOCUMENT = "document"
DOCTYPE = "doctype"
TEXT = "text"
COMMENT = "comment"
ELEMENT = "element"
PI = "pi"

HTML_NS = "html"
SVG_NS = "svg"
MATHML_NS = "mathml"


def attrs_map(attrs) -> dict:
    """An element's ``[[name, value], …]`` as a dict in which the first
    occurrence of a name wins (lib/html5ever.ex:46-47)."""
    out = {}
    for n, v in attrs:
        if n not in out:
            out[n] = v
    return out


class Node:
    __slots__ = (
        "id",
        "type",
        "name",
        "namespace",
        "attrs",
        "contents",
        "public_id",
        "system_id",
        "children",
        "parent",
        "template_contents",
        "mathml_annotation_xml_integration",
    )

    def __init__(self, node_id: int, node_type: str):
        self.id = node_id
        self.type = node_type
        self.name = None
        self.namespace = HTML_NS
        self.attrs = None  # list[[name, value]] for elements
        self.contents = None  # text/comment/pi payload
        self.public_id = None
        self.system_id = None
        self.children = []
        self.parent = None
        self.template_contents = None  # hidden Document for <template>
        self.mathml_annotation_xml_integration = False

    # -- tree mutations (reference arena_sink.rs:113-161, :350-361) ----------

    def detach(self) -> None:
        p = self.parent
        if p is not None:
            for i, ch in enumerate(p.children):
                if ch is self:
                    del p.children[i]
                    break
            self.parent = None

    def append_child(self, child: "Node") -> None:
        child.detach()
        child.parent = self
        self.children.append(child)

    def insert_child(self, index: int, child: "Node") -> None:
        child.detach()
        child.parent = self
        self.children.insert(index, child)

    def index_of(self, child: "Node") -> int:
        for i, ch in enumerate(self.children):
            if ch is child:
                return i
        raise ValueError("child not found")

    def reparent_children_to(self, new_parent: "Node") -> None:
        # reference arena_sink.rs:354-361
        for ch in self.children:
            ch.parent = new_parent
            new_parent.children.append(ch)
        self.children = []

    def get_attr(self, name: str):
        if self.attrs:
            for n, v in self.attrs:
                if n == name:
                    return v
        return None

    def add_attrs_if_missing(self, attrs) -> None:
        # reference arena_sink.rs:332-348 — existing attrs win
        if self.attrs is None:
            self.attrs = []
        existing = {n for n, _ in self.attrs}
        for n, v in attrs:
            if n not in existing:
                existing.add(n)
                self.attrs.append([n, v])

    def __repr__(self):  # debug aid only
        if self.type == ELEMENT:
            return f"<Node {self.id} element {self.namespace}:{self.name}>"
        return f"<Node {self.id} {self.type}>"
