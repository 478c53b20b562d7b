"""CSS selector engine over the arena DOM.

The reference parser is the tree backend that selector libraries in its
ecosystem build on (``lib/html5ever.ex:40`` returns the tuple tree that
Floki-style ``find/2`` consumes) — so a selector surface is the
canonical consumer of the parse output. This module compiles a
practical CSS subset and matches it against :class:`parser.dom.Node`
trees; the Spark surface (:mod:`operators.select`) runs it row-local
inside the vectorized Arrow parse stage — per-document tree matching
needs the document tree, so the 100 TB plan is zero-shuffle per-doc
matching, NOT corpus-wide ancestor self-joins.

Supported grammar (documented subset, oracle-pinned):

* type ``div`` / universal ``*``; ``#id``; ``.class`` (whitespace token
  list); compounds ``div.a#b[c]``
* attributes ``[a]``, ``[a=v]``, ``[a^=v]``, ``[a$=v]``, ``[a*=v]``,
  ``[a~=v]`` (word list), ``[a|=v]`` (exact or ``v-`` prefix); values
  bare, single- or double-quoted; ``^=/$=/*=`` never match an empty
  value (css-selectors-4 §6.2)
* combinators: descendant (space), child ``>``, adjacent sibling ``+``
  (skips non-element siblings), general sibling ``~``
* pseudo-classes ``:first-child``, ``:last-child``, ``:only-child``,
  ``:empty``, ``:nth-child(an+b | n | odd | even)``, ``:not(compound)``
  (no combinators inside ``:not``)
* selector lists ``a, b`` (match = any alternative)

Out of scope (raise ``SelectorError``): pseudo-elements, ``:nth-of-type``
family, namespaces, case-insensitivity flags ``[a=v i]``. Matching never
descends into ``<template>`` hidden contents (browser
``querySelectorAll`` semantics). Tag comparison is lowercase (the
tree builder lowercases HTML-namespace names); id/class/attr values are
case-sensitive.
"""

from __future__ import annotations

import re

__all__ = ["SelectorError", "compile_selector", "select", "iter_elements"]

from ..parser.api import preorder
from ..parser.dom import ELEMENT, TEXT


class SelectorError(ValueError):
    """Unparseable or unsupported selector."""


_TOKEN = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comb>[>+~])
  | (?P<comma>,)
  | (?P<hash>\#[-\w]+)
  | (?P<class>\.[-\w]+)
  | (?P<attr>\[\s*[-\w]+\s*(?:(?:[~^$*|]?=)\s*
        (?:"[^"]*"|'[^']*'|[-\w]+)\s*)?\])
  | (?P<pseudo>:[-\w]+(?:\((?:[^()]|\([^()]*\))*\))?)
  | (?P<type>[-\w]+|\*)
    """,
    re.VERBOSE,
)

_ATTR = re.compile(
    r"\[\s*(?P<name>[-\w]+)\s*"
    r"(?:(?P<op>[~^$*|]?=)\s*(?P<val>\"[^\"]*\"|'[^']*'|[-\w]+)\s*)?\]"
)

_NTH = re.compile(
    r"^\s*(?:(?P<odd>odd)|(?P<even>even)"
    r"|(?P<an>[+-]?\d*)n\s*(?:(?P<sign>[+-])\s*(?P<b2>\d+))?"
    r"|(?P<b>[+-]?\d+))\s*$"
)

_SIMPLE_PSEUDOS = frozenset(
    ["first-child", "last-child", "only-child", "empty"]
)


class _Compound:
    __slots__ = ("tag", "id", "classes", "attrs", "pseudos", "nots")

    def __init__(self):
        self.tag = None  # None = universal
        self.id = None
        self.classes = []
        self.attrs = []  # (name, op|None, value|None)
        self.pseudos = []  # (name, parsed-arg)
        self.nots = []  # [_Compound]


def _parse_nth(arg: str):
    m = _NTH.match(arg)
    if not m:
        raise SelectorError(f"bad nth-child argument: {arg!r}")
    if m.group("odd"):
        return (2, 1)
    if m.group("even"):
        return (2, 0)
    if m.group("b") is not None:
        return (0, int(m.group("b")))
    an = m.group("an")
    a = 1 if an in ("", "+") else -1 if an == "-" else int(an)
    b = int(m.group("b2") or 0)
    if m.group("sign") == "-":
        b = -b
    return (a, b)


def _add_simple(compound: _Compound, kind: str, text: str) -> None:
    if kind == "hash":
        compound.id = text[1:]
    elif kind == "class":
        compound.classes.append(text[1:])
    elif kind == "type":
        if text != "*":
            compound.tag = text.lower()
    elif kind == "attr":
        m = _ATTR.match(text)
        if not m:  # pragma: no cover - _TOKEN already shape-checked
            raise SelectorError(f"bad attribute selector: {text!r}")
        val = m.group("val")
        if val is not None and val[0] in "\"'":
            val = val[1:-1]
        compound.attrs.append((m.group("name").lower(), m.group("op"), val))
    elif kind == "pseudo":
        body = text[1:]
        if "(" in body:
            name, arg = body.split("(", 1)
            arg = arg[:-1]
        else:
            name, arg = body, None
        name = name.lower()
        if name == "nth-child":
            if arg is None:
                raise SelectorError(":nth-child needs an argument")
            compound.pseudos.append(("nth-child", _parse_nth(arg)))
        elif name == "not":
            if arg is None:
                raise SelectorError(":not needs an argument")
            inner = _parse_compound_str(arg.strip())
            if inner.nots:
                raise SelectorError(":not cannot nest :not")
            compound.nots.append(inner)
        elif name in _SIMPLE_PSEUDOS:
            if arg is not None:
                raise SelectorError(f":{name} takes no argument")
            compound.pseudos.append((name, None))
        else:
            raise SelectorError(f"unsupported pseudo-class :{name}")


def _parse_compound_str(s: str) -> _Compound:
    """Parse a lone compound (the :not argument)."""
    comp = _Compound()
    pos, saw = 0, False
    while pos < len(s):
        m = _TOKEN.match(s, pos)
        if not m or m.lastgroup in ("ws", "comb", "comma"):
            raise SelectorError(f"bad :not argument: {s!r}")
        _add_simple(comp, m.lastgroup, m.group())
        saw = True
        pos = m.end()
    if not saw:
        raise SelectorError(":not argument is empty")
    return comp


def compile_selector(selector: str):
    """selector string → list of complex selectors; each is a list of
    ``(combinator, _Compound)`` with combinator ``None`` for the first
    step, else one of ``' ' > + ~``."""
    alternatives = []
    steps = []  # current complex
    comp = None
    pending = None  # combinator waiting for its right-hand compound
    saw_ws = False
    pos = 0
    s = selector

    def flush_compound():
        nonlocal comp, pending, saw_ws
        if comp is not None:
            steps.append((pending, comp))
            comp, pending = None, None
        saw_ws = False

    def flush_complex():
        flush_compound()
        if pending is not None:
            raise SelectorError(f"dangling combinator in {s!r}")
        if not steps:
            raise SelectorError(f"empty selector in {s!r}")
        alternatives.append(list(steps))
        steps.clear()

    while pos < len(s):
        m = _TOKEN.match(s, pos)
        if not m:
            raise SelectorError(f"cannot parse selector at {s[pos:]!r}")
        kind = m.group(m.lastgroup) and m.lastgroup
        if kind == "ws":
            saw_ws = True
        elif kind == "comb":
            flush_compound()
            if pending is not None:
                raise SelectorError(f"double combinator in {s!r}")
            if not steps:
                raise SelectorError(f"leading combinator in {s!r}")
            pending = m.group()
        elif kind == "comma":
            flush_complex()
        else:
            if comp is None:
                if steps and pending is None:
                    if not saw_ws:  # pragma: no cover - tokenizer greed
                        raise SelectorError(f"missing combinator in {s!r}")
                    pending = " "
            elif saw_ws:
                # "div .x" vs "div.x": whitespace between simple tokens
                # starts a new descendant step
                flush_compound()
                pending = " "
            if comp is None:
                comp = _Compound()
            _add_simple(comp, kind, m.group())
            saw_ws = False
        pos = m.end()
    flush_complex()
    return alternatives


# ---------------------------------------------------------------------------
# matching


def iter_elements(doc):
    """Document-order elements over :func:`parser.api.preorder`, which
    does NOT descend into <template> hidden contents (querySelectorAll
    semantics)."""
    return (node for node in preorder(doc) if node.type == ELEMENT)


def _elem_children(parent):
    return [c for c in parent.children if c.type == ELEMENT]


def _matches_compound(e, comp: _Compound) -> bool:
    if comp.tag is not None and e.name != comp.tag:
        return False
    if comp.id is not None and e.get_attr("id") != comp.id:
        return False
    if comp.classes:
        cls = e.get_attr("class")
        tokens = cls.split() if cls else ()
        for c in comp.classes:
            if c not in tokens:
                return False
    for name, op, val in comp.attrs:
        actual = e.get_attr(name)
        if actual is None:
            return False
        if op is None:
            continue
        if op == "=":
            ok = actual == val
        elif op == "~=":
            ok = val in actual.split() and val != ""
        elif op == "|=":
            ok = actual == val or actual.startswith(val + "-")
        elif op == "^=":
            ok = val != "" and actual.startswith(val)
        elif op == "$=":
            ok = val != "" and actual.endswith(val)
        else:  # *=
            ok = val != "" and val in actual
        if not ok:
            return False
    for name, arg in comp.pseudos:
        parent = e.parent
        sibs = _elem_children(parent) if parent is not None else [e]
        if name == "first-child":
            ok = sibs[0] is e
        elif name == "last-child":
            ok = sibs[-1] is e
        elif name == "only-child":
            ok = len(sibs) == 1
        elif name == "empty":
            # selectors-3 behavior: any element/text child (even
            # whitespace) defeats :empty; comments/PIs do not
            ok = not any(
                c.type in (ELEMENT, TEXT) for c in e.children
            )
        else:  # nth-child
            a, b = arg
            idx = next(i for i, s in enumerate(sibs, 1) if s is e)
            if a == 0:
                ok = idx == b
            else:
                ok = (idx - b) % a == 0 and (idx - b) // a >= 0
        if not ok:
            return False
    for inner in comp.nots:
        if _matches_compound(e, inner):
            return False
    return True


def _parent_elem(e):
    p = e.parent
    return p if p is not None and p.type == ELEMENT else None


def _prev_elems(e):
    p = e.parent
    if p is None:
        return []
    out = []
    for c in p.children:
        if c is e:
            break
        if c.type == ELEMENT:
            out.append(c)
    return out


def _matches_complex(e, steps) -> bool:
    """Right-to-left matching with backtracking; recursion depth is the
    number of compounds (selector length), never document depth —
    ancestor walks are loops."""

    def up(node, idx) -> bool:
        if idx < 0:
            return True
        comb, comp = steps[idx + 1][0], steps[idx][1]
        if comb == ">":
            p = _parent_elem(node)
            return (
                p is not None
                and _matches_compound(p, comp)
                and up(p, idx - 1)
            )
        if comb == " ":
            p = _parent_elem(node)
            while p is not None:
                if _matches_compound(p, comp) and up(p, idx - 1):
                    return True
                p = _parent_elem(p)
            return False
        prevs = _prev_elems(node)
        if comb == "+":
            if not prevs:
                return False
            s = prevs[-1]
            return _matches_compound(s, comp) and up(s, idx - 1)
        # '~'
        for s in reversed(prevs):
            if _matches_compound(s, comp) and up(s, idx - 1):
                return True
        return False

    last = len(steps) - 1
    return _matches_compound(e, steps[last][1]) and up(e, last - 1)


def select(doc, compiled) -> list:
    """All elements of ``doc`` (document order) matching any alternative
    of a :func:`compile_selector` result."""
    if isinstance(compiled, str):
        compiled = compile_selector(compiled)
    return [
        e
        for e in iter_elements(doc)
        if any(_matches_complex(e, alt) for alt in compiled)
    ]
