"""WHATWG HTML §13.2.6 tree construction — from scratch, pure Python.

The reference gets this algorithm from the Rust ``html5ever`` crate and
implements only the TreeSink side (``native/html5ever_nif/src/
arena_sink.rs:204-362``); we implement both the algorithm and the sink.
The TreeSink contract drives this file's shape:

* node ids in creation order, root document = 0 (arena_sink.rs:36-42, :165-170)
* consecutive text collapse at append time (arena_sink.rs:172-196)
* ``<template>`` contents into a hidden document (arena_sink.rs:237-247, :270-273)
* foster parenting (arena_sink.rs:298-317), adoption agency reparenting
  (arena_sink.rs:350-361), first-wins attr merge (arena_sink.rs:332-348)
* parse errors swallowed (arena_sink.rs:216) — counted here, never raised

Insertion modes are handler methods returning either ``None`` (token
consumed) or a token to reprocess (possibly rewritten, e.g. ``<image>``
→ ``<img>``). Scripting is treated as enabled (html5ever's default), so
``<noscript>`` in head takes the RAWTEXT path and the in-head-noscript
mode is unreachable.
"""

from __future__ import annotations

from .dom import (
    COMMENT,
    DOCTYPE,
    DOCUMENT,
    ELEMENT,
    HTML_NS,
    MATHML_NS,
    SVG_NS,
    TEXT,
    Node,
)
from .tokenizer import DATA, PLAINTEXT, RAWTEXT, RCDATA, SCRIPT_DATA

# ---------------------------------------------------------------------------
# insertion modes

M_INITIAL = 0
M_BEFORE_HTML = 1
M_BEFORE_HEAD = 2
M_IN_HEAD = 3
M_AFTER_HEAD = 4
M_IN_BODY = 5
M_TEXT = 6
M_IN_TABLE = 7
M_IN_TABLE_TEXT = 8
M_IN_CAPTION = 9
M_IN_COLUMN_GROUP = 10
M_IN_TABLE_BODY = 11
M_IN_ROW = 12
M_IN_CELL = 13
M_IN_SELECT = 14
M_IN_SELECT_IN_TABLE = 15
M_IN_TEMPLATE = 16
M_AFTER_BODY = 17
M_IN_FRAMESET = 18
M_AFTER_FRAMESET = 19
M_AFTER_AFTER_BODY = 20
M_AFTER_AFTER_FRAMESET = 21

_WS_SET = frozenset("\t\n\x0c\r ")

MARKER = object()  # active-formatting-elements scope marker


def _is_ws(data: str) -> bool:
    return all(c in _WS_SET for c in data)


# ---------------------------------------------------------------------------
# element classes (spec lists)

SPECIAL_HTML = frozenset(
    """address applet area article aside base basefont bgsound blockquote body
    br button caption center col colgroup dd details dir div dl dt embed
    fieldset figcaption figure footer form frame frameset h1 h2 h3 h4 h5 h6
    head header hgroup hr html iframe img input keygen li link listing main
    marquee menu meta nav noembed noframes noscript object ol p param
    plaintext pre script section select source style summary table tbody td
    template textarea tfoot th thead title tr track ul wbr xmp""".split()
)
SPECIAL_MATHML = frozenset("mi mo mn ms mtext annotation-xml".split())
SPECIAL_SVG = frozenset(["foreignObject", "desc", "title"])

FORMATTING = frozenset(
    "a b big code em font i nobr s small strike strong tt u".split()
)

HEADINGS = frozenset(["h1", "h2", "h3", "h4", "h5", "h6"])

IMPLIED_END = frozenset("dd dt li optgroup option p rb rp rt rtc".split())
IMPLIED_END_THOROUGH = IMPLIED_END | frozenset(
    "caption colgroup tbody td tfoot th thead tr".split()
)

_SCOPE_BASE = (
    {(HTML_NS, n) for n in ("applet", "caption", "html", "table", "td", "th",
                             "marquee", "object", "template")}
    | {(MATHML_NS, n) for n in ("mi", "mo", "mn", "ms", "mtext",
                                 "annotation-xml")}
    | {(SVG_NS, n) for n in ("foreignObject", "desc", "title")}
)
_SCOPE_LIST_ITEM = _SCOPE_BASE | {(HTML_NS, "ol"), (HTML_NS, "ul")}
_SCOPE_BUTTON = _SCOPE_BASE | {(HTML_NS, "button")}
_SCOPE_TABLE = {(HTML_NS, "html"), (HTML_NS, "table"), (HTML_NS, "template")}

BLOCK_CLOSERS = frozenset(
    """address article aside blockquote center details dialog dir div dl
    fieldset figcaption figure footer header hgroup main menu nav ol p
    section summary ul""".split()
)

# in-body start tags routed to the in-head handler
_IN_HEAD_START = frozenset(
    "base basefont bgsound link meta noframes script style template title".split()
)

FOREIGN_BREAKOUT = frozenset(
    """b big blockquote body br center code dd div dl dt em embed h1 h2 h3 h4
    h5 h6 head hr i img li listing menu meta nobr ol p pre ruby s small span
    strong strike sub sup table tt u ul var""".split()
)

SVG_TAG_ADJUST = {
    t.lower(): t
    for t in """altGlyph altGlyphDef altGlyphItem animateColor animateMotion
    animateTransform clipPath feBlend feColorMatrix feComponentTransfer
    feComposite feConvolveMatrix feDiffuseLighting feDisplacementMap
    feDistantLight feDropShadow feFlood feFuncA feFuncB feFuncG feFuncR
    feGaussianBlur feImage feMerge feMergeNode feMorphology feOffset
    fePointLight feSpecularLighting feSpotLight feTile feTurbulence
    foreignObject glyphRef linearGradient radialGradient textPath""".split()
}

SVG_ATTR_ADJUST = {
    a.lower(): a
    for a in """attributeName attributeType baseFrequency baseProfile calcMode
    clipPathUnits diffuseConstant edgeMode filterUnits glyphRef
    gradientTransform gradientUnits kernelMatrix kernelUnitLength keyPoints
    keySplines keyTimes lengthAdjust limitingConeAngle markerHeight
    markerUnits markerWidth maskContentUnits maskUnits numOctaves pathLength
    patternContentUnits patternTransform patternUnits pointsAtX pointsAtY
    pointsAtZ preserveAlpha preserveAspectRatio primitiveUnits refX refY
    repeatCount repeatDur requiredExtensions requiredFeatures
    specularConstant specularExponent spreadMethod startOffset stdDeviation
    stitchTiles surfaceScale systemLanguage tableValues targetX targetY
    textLength viewBox viewTarget xChannelSelector yChannelSelector
    zoomAndPan""".split()
}

# foreign attributes: only the local part survives in output (reference
# common.rs:13-18 encodes name.local only)
_FOREIGN_ATTR_LOCAL = {
    "xlink:actuate": "actuate", "xlink:arcrole": "arcrole",
    "xlink:href": "href", "xlink:role": "role", "xlink:show": "show",
    "xlink:title": "title", "xlink:type": "type",
    "xml:lang": "lang", "xml:space": "space", "xmlns": "xmlns",
    "xmlns:xlink": "xlink",
}

# quirks-mode doctype sniffing (§13.2.6.4.1) — public-id prefixes
_QUIRKY_PUBLIC_PREFIXES = tuple(
    p.lower()
    for p in [
        "+//silmaril//dtd html pro v0r11 19970101//",
        "-//as//dtd html 3.0 aswedit + extensions//",
        "-//advasoft ltd//dtd html 3.0 aswedit + extensions//",
        "-//ietf//dtd html 2.0 level 1//", "-//ietf//dtd html 2.0 level 2//",
        "-//ietf//dtd html 2.0 strict level 1//",
        "-//ietf//dtd html 2.0 strict level 2//",
        "-//ietf//dtd html 2.0 strict//", "-//ietf//dtd html 2.0//",
        "-//ietf//dtd html 2.1e//", "-//ietf//dtd html 3.0//",
        "-//ietf//dtd html 3.2 final//", "-//ietf//dtd html 3.2//",
        "-//ietf//dtd html 3//", "-//ietf//dtd html level 0//",
        "-//ietf//dtd html level 1//", "-//ietf//dtd html level 2//",
        "-//ietf//dtd html level 3//", "-//ietf//dtd html strict level 0//",
        "-//ietf//dtd html strict level 1//",
        "-//ietf//dtd html strict level 2//",
        "-//ietf//dtd html strict level 3//", "-//ietf//dtd html strict//",
        "-//ietf//dtd html//", "-//metrius//dtd metrius presentational//",
        "-//microsoft//dtd internet explorer 2.0 html strict//",
        "-//microsoft//dtd internet explorer 2.0 html//",
        "-//microsoft//dtd internet explorer 2.0 tables//",
        "-//microsoft//dtd internet explorer 3.0 html strict//",
        "-//microsoft//dtd internet explorer 3.0 html//",
        "-//microsoft//dtd internet explorer 3.0 tables//",
        "-//netscape comm. corp.//dtd html//",
        "-//netscape comm. corp.//dtd strict html//",
        "-//o'reilly and associates//dtd html 2.0//",
        "-//o'reilly and associates//dtd html extended 1.0//",
        "-//o'reilly and associates//dtd html extended relaxed 1.0//",
        "-//sq//dtd html 2.0 hotmetal + extensions//",
        "-//softquad software//dtd hotmetal pro 6.0::19990601::extensions to html 4.0//",
        "-//softquad//dtd hotmetal pro 4.0::19971010::extensions to html 4.0//",
        "-//spyglass//dtd html 2.0 extended//",
        "-//sun microsystems corp.//dtd hotjava html//",
        "-//sun microsystems corp.//dtd hotjava strict html//",
        "-//w3c//dtd html 3 1995-03-24//", "-//w3c//dtd html 3.2 draft//",
        "-//w3c//dtd html 3.2 final//", "-//w3c//dtd html 3.2//",
        "-//w3c//dtd html 3.2s draft//", "-//w3c//dtd html 4.0 frameset//",
        "-//w3c//dtd html 4.0 transitional//",
        "-//w3c//dtd html experimental 19960712//",
        "-//w3c//dtd html experimental 970421//", "-//w3c//dtd w3 html//",
        "-//w3o//dtd w3 html 3.0//", "-//webtechs//dtd mozilla html 2.0//",
        "-//webtechs//dtd mozilla html//",
    ]
)


class ParseBudgetExceeded(Exception):
    """Raised when a document exceeds the node budget (adversarial or
    pathological input at corpus scale); surfaced as a row-level error."""


class TreeBuilder:
    """Builds the per-document arena DOM from tokenizer events."""

    def __init__(self, max_nodes: int | None = None,
                 max_depth: int | None = None):
        self.max_nodes = max_nodes
        # open-element-stack cap: scope checks and formatting
        # reconstruction scan the stack, so adversarial never-closed-tag
        # documents are O(depth²). Browsers cap tree depth (Blink: 512);
        # we surface a row-level error instead of altering tree shape.
        self.max_depth = max_depth
        self.next_id = 0
        self.doc = self._new_node(DOCUMENT)
        self.open: list[Node] = []
        self.afe: list = []  # entries: [element, start_token] or MARKER
        self.mode = M_INITIAL
        self.original_mode = M_IN_BODY
        self.template_modes: list[int] = []
        self.head: Node | None = None
        self.form: Node | None = None
        self.frameset_ok = True
        self.foster_parenting = False
        self.quirks = "no-quirks"
        self.ignore_lf = False
        self.pending_table_text: list[str] = []
        self.done = False
        self.parse_errors = 0
        self.tokenizer = None  # set by api.parse_document
        # §13.4 fragment parsing: the (detached) context element; set by
        # api.parse_fragment before any token is processed. Drives the
        # reset-insertion-mode fragment case and the adjusted current
        # node of the foreign-content dispatch.
        self.fragment_context: "Node | None" = None

    # -- node factory (ids in creation order, reference arena_sink.rs:165-170)

    def _new_node(self, node_type: str) -> Node:
        if self.max_nodes is not None and self.next_id >= self.max_nodes:
            raise ParseBudgetExceeded(
                f"document exceeds {self.max_nodes} DOM nodes"
            )
        n = Node(self.next_id, node_type)
        self.next_id += 1
        return n

    def _create_element(self, name: str, attrs, namespace: str = HTML_NS) -> Node:
        template_contents = None
        if namespace == HTML_NS and name == "template":
            # hidden document for template contents. Rust evaluates the
            # NodeData::Element struct argument — including
            # template_contents: Some(self.new_node(Document)) — BEFORE
            # the outer new_node call (arena_sink.rs:267-276), so the
            # hidden document takes id N and the element id N+1.
            template_contents = self._new_node(DOCUMENT)
        el = self._new_node(ELEMENT)
        el.name = name
        el.namespace = namespace
        el.attrs = attrs
        el.template_contents = template_contents
        if namespace == MATHML_NS and name == "annotation-xml":
            enc = (el.get_attr("encoding") or "").lower()
            el.mathml_annotation_xml_integration = enc in (
                "text/html",
                "application/xhtml+xml",
            )
        return el

    # -- tokenizer sink interface ------------------------------------------

    def cdata_allowed(self) -> bool:
        return bool(self.open) and self.open[-1].namespace != HTML_NS

    def process_token(self, tok) -> None:
        if self.done:
            return
        if self.ignore_lf:
            self.ignore_lf = False
            if tok[0] == "chars":
                data = tok[1]
                if data.startswith("\n"):
                    data = data[1:]
                    if not data:
                        return
                    tok = ("chars", data)
        guard = 0
        op = self.open
        if (
            self.mode == M_IN_BODY
            and op
            and op[-1].namespace == HTML_NS
            and self.fragment_context is None
        ):
            # the common case, dispatched directly: in body with an
            # HTML current node the foreign-content check is false and
            # _h_in_body would route exactly this way
            t = tok[0]
            if t == "start":
                h = _HOT_START.get(tok[1])
                tok = h(self, tok) if h is not None else self._in_body_start(tok)
            elif t == "end":
                tok = self._in_body_end(tok)
            else:
                tok = self._h_in_body(tok)
            if tok is None:
                return
            guard = 1
        dispatch = _MODE_DISPATCH
        while tok is not None:
            guard += 1
            if guard > 1000:  # defensive: never loop forever on odd input
                self.parse_errors += 1
                return
            # r9 inlined _use_foreign pre-check: the overwhelmingly
            # common case (HTML-namespace current node, no fragment
            # length-1 special case) skips the call entirely — the
            # conditions mirror _use_foreign's own early returns
            op = self.open
            if (
                op
                and (
                    op[-1].namespace != HTML_NS
                    or (len(op) == 1 and self.fragment_context is not None)
                )
                and self._use_foreign(tok)
            ):
                tok = self._foreign(tok)
            else:
                tok = dispatch[self.mode](self, tok)

    # -- scope / stack helpers -----------------------------------------------

    def _in_open(self, node: Node) -> bool:
        for x in self.open:
            if x is node:
                return True
        return False

    def _has_in_scope(self, target, scope=_SCOPE_BASE) -> bool:
        """target: tag name (HTML ns) or a Node (identity match)."""
        by_name = isinstance(target, str)
        for node in reversed(self.open):
            if by_name:
                if node.namespace == HTML_NS and node.name == target:
                    return True
            elif node is target:
                return True
            if (node.namespace, node.name) in scope:
                return False
        return False

    def _has_in_table_scope(self, name: str) -> bool:
        for node in reversed(self.open):
            if node.namespace == HTML_NS and node.name == name:
                return True
            if (node.namespace, node.name) in _SCOPE_TABLE:
                return False
        return False

    def _has_in_select_scope(self, name: str) -> bool:
        for node in reversed(self.open):
            if node.namespace == HTML_NS:
                if node.name == name:
                    return True
                if node.name not in ("optgroup", "option"):
                    return False
            else:
                return False
        return False

    def _is_special(self, node: Node) -> bool:
        ns, name = node.namespace, node.name
        if ns == HTML_NS:
            return name in SPECIAL_HTML
        if ns == MATHML_NS:
            return name in SPECIAL_MATHML
        if ns == SVG_NS:
            return name in SPECIAL_SVG
        return False

    def _pop_until_popped(self, names) -> None:
        if isinstance(names, str):
            names = (names,)
        while self.open:
            node = self.open.pop()
            if node.namespace == HTML_NS and node.name in names:
                return

    def _pop_until_node(self, target: Node) -> None:
        while self.open:
            if self.open.pop() is target:
                return

    def _generate_implied(self, exclude: str | None = None, thorough=False):
        names = IMPLIED_END_THOROUGH if thorough else IMPLIED_END
        while self.open:
            cur = self.open[-1]
            if cur.namespace == HTML_NS and cur.name in names and cur.name != exclude:
                self.open.pop()
            else:
                return

    def _close_element(self, name: str, exclude: str | None = None,
                       thorough=False) -> None:
        """Generate implied end tags, count a parse error unless the
        current node is the HTML element ``name``, then pop until that
        element has been popped."""
        self._generate_implied(exclude, thorough)
        if not (
            self.open[-1].namespace == HTML_NS and self.open[-1].name == name
        ):
            self.parse_errors += 1
        self._pop_until_popped(name)

    def _template_on_stack(self) -> bool:
        return any(
            n.namespace == HTML_NS and n.name == "template" for n in self.open
        )

    def _close_p(self) -> None:
        self._generate_implied(exclude="p")
        if not (self.open and self.open[-1].namespace == HTML_NS
                and self.open[-1].name == "p"):
            self.parse_errors += 1
        self._pop_until_popped("p")

    def _clear_stack_to_context(self, names) -> None:
        while self.open:
            cur = self.open[-1]
            if cur.namespace == HTML_NS and cur.name in names:
                return
            self.open.pop()

    # -- insertion (TreeSink equivalents) --------------------------------------

    def _appropriate_place(self, override: Node | None = None):
        """Returns (parent, index|None). index None = append.
        Implements 'appropriate place for inserting a node' including
        foster parenting (reference arena_sink.rs:298-317)."""
        target = override if override is not None else self.open[-1]
        if (
            self.foster_parenting
            and target.namespace == HTML_NS
            and target.name in ("table", "tbody", "tfoot", "thead", "tr")
        ):
            last_template_i = None
            last_table_i = None
            for i in range(len(self.open) - 1, -1, -1):
                node = self.open[i]
                if node.namespace == HTML_NS:
                    if node.name == "template" and last_template_i is None:
                        last_template_i = i
                    elif node.name == "table" and last_table_i is None:
                        last_table_i = i
                if last_template_i is not None and last_table_i is not None:
                    break
            if last_template_i is not None and (
                last_table_i is None or last_table_i < last_template_i
            ):
                return self.open[last_template_i].template_contents, None
            if last_table_i is None:
                return self.open[0], None
            table = self.open[last_table_i]
            if table.parent is not None:
                return table.parent, table.parent.index_of(table)
            return self.open[last_table_i - 1], None
        if (
            target.type == ELEMENT
            and target.namespace == HTML_NS
            and target.name == "template"
        ):
            return target.template_contents, None
        return target, None

    def _insert_at(self, place, node: Node) -> None:
        parent, index = place
        if index is None:
            parent.append_child(node)
        else:
            parent.insert_child(index, node)

    def _insert_text(self, data: str, override: Node | None = None) -> None:
        """Insert character data, merging into a preceding text node
        (reference append_common, arena_sink.rs:172-196 — invariant #1)."""
        if not data:
            return
        if override is None and not self.foster_parenting:
            # fast path: append into current node (template-aware)
            target = self.open[-1]
            if target.name == "template" and target.namespace == HTML_NS:
                target = target.template_contents
            children = target.children
            if children:
                prev = children[-1]
                if prev.type == TEXT:
                    prev.contents += data
                    return
            # _new_node + append_child inline (a new node has nothing
            # to detach)
            nid = self.next_id
            if self.max_nodes is not None and nid >= self.max_nodes:
                raise ParseBudgetExceeded(
                    f"document exceeds {self.max_nodes} DOM nodes"
                )
            self.next_id = nid + 1
            tnode = Node(nid, TEXT)
            tnode.contents = data
            tnode.parent = target
            children.append(tnode)
            return
        parent, index = self._appropriate_place(override)
        prev = None
        if index is None:
            if parent.children:
                prev = parent.children[-1]
        elif index > 0:
            prev = parent.children[index - 1]
        if prev is not None and prev.type == TEXT:
            prev.contents += data
            return
        tnode = self._new_node(TEXT)
        tnode.contents = data
        self._insert_at((parent, index), tnode)

    def _insert_comment(self, data: str, parent: Node | None = None) -> None:
        cnode = self._new_node(COMMENT)
        cnode.contents = data
        if parent is not None:
            parent.append_child(cnode)
        else:
            self._insert_at(self._appropriate_place(), cnode)

    def _insert_element(self, tok, namespace: str = HTML_NS) -> Node:
        if self.max_depth is not None and len(self.open) >= self.max_depth:
            raise ParseBudgetExceeded(
                f"document exceeds max tree depth {self.max_depth}"
            )
        name = tok[1]
        if (
            namespace == HTML_NS
            and name != "template"
            and not self.foster_parenting
        ):
            # _create_element + _new_node + append_child inline, on
            # _appropriate_place's non-foster branch
            nid = self.next_id
            if self.max_nodes is not None and nid >= self.max_nodes:
                raise ParseBudgetExceeded(
                    f"document exceeds {self.max_nodes} DOM nodes"
                )
            self.next_id = nid + 1
            el = Node(nid, ELEMENT)
            el.name = name
            attrs = tok[2]
            el.attrs = [list(a) for a in attrs] if attrs else []
            target = self.open[-1]
            if target.name == "template" and target.namespace == HTML_NS:
                target = target.template_contents
            el.parent = target
            target.children.append(el)
            self.open.append(el)
            return el
        el = self._create_element(name, [list(a) for a in tok[2]], namespace)
        if not self.foster_parenting:
            target = self.open[-1]
            if target.name == "template" and target.namespace == HTML_NS:
                target = target.template_contents
            target.append_child(el)
        else:
            self._insert_at(self._appropriate_place(), el)
        self.open.append(el)
        return el

    def _insert_phantom(self, name: str) -> Node:
        return self._insert_element(("start", name, [], False))

    # -- active formatting elements ----------------------------------------------

    def _push_afe(self, el: Node, tok) -> None:
        # Noah's Ark clause: max 3 identical entries since the last marker.
        # Cheap name-only pre-count first — attr frozensets are built only
        # when 3+ same-name candidates exist (rare outside <font> soup).
        candidates = []
        for i in range(len(self.afe) - 1, -1, -1):
            entry = self.afe[i]
            if entry is MARKER:
                break
            cand = entry[0]
            if cand.name == el.name and cand.namespace == el.namespace:
                candidates.append(i)
        if len(candidates) >= 3:
            attrs_key = frozenset((n, v) for n, v in el.attrs)
            count = 0
            earliest = None
            for i in candidates:  # descending index order
                cand = self.afe[i][0]
                if frozenset((n, v) for n, v in cand.attrs) == attrs_key:
                    count += 1
                    earliest = i
            if count >= 3:
                del self.afe[earliest]
        self.afe.append([el, tok])

    def _afe_index_of(self, node: Node):
        for i in range(len(self.afe) - 1, -1, -1):
            e = self.afe[i]
            if e is not MARKER and e[0] is node:
                return i
        return None

    def _clear_afe_to_marker(self) -> None:
        while self.afe:
            if self.afe.pop() is MARKER:
                return

    def _reconstruct_afe(self) -> None:
        afe = self.afe
        if not afe:
            return
        last = afe[-1]
        if last is MARKER or self._in_open(last[0]):
            return
        i = len(afe) - 1
        while i > 0:
            i -= 1
            e = afe[i]
            if e is MARKER or self._in_open(e[0]):
                i += 1
                break
        for j in range(i, len(afe)):
            tok = afe[j][1]
            new_el = self._insert_element(tok)
            afe[j] = [new_el, tok]

    # -- adoption agency (§13.2.6.4.7 "in body" formatting end tags) -----------

    def _adoption_agency(self, tok):
        subject = tok[1]
        cur = self.open[-1] if self.open else None
        if cur is not None and cur.namespace == HTML_NS and cur.name == subject:
            afe = self.afe
            if afe and afe[-1] is not MARKER and afe[-1][0] is cur:
                # the subject is the current node and the last formatting
                # entry: no furthest block, so the loop below would pop
                # it and drop its entry, after two scans
                self.open.pop()
                afe.pop()
                return None
            if self._afe_index_of(cur) is None:
                self.open.pop()
                return None
        for _ in range(8):
            fmt_idx = None
            for i in range(len(self.afe) - 1, -1, -1):
                e = self.afe[i]
                if e is MARKER:
                    break
                if e[0].name == subject and e[0].namespace == HTML_NS:
                    fmt_idx = i
                    break
            if fmt_idx is None:
                return self._any_other_end_tag(tok)
            fmt_entry = self.afe[fmt_idx]
            fmt_el = fmt_entry[0]
            if not self._in_open(fmt_el):
                self.parse_errors += 1
                del self.afe[fmt_idx]
                return None
            if not self._has_in_scope(fmt_el):
                self.parse_errors += 1
                return None
            if fmt_el is not self.open[-1]:
                self.parse_errors += 1
            fi = next(i for i, x in enumerate(self.open) if x is fmt_el)
            furthest_i = None
            for j in range(fi + 1, len(self.open)):
                if self._is_special(self.open[j]):
                    furthest_i = j
                    break
            if furthest_i is None:
                del self.open[fi:]
                del self.afe[fmt_idx]
                return None
            furthest = self.open[furthest_i]
            common_ancestor = self.open[fi - 1]
            bookmark = fmt_idx
            node = furthest
            last_node = furthest
            node_i = furthest_i
            inner = 0
            while True:
                inner += 1
                node_i -= 1
                node = self.open[node_i]
                if node is fmt_el:
                    break
                node_afe_i = self._afe_index_of(node)
                if inner > 3 and node_afe_i is not None:
                    del self.afe[node_afe_i]
                    if node_afe_i < bookmark:
                        bookmark -= 1
                    node_afe_i = None
                if node_afe_i is None:
                    # remove from open stack (node_i now points at prev item)
                    del self.open[node_i]
                    continue
                entry_tok = self.afe[node_afe_i][1]
                new_el = self._create_element(
                    entry_tok[1], [list(a) for a in entry_tok[2]], HTML_NS
                )
                self.afe[node_afe_i] = [new_el, entry_tok]
                self.open[node_i] = new_el
                node = new_el
                if last_node is furthest:
                    bookmark = node_afe_i + 1
                last_node.detach()
                node.append_child(last_node)
                last_node = node
            last_node.detach()
            self._insert_at(self._appropriate_place(common_ancestor), last_node)
            new_fmt = self._create_element(
                fmt_entry[1][1], [list(a) for a in fmt_entry[1][2]], HTML_NS
            )
            furthest.reparent_children_to(new_fmt)  # arena_sink.rs:354-361
            furthest.append_child(new_fmt)
            cur_fmt_idx = self._afe_index_of(fmt_el)
            del self.afe[cur_fmt_idx]
            if cur_fmt_idx < bookmark:
                bookmark -= 1
            self.afe.insert(bookmark, [new_fmt, fmt_entry[1]])
            fmt_open_i = next(i for i, x in enumerate(self.open) if x is fmt_el)
            del self.open[fmt_open_i]
            fb_i = next(i for i, x in enumerate(self.open) if x is furthest)
            self.open.insert(fb_i + 1, new_fmt)
        return None

    def _any_other_end_tag(self, tok):
        name = tok[1]
        for i in range(len(self.open) - 1, -1, -1):
            node = self.open[i]
            if node.namespace == HTML_NS and node.name == name:
                self._generate_implied(exclude=name)
                if self.open[-1] is not node:
                    self.parse_errors += 1
                self._pop_until_node(node)
                return None
            if self._is_special(node):
                self.parse_errors += 1
                return None
        return None

    # -- RAWTEXT / RCDATA / script helpers -------------------------------------

    def _generic_raw(self, tok, state) -> None:
        self._insert_element(tok)
        self.tokenizer.state = state
        self.original_mode = self.mode
        self.mode = M_TEXT

    # -- reset insertion mode (§13.2.6.4 "reset the insertion mode") -----------

    def _reset_mode(self) -> None:
        for i in range(len(self.open) - 1, -1, -1):
            node = self.open[i]
            last = i == 0
            if last and self.fragment_context is not None:
                # fragment case (§13.2.4.1 step 2): the context element
                # stands in for the bottom of the stack
                node = self.fragment_context
            name = node.name if node.namespace == HTML_NS else None
            if name == "select":
                mode = M_IN_SELECT
                for j in range(i - 1, 0, -1):
                    anc = self.open[j]
                    if anc.namespace == HTML_NS:
                        if anc.name == "template":
                            break
                        if anc.name == "table":
                            mode = M_IN_SELECT_IN_TABLE
                            break
                self.mode = mode
                return
            if name in ("td", "th") and not last:
                self.mode = M_IN_CELL
                return
            if name == "tr":
                self.mode = M_IN_ROW
                return
            if name in ("tbody", "thead", "tfoot"):
                self.mode = M_IN_TABLE_BODY
                return
            if name == "caption":
                self.mode = M_IN_CAPTION
                return
            if name == "colgroup":
                self.mode = M_IN_COLUMN_GROUP
                return
            if name == "table":
                self.mode = M_IN_TABLE
                return
            if name == "template":
                self.mode = self.template_modes[-1]
                return
            if name == "head" and not last:
                self.mode = M_IN_HEAD
                return
            if name == "body":
                self.mode = M_IN_BODY
                return
            if name == "frameset":
                self.mode = M_IN_FRAMESET
                return
            if name == "html":
                self.mode = M_BEFORE_HEAD if self.head is None else M_AFTER_HEAD
                return
            if last:
                self.mode = M_IN_BODY
                return

    # ======================================================================
    # mode handlers — each returns None or a token to reprocess
    # ======================================================================

    def _h_initial(self, tok):
        t = tok[0]
        if t == "chars":
            data = tok[1].lstrip("\t\n\x0c\r ")
            if not data:
                return None
            tok = ("chars", data)
        elif t == "comment":
            self._insert_comment(tok[1], self.doc)
            return None
        elif t == "doctype":
            name, public, system, force_quirks = tok[1], tok[2], tok[3], tok[4]
            dt = self._new_node(DOCTYPE)
            dt.name = name or ""
            dt.public_id = public or ""
            dt.system_id = system or ""
            self.doc.append_child(dt)
            self.quirks = _sniff_quirks(name, public, system, force_quirks)
            self.mode = M_BEFORE_HTML
            return None
        # anything else
        self.parse_errors += 1
        self.quirks = "quirks"
        self.mode = M_BEFORE_HTML
        return tok

    def _h_before_html(self, tok):
        t = tok[0]
        if t == "doctype":
            self.parse_errors += 1
            return None
        if t == "comment":
            self._insert_comment(tok[1], self.doc)
            return None
        if t == "chars":
            data = tok[1].lstrip("\t\n\x0c\r ")
            if not data:
                return None
            tok = ("chars", data)
        elif t == "start" and tok[1] == "html":
            el = self._create_element("html", [list(a) for a in tok[2]])
            self.doc.append_child(el)
            self.open.append(el)
            self.mode = M_BEFORE_HEAD
            return None
        elif t == "end" and tok[1] not in ("head", "body", "html", "br"):
            self.parse_errors += 1
            return None
        elif t == "eof":
            pass
        el = self._create_element("html", [])
        self.doc.append_child(el)
        self.open.append(el)
        self.mode = M_BEFORE_HEAD
        return tok

    def _h_before_head(self, tok):
        t = tok[0]
        if t == "chars":
            data = tok[1].lstrip("\t\n\x0c\r ")
            if not data:
                return None
            tok = ("chars", data)
        elif t == "comment":
            self._insert_comment(tok[1])
            return None
        elif t == "doctype":
            self.parse_errors += 1
            return None
        elif t == "start":
            if tok[1] == "html":
                return self._h_in_body(tok)
            if tok[1] == "head":
                self.head = self._insert_element(tok)
                self.mode = M_IN_HEAD
                return None
        elif t == "end" and tok[1] not in ("head", "body", "html", "br"):
            self.parse_errors += 1
            return None
        self.head = self._insert_phantom("head")
        self.mode = M_IN_HEAD
        return tok

    def _h_in_head(self, tok):
        t = tok[0]
        if t == "chars":
            data = tok[1]
            i = 0
            while i < len(data) and data[i] in _WS_SET:
                i += 1
            if i:
                self._insert_text(data[:i])
            if i == len(data):
                return None
            tok = ("chars", data[i:])
        elif t == "comment":
            self._insert_comment(tok[1])
            return None
        elif t == "doctype":
            self.parse_errors += 1
            return None
        elif t == "start":
            name = tok[1]
            if name == "html":
                return self._h_in_body(tok)
            if name in ("base", "basefont", "bgsound", "link", "meta"):
                self._insert_element(tok)
                self.open.pop()
                return None
            if name == "title":
                self._generic_raw(tok, RCDATA)
                return None
            if name in ("noscript", "noframes", "style"):
                # scripting enabled → noscript is RAWTEXT (html5ever default)
                self._generic_raw(tok, RAWTEXT)
                return None
            if name == "script":
                self._generic_raw(tok, SCRIPT_DATA)
                return None
            if name == "template":
                self._insert_element(tok)
                self.afe.append(MARKER)
                self.frameset_ok = False
                self.mode = M_IN_TEMPLATE
                self.template_modes.append(M_IN_TEMPLATE)
                return None
            if name == "head":
                self.parse_errors += 1
                return None
        elif t == "end":
            name = tok[1]
            if name == "head":
                self.open.pop()
                self.mode = M_AFTER_HEAD
                return None
            if name == "template":
                if not self._template_on_stack():
                    self.parse_errors += 1
                    return None
                self._close_element("template", thorough=True)
                self._clear_afe_to_marker()
                if self.template_modes:
                    self.template_modes.pop()
                self._reset_mode()
                return None
            if name not in ("body", "html", "br"):
                self.parse_errors += 1
                return None
        # anything else: pop head, reprocess in after-head
        self.open.pop()
        self.mode = M_AFTER_HEAD
        return tok

    def _h_after_head(self, tok):
        t = tok[0]
        if t == "chars":
            data = tok[1]
            i = 0
            while i < len(data) and data[i] in _WS_SET:
                i += 1
            if i:
                self._insert_text(data[:i])
            if i == len(data):
                return None
            tok = ("chars", data[i:])
        elif t == "comment":
            self._insert_comment(tok[1])
            return None
        elif t == "doctype":
            self.parse_errors += 1
            return None
        elif t == "start":
            name = tok[1]
            if name == "html":
                return self._h_in_body(tok)
            if name == "body":
                self._insert_element(tok)
                self.frameset_ok = False
                self.mode = M_IN_BODY
                return None
            if name == "frameset":
                self._insert_element(tok)
                self.mode = M_IN_FRAMESET
                return None
            if name in _IN_HEAD_START:
                self.parse_errors += 1
                self.open.append(self.head)
                r = self._h_in_head(tok)
                for i in range(len(self.open) - 1, -1, -1):
                    if self.open[i] is self.head:
                        del self.open[i]
                        break
                return r
            if name == "head":
                self.parse_errors += 1
                return None
        elif t == "end":
            name = tok[1]
            if name == "template":
                return self._h_in_head(tok)
            if name not in ("body", "html", "br"):
                self.parse_errors += 1
                return None
        self._insert_phantom("body")
        self.mode = M_IN_BODY
        return tok

    # -- in body ------------------------------------------------------------

    def _h_in_body(self, tok):
        t = tok[0]
        if t == "chars":
            data = tok[1]
            if "\x00" in data:
                self.parse_errors += 1
                data = data.replace("\x00", "")
                if not data:
                    return None
            self._reconstruct_afe()
            self._insert_text(data)
            if self.frameset_ok and not _is_ws(data):
                self.frameset_ok = False
            return None
        if t == "comment":
            self._insert_comment(tok[1])
            return None
        if t == "doctype":
            self.parse_errors += 1
            return None
        if t == "eof":
            if self.template_modes:
                return self._h_in_template(tok)
            self.done = True
            return None
        if t == "start":
            return self._in_body_start(tok)
        return self._in_body_end(tok)

    # -- hot-tag handlers (dispatched via _HOT_START/_HOT_END ahead of the
    # elif chains, which hold no branch for these tags) -------------------

    def _sb_block(self, tok):
        if self._has_in_scope("p", _SCOPE_BUTTON):
            self._close_p()
        self._insert_element(tok)
        return None

    def _sb_a(self, tok):
        for i in range(len(self.afe) - 1, -1, -1):
            e = self.afe[i]
            if e is MARKER:
                break
            if e[0].name == "a":
                self.parse_errors += 1
                self._adoption_agency(("end", "a"))
                j = self._afe_index_of(e[0])
                if j is not None:
                    del self.afe[j]
                for k in range(len(self.open) - 1, -1, -1):
                    if self.open[k] is e[0]:
                        del self.open[k]
                        break
                break
        self._reconstruct_afe()
        el = self._insert_element(tok)
        self._push_afe(el, tok)
        return None

    def _sb_formatting(self, tok):
        self._reconstruct_afe()
        el = self._insert_element(tok)
        self._push_afe(el, tok)
        return None

    def _sb_void(self, tok):
        self._reconstruct_afe()
        self._insert_element(tok)
        self.open.pop()
        self.frameset_ok = False
        return None

    def _sb_list_item(self, tok):
        # li closes an open li; dd and dt close an open dd or dt
        names = ("li",) if tok[1] == "li" else ("dd", "dt")
        self.frameset_ok = False
        for node in reversed(self.open):
            if node.namespace == HTML_NS and node.name in names:
                self._close_element(node.name, exclude=node.name)
                break
            if self._is_special(node) and not (
                node.namespace == HTML_NS
                and node.name in ("address", "div", "p")
            ):
                break
        if self._has_in_scope("p", _SCOPE_BUTTON):
            self._close_p()
        self._insert_element(tok)
        return None

    def _eb_block(self, tok):
        name = tok[1]
        if not self._has_in_scope(name):
            self.parse_errors += 1
            return None
        self._close_element(name)
        return None

    def _eb_p(self, tok):
        if not self._has_in_scope("p", _SCOPE_BUTTON):
            self.parse_errors += 1
            self._insert_phantom("p")
        self._close_p()
        return None

    def _eb_br(self, tok):
        self.parse_errors += 1
        return ("start", "br", [], False)

    def _in_body_start(self, tok):
        name = tok[1]
        h = _HOT_START.get(name)
        if h is not None:
            return h(self, tok)
        if name == "html":
            self.parse_errors += 1
            if self._template_on_stack():
                return None
            # first-wins attr merge on the root (arena_sink.rs:332-348)
            self.open[0].add_attrs_if_missing(tok[2])
            return None
        if name in _IN_HEAD_START:
            return self._h_in_head(tok)
        if name == "body":
            self.parse_errors += 1
            if (
                len(self.open) < 2
                or self.open[1].name != "body"
                or self._template_on_stack()
            ):
                return None
            self.frameset_ok = False
            self.open[1].add_attrs_if_missing(tok[2])
            return None
        if name == "frameset":
            self.parse_errors += 1
            if len(self.open) < 2 or self.open[1].name != "body":
                return None
            if not self.frameset_ok:
                return None
            body = self.open[1]
            body.detach()
            del self.open[1:]
            self._insert_element(tok)
            self.mode = M_IN_FRAMESET
            return None
        if name in HEADINGS:
            if self._has_in_scope("p", _SCOPE_BUTTON):
                self._close_p()
            cur = self.open[-1]
            if cur.namespace == HTML_NS and cur.name in HEADINGS:
                self.parse_errors += 1
                self.open.pop()
            self._insert_element(tok)
            return None
        if name in ("pre", "listing"):
            if self._has_in_scope("p", _SCOPE_BUTTON):
                self._close_p()
            self._insert_element(tok)
            self.ignore_lf = True
            self.frameset_ok = False
            return None
        if name == "form":
            if self.form is not None and not self._template_on_stack():
                self.parse_errors += 1
                return None
            if self._has_in_scope("p", _SCOPE_BUTTON):
                self._close_p()
            el = self._insert_element(tok)
            if not self._template_on_stack():
                self.form = el
            return None
        if name == "plaintext":
            if self._has_in_scope("p", _SCOPE_BUTTON):
                self._close_p()
            self._insert_element(tok)
            self.tokenizer.state = PLAINTEXT
            return None
        if name == "button":
            if self._has_in_scope("button"):
                self.parse_errors += 1
                self._generate_implied()
                self._pop_until_popped("button")
            self._reconstruct_afe()
            self._insert_element(tok)
            self.frameset_ok = False
            return None
        if name == "nobr":
            self._reconstruct_afe()
            if self._has_in_scope("nobr"):
                self.parse_errors += 1
                self._adoption_agency(("end", "nobr"))
                self._reconstruct_afe()
            el = self._insert_element(tok)
            self._push_afe(el, tok)
            return None
        if name in ("applet", "marquee", "object"):
            self._reconstruct_afe()
            self._insert_element(tok)
            self.afe.append(MARKER)
            self.frameset_ok = False
            return None
        if name == "table":
            if self.quirks != "quirks" and self._has_in_scope("p", _SCOPE_BUTTON):
                self._close_p()
            self._insert_element(tok)
            self.frameset_ok = False
            self.mode = M_IN_TABLE
            return None
        if name == "input":
            self._reconstruct_afe()
            el = self._insert_element(tok)
            self.open.pop()
            if (el.get_attr("type") or "").lower() != "hidden":
                self.frameset_ok = False
            return None
        if name in ("param", "source", "track"):
            self._insert_element(tok)
            self.open.pop()
            return None
        if name == "hr":
            if self._has_in_scope("p", _SCOPE_BUTTON):
                self._close_p()
            self._insert_element(tok)
            self.open.pop()
            self.frameset_ok = False
            return None
        if name == "image":
            self.parse_errors += 1
            return ("start", "img", tok[2], tok[3])
        if name == "textarea":
            self._insert_element(tok)
            self.ignore_lf = True
            self.tokenizer.state = RCDATA
            self.original_mode = self.mode
            self.frameset_ok = False
            self.mode = M_TEXT
            return None
        if name == "xmp":
            if self._has_in_scope("p", _SCOPE_BUTTON):
                self._close_p()
            self._reconstruct_afe()
            self.frameset_ok = False
            self._generic_raw(tok, RAWTEXT)
            return None
        if name == "iframe":
            self.frameset_ok = False
            self._generic_raw(tok, RAWTEXT)
            return None
        if name in ("noembed", "noscript"):
            self._generic_raw(tok, RAWTEXT)
            return None
        if name == "select":
            self._reconstruct_afe()
            self._insert_element(tok)
            self.frameset_ok = False
            if self.mode in (
                M_IN_TABLE,
                M_IN_CAPTION,
                M_IN_TABLE_BODY,
                M_IN_ROW,
                M_IN_CELL,
            ):
                self.mode = M_IN_SELECT_IN_TABLE
            else:
                self.mode = M_IN_SELECT
            return None
        if name in ("optgroup", "option"):
            cur = self.open[-1]
            if cur.namespace == HTML_NS and cur.name == "option":
                self.open.pop()
            self._reconstruct_afe()
            self._insert_element(tok)
            return None
        if name in ("rb", "rtc"):
            if self._has_in_scope("ruby"):
                self._generate_implied()
            self._insert_element(tok)
            return None
        if name in ("rp", "rt"):
            if self._has_in_scope("ruby"):
                self._generate_implied(exclude="rtc")
            self._insert_element(tok)
            return None
        if name == "math":
            self._reconstruct_afe()
            attrs = _adjust_mathml_attrs([list(a) for a in tok[2]])
            el = self._create_element(tok[1], attrs, MATHML_NS)
            self._insert_at(self._appropriate_place(), el)
            if tok[3]:  # self-closing
                return None
            self.open.append(el)
            return None
        if name == "svg":
            self._reconstruct_afe()
            attrs = _adjust_svg_attrs([list(a) for a in tok[2]])
            el = self._create_element(tok[1], attrs, SVG_NS)
            self._insert_at(self._appropriate_place(), el)
            if tok[3]:
                return None
            self.open.append(el)
            return None
        if name in (
            "caption", "col", "colgroup", "frame", "head",
            "tbody", "td", "tfoot", "th", "thead", "tr",
        ):
            self.parse_errors += 1
            return None
        # any other start tag
        self._reconstruct_afe()
        self._insert_element(tok)
        return None

    def _in_body_end(self, tok):
        name = tok[1]
        op = self.open
        if name in _ONE_POP_END and op:
            cur = op[-1]
            if cur.name == name and cur.namespace == HTML_NS:
                # closing the current node: the scope check holds, no end
                # tag is implied above it and no parse error is counted,
                # so the spec steps for these names reduce to one pop
                op.pop()
                return None
        h = _HOT_END.get(name)
        if h is not None:
            return h(self, tok)
        if name == "body":
            if not self._has_in_scope("body"):
                self.parse_errors += 1
                return None
            self.mode = M_AFTER_BODY
            return None
        if name == "html":
            if not self._has_in_scope("body"):
                self.parse_errors += 1
                return None
            self.mode = M_AFTER_BODY
            return tok
        if name == "template":
            return self._h_in_head(tok)
        if name == "form":
            if not self._template_on_stack():
                node = self.form
                self.form = None
                if node is None or not self._has_in_scope(node):
                    self.parse_errors += 1
                    return None
                self._generate_implied()
                if self.open[-1] is not node:
                    self.parse_errors += 1
                for i in range(len(self.open) - 1, -1, -1):
                    if self.open[i] is node:
                        del self.open[i]
                        break
                return None
            if not self._has_in_scope("form"):
                self.parse_errors += 1
                return None
            self._close_element("form")
            return None
        if name == "li":
            if not self._has_in_scope("li", _SCOPE_LIST_ITEM):
                self.parse_errors += 1
                return None
            self._close_element("li", exclude="li")
            return None
        if name in ("dd", "dt"):
            if not self._has_in_scope(name):
                self.parse_errors += 1
                return None
            self._close_element(name, exclude=name)
            return None
        if name in HEADINGS:
            if not any(self._has_in_scope(h) for h in HEADINGS):
                self.parse_errors += 1
                return None
            self._generate_implied()
            if not (
                self.open[-1].namespace == HTML_NS and self.open[-1].name == name
            ):
                self.parse_errors += 1
            self._pop_until_popped(HEADINGS)
            return None
        if name in ("applet", "marquee", "object"):
            if not self._has_in_scope(name):
                self.parse_errors += 1
                return None
            self._close_element(name)
            self._clear_afe_to_marker()
            return None
        return self._any_other_end_tag(tok)

    # -- text (RAWTEXT/RCDATA/script payload) --------------------------------

    def _h_text(self, tok):
        t = tok[0]
        if t == "chars":
            self._insert_text(tok[1])
            return None
        if t == "eof":
            self.parse_errors += 1
            self.open.pop()
            self.mode = self.original_mode
            return tok
        # any end tag (tokenizer only emits the appropriate one)
        self.open.pop()
        self.mode = self.original_mode
        return None

    # -- tables ---------------------------------------------------------------

    def _h_in_table(self, tok):
        t = tok[0]
        if t == "chars":
            cur = self.open[-1]
            if cur.namespace == HTML_NS and cur.name in (
                "table", "tbody", "tfoot", "thead", "tr",
            ):
                self.pending_table_text = []
                self.original_mode = self.mode
                self.mode = M_IN_TABLE_TEXT
                return tok
            return self._in_table_anything_else(tok)
        if t == "comment":
            self._insert_comment(tok[1])
            return None
        if t == "doctype":
            self.parse_errors += 1
            return None
        if t == "start":
            name = tok[1]
            if name == "caption":
                self._clear_stack_to_context(("table", "template", "html"))
                self.afe.append(MARKER)
                self._insert_element(tok)
                self.mode = M_IN_CAPTION
                return None
            if name == "colgroup":
                self._clear_stack_to_context(("table", "template", "html"))
                self._insert_element(tok)
                self.mode = M_IN_COLUMN_GROUP
                return None
            if name == "col":
                self._clear_stack_to_context(("table", "template", "html"))
                self._insert_phantom("colgroup")
                self.mode = M_IN_COLUMN_GROUP
                return tok
            if name in ("tbody", "tfoot", "thead"):
                self._clear_stack_to_context(("table", "template", "html"))
                self._insert_element(tok)
                self.mode = M_IN_TABLE_BODY
                return None
            if name in ("td", "th", "tr"):
                self._clear_stack_to_context(("table", "template", "html"))
                self._insert_phantom("tbody")
                self.mode = M_IN_TABLE_BODY
                return tok
            if name == "table":
                self.parse_errors += 1
                if not self._has_in_table_scope("table"):
                    return None
                self._pop_until_popped("table")
                self._reset_mode()
                return tok
            if name in ("style", "script", "template"):
                return self._h_in_head(tok)
            if name == "input":
                is_hidden = any(
                    n == "type" and v.lower() == "hidden" for n, v in tok[2]
                )
                if not is_hidden:
                    return self._in_table_anything_else(tok)
                self.parse_errors += 1
                self._insert_element(tok)
                self.open.pop()
                return None
            if name == "form":
                self.parse_errors += 1
                if self.form is not None or self._template_on_stack():
                    return None
                self.form = self._insert_element(tok)
                self.open.pop()
                return None
            return self._in_table_anything_else(tok)
        if t == "end":
            name = tok[1]
            if name == "table":
                if not self._has_in_table_scope("table"):
                    self.parse_errors += 1
                    return None
                self._pop_until_popped("table")
                self._reset_mode()
                return None
            if name in (
                "body", "caption", "col", "colgroup", "html",
                "tbody", "td", "tfoot", "th", "thead", "tr",
            ):
                self.parse_errors += 1
                return None
            if name == "template":
                return self._h_in_head(tok)
            return self._in_table_anything_else(tok)
        # eof
        return self._h_in_body(tok)

    def _in_table_anything_else(self, tok):
        self.parse_errors += 1
        self.foster_parenting = True
        r = self._h_in_body(tok)
        self.foster_parenting = False
        return r

    def _h_in_table_text(self, tok):
        if tok[0] == "chars":
            data = tok[1]
            if "\x00" in data:
                self.parse_errors += 1
                data = data.replace("\x00", "")
            if data:
                self.pending_table_text.append(data)
            return None
        text = "".join(self.pending_table_text)
        self.pending_table_text = []
        if text:
            if not _is_ws(text):
                self.foster_parenting = True
                self._reconstruct_afe()
                self._insert_text(text)
                self.frameset_ok = False
                self.foster_parenting = False
            else:
                self._insert_text(text)
        self.mode = self.original_mode
        return tok

    def _h_in_caption(self, tok):
        t = tok[0]
        if (t == "end" and tok[1] in ("caption", "table")) or (
            t == "start"
            and tok[1] in (
                "caption", "col", "colgroup", "tbody", "td", "tfoot",
                "th", "thead", "tr",
            )
        ):
            if not self._has_in_table_scope("caption"):
                self.parse_errors += 1
                return None
            self._close_element("caption")
            self._clear_afe_to_marker()
            self.mode = M_IN_TABLE
            # </caption> is consumed; the others reprocess in table
            return None if t == "end" and tok[1] == "caption" else tok
        if t == "end" and tok[1] in (
            "body", "col", "colgroup", "html", "tbody", "td", "tfoot",
            "th", "thead", "tr",
        ):
            self.parse_errors += 1
            return None
        return self._h_in_body(tok)

    def _h_in_column_group(self, tok):
        t = tok[0]
        if t == "chars":
            data = tok[1]
            i = 0
            while i < len(data) and data[i] in _WS_SET:
                i += 1
            if i:
                self._insert_text(data[:i])
            if i == len(data):
                return None
            tok = ("chars", data[i:])
        elif t == "comment":
            self._insert_comment(tok[1])
            return None
        elif t == "doctype":
            self.parse_errors += 1
            return None
        elif t == "start":
            name = tok[1]
            if name == "html":
                return self._h_in_body(tok)
            if name == "col":
                self._insert_element(tok)
                self.open.pop()
                return None
            if name == "template":
                return self._h_in_head(tok)
        elif t == "end":
            name = tok[1]
            if name == "colgroup":
                cur = self.open[-1]
                if not (cur.namespace == HTML_NS and cur.name == "colgroup"):
                    self.parse_errors += 1
                    return None
                self.open.pop()
                self.mode = M_IN_TABLE
                return None
            if name == "col":
                self.parse_errors += 1
                return None
            if name == "template":
                return self._h_in_head(tok)
        elif t == "eof":
            return self._h_in_body(tok)
        cur = self.open[-1]
        if not (cur.namespace == HTML_NS and cur.name == "colgroup"):
            self.parse_errors += 1
            return None
        self.open.pop()
        self.mode = M_IN_TABLE
        return tok

    def _h_in_table_body(self, tok):
        t = tok[0]
        if t == "start":
            name = tok[1]
            if name == "tr":
                self._clear_stack_to_context(
                    ("tbody", "tfoot", "thead", "template", "html")
                )
                self._insert_element(tok)
                self.mode = M_IN_ROW
                return None
            if name in ("th", "td"):
                self.parse_errors += 1
                self._clear_stack_to_context(
                    ("tbody", "tfoot", "thead", "template", "html")
                )
                self._insert_phantom("tr")
                self.mode = M_IN_ROW
                return tok
            if name in ("caption", "col", "colgroup", "tbody", "tfoot", "thead"):
                if not (
                    self._has_in_table_scope("tbody")
                    or self._has_in_table_scope("thead")
                    or self._has_in_table_scope("tfoot")
                ):
                    self.parse_errors += 1
                    return None
                self._clear_stack_to_context(
                    ("tbody", "tfoot", "thead", "template", "html")
                )
                self.open.pop()
                self.mode = M_IN_TABLE
                return tok
        elif t == "end":
            name = tok[1]
            if name in ("tbody", "tfoot", "thead"):
                if not self._has_in_table_scope(name):
                    self.parse_errors += 1
                    return None
                self._clear_stack_to_context(
                    ("tbody", "tfoot", "thead", "template", "html")
                )
                self.open.pop()
                self.mode = M_IN_TABLE
                return None
            if name == "table":
                if not (
                    self._has_in_table_scope("tbody")
                    or self._has_in_table_scope("thead")
                    or self._has_in_table_scope("tfoot")
                ):
                    self.parse_errors += 1
                    return None
                self._clear_stack_to_context(
                    ("tbody", "tfoot", "thead", "template", "html")
                )
                self.open.pop()
                self.mode = M_IN_TABLE
                return tok
            if name in (
                "body", "caption", "col", "colgroup", "html", "td", "th", "tr",
            ):
                self.parse_errors += 1
                return None
        return self._h_in_table(tok)

    def _h_in_row(self, tok):
        t = tok[0]
        if t == "start":
            name = tok[1]
            if name in ("th", "td"):
                self._clear_stack_to_context(("tr", "template", "html"))
                self._insert_element(tok)
                self.mode = M_IN_CELL
                self.afe.append(MARKER)
                return None
            if name in ("caption", "col", "colgroup", "tbody", "tfoot",
                        "thead", "tr"):
                if not self._has_in_table_scope("tr"):
                    self.parse_errors += 1
                    return None
                self._clear_stack_to_context(("tr", "template", "html"))
                self.open.pop()
                self.mode = M_IN_TABLE_BODY
                return tok
        elif t == "end":
            name = tok[1]
            if name == "tr":
                if not self._has_in_table_scope("tr"):
                    self.parse_errors += 1
                    return None
                self._clear_stack_to_context(("tr", "template", "html"))
                self.open.pop()
                self.mode = M_IN_TABLE_BODY
                return None
            if name == "table":
                if not self._has_in_table_scope("tr"):
                    self.parse_errors += 1
                    return None
                self._clear_stack_to_context(("tr", "template", "html"))
                self.open.pop()
                self.mode = M_IN_TABLE_BODY
                return tok
            if name in ("tbody", "tfoot", "thead"):
                if not self._has_in_table_scope(name):
                    self.parse_errors += 1
                    return None
                if not self._has_in_table_scope("tr"):
                    return None
                self._clear_stack_to_context(("tr", "template", "html"))
                self.open.pop()
                self.mode = M_IN_TABLE_BODY
                return tok
            if name in ("body", "caption", "col", "colgroup", "html",
                        "td", "th"):
                self.parse_errors += 1
                return None
        return self._h_in_table(tok)

    def _h_in_cell(self, tok):
        t = tok[0]
        if t == "end":
            name = tok[1]
            if name in ("td", "th"):
                if not self._has_in_table_scope(name):
                    self.parse_errors += 1
                    return None
                self._close_element(name)
                self._clear_afe_to_marker()
                self.mode = M_IN_ROW
                return None
            if name in ("body", "caption", "col", "colgroup", "html"):
                self.parse_errors += 1
                return None
            if name in ("table", "tbody", "tfoot", "thead", "tr"):
                if not self._has_in_table_scope(name):
                    self.parse_errors += 1
                    return None
                self._close_cell()
                return tok
        elif t == "start" and tok[1] in (
            "caption", "col", "colgroup", "tbody", "td", "tfoot",
            "th", "thead", "tr",
        ):
            if not (
                self._has_in_table_scope("td") or self._has_in_table_scope("th")
            ):
                self.parse_errors += 1
                return None
            self._close_cell()
            return tok
        return self._h_in_body(tok)

    def _close_cell(self) -> None:
        self._generate_implied()
        cur = self.open[-1]
        if not (cur.namespace == HTML_NS and cur.name in ("td", "th")):
            self.parse_errors += 1
        self._pop_until_popped(("td", "th"))
        self._clear_afe_to_marker()
        self.mode = M_IN_ROW

    # -- select -----------------------------------------------------------------

    def _h_in_select(self, tok):
        t = tok[0]
        if t == "chars":
            data = tok[1]
            if "\x00" in data:
                self.parse_errors += 1
                data = data.replace("\x00", "")
            if data:
                self._insert_text(data)
            return None
        if t == "comment":
            self._insert_comment(tok[1])
            return None
        if t == "doctype":
            self.parse_errors += 1
            return None
        if t == "start":
            name = tok[1]
            if name == "html":
                return self._h_in_body(tok)
            if name == "option":
                cur = self.open[-1]
                if cur.namespace == HTML_NS and cur.name == "option":
                    self.open.pop()
                self._insert_element(tok)
                return None
            if name == "optgroup":
                cur = self.open[-1]
                if cur.namespace == HTML_NS and cur.name == "option":
                    self.open.pop()
                cur = self.open[-1]
                if cur.namespace == HTML_NS and cur.name == "optgroup":
                    self.open.pop()
                self._insert_element(tok)
                return None
            if name == "select":
                self.parse_errors += 1
                if not self._has_in_select_scope("select"):
                    return None
                self._pop_until_popped("select")
                self._reset_mode()
                return None
            if name in ("input", "keygen", "textarea"):
                self.parse_errors += 1
                if not self._has_in_select_scope("select"):
                    return None
                self._pop_until_popped("select")
                self._reset_mode()
                return tok
            if name in ("script", "template"):
                return self._h_in_head(tok)
        elif t == "end":
            name = tok[1]
            if name == "optgroup":
                cur = self.open[-1]
                if (
                    cur.namespace == HTML_NS
                    and cur.name == "option"
                    and len(self.open) >= 2
                    and self.open[-2].name == "optgroup"
                ):
                    self.open.pop()
                cur = self.open[-1]
                if cur.namespace == HTML_NS and cur.name == "optgroup":
                    self.open.pop()
                else:
                    self.parse_errors += 1
                return None
            if name == "option":
                cur = self.open[-1]
                if cur.namespace == HTML_NS and cur.name == "option":
                    self.open.pop()
                else:
                    self.parse_errors += 1
                return None
            if name == "select":
                if not self._has_in_select_scope("select"):
                    self.parse_errors += 1
                    return None
                self._pop_until_popped("select")
                self._reset_mode()
                return None
            if name == "template":
                return self._h_in_head(tok)
        elif t == "eof":
            return self._h_in_body(tok)
        self.parse_errors += 1
        return None

    def _h_in_select_in_table(self, tok):
        t = tok[0]
        tables = ("caption", "table", "tbody", "tfoot", "thead", "tr", "td", "th")
        if t == "start" and tok[1] in tables:
            self.parse_errors += 1
            self._pop_until_popped("select")
            self._reset_mode()
            return tok
        if t == "end" and tok[1] in tables:
            self.parse_errors += 1
            if not self._has_in_table_scope(tok[1]):
                return None
            self._pop_until_popped("select")
            self._reset_mode()
            return tok
        return self._h_in_select(tok)

    # -- template -------------------------------------------------------------

    def _h_in_template(self, tok):
        t = tok[0]
        if t in ("chars", "comment", "doctype"):
            return self._h_in_body(tok)
        if t == "start":
            name = tok[1]
            if name in _IN_HEAD_START:
                return self._h_in_head(tok)
            if name in ("caption", "colgroup", "tbody", "tfoot", "thead"):
                self.template_modes.pop()
                self.template_modes.append(M_IN_TABLE)
                self.mode = M_IN_TABLE
                return tok
            if name == "col":
                self.template_modes.pop()
                self.template_modes.append(M_IN_COLUMN_GROUP)
                self.mode = M_IN_COLUMN_GROUP
                return tok
            if name == "tr":
                self.template_modes.pop()
                self.template_modes.append(M_IN_TABLE_BODY)
                self.mode = M_IN_TABLE_BODY
                return tok
            if name in ("td", "th"):
                self.template_modes.pop()
                self.template_modes.append(M_IN_ROW)
                self.mode = M_IN_ROW
                return tok
            self.template_modes.pop()
            self.template_modes.append(M_IN_BODY)
            self.mode = M_IN_BODY
            return tok
        if t == "end":
            if tok[1] == "template":
                return self._h_in_head(tok)
            self.parse_errors += 1
            return None
        # eof
        if not self._template_on_stack():
            self.done = True
            return None
        self.parse_errors += 1
        self._pop_until_popped("template")
        self._clear_afe_to_marker()
        if self.template_modes:
            self.template_modes.pop()
        self._reset_mode()
        return tok

    # -- after body / frameset tails ---------------------------------------------

    def _h_after_body(self, tok):
        t = tok[0]
        if t == "chars":
            if _is_ws(tok[1]):
                return self._h_in_body(tok)
            i = 0
            data = tok[1]
            while i < len(data) and data[i] in _WS_SET:
                i += 1
            if i:
                self._h_in_body(("chars", data[:i]))
                tok = ("chars", data[i:])
            self.parse_errors += 1
            self.mode = M_IN_BODY
            return tok
        if t == "comment":
            self._insert_comment(tok[1], self.open[0])
            return None
        if t == "doctype":
            self.parse_errors += 1
            return None
        if t == "start" and tok[1] == "html":
            return self._h_in_body(tok)
        if t == "end" and tok[1] == "html":
            self.mode = M_AFTER_AFTER_BODY
            return None
        if t == "eof":
            self.done = True
            return None
        self.parse_errors += 1
        self.mode = M_IN_BODY
        return tok

    def _h_in_frameset(self, tok):
        t = tok[0]
        if t == "chars":
            ws = "".join(c for c in tok[1] if c in _WS_SET)
            if ws:
                self._insert_text(ws)
            if len(ws) != len(tok[1]):
                self.parse_errors += 1
            return None
        if t == "comment":
            self._insert_comment(tok[1])
            return None
        if t == "doctype":
            self.parse_errors += 1
            return None
        if t == "start":
            name = tok[1]
            if name == "html":
                return self._h_in_body(tok)
            if name == "frameset":
                self._insert_element(tok)
                return None
            if name == "frame":
                self._insert_element(tok)
                self.open.pop()
                return None
            if name == "noframes":
                return self._h_in_head(tok)
        elif t == "end" and tok[1] == "frameset":
            if self.open[-1] is self.open[0]:
                self.parse_errors += 1
                return None
            self.open.pop()
            cur = self.open[-1]
            if not (cur.namespace == HTML_NS and cur.name == "frameset"):
                self.mode = M_AFTER_FRAMESET
            return None
        elif t == "eof":
            if self.open[-1] is not self.open[0]:
                self.parse_errors += 1
            self.done = True
            return None
        self.parse_errors += 1
        return None

    def _h_after_frameset(self, tok):
        t = tok[0]
        if t == "chars":
            ws = "".join(c for c in tok[1] if c in _WS_SET)
            if ws:
                self._insert_text(ws)
            if len(ws) != len(tok[1]):
                self.parse_errors += 1
            return None
        if t == "comment":
            self._insert_comment(tok[1])
            return None
        if t == "doctype":
            self.parse_errors += 1
            return None
        if t == "start":
            if tok[1] == "html":
                return self._h_in_body(tok)
            if tok[1] == "noframes":
                return self._h_in_head(tok)
        elif t == "end" and tok[1] == "html":
            self.mode = M_AFTER_AFTER_FRAMESET
            return None
        elif t == "eof":
            self.done = True
            return None
        self.parse_errors += 1
        return None

    def _h_after_after_body(self, tok):
        t = tok[0]
        if t == "comment":
            self._insert_comment(tok[1], self.doc)
            return None
        if t == "doctype":
            return self._h_in_body(tok)
        if t == "chars":
            if _is_ws(tok[1]):
                return self._h_in_body(tok)
            i = 0
            data = tok[1]
            while i < len(data) and data[i] in _WS_SET:
                i += 1
            if i:
                self._h_in_body(("chars", data[:i]))
                tok = ("chars", data[i:])
            self.parse_errors += 1
            self.mode = M_IN_BODY
            return tok
        if t == "start" and tok[1] == "html":
            return self._h_in_body(tok)
        if t == "eof":
            self.done = True
            return None
        self.parse_errors += 1
        self.mode = M_IN_BODY
        return tok

    def _h_after_after_frameset(self, tok):
        t = tok[0]
        if t == "comment":
            self._insert_comment(tok[1], self.doc)
            return None
        if t == "doctype":
            return self._h_in_body(tok)
        if t == "chars":
            ws = "".join(c for c in tok[1] if c in _WS_SET)
            if ws:
                self._h_in_body(("chars", ws))
            if len(ws) != len(tok[1]):
                self.parse_errors += 1
            return None
        if t == "start":
            if tok[1] == "html":
                return self._h_in_body(tok)
            if tok[1] == "noframes":
                return self._h_in_head(tok)
        if t == "eof":
            self.done = True
            return None
        self.parse_errors += 1
        return None

    # -- foreign content (§13.2.6.5) ---------------------------------------------

    def _is_mathml_text_ip(self, node: Node) -> bool:
        return node.namespace == MATHML_NS and node.name in (
            "mi", "mo", "mn", "ms", "mtext",
        )

    def _is_html_ip(self, node: Node) -> bool:
        if node.namespace == SVG_NS and node.name in (
            "foreignObject", "desc", "title",
        ):
            return True
        return node.mathml_annotation_xml_integration

    def _use_foreign(self, tok) -> bool:
        if not self.open:
            return False
        node = self.open[-1]
        if len(self.open) == 1 and self.fragment_context is not None:
            # adjusted current node (§13.2.6.1): in fragment parsing the
            # context element is the adjusted current node while only
            # the root <html> is on the stack
            node = self.fragment_context
        if node.namespace == HTML_NS:
            return False
        t = tok[0]
        if t == "eof":
            return False
        if self._is_mathml_text_ip(node):
            if t == "start" and tok[1] not in ("mglyph", "malignmark"):
                return False
            if t == "chars":
                return False
        if (
            node.namespace == MATHML_NS
            and node.name == "annotation-xml"
            and t == "start"
            and tok[1] == "svg"
        ):
            return False
        if self._is_html_ip(node) and t in ("start", "chars"):
            return False
        return True

    def _foreign(self, tok):
        t = tok[0]
        if t == "chars":
            data = tok[1]
            if "\x00" in data:
                self.parse_errors += 1
                data = data.replace("\x00", "�")
            self._insert_text(data)
            if self.frameset_ok and not _is_ws(data):
                self.frameset_ok = False
            return None
        if t == "comment":
            self._insert_comment(tok[1])
            return None
        if t == "doctype":
            self.parse_errors += 1
            return None
        if t == "start":
            name = tok[1]
            breakout = name in FOREIGN_BREAKOUT or (
                name == "font"
                and any(n in ("color", "face", "size") for n, _ in tok[2])
            )
            if breakout:
                # NOTE: the spec's foreign-content "fragment case" is
                # ONLY in the any-other-END-tag loop; breakout applies
                # in fragments too (verified against html5lib 1.1's
                # independent reading). In a fragment whose context is
                # foreign but whose stack holds only the root <html>,
                # the pop loop naturally pops nothing (root is HTML ns)
                # and the tag reprocesses as HTML.
                self.parse_errors += 1
                while self.open:
                    node = self.open[-1]
                    if (
                        node.namespace == HTML_NS
                        or self._is_mathml_text_ip(node)
                        or self._is_html_ip(node)
                    ):
                        break
                    self.open.pop()
                return tok
            ns = self.open[-1].namespace
            if len(self.open) == 1 and self.fragment_context is not None:
                # adjusted current node: inherit the CONTEXT namespace
                # while only the root <html> is on the stack
                ns = self.fragment_context.namespace
            if ns == SVG_NS:
                name = SVG_TAG_ADJUST.get(name, name)
                attrs = _adjust_svg_attrs([list(a) for a in tok[2]])
            else:
                attrs = _adjust_mathml_attrs([list(a) for a in tok[2]])
            el = self._create_element(name, attrs, ns)
            self._insert_at(self._appropriate_place(), el)
            if not tok[3]:
                self.open.append(el)
            return None
        if t == "end":
            name = tok[1]
            node = self.open[-1]
            if (
                name == "script"
                and node.namespace == SVG_NS
                and node.name == "script"
            ):
                self.open.pop()
                return None
            if (node.name or "").lower() != name:
                self.parse_errors += 1
            for i in range(len(self.open) - 1, -1, -1):
                node = self.open[i]
                if i == 0:
                    return None
                if (node.name or "").lower() == name:
                    self._pop_until_node(node)
                    return None
                if self.open[i - 1].namespace == HTML_NS:
                    # process by current-mode HTML rules
                    return _MODE_DISPATCH[self.mode](self, tok)
            return None
        return None


def _adjust_mathml_attrs(attrs):
    for a in attrs:
        if a[0] == "definitionurl":
            a[0] = "definitionURL"
        else:
            a[0] = _FOREIGN_ATTR_LOCAL.get(a[0], a[0])
    return attrs


def _adjust_svg_attrs(attrs):
    for a in attrs:
        n = a[0]
        if n in SVG_ATTR_ADJUST:
            a[0] = SVG_ATTR_ADJUST[n]
        else:
            a[0] = _FOREIGN_ATTR_LOCAL.get(n, n)
    return attrs


def _sniff_quirks(name, public, system, force_quirks) -> str:
    """Doctype quirks sniffing (§13.2.6.4.1)."""
    if force_quirks or name != "html":
        return "quirks"
    pl = public.lower() if public is not None else None
    sl = system.lower() if system is not None else None
    if pl is not None:
        if pl in (
            "-//w3o//dtd w3 html strict 3.0//en//",
            "-/w3c/dtd html 4.0 transitional/en",
            "html",
        ):
            return "quirks"
        if pl.startswith(_QUIRKY_PUBLIC_PREFIXES):
            return "quirks"
        if sl is None and (
            pl.startswith("-//w3c//dtd html 4.01 frameset//")
            or pl.startswith("-//w3c//dtd html 4.01 transitional//")
        ):
            return "quirks"
        if pl.startswith("-//w3c//dtd xhtml 1.0 frameset//") or pl.startswith(
            "-//w3c//dtd xhtml 1.0 transitional//"
        ):
            return "limited-quirks"
        if sl is not None and (
            pl.startswith("-//w3c//dtd html 4.01 frameset//")
            or pl.startswith("-//w3c//dtd html 4.01 transitional//")
        ):
            return "limited-quirks"
    if sl == "http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd":
        return "quirks"
    return "no-quirks"


# hot-tag dispatch tables (built after the class so methods exist).
# Values are plain functions taking (self, tok). A hot table entry is
# the only in-body handler for its tag: the elif chains of
# _in_body_start/_in_body_end hold no branch for it.
_HOT_START = {
    "a": TreeBuilder._sb_a,
    "li": TreeBuilder._sb_list_item,
    "dd": TreeBuilder._sb_list_item,
    "dt": TreeBuilder._sb_list_item,
}
_HOT_START.update(dict.fromkeys(BLOCK_CLOSERS, TreeBuilder._sb_block))
_HOT_START.update(
    dict.fromkeys(FORMATTING - {"a", "nobr"}, TreeBuilder._sb_formatting)
)
_HOT_START.update(
    dict.fromkeys(("area", "br", "embed", "img", "keygen", "wbr"),
                  TreeBuilder._sb_void)
)

_HOT_END = {
    "p": TreeBuilder._eb_p,
    "br": TreeBuilder._eb_br,
}
_HOT_END.update(dict.fromkeys(FORMATTING, TreeBuilder._adoption_agency))
# the spec's in-body END-tag block set additionally includes
# pre/listing/button (WHATWG §13.2.6.4.7 "An end tag whose tag name is
# one of …"); the START-tag sets deliberately differ
_HOT_END.update(
    dict.fromkeys(BLOCK_CLOSERS - {"p"} | {"pre", "listing", "button"},
                  TreeBuilder._eb_block)
)

# end tags whose in-body steps are one pop when the current node is the
# HTML element being closed (see _in_body_end)
_ONE_POP_END = BLOCK_CLOSERS | HEADINGS | frozenset(
    ("p", "li", "dd", "dt", "pre", "listing", "button", "span")
)

_MODE_DISPATCH = {
    M_INITIAL: TreeBuilder._h_initial,
    M_BEFORE_HTML: TreeBuilder._h_before_html,
    M_BEFORE_HEAD: TreeBuilder._h_before_head,
    M_IN_HEAD: TreeBuilder._h_in_head,
    M_AFTER_HEAD: TreeBuilder._h_after_head,
    M_IN_BODY: TreeBuilder._h_in_body,
    M_TEXT: TreeBuilder._h_text,
    M_IN_TABLE: TreeBuilder._h_in_table,
    M_IN_TABLE_TEXT: TreeBuilder._h_in_table_text,
    M_IN_CAPTION: TreeBuilder._h_in_caption,
    M_IN_COLUMN_GROUP: TreeBuilder._h_in_column_group,
    M_IN_TABLE_BODY: TreeBuilder._h_in_table_body,
    M_IN_ROW: TreeBuilder._h_in_row,
    M_IN_CELL: TreeBuilder._h_in_cell,
    M_IN_SELECT: TreeBuilder._h_in_select,
    M_IN_SELECT_IN_TABLE: TreeBuilder._h_in_select_in_table,
    M_IN_TEMPLATE: TreeBuilder._h_in_template,
    M_AFTER_BODY: TreeBuilder._h_after_body,
    M_IN_FRAMESET: TreeBuilder._h_in_frameset,
    M_AFTER_FRAMESET: TreeBuilder._h_after_frameset,
    M_AFTER_AFTER_BODY: TreeBuilder._h_after_after_body,
    M_AFTER_AFTER_FRAMESET: TreeBuilder._h_after_after_frameset,
}
