"""WHATWG HTML §13.2.5 tokenizer — from scratch, pure Python.

The reference (rusterlium/html5ever_elixir) gets this state machine from
the Rust ``html5ever`` crate (``native/html5ever_nif/Cargo.toml:15``);
we re-implement it here. Design notes:

* Tokens are plain tuples (speed):
    ("chars", data)
    ("start", name, attrs, self_closing)   # attrs: list of (name, value)
    ("end", name)
    ("comment", data)
    ("doctype", name, public_id, system_id, force_quirks)  # ids None if absent
    ("eof",)
  The attribute pairs are lists or tuples; the tree builder copies them.
* Character data is emitted in large chunks found via ``str.find`` —
  one Python-level iteration per markup construct, not per character.
  Each special character's next position is cached and found again
  only once the cursor passes it, so a scan never rescans to the end
  of the document per run (data, script data and comments alike).
* The common tag is one compiled match in the data state: a lowercase
  name, and for a start tag only simple double-quoted attributes
  (lowercase names, values without ``&`` or NUL, no name twice). That
  is an exact early exit from the tag states: on such input they
  produce the same token and count no parse error. Every other tag goes
  through the character-exact states (``_tag_open`` / ``_read_tag``).
  No flag selects the path, and ``tests/test_parser_digest.py`` pins
  its output.
* In-tag duplicate attributes are dropped first-wins (the WHATWG
  "duplicate-attribute" parse error; reference behavior per
  ``lib/html5ever.ex:46-47`` and ``test/html5ever_test.exs:67-91``).
* Named character references use the full WHATWG table from the Python
  stdlib (``html.entities.html5``), including the legacy
  no-trailing-semicolon names and the attribute-context suppression
  rule.
* The tree builder (sink) switches the tokenizer into RCDATA / RAWTEXT /
  SCRIPT_DATA / PLAINTEXT synchronously while handling an emitted start
  tag, exactly as the spec's "tree construction dispatcher" does.
* Script data implements the escaped / double-escaped dance so that
  ``<script><!-- document.write("<script>..</script>") --></script>``
  tokenizes like real browsers do.

Parse errors never abort (reference ``arena_sink.rs:216`` swallows
them); we count them into ``self.parse_errors``.
"""

from __future__ import annotations

import re

from html.entities import html5 as _ENTITIES

# C-speed scans for the hot per-tag loops (semantics identical to the
# character loops they replace)
_TAG_NAME_RE = re.compile(r"[^\t\n\x0c />]+")
_ATTR_NAME_RE = re.compile(r"[^\t\n\x0c /=>]+")
_WS_RE = re.compile(r"[\t\n\x0c ]+")
# The common tag in one match (see "Design notes"): no character
# reference or NUL replacement can apply inside it. A duplicate
# attribute name or an end tag with attributes still takes the
# character-exact path, which counts their parse errors.
_TAG_RE = re.compile(
    r'<(/?)([a-z][a-z0-9]*)((?:[\t\n\x0c ]+[a-z][a-z0-9_-]*="[^"&\x00]*")*)>'
)
_ATTR_PAIR_RE = re.compile(r'([a-z][a-z0-9_-]*)="([^"]*)"')

# ---------------------------------------------------------------------------
# constants

DATA = 0
RCDATA = 1
RAWTEXT = 2
SCRIPT_DATA = 3
PLAINTEXT = 4

_WS = "\t\n\x0c "
_WS_SET = frozenset(_WS)
_LETTERS = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")
_TAG_NAME_END = frozenset("\t\n\x0c />")
_ATTR_NAME_END = frozenset("\t\n\x0c /=>")
_UNQUOTED_VALUE_END = frozenset("\t\n\x0c >")
_DIGITS = frozenset("0123456789")
_HEXDIGITS = frozenset("0123456789abcdefABCDEF")
_ALNUM = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
)

_MAX_ENTITY_LEN = max(len(k) for k in _ENTITIES)  # 32

# WHATWG numeric character reference remap table (§13.2.5.80).
_NUMERIC_REMAP = {
    0x00: "�", 0x80: "€", 0x82: "‚", 0x83: "ƒ",
    0x84: "„", 0x85: "…", 0x86: "†", 0x87: "‡",
    0x88: "ˆ", 0x89: "‰", 0x8A: "Š", 0x8B: "‹",
    0x8C: "Œ", 0x8E: "Ž", 0x91: "‘", 0x92: "’",
    0x93: "“", 0x94: "”", 0x95: "•", 0x96: "–",
    0x97: "—", 0x98: "˜", 0x99: "™", 0x9A: "š",
    0x9B: "›", 0x9C: "œ", 0x9E: "ž", 0x9F: "Ÿ",
}

EOF_TOKEN = ("eof",)


class Tokenizer:
    """One-shot tokenizer over a full document string.

    ``sink`` must provide ``process_token(tok)`` and ``cdata_allowed()``
    (True when the tree builder's adjusted current node is in a foreign
    namespace, enabling real ``<![CDATA[...]]>`` sections).
    """

    __slots__ = ("s", "n", "p", "sink", "state", "last_start",
                 "parse_errors", "_emit_tok")

    def __init__(self, text: str, sink):
        if "\r" in text:
            text = text.replace("\r\n", "\n").replace("\r", "\n")
        self.s = text
        self.n = len(text)
        self.p = 0
        self.sink = sink
        # bound once (r9): every token emission is one attribute load +
        # call instead of the method-wrapper indirection
        self._emit_tok = sink.process_token
        self.state = DATA
        self.last_start = ""
        self.parse_errors = 0

    # -- driver -------------------------------------------------------------

    def run(self) -> None:
        while self.p < self.n:
            st = self.state
            if st == DATA:
                self._data_like(charrefs=True, lt_is_markup=True)
            elif st == RCDATA:
                self._data_like(charrefs=True, lt_is_markup=False)
            elif st == RAWTEXT:
                self._data_like(charrefs=False, lt_is_markup=False)
            elif st == SCRIPT_DATA:
                self._script_data()
            else:  # PLAINTEXT
                rest = self.s[self.p :]
                self.p = self.n
                if rest:
                    self._chars(rest.replace("\x00", "�"))
        self.sink.process_token(EOF_TOKEN)

    # -- helpers ------------------------------------------------------------

    def _chars(self, data: str) -> None:
        if data:
            self._emit_tok(("chars", data))

    def _emit(self, tok) -> None:
        self._emit_tok(tok)

    # -- data / RCDATA / RAWTEXT ---------------------------------------------

    def _data_like(self, charrefs: bool, lt_is_markup: bool) -> None:
        """Process one run of the current data-family state.

        Returns when EOF is reached or the state may have changed
        (after any tag emission)."""
        s, n = self.s, self.n
        start_state = self.state
        emit = self._emit_tok
        tag_match = _TAG_RE.match
        attr_pairs = _ATTR_PAIR_RE.findall
        buf: list[str] = []
        p = self.p
        # cached next-occurrence positions for the text-run scan (r9):
        # the old code re-ran str.find() for EVERY special char on
        # every text run — each scanning to end-of-string when its char
        # never occurs again, O(n²) on e.g. &-dense documents. The
        # cache is monotone (recomputed only once p passes it; n =
        # absent), so the whole call does at most one memchr pass per
        # special char over the input.
        q1 = q2 = q3 = -1
        while p < n:
            c = s[p]
            if c == "<":
                if lt_is_markup:
                    if buf:  # every piece in buf is non-empty
                        emit(("chars", "".join(buf)))
                        buf = []
                    m = tag_match(s, p)
                    if m is not None:
                        end, name, attr_run = m.groups()
                        if not attr_run:
                            self.p = p = m.end()
                            if end:
                                emit(("end", name))
                            else:
                                self.last_start = name
                                emit(("start", name, [], False))
                        elif not end and (
                            len(pairs := attr_pairs(attr_run))
                            == len({a for a, _ in pairs})
                        ):
                            self.p = p = m.end()
                            self.last_start = name
                            emit(("start", name, pairs, False))
                        else:
                            m = None
                    if m is None:
                        self.p = p
                        self._tag_open()
                        p = self.p
                    # the fast path sets no state: this branch runs only
                    # in DATA, and only the sink switches it
                    if self.state != start_state:
                        return
                else:
                    # RCDATA / RAWTEXT: only "</" + appropriate tag closes
                    if self._at_appropriate_end_tag(p):
                        self.p = p
                        if buf:
                            self._chars("".join(buf))
                            buf = []
                        self.p = p + 2  # past "</"
                        self._read_tag(is_start=False)
                        return  # state switched to DATA (or sink changed it)
                    buf.append("<")
                    p += 1
            elif c == "&" and charrefs:
                self.p = p + 1
                rep = self._charref(in_attr=False)
                if rep is None:
                    buf.append("&")
                    p += 1
                else:
                    buf.append(rep)
                    p = self.p
            elif c == "\x00":
                buf.append("\x00" if start_state == DATA else "�")
                p += 1
            else:
                if q1 < p:
                    q1 = s.find("<", p)
                    if q1 == -1:
                        q1 = n
                q = q1
                if charrefs:
                    if q2 < p:
                        q2 = s.find("&", p)
                        if q2 == -1:
                            q2 = n
                    if q2 < q:
                        q = q2
                if q3 < p:
                    q3 = s.find("\x00", p)
                    if q3 == -1:
                        q3 = n
                if q3 < q:
                    q = q3
                buf.append(s[p:q])
                p = q
        self.p = n
        if buf:
            self._chars("".join(buf))

    def _at_appropriate_end_tag(self, p: int) -> bool:
        """At position of '<' in RCDATA/RAWTEXT/script: is this the
        closing end tag for the last emitted start tag?"""
        s, n = self.s, self.n
        name = self.last_start
        if not name or p + 1 >= n or s[p + 1] != "/":
            return False
        q = p + 2
        ln = len(name)
        if s[q : q + ln].lower() != name:
            return False
        if q + ln >= n:
            return True  # EOF right after name: spec treats as text, but
            # emitting the end tag here is harmless (document ends anyway)
        return s[q + ln] in "\t\n\x0c />"

    # -- script data (with escape states) ------------------------------------

    def _script_data(self) -> None:
        s, n = self.s, self.n
        p = self.p
        buf: list[str] = []
        escaped = False
        double = False
        # monotone next-occurrence cache, as in _data_like (r9)
        q1 = q2 = q3 = -1
        while p < n:
            c = s[p]
            if c == "<":
                if not escaped:
                    if self._at_appropriate_end_tag(p):
                        self.p = p
                        if buf:
                            self._chars("".join(buf))
                            buf = []
                        self.p = p + 2
                        self._read_tag(is_start=False)
                        return
                    if s[p + 1 : p + 4] == "!--":
                        # "<!--" lands in escaped DASH DASH state: more
                        # dashes loop there, and ">" aborts straight
                        # back to plain script data — only any OTHER
                        # char commits to escaped (caught by the r6
                        # script-soup differential: "<!-->" must leave
                        # a following "</script>" able to close)
                        q = p + 4
                        while q < n and s[q] == "-":
                            q += 1
                        if q < n and s[q] == ">":
                            buf.append(s[p : q + 1])
                            p = q + 1
                            continue
                        escaped = True
                        double = False
                        buf.append("<!--")
                        p += 4
                        continue
                    buf.append("<")
                    p += 1
                else:
                    if not double:
                        if self._at_appropriate_end_tag(p):
                            self.p = p
                            if buf:
                                self._chars("".join(buf))
                                buf = []
                            self.p = p + 2
                            self._read_tag(is_start=False)
                            return
                        # "<script" + delim enters double-escaped
                        frag = s[p + 1 : p + 7].lower()
                        if frag == "script" and (
                            p + 7 >= n or s[p + 7] in "\t\n\x0c />"
                        ):
                            double = True
                            buf.append(s[p : p + 7])
                            p += 7
                            continue
                        buf.append("<")
                        p += 1
                    else:
                        # double escaped: "</script" + delim drops to escaped
                        frag = s[p + 1 : p + 8].lower()
                        if frag == "/script" and (
                            p + 8 >= n or s[p + 8] in "\t\n\x0c />"
                        ):
                            double = False
                            buf.append(s[p : p + 8])
                            p += 8
                            continue
                        buf.append("<")
                        p += 1
            elif c == "-" and escaped and s[p : p + 3] == "-->":
                escaped = False
                double = False
                buf.append("-->")
                p += 3
            elif c == "\x00":
                buf.append("�")
                p += 1
            else:
                if q1 < p:
                    q1 = s.find("<", p)
                    if q1 == -1:
                        q1 = n
                q = q1
                if escaped:
                    if q2 < p:
                        q2 = s.find("-", p)
                        if q2 == -1:
                            q2 = n
                    if q2 < q:
                        q = q2
                if q3 < p:
                    q3 = s.find("\x00", p)
                    if q3 == -1:
                        q3 = n
                if q3 < q:
                    q = q3
                if q == p:  # lone '-' not starting '-->'
                    buf.append(c)
                    p += 1
                else:
                    buf.append(s[p:q])
                    p = q
        self.p = n
        if buf:
            self._chars("".join(buf))

    # -- tag open -------------------------------------------------------------

    def _tag_open(self) -> None:
        """self.p is at '<' in DATA state."""
        s, n = self.s, self.n
        p = self.p + 1
        if p >= n:
            self._chars("<")
            self.p = n
            return
        c = s[p]
        if c == "!":
            self.p = p + 1
            self._markup_declaration()
        elif c == "/":
            p += 1
            if p >= n:
                self.parse_errors += 1
                self._chars("</")
                self.p = n
            elif s[p] in _LETTERS:
                self.p = p
                self._read_tag(is_start=False)
            elif s[p] == ">":
                self.parse_errors += 1  # missing-end-tag-name
                self.p = p + 1
            else:
                self.parse_errors += 1
                self.p = p
                self._bogus_comment()
        elif c in _LETTERS:
            self.p = p
            self._read_tag(is_start=True)
        elif c == "?":
            self.parse_errors += 1
            self.p = p
            self._bogus_comment()  # includes the '?'  → "?xml ...?" comment
        else:
            self.parse_errors += 1
            self._chars("<")
            self.p = p  # reconsume c in data

    # -- tag reading ------------------------------------------------------------

    def _read_tag(self, is_start: bool) -> None:
        """self.p at first tag-name char (a letter). Parses through '>'.

        Emits the token (or nothing on EOF, per spec). Sets state to DATA
        by default; the sink may switch it further while processing."""
        s, n = self.s, self.n
        p = self.p
        # tag name
        m = _TAG_NAME_RE.match(s, p)
        q = m.end() if m else p
        name = s[p:q].lower()
        if "\x00" in name:
            name = name.replace("\x00", "�")
        p = q
        # fast path: attribute-less tag (`<p>`, `</div>`, …) — the
        # overwhelmingly common case on tag-dense pages
        if q < n and s[q] == ">":
            self.p = q + 1
            self.state = DATA
            if is_start:
                self.last_start = name
                self._emit_tok(("start", name, [], False))
            else:
                self._emit_tok(("end", name))
            return
        attrs: list[list[str]] = []
        seen: set[str] = set()
        self_closing = False
        while True:
            # before attribute name
            mw = _WS_RE.match(s, p)
            if mw:
                p = mw.end()
            if p >= n:
                self.p = n
                return  # eof-in-tag: token dropped
            c = s[p]
            if c == ">":
                p += 1
                break
            if c == "/":
                if p + 1 < n and s[p + 1] == ">":
                    self_closing = True
                    p += 2
                    break
                self.parse_errors += 1  # unexpected-solidus-in-tag
                p += 1
                continue
            # attribute name
            q = p
            if s[q] == "=":  # unexpected-equals-sign-before-attribute-name
                self.parse_errors += 1
                q += 1
            ma = _ATTR_NAME_RE.match(s, q)
            if ma:
                q = ma.end()
            aname = s[p:q].lower()
            if "\x00" in aname:
                aname = aname.replace("\x00", "�")
            p = q
            # after attribute name
            mw = _WS_RE.match(s, p)
            if mw:
                p = mw.end()
            value = ""
            if p < n and s[p] == "=":
                p += 1
                while p < n and s[p] in _WS_SET:
                    p += 1
                if p < n:
                    c = s[p]
                    if c == '"' or c == "'":
                        p += 1
                        value, p = self._attr_value_quoted(p, c)
                    elif c == ">":
                        self.parse_errors += 1  # missing-attribute-value
                    else:
                        value, p = self._attr_value_unquoted(p)
            if aname in seen:
                self.parse_errors += 1  # duplicate-attribute: first wins
            elif aname:
                seen.add(aname)
                attrs.append([aname, value])
        self.p = p
        self.state = DATA
        if is_start:
            self.last_start = name
            self._emit(("start", name, attrs, self_closing))
        else:
            if attrs:
                self.parse_errors += 1  # end-tag-with-attributes
            self._emit(("end", name))

    def _attr_value_quoted(self, p: int, quote: str) -> tuple[str, int]:
        s, n = self.s, self.n
        buf: list[str] = []
        while p < n:
            q1 = s.find(quote, p)
            q2 = s.find("&", p)
            if q1 == -1:
                q1 = n
            if q2 == -1 or q2 > q1:
                buf.append(s[p:q1])
                p = q1 + 1 if q1 < n else n
                break
            buf.append(s[p:q2])
            self.p = q2 + 1
            rep = self._charref(in_attr=True)
            if rep is None:
                buf.append("&")
                p = q2 + 1
            else:
                buf.append(rep)
                p = self.p
        v = "".join(buf)
        if "\x00" in v:
            v = v.replace("\x00", "�")
        return v, p

    def _attr_value_unquoted(self, p: int) -> tuple[str, int]:
        s, n = self.s, self.n
        buf: list[str] = []
        while p < n:
            c = s[p]
            if c in _UNQUOTED_VALUE_END:
                break
            if c == "&":
                self.p = p + 1
                rep = self._charref(in_attr=True)
                if rep is None:
                    buf.append("&")
                    p += 1
                else:
                    buf.append(rep)
                    p = self.p
            else:
                buf.append(c)
                p += 1
        v = "".join(buf)
        if "\x00" in v:
            v = v.replace("\x00", "�")
        return v, p

    # -- markup declarations ------------------------------------------------------

    def _markup_declaration(self) -> None:
        """self.p just after '<!'."""
        s, n, p = self.s, self.n, self.p
        if s[p : p + 2] == "--":
            self.p = p + 2
            self._comment()
        elif s[p : p + 7].lower() == "doctype":
            self.p = p + 7
            self._doctype()
        elif s[p : p + 7] == "[CDATA[" and self.sink.cdata_allowed():
            end = s.find("]]>", p + 7)
            if end == -1:
                self.parse_errors += 1
                self._chars(s[p + 7 :])
                self.p = n
            else:
                self._chars(s[p + 7 : end])
                self.p = end + 3
        else:
            self.parse_errors += 1  # incorrectly-opened-comment
            self._bogus_comment()

    def _comment(self) -> None:
        """self.p just after '<!--'. Spec comment states §13.2.5.43-52."""
        s, n = self.s, self.n
        p = self.p
        buf: list[str] = []
        # comment start: <!--> and <!---> are empty comments
        if p < n and s[p] == ">":
            self.parse_errors += 1
            self.p = p + 1
            self._emit(("comment", ""))
            return
        if s[p : p + 2] == "->":
            self.parse_errors += 1
            self.p = p + 2
            self._emit(("comment", ""))
            return
        q1 = q2 = -1
        while True:
            if p >= n:
                self.parse_errors += 1  # eof-in-comment
                self.p = n
                self._emit(("comment", "".join(buf)))
                return
            c = s[p]
            if c == "-":
                # count run of dashes
                q = p
                while q < n and s[q] == "-":
                    q += 1
                dashes = q - p
                if q >= n:
                    self.parse_errors += 1
                    buf.append("-" * max(0, dashes - 2))
                    self.p = n
                    self._emit(("comment", "".join(buf)))
                    return
                if dashes >= 2 and s[q] == ">":
                    buf.append("-" * (dashes - 2))
                    self.p = q + 1
                    self._emit(("comment", "".join(buf)))
                    return
                if dashes >= 2 and s[q] == "!" and s[q + 1 : q + 2] == ">":
                    self.parse_errors += 1  # incorrectly-closed-comment
                    buf.append("-" * (dashes - 2))
                    self.p = q + 2
                    self._emit(("comment", "".join(buf)))
                    return
                buf.append("-" * dashes)
                p = q
            elif c == "\x00":
                buf.append("�")
                p += 1
            else:
                # monotone next-occurrence cache, as in _data_like: a
                # fresh find per dash run rescans to the end of the
                # document when NUL (or '-') never occurs again
                if q1 < p:
                    q1 = s.find("-", p)
                    if q1 == -1:
                        q1 = n
                if q2 < p:
                    q2 = s.find("\x00", p)
                    if q2 == -1:
                        q2 = n
                q = q1 if q1 < q2 else q2
                buf.append(s[p:q])
                p = q

    def _bogus_comment(self) -> None:
        """self.p at first char of bogus comment data."""
        s, n, p = self.s, self.n, self.p
        end = s.find(">", p)
        if end == -1:
            data = s[p:]
            self.p = n
        else:
            data = s[p:end]
            self.p = end + 1
        if "\x00" in data:
            data = data.replace("\x00", "�")
        self._emit(("comment", data))

    def _doctype(self) -> None:
        """self.p just after '<!doctype'."""
        s, n = self.s, self.n
        p = self.p
        name = None
        public_id = None
        system_id = None
        force_quirks = False

        while p < n and s[p] in _WS_SET:
            p += 1
        if p >= n:
            self.p = n
            self._emit(("doctype", None, None, None, True))
            return
        if s[p] == ">":
            self.parse_errors += 1
            self.p = p + 1
            self._emit(("doctype", None, None, None, True))
            return
        # doctype name
        q = p
        while q < n and s[q] not in _WS_SET and s[q] != ">":
            q += 1
        name = s[p:q].lower().replace("\x00", "�")
        p = q
        while p < n and s[p] in _WS_SET:
            p += 1
        if p < n and s[p] != ">":
            kw = s[p : p + 6].lower()
            if kw == "public":
                p += 6
                public_id, p, ok = self._doctype_id(p)
                if ok:
                    # optional system id after public
                    while p < n and s[p] in _WS_SET:
                        p += 1
                    if p < n and s[p] in "\"'":
                        system_id, p, _ = self._doctype_id(p, keyword=False)
                    elif p < n and s[p] != ">":
                        force_quirks = True
                else:
                    force_quirks = True
            elif kw == "system":
                p += 6
                system_id, p, ok = self._doctype_id(p)
                if not ok:
                    force_quirks = True
            else:
                self.parse_errors += 1
                force_quirks = True
            # bogus doctype: skip to '>'
            end = s.find(">", p)
            p = n if end == -1 else end
        if p >= n:
            self.parse_errors += 1
            force_quirks = True
            self.p = n
        else:
            self.p = p + 1  # consume '>'
        self._emit(("doctype", name, public_id, system_id, force_quirks))

    def _doctype_id(self, p: int, keyword: bool = True) -> tuple:
        """Parse a quoted PUBLIC/SYSTEM identifier. Returns (id|None, p, ok)."""
        s, n = self.s, self.n
        while p < n and s[p] in _WS_SET:
            p += 1
        if p >= n or s[p] not in "\"'":
            return None, p, False
        quote = s[p]
        p += 1
        end = s.find(quote, p)
        if end == -1:
            return s[p:].replace("\x00", "�"), n, False
        ident = s[p:end].replace("\x00", "�")
        return ident, end + 1, True

    # -- character references ------------------------------------------------------

    def _charref(self, in_attr: bool):
        """self.p just after '&'. Returns replacement string and advances
        self.p past the reference, or returns None (literal '&', self.p
        unchanged semantics: caller keeps its own position)."""
        s, n, p = self.s, self.n, self.p
        if p >= n:
            return None
        c = s[p]
        if c == "#":
            q = p + 1
            hexmode = q < n and s[q] in "xX"
            if hexmode:
                q += 1
            start = q
            digits = _HEXDIGITS if hexmode else _DIGITS
            while q < n and s[q] in digits:
                q += 1
            if q == start:
                self.parse_errors += 1
                return None  # absence-of-digits
            num = int(s[start:q], 16 if hexmode else 10)
            if q < n and s[q] == ";":
                q += 1
            else:
                self.parse_errors += 1
            self.p = q
            if num in _NUMERIC_REMAP:
                return _NUMERIC_REMAP[num]
            if num > 0x10FFFF or 0xD800 <= num <= 0xDFFF:
                self.parse_errors += 1
                return "�"
            return chr(num)
        if c not in _ALNUM:
            return None
        # named: longest match against the WHATWG table
        window = s[p : p + _MAX_ENTITY_LEN]
        for ln in range(min(len(window), _MAX_ENTITY_LEN), 0, -1):
            cand = window[:ln]
            if cand in _ENTITIES:
                if not cand.endswith(";"):
                    # legacy no-semicolon reference
                    nxt = s[p + ln] if p + ln < n else ""
                    if in_attr and (nxt in _ALNUM or nxt == "="):
                        return None  # leave as literal text in attribute
                    self.parse_errors += 1  # missing-semicolon-after-charref
                self.p = p + ln
                return _ENTITIES[cand]
        return None
