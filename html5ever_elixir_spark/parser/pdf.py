"""Minimal from-scratch PDF text extraction (the north rule's
"PDF/layout parse" alongside the HTML path; the reference repo is
HTML-only, so scope here is the pipeline mandate, not reference parity).

Scope (honest): classic cross-reference PDFs with direct page trees and
Tj/TJ/'/" text-showing operators, optional FlateDecode (stdlib zlib) on
content streams with PNG (10-15) and TIFF (2, 8-bit) predictors,
literal/hex string syntax with escapes, and line-break reconstruction
from Td/TD/T*/Tm moves. Object resolution takes the classic
cross-reference fast path when the tables validate (offsets actually
point at the right `N 0 obj` headers, /Prev and hybrid /XRefStm chains
walked newest-first) and falls back to a full linear scan otherwise —
crawled PDFs routinely carry slightly-off offsets. PDF 1.5+ layouts
are supported: cross-reference STREAMS (W-field rows, Flate +
predictor) and compressed object streams (/ObjStm type-2 entries,
where modern PDFs keep their catalog/pages dicts). Text decoding
covers simple-font /Encoding (WinAnsi / MacRoman / Standard bases,
/Differences with AGL-subset glyph names), ToUnicode CMaps
(bfchar/bfrange, both destination forms), composite Type0 fonts
with /Identity-H(-V) CMaps decoded through their 2-byte ToUnicode —
the dominant layout for crawled non-Latin PDFs — and, since r7, Type0
fonts with EMBEDDED CID CMap streams (§9.7.5.3: codespace-range-driven
variable-width code splitting, begincidchar/begincidrange, ToUnicode
over the split codes — the crawled-CJK layout). Encrypted files
decrypt transparently when the USER password is empty — the common
crawled shape (owner-only restrictions): RC4 (standard security
handler V1/V2, R2/R3) and, since r6, AES-128-CBC (V4/R4, /CFM /AESV2)
and AES-256 (V5/R6, /CFM /AESV3, Algorithm 2.B KDF) — all on a
pure-stdlib FIPS-197 T-table core; see :func:`_std_security_key`.
Since r8, PREDEFINED Uni*-UCS2-* CMaps (UniGB-UCS2-H, UniJIS-UCS2-H,
UniKS-UCS2-H, UniCNS-UCS2-H + -HW-/-V variants) decode WITHOUT the
external Adobe data files: by the public Uni* design the 2-byte code
IS the UCS-2 code unit, so text decode is chr(code) with ToUnicode
winning per code (the CID is only needed for glyph selection, not
text). Explicitly NOT handled: the deprecated R5/ExtensionLevel-3
scheme, real user passwords, encrypted files whose page tree lives in
/ObjStm (RC4-era files use classic xref), OTHER predefined CMaps
(GBK-EUC-H, B5pc-H, UTF16 forms etc. — real code→CID data this
from-scratch reader doesn't carry; their codes decode to U+FFFD,
never mojibake), and fonts whose only text mapping is
embedded glyph programs — a corpus job routes those rows to DISTINCT
error values / U+FFFD rather than failing (same row-level error
contract as the HTML parser's invalid-UTF-8 path).

The companion writers produce deterministic PDFs for the oracle
roundtrip gate and tests; their content is always Flate-compressed, so
the extractor's inflate path is load-bearing, not decorative. Each is
one piece of a shared core: :func:`_write_pdf` is the one object/xref
serializer, :func:`_paged_text_pdf` the one page-tree text builder
(:func:`make_simple_pdf`, :func:`make_cid_pdf` and
:func:`make_ucs2_pdf` supply only a line encoder and their font
objects), and the ``encrypt_pdf_*`` writers supply only a per-object
cipher and their /Encrypt entries to :func:`_encrypt_streams`.

Reader and writers walk a file the same way: :func:`_scan_objects` is
the one linear object scan, :func:`_stream_span` the one rule for
where a stream payload lies, and :func:`_rewrite_stream` the one
payload rewrite (decryption and encryption alike). The PNG row
unfilter :func:`_png_unfilter` serves the PDF predictors here and the
PNG decoder in ``operators/multimodal.py``.
"""

from __future__ import annotations

import functools
import re
import struct
import zlib
from hashlib import md5, sha256, sha384, sha512

# ---------------------------------------------------------------------------
# writer (deterministic synthetic PDFs for tests/benchmarks — no
# external data, per the driver contract)


def _escape_pdf_string(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _pdf_show_string(line: str) -> str:
    """A Tj-able string token: literal ( ) syntax for Latin-1 text,
    UTF-16BE hex string (with BOM) otherwise — both forms the reader
    decodes back exactly."""
    try:
        line.encode("latin-1")
    except UnicodeEncodeError:
        return "<FEFF" + line.encode("utf-16-be").hex().upper() + ">"
    return f"({_escape_pdf_string(line)})"


def _text_ops(lines: list[str], show) -> bytes:
    """One page's content: each line one ``Tj`` of ``show(line)``, 14 pt
    apart, in font /F1."""
    ops = ["BT", "/F1 12 Tf", "72 720 Td"]
    for j, line in enumerate(lines):
        if j:
            ops.append("0 -14 Td")
        ops.append(f"{show(line)} Tj")
    ops.append("ET")
    return "\n".join(ops).encode("latin-1")


def _flate_stream(raw: bytes, pre: str = "", post: str = "") -> bytes:
    """Object body of a Flate stream: ``pre`` and ``post`` are the dict
    entries written before /Length and after /Filter."""
    flate = zlib.compress(raw)
    return (
        f"<< {pre}/Length {len(flate)} /Filter /FlateDecode{post} >>\n"
        f"stream\n".encode() + flate + b"\nendstream"
    )


def _write_pdf(objs: dict[int, bytes], xref_stream=None) -> bytes:
    """The file: every object of ``objs`` (id → body) in id order, then
    the cross-reference section and ``startxref``. By default that is a
    classic table and trailer (ids must run 1..max). With
    ``xref_stream(offsets, at)`` it is a PDF 1.5 cross-reference stream
    object, numbered ``max(objs) + 1``, whose body the callable builds
    from the object offsets and its own offset."""
    out = bytearray(b"%PDF-1.5\n" if xref_stream is not None
                    else b"%PDF-1.4\n")
    offsets = {}
    for oid in sorted(objs):
        offsets[oid] = len(out)
        out += f"{oid} 0 obj\n".encode() + objs[oid] + b"\nendobj\n"
    xref_at = len(out)
    n = max(objs) + 1
    if xref_stream is not None:
        out += (f"{n} 0 obj\n".encode() + xref_stream(offsets, xref_at)
                + b"\nendobj\n")
    else:
        out += f"xref\n0 {n}\n0000000000 65535 f \n".encode()
        for oid in range(1, n):
            out += f"{offsets[oid]:010d} 00000 n \n".encode()
        out += f"trailer\n<< /Size {n} /Root 1 0 R >>\n".encode()
    out += f"startxref\n{xref_at}\n%%EOF".encode()
    return bytes(out)


def _paged_text_pdf(lines: list[str], lines_per_page: int, show,
                    fonts) -> bytes:
    """The page-tree layout every text writer shares: catalog (1), page
    tree (2), then a page and its Flate content stream per
    ``lines_per_page`` lines (3, 4, 5, ...), each page showing its lines
    through ``show`` in font /F1. ``fonts(font_id)`` returns the font
    object bodies, numbered from ``font_id`` (the first is /F1)."""
    pages = [
        lines[i : i + lines_per_page]
        for i in range(0, max(len(lines), 1), lines_per_page)
    ]
    font_id = 3 + 2 * len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(len(pages)))
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: f"<< /Type /Pages /Kids [{kids}] /Count {len(pages)} >>".encode(),
    }
    for i, page_lines in enumerate(pages):
        page_id = 3 + 2 * i
        objs[page_id] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {page_id + 1} 0 R "
            f"/Resources << /Font << /F1 {font_id} 0 R >> >> >>".encode()
        )
        objs[page_id + 1] = _flate_stream(_text_ops(page_lines, show))
    for k, body in enumerate(fonts(font_id)):
        objs[font_id + k] = body
    return _write_pdf(objs)


def make_simple_pdf(lines: list[str], lines_per_page: int = 40) -> bytes:
    """One-font (Helvetica) PDF: each text line is one Tj show, pages
    break every ``lines_per_page`` lines. Content streams are
    Flate-compressed. Latin-1 lines use literal strings; anything else
    is written as a BOM-prefixed UTF-16BE hex string."""
    return _paged_text_pdf(lines, lines_per_page, _pdf_show_string, lambda _: [
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"])


def make_cid_pdf(lines: list[str], lines_per_page: int = 40) -> bytes:
    """Composite-font PDF for tests/driver gates: one Type0 font whose
    /Encoding is an EMBEDDED CID CMap stream (not Identity, not a
    predefined name) with a MIXED codespace — 1-byte code 0x20 for
    space, 2-byte codes 0x0100+i for every other distinct character —
    exercising variable-width code splitting, begincidchar AND
    begincidrange sections, and a 2-byte ToUnicode. Text shows as hex
    strings of codes; extraction roundtrips to the input lines exactly,
    so the same SQL oracle that gates :func:`make_simple_pdf` gates
    this layout too. Flate-compressed streams throughout."""
    charset = sorted({c for ln in lines for c in ln if c != " "})
    if len(charset) > 0xFE00:
        raise ValueError("charset too large for the 2-byte code block")
    code_of = {c: 0x0100 + i for i, c in enumerate(charset)}
    hi_code = 0x0100 + max(len(charset) - 1, 0)

    def encode_line(ln: str) -> str:
        return "<" + "".join(
            "20" if c == " " else f"{code_of[c]:04X}" for c in ln) + ">"

    # CMap: first min(4, n) chars via cidchar, the rest one cidrange
    n_char = min(4, len(charset))
    cid_lines = [
        "/CIDInit /ProcSet findresource begin",
        "12 dict begin",
        "begincmap",
        "/CIDSystemInfo << /Registry (Test) /Ordering (Roundtrip) "
        "/Supplement 0 >> def",
        "/CMapName /Test-Roundtrip-H def",
        "/CMapType 1 def",
        "2 begincodespacerange",
        "<20> <20>",
        f"<0100> <{hi_code:04X}>",
        "endcodespacerange",
    ]
    if n_char:
        cid_lines.append(f"{n_char} begincidchar")
        for i in range(n_char):
            cid_lines.append(f"<{0x0100 + i:04X}> {1 + i}")
        cid_lines.append("endcidchar")
    if len(charset) > n_char:
        cid_lines += [
            "1 begincidrange",
            f"<{0x0100 + n_char:04X}> <{hi_code:04X}> {1 + n_char}",
            "endcidrange",
        ]
    cid_lines += ["endcmap", "end", "end"]

    # ToUnicode: 1-byte space bfchar + one bfchar per 2-byte code
    tou_lines = [
        "/CIDInit /ProcSet findresource begin",
        "begincmap",
        "1 begincodespacerange",
        "<0100> <FFFF>",
        "endcodespacerange",
    ]
    entries = ["<20> <0020>"] + [
        f"<{code_of[c]:04X}> <{ord(c):04X}>" for c in charset
    ]
    for i in range(0, len(entries), 90):  # ≤100 entries per section
        block = entries[i : i + 90]
        tou_lines.append(f"{len(block)} beginbfchar")
        tou_lines += block
        tou_lines.append("endbfchar")
    tou_lines += ["endcmap", "end"]

    def fonts(font_id: int) -> list[bytes]:
        return [
            f"<< /Type /Font /Subtype /Type0 /BaseFont /TestCID "
            f"/Encoding {font_id + 2} 0 R /DescendantFonts [{font_id + 1} 0 R] "
            f"/ToUnicode {font_id + 3} 0 R >>".encode(),
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /TestCID "
            b"/CIDSystemInfo << /Registry (Test) /Ordering (Roundtrip) "
            b"/Supplement 0 >> >>",
            _flate_stream("\n".join(cid_lines).encode("ascii"),
                          post=" /Type /CMap /CMapName /Test-Roundtrip-H"),
            _flate_stream("\n".join(tou_lines).encode("ascii")),
        ]

    return _paged_text_pdf(lines, lines_per_page, encode_line, fonts)


#: the public Adobe predefined CMap families this generator/reader
#: supports: code = UCS-2 (BMP) code unit by the Uni* design
_UCS2_CMAP_NAMES = (
    "UniGB-UCS2-H",   # Adobe-GB1  (Simplified Chinese)
    "UniJIS-UCS2-H",  # Adobe-Japan1
    "UniKS-UCS2-H",   # Adobe-Korea1
    "UniCNS-UCS2-H",  # Adobe-CNS1 (Traditional Chinese)
)

_UCS2_ORDERING = {
    "UniGB-UCS2-H": ("GB1", 2),
    "UniJIS-UCS2-H": ("Japan1", 4),
    "UniKS-UCS2-H": ("Korea1", 1),
    "UniCNS-UCS2-H": ("CNS1", 3),
}


def make_ucs2_pdf(
    lines: list[str],
    cmap_name: str = "UniGB-UCS2-H",
    lines_per_page: int = 40,
) -> bytes:
    """Composite-font PDF whose Type0 font uses a PREDEFINED external
    CMap name (``/Encoding /UniGB-UCS2-H`` etc.) with NO embedded CMap
    data and NO ToUnicode — the common crawled-CJK layout where the
    viewer must know the public Adobe mapping. For the UCS2 families
    the 2-byte character code IS the UCS-2 code unit, so text shows as
    hex strings of UTF-16BE code units and extraction roundtrips any
    BMP text exactly (surrogates excluded by the UCS2 codespace)."""
    if cmap_name not in _UCS2_ORDERING:
        raise ValueError(f"unsupported predefined CMap {cmap_name!r}")
    ordering, supplement = _UCS2_ORDERING[cmap_name]

    def encode_line(ln: str) -> str:
        codes = []
        for c in ln:
            cp = ord(c)
            if cp > 0xFFFF:
                raise ValueError("non-BMP character needs a UTF16 CMap")
            codes.append(f"{cp:04X}")
        return "<" + "".join(codes) + ">"

    return _paged_text_pdf(lines, lines_per_page, encode_line, lambda f: [
        f"<< /Type /Font /Subtype /Type0 /BaseFont /TestUCS2 "
        f"/Encoding /{cmap_name} /DescendantFonts [{f + 1} 0 R] >>".encode(),
        f"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /TestUCS2 "
        f"/CIDSystemInfo << /Registry (Adobe) /Ordering ({ordering}) "
        f"/Supplement {supplement} >> >>".encode(),
    ])


def make_objstm_pdf(lines: list[str], predictor: int = 12) -> bytes:
    """PDF 1.5 layout generator for tests: the document dicts
    (catalog/pages/page) packed in a Flate-compressed object stream,
    the content stream a regular object, and a cross-reference STREAM
    (W [1 4 1], PNG-up predictor by default) — the modern layout
    crawled PDFs overwhelmingly use. Single page, same text model as
    :func:`make_simple_pdf`."""
    dicts = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
    ]
    offs, cat = [], b""
    for _oid, body in dicts:
        offs.append(len(cat))
        cat += body + b"\n"
    header = " ".join(f"{oid} {o}" for (oid, _), o in zip(dicts, offs))
    header = (header + "\n").encode()

    def xref_stream(offsets: dict[int, int], xref_at: int) -> bytes:
        rows = [
            (0, 0, 255),  # free head (field 3 capped to the 1-byte W width)
            (2, 5, 0), (2, 5, 1), (2, 5, 2),      # objects 1-3 in ObjStm 5
            (1, offsets[4], 0), (1, offsets[5], 0), (1, xref_at, 0),
        ]
        raw = b"".join(
            bytes([t]) + f1.to_bytes(4, "big") + bytes([f2])
            for t, f1, f2 in rows
        )
        parms = ""
        if predictor >= 10:  # forward-apply PNG up so the reader undoes it
            up = bytes(6) + raw  # the row above each 6-byte row
            raw = b"".join(
                b"\x02" + bytes((x - y) & 0xFF for x, y in
                                 zip(raw[r : r + 6], up[r : r + 6]))
                for r in range(0, len(raw), 6)
            )
            parms = " /DecodeParms << /Predictor 12 /Columns 6 >>"
        return _flate_stream(
            raw, pre="/Type /XRef /Size 7 /W [1 4 1] /Root 1 0 R ", post=parms)

    return _write_pdf({
        4: _flate_stream(_text_ops(lines, _pdf_show_string)),
        5: _flate_stream(header + cat,
                         pre=f"/Type /ObjStm /N 3 /First {len(header)} "),
    }, xref_stream)


# ---------------------------------------------------------------------------
# reader

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b", re.S)
_REF_RE = re.compile(rb"/(\w+)\s+(\d+)\s+\d+\s+R")
_KIDS_RE = re.compile(rb"/Kids\s*\[((?:\s*\d+\s+\d+\s+R)+)\s*\]")
_STREAM_RE = re.compile(rb"stream\r?\n")
_ID_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f\s]*)>")


class PdfError(ValueError):
    """Unparseable / out-of-scope PDF (row-level error, never job-fatal)."""


# direct /Length only — negative lookaheads reject the indirect form
# '/Length 5 0 R' (matching its object number as a byte count slices the
# stream wrong: Flate fails loudly, uncompressed truncates silently).
# (?!\d) anchors the digit run: without it the engine backtracks on
# '/Length 50 0 R' to capture '5' and sneak past the indirect-ref guard.
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)")


def _object_body_end(data: bytes, hdr_end: int) -> int:
    """Index of this object's 'endobj' (or -1). For stream objects with
    a direct /Length, skip past the stream payload first — compressed
    bytes can legitimately contain the literal text 'endobj'."""
    search_from = hdr_end
    sm = _STREAM_RE.search(data, hdr_end)
    if sm is not None:
        lm = _LENGTH_RE.search(data, hdr_end, sm.start())
        # only if this stream belongs to THIS object (no endobj
        # between the header and the stream keyword)
        if lm is not None and data.find(b"endobj", hdr_end, sm.start()) == -1:
            search_from = sm.end() + int(lm.group(1))
    return data.find(b"endobj", search_from)


def _scan_objects(data: bytes):
    """The linear object scan: ``(oid, lo, hi)`` for every
    ``N G obj … endobj`` in file order, the body being ``data[lo:hi]``.
    A header without its ``endobj`` is skipped."""
    pos = 0
    while True:
        m = _OBJ_RE.search(data, pos)
        if m is None:
            return
        end = _object_body_end(data, m.end())
        if end == -1:
            pos = m.end()
            continue
        yield int(m.group(1)), m.end(), end
        pos = end + 6


def _stream_span(body: bytes):
    """Where the stream payload of object ``body`` lies, as
    ``(stream dict, direct /Length match or None, lo, hi)`` with the
    payload ``body[lo:hi]``; None when the body has no stream. Without a
    direct /Length the payload ends before the last ``endstream``, less
    exactly ONE optional EOL — compressed data may legitimately END in
    0x0a/0x0d bytes, so rstrip would corrupt the zlib payload. With
    neither, ``hi`` counts from the end of the body (it is negative):
    the reader still inflates what is there. ``hi < lo`` (that case, or
    an ``endstream`` before the stream keyword) means no payload was
    found, and the encrypt writers and the decryptor leave it alone."""
    sm = _STREAM_RE.search(body)
    if sm is None:
        return None
    head, lo = body[: sm.start()], sm.end()
    lm = _LENGTH_RE.search(head)
    if lm is not None:
        return head, lm, lo, lo + int(lm.group(1))
    hi = body.rfind(b"endstream")
    seg = body[lo:hi]
    if seg.endswith(b"\r\n"):
        hi -= 2
    elif seg.endswith((b"\n", b"\r")):
        hi -= 1
    return head, None, lo, hi


def _rewrite_stream(body: bytes, code) -> bytes:
    """``body`` with its stream payload replaced by ``code(payload)``,
    the direct /Length patched when the payload length changes. A body
    without a stream or without a payload span (``hi < lo``, e.g.
    neither a direct /Length nor an ``endstream``) comes back
    unchanged."""
    span = _stream_span(body)
    if span is None or span[3] < span[2]:
        return body
    _, lm, lo, hi = span
    new = code(body[lo:hi])
    pre = body[:lo]
    if lm is not None and len(new) != hi - lo:
        pre = pre[: lm.start(1)] + str(len(new)).encode() + pre[lm.end(1):]
    return pre + new + body[hi:]


_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
_XREF_KW_RE = re.compile(rb"[\r\n\t ]*xref[\r\n\t ]+")
_XREF_SUBSEC_RE = re.compile(rb"(\d+)[\t ]+(\d+)[\r\n\t ]+")
_XREF_ENTRY_RE = re.compile(rb"(\d{10})[\t ]+(\d{5})[\t ]+([nf])[\r\n\t ]*")
_OBJ_AT_RE = re.compile(rb"[\r\n\t ]*(\d+)\s+\d+\s+obj\b")


def _int_key(d: bytes, key: bytes):
    m = re.search(rb"/" + key + rb"\s+(\d+)", d)
    return int(m.group(1)) if m else None


def _parse_xref_stream(data: bytes, off: int):
    """Parse a PDF 1.5+ cross-reference STREAM at ``off``. Returns
    (entries, prev, stream_body) where entries is a list of
    (oid, type, f1, f2) rows, or None when the object is not a valid
    xref stream. The stream payload goes through the shared
    Flate + predictor path (xref streams almost always use PNG up)."""
    hm = _OBJ_AT_RE.match(data, off)
    if hm is None:
        return None
    end = _object_body_end(data, hm.end())
    if end == -1:
        return None
    body = data[hm.end():end]
    sm = _STREAM_RE.search(body)
    if sm is None or b"/XRef" not in body[: sm.start()]:
        return None
    head = body[: sm.start()]
    wm = re.search(rb"/W\s*\[\s*(\d+)\s+(\d+)\s+(\d+)\s*\]", head)
    size = _int_key(head, b"Size")
    if wm is None or size is None:
        return None
    a, b, c = (int(g) for g in wm.groups())
    rowlen = a + b + c
    if rowlen == 0 or b == 0:
        return None
    im = re.search(rb"/Index\s*\[([^\]]*)\]", head)
    if im:
        nums = [int(x) for x in re.findall(rb"\d+", im.group(1))]
        index = list(zip(nums[0::2], nums[1::2]))
    else:
        index = [(0, size)]
    raw = _content_stream(body)
    entries = []
    pos = 0
    for start, count in index:
        for i in range(count):
            row = raw[pos : pos + rowlen]
            pos += rowlen
            if len(row) < rowlen:
                return None
            t = int.from_bytes(row[:a], "big") if a else 1
            f1 = int.from_bytes(row[a : a + b], "big")
            f2 = int.from_bytes(row[a + b :], "big") if c else 0
            entries.append((start + i, t, f1, f2))
    return entries, _int_key(head, b"Prev"), body


def _expand_objstms(objs: dict[int, bytes]) -> None:
    """Materialize objects out of every /ObjStm body present in
    ``objs`` that is loadable NOW (used after stream decryption, when
    the xref-walk-time expansion necessarily failed on the encrypted
    bodies). Existing ids are never overwritten — direct definitions
    win, matching the xref builder's precedence."""
    new: dict[int, bytes] = {}
    for body in list(objs.values()):
        sm = _STREAM_RE.search(body)
        if sm is None or b"/ObjStm" not in body[: sm.start()]:
            continue
        try:
            loaded = _load_objstm(body)
        except PdfError:
            continue
        for oid, b2 in loaded or []:
            if oid not in objs:
                new[oid] = b2
    objs.update(new)


def _load_objstm(body: bytes) -> list[tuple[int, bytes]] | None:
    """Decode an object stream (/Type /ObjStm): header of N
    (objnum, offset) pairs, then the concatenated object bodies at
    /First + offset. Returns [(objnum, body), ...] in stream order."""
    sm = _STREAM_RE.search(body)
    if sm is None:
        return None
    head = body[: sm.start()]
    n = _int_key(head, b"N")
    first = _int_key(head, b"First")
    if n is None or first is None:
        return None
    content = _content_stream(body)
    nums = [int(x) for x in re.findall(rb"\d+", content[:first])]
    if len(nums) < 2 * n:
        return None
    pairs = list(zip(nums[0 : 2 * n : 2], nums[1 : 2 * n : 2]))
    out = []
    for i, (oid, rel) in enumerate(pairs):
        lo = first + rel
        hi = first + pairs[i + 1][1] if i + 1 < n else len(content)
        if lo > len(content) or hi < lo:
            return None
        out.append((oid, content[lo:hi]))
    return out


def _objects_via_xref(data: bytes) -> dict[int, bytes] | None:
    """Cross-reference fast path: follow the last startxref through the
    /Prev (and hybrid /XRefStm) chain, newest table first, so the
    newest-generation definition wins and freed objects stay deleted.
    Handles BOTH classic tables and PDF 1.5+ xref streams, including
    type-2 entries (objects inside /ObjStm compressed object streams —
    where modern PDFs keep their catalog/pages dicts). Returns None —
    caller falls back to the linear scan — on missing/garbled tables or
    any direct offset that does not actually point at the right
    'N 0 obj' header (crawled PDFs routinely carry slightly-off
    offsets)."""
    sx = None
    for sx in _STARTXREF_RE.finditer(data):
        pass
    if sx is None:
        return None
    if _OBJ_RE.search(data, sx.end()) is not None:
        # object definitions AFTER the newest startxref: an appended
        # incremental update with no xref of its own — the table is
        # stale, only the scan sees the newest definitions
        return None
    offsets: dict[int, int] = {}
    in_objstm: dict[int, tuple[int, int]] = {}
    decided: set[int] = set()
    seen_tables: set[int] = set()
    queue = [int(sx.group(1))]
    while queue:
        off = queue.pop(0)
        if off in seen_tables or not (0 <= off < len(data)):
            return None
        seen_tables.add(off)
        nexts: list[int] = []
        km = _XREF_KW_RE.match(data, off)
        if km is not None:  # classic table
            pos = km.end()
            while True:
                sm = _XREF_SUBSEC_RE.match(data, pos)
                if sm is None:
                    break
                start, count = int(sm.group(1)), int(sm.group(2))
                pos = sm.end()
                for i in range(count):
                    em = _XREF_ENTRY_RE.match(data, pos)
                    if em is None:
                        return None
                    pos = em.end()
                    oid = start + i
                    if oid in decided:
                        continue
                    decided.add(oid)
                    if em.group(3) == b"n" and oid > 0:
                        offsets[oid] = int(em.group(1))
            end = data.find(b"startxref", pos)
            seg = data[pos : end if end != -1 else len(data)]
            # hybrid-reference file: the /XRefStm complements the table
            # and takes priority over /Prev (ISO 32000-1 §7.5.8.4)
            hs = re.search(rb"/XRefStm\s+(\d+)", seg)
            if hs:
                nexts.append(int(hs.group(1)))
            pm = re.search(rb"/Prev\s+(\d+)", seg)
            if pm:
                nexts.append(int(pm.group(1)))
        else:  # xref stream
            try:
                parsed = _parse_xref_stream(data, off)
            except PdfError:
                return None
            if parsed is None:
                return None
            entries, prev, _ = parsed
            for oid, t, f1, f2 in entries:
                if oid in decided or oid == 0:
                    continue
                decided.add(oid)
                if t == 1:
                    offsets[oid] = f1
                elif t == 2:
                    in_objstm[oid] = (f1, f2)
                # t == 0 (free) and unknown types: decided, absent
            if prev is not None:
                nexts.append(prev)
        queue = nexts + queue
    if not offsets and not in_objstm:
        return None
    objs: dict[int, bytes] = {}
    for oid, o in offsets.items():
        hm = _OBJ_AT_RE.match(data, o) if 0 <= o < len(data) else None
        if hm is None or int(hm.group(1)) != oid:
            return None  # off-by-some offset: distrust the whole table
        end = _object_body_end(data, hm.end())
        if end == -1:
            return None
        objs[oid] = data[hm.end():end]
    # materialize type-2 objects from their object streams
    by_stm: dict[int, list[int]] = {}
    for oid, (stm, _idx) in in_objstm.items():
        by_stm.setdefault(stm, []).append(oid)
    for stm, oids in by_stm.items():
        if stm not in objs:
            return None
        try:
            loaded = _load_objstm(objs[stm])
        except PdfError:
            return None
        if loaded is None:
            return None
        bodies = dict(loaded)
        for oid in oids:
            idx = in_objstm[oid][1]
            if idx >= len(loaded) or loaded[idx][0] != oid:
                # index/objnum mismatch: tolerate via the objnum map
                if oid not in bodies:
                    return None
                objs[oid] = bodies[oid]
            else:
                objs[oid] = loaded[idx][1]
    return objs


def _objects(data: bytes) -> dict[int, bytes]:
    """Object id → body bytes (between 'obj' and its 'endobj'). Tries
    the validated xref-table fast path first (no full-file scan on big
    well-formed PDFs), then the linear scan: LAST definition wins,
    matching the newest-generation rule for appended incremental
    updates."""
    objs = _objects_via_xref(data)
    if objs:
        return objs
    objs = {}
    for oid, lo, hi in _scan_objects(data):
        objs[oid] = data[lo:hi]  # last wins (incremental updates)
    if not objs:
        raise PdfError("no PDF objects found")
    return objs


# -- standard security handler (RC4-40/128, empty user password) ------------
#
# ISO 32000-1 §7.6.3: the common crawled-encryption case is "owner
# password set, user password empty" — readable by anyone, encrypted
# only to restrict printing/copying. We implement exactly that: /Filter
# /Standard with V 1/2, R 2/3 (RC4). V 4/5 (AES) and a real user
# password raise DISTINCT typed errors so corpus dashboards can count
# them separately from garbled files.

_PW_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    kl = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % kl]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _dict_string(d: bytes, key: bytes) -> bytes | None:
    """Raw bytes of a literal or hex string value in dict body ``d``."""
    m = re.search(rb"/" + key + rb"\s*(\(|<)", d)
    if m is None:
        return None
    if m.group(1) == b"(":
        s, _ = _parse_literal_string(d, m.end())
        return s.encode("latin-1")
    close = d.find(b">", m.end())
    if close == -1:
        return None
    hexs = re.sub(rb"\s", b"", d[m.end() : close])
    if len(hexs) % 2:
        hexs += b"0"
    try:
        return bytes.fromhex(hexs.decode("ascii"))
    except ValueError:
        return None


# -- AES-128 (pure stdlib, FIPS-197) for the AESV2 crypt filter -------------
# Tables built programmatically (GF(2^8) arithmetic), not pasted.

_AES_TABLES = None


def _aes_tables():
    global _AES_TABLES
    if _AES_TABLES is None:
        # S-box: multiplicative inverse in GF(2^8) + affine transform
        inv = [0] * 256
        p = 1
        log = [0] * 256
        alog = [0] * 255
        for i in range(255):
            alog[i] = p
            log[p] = i
            p ^= ((p << 1) ^ (0x1B if p & 0x80 else 0)) & 0xFF
        for x in range(1, 256):
            inv[x] = alog[(255 - log[x]) % 255]
        sbox = [0] * 256
        for x in range(256):
            b = inv[x]
            s = 0x63
            for i in range(8):
                bit = ((b >> i) ^ (b >> ((i + 4) % 8)) ^ (b >> ((i + 5) % 8))
                       ^ (b >> ((i + 6) % 8)) ^ (b >> ((i + 7) % 8))) & 1
                s ^= bit << i
            sbox[x] = s  # the 0x63 affine constant is the seed above
        isbox = [0] * 256
        for x in range(256):
            isbox[sbox[x]] = x
        _AES_TABLES = (bytes(sbox), bytes(isbox))
    return _AES_TABLES


def _aes_mul(a: int, b: int) -> int:
    r = 0
    while b:
        if b & 1:
            r ^= a
        a = ((a << 1) ^ (0x1B if a & 0x80 else 0)) & 0xFF
        b >>= 1
    return r


_AES_T = None


def _aes_ttables():
    """Word-oriented T-tables (the classic fast software AES layout):
    one table lookup folds SubBytes+ShiftRows+MixColumns per byte.
    Needed because Algorithm 2.B (AES-256 KDF) runs ~8k block
    operations per hash — the byte-wise reference implementation was
    ~250 µs/block, T-tables ~15 µs."""
    global _AES_T
    if _AES_T is None:
        sbox, isbox = _aes_tables()
        te = [[0] * 256 for _ in range(4)]
        td = [[0] * 256 for _ in range(4)]
        for x in range(256):
            s = sbox[x]
            w = (_aes_mul(s, 2) << 24) | (s << 16) | (s << 8) | _aes_mul(s, 3)
            for i in range(4):
                te[i][x] = ((w >> (8 * i)) | (w << (32 - 8 * i))) & 0xFFFFFFFF
            si = isbox[x]
            w = ((_aes_mul(si, 14) << 24) | (_aes_mul(si, 9) << 16)
                 | (_aes_mul(si, 13) << 8) | _aes_mul(si, 11))
            for i in range(4):
                td[i][x] = ((w >> (8 * i)) | (w << (32 - 8 * i))) & 0xFFFFFFFF
        _AES_T = (te, td)
    return _AES_T


def _aes_expand_key(key: bytes) -> tuple[list[int], list[int]]:
    """(encryption words, decryption words) — 4 big-endian 32-bit words
    per round. Decryption uses the equivalent inverse cipher: middle
    round keys passed through InvMixColumns (via the Td/Te identity)."""
    sbox, _ = _aes_tables()
    te, td = _aes_ttables()
    nk = len(key) // 4
    nr = nk + 6
    w = list(struct.unpack(">%dI" % nk, key))
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = w[i - 1]
        if i % nk == 0:
            t = ((t << 8) | (t >> 24)) & 0xFFFFFFFF  # RotWord
            t = ((sbox[(t >> 24) & 0xFF] << 24) | (sbox[(t >> 16) & 0xFF] << 16)
                 | (sbox[(t >> 8) & 0xFF] << 8) | sbox[t & 0xFF])
            t ^= rcon << 24
            rcon = ((rcon << 1) ^ (0x11B if rcon & 0x80 else 0)) & 0xFF
        elif nk > 6 and i % nk == 4:
            t = ((sbox[(t >> 24) & 0xFF] << 24) | (sbox[(t >> 16) & 0xFF] << 16)
                 | (sbox[(t >> 8) & 0xFF] << 8) | sbox[t & 0xFF])
        w.append(w[i - nk] ^ t)
    # decryption schedule: reversed rounds, InvMixColumns on the middles
    dw = []
    for rnd in range(nr, -1, -1):
        four = w[4 * rnd : 4 * rnd + 4]
        if 0 < rnd < nr:
            four = [
                td[0][sbox[(x >> 24) & 0xFF]] ^ td[1][sbox[(x >> 16) & 0xFF]]
                ^ td[2][sbox[(x >> 8) & 0xFF]] ^ td[3][sbox[x & 0xFF]]
                for x in four
            ]
        dw.extend(four)
    return w, dw


def _aes_encrypt_block(rk, block: bytes) -> bytes:
    te, _ = _aes_ttables()
    te0, te1, te2, te3 = te
    sbox, _ = _aes_tables()
    w = rk[0]
    nr = len(w) // 4 - 1
    s0, s1, s2, s3 = struct.unpack(">4I", block)
    s0 ^= w[0]; s1 ^= w[1]; s2 ^= w[2]; s3 ^= w[3]
    k = 4
    for _ in range(nr - 1):
        t0 = (te0[(s0 >> 24) & 0xFF] ^ te1[(s1 >> 16) & 0xFF]
              ^ te2[(s2 >> 8) & 0xFF] ^ te3[s3 & 0xFF] ^ w[k])
        t1 = (te0[(s1 >> 24) & 0xFF] ^ te1[(s2 >> 16) & 0xFF]
              ^ te2[(s3 >> 8) & 0xFF] ^ te3[s0 & 0xFF] ^ w[k + 1])
        t2 = (te0[(s2 >> 24) & 0xFF] ^ te1[(s3 >> 16) & 0xFF]
              ^ te2[(s0 >> 8) & 0xFF] ^ te3[s1 & 0xFF] ^ w[k + 2])
        t3 = (te0[(s3 >> 24) & 0xFF] ^ te1[(s0 >> 16) & 0xFF]
              ^ te2[(s1 >> 8) & 0xFF] ^ te3[s2 & 0xFF] ^ w[k + 3])
        s0, s1, s2, s3 = t0, t1, t2, t3
        k += 4
    out = []
    for a, b, c, d in ((s0, s1, s2, s3), (s1, s2, s3, s0),
                       (s2, s3, s0, s1), (s3, s0, s1, s2)):
        out.append(
            ((sbox[(a >> 24) & 0xFF] << 24) | (sbox[(b >> 16) & 0xFF] << 16)
             | (sbox[(c >> 8) & 0xFF] << 8) | sbox[d & 0xFF]) ^ w[k]
        )
        k += 1
    return struct.pack(">4I", *out)


def _aes_decrypt_block(rk, block: bytes) -> bytes:
    _, td = _aes_ttables()
    td0, td1, td2, td3 = td
    _, isbox = _aes_tables()
    w = rk[1]
    nr = len(w) // 4 - 1
    s0, s1, s2, s3 = struct.unpack(">4I", block)
    s0 ^= w[0]; s1 ^= w[1]; s2 ^= w[2]; s3 ^= w[3]
    k = 4
    for _ in range(nr - 1):
        t0 = (td0[(s0 >> 24) & 0xFF] ^ td1[(s3 >> 16) & 0xFF]
              ^ td2[(s2 >> 8) & 0xFF] ^ td3[s1 & 0xFF] ^ w[k])
        t1 = (td0[(s1 >> 24) & 0xFF] ^ td1[(s0 >> 16) & 0xFF]
              ^ td2[(s3 >> 8) & 0xFF] ^ td3[s2 & 0xFF] ^ w[k + 1])
        t2 = (td0[(s2 >> 24) & 0xFF] ^ td1[(s1 >> 16) & 0xFF]
              ^ td2[(s0 >> 8) & 0xFF] ^ td3[s3 & 0xFF] ^ w[k + 2])
        t3 = (td0[(s3 >> 24) & 0xFF] ^ td1[(s2 >> 16) & 0xFF]
              ^ td2[(s1 >> 8) & 0xFF] ^ td3[s0 & 0xFF] ^ w[k + 3])
        s0, s1, s2, s3 = t0, t1, t2, t3
        k += 4
    out = []
    for a, b, c, d in ((s0, s3, s2, s1), (s1, s0, s3, s2),
                       (s2, s1, s0, s3), (s3, s2, s1, s0)):
        out.append(
            ((isbox[(a >> 24) & 0xFF] << 24) | (isbox[(b >> 16) & 0xFF] << 16)
             | (isbox[(c >> 8) & 0xFF] << 8) | isbox[d & 0xFF]) ^ w[k]
        )
        k += 1
    return struct.pack(">4I", *out)


def _aes_cbc_raw(key: bytes, iv: bytes, data: bytes, encrypt: bool) -> bytes:
    """No-padding CBC (AESV3 key wrapping uses exact 2-block payloads)."""
    if len(data) % 16:
        raise PdfError("encrypted PDF: bad AES block length")
    rk = _aes_expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = data[i : i + 16]
        if encrypt:
            prev = _aes_encrypt_block(
                rk, bytes(a ^ b for a, b in zip(blk, prev))
            )
            out += prev
        else:
            dec = _aes_decrypt_block(rk, blk)
            out += bytes(a ^ b for a, b in zip(dec, prev))
            prev = blk
    return bytes(out)


@functools.lru_cache(maxsize=64)
def _hash_2b(password: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 Algorithm 2.B hardened KDF (R6): iterated
    SHA-256/384/512 selected by an AES-CBC feedback block. Used for
    both the /U validation hash and the /UE intermediate key.
    lru_cached: the KDF is DESIGNED to cost ~10^4 AES blocks (anti
    brute-force), ~0.3 s in pure Python — a corpus whose files share
    salts (the synthetic driver gate does this deliberately) pays it
    once per worker process; mixed-salt real corpora simply miss."""
    k = sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = _aes_cbc_raw(k[:16], k[16:32], k1, encrypt=True)
        k = (sha256, sha384, sha512)[sum(e[:16]) % 3](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            break
    return k[:32]


def _aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """AESV2 stream layout: 16-byte IV prefix, CBC, PKCS#7 padding."""
    if len(data) < 32 or len(data) % 16:
        raise PdfError("encrypted PDF: malformed AES stream")
    rk = _aes_expand_key(key)
    prev = data[:16]
    out = bytearray()
    for i in range(16, len(data), 16):
        blk = data[i : i + 16]
        dec = _aes_decrypt_block(rk, blk)
        out += bytes(a ^ b for a, b in zip(dec, prev))
        prev = blk
    pad = out[-1]
    if not 1 <= pad <= 16:
        raise PdfError("encrypted PDF: bad AES padding")
    return bytes(out[:-pad])


def _aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    rk = _aes_expand_key(key)
    pad = 16 - len(data) % 16
    data = data + bytes([pad]) * pad
    out = bytearray(iv)
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
        prev = _aes_encrypt_block(rk, blk)
        out += prev
    return bytes(out)


def _last_id0(data: bytes) -> bytes | None:
    """First ELEMENT of the /ID array, from the LAST /ID occurrence —
    incremental updates append trailers, so the operative trailer is the
    last one (r5 ADVICE: first-match picked a stale pre-update ID and the
    /U check spuriously failed); None when the file has no /ID."""
    idm = None
    for idm in _ID_RE.finditer(data):
        pass
    if idm is None:
        return None
    idh = re.sub(rb"\s", b"", idm.group(1))
    if len(idh) % 2:  # PDF hex strings pad a missing final digit
        idh += b"0"
    return bytes.fromhex(idh.decode("ascii"))


def _file_key_and_u(upad: bytes, o: bytes, permissions: int, id0: bytes,
                    r: int, n: int, no_meta: bool = False
                    ) -> tuple[bytes, bytes]:
    """R2-R4 (file key, /U) for the padded user password ``upad``:
    Algorithm 2 (md5 of password, /O, /P, first /ID element; 50 rehashes
    from R3) and Algorithm 4 (R2, 32 bytes) or 5 (R3/R4, 16 bytes + 16
    zero bytes; R4 uses it even under the AES crypt filter)."""
    seed = upad + o[:32] + struct.pack("<i", permissions) + id0
    if r == 4 and no_meta:  # /EncryptMetadata false salts the derivation
        seed += b"\xff\xff\xff\xff"
    key = md5(seed).digest()[:n]
    if r >= 3:
        for _ in range(50):
            key = md5(key).digest()[:n]
    if r == 2:
        return key, _rc4(key, _PW_PAD)
    x = _rc4(key, md5(_PW_PAD + id0).digest())
    for i in range(1, 20):
        x = _rc4(bytes(b ^ i for b in key), x)
    return key, x + b"\x00" * 16


def _object_key(key: bytes, oid: int, salt: bytes = b"") -> bytes:
    """Algorithm 1 per-object key: md5(file_key + objnum[3 LE] +
    gen[2 LE] (+ b"sAlT" for AES))[:min(n+5, 16)]; generation is taken
    as 0 (the crawled-PDF norm — the object map keys by number only)."""
    return md5(
        key + oid.to_bytes(3, "little") + b"\x00\x00" + salt
    ).digest()[: min(len(key) + 5, 16)]


def _std_security_key(data: bytes, objs: dict[int, bytes]) -> bytes | None:
    """File encryption key for the standard handler with the EMPTY user
    password as ``(key, method)`` with method "rc4" (V1/V2 R2/R3, and
    V4 /CFM /V2) or "aes" (V4 R4 /CFM /AESV2), or None when the file is
    not encrypted. Raises typed PdfError for password-protected files,
    AES-256 (V≥5), and non-Standard handlers — each a distinct
    row-error value a corpus job can count."""
    # last /Encrypt reference wins (incremental updates append trailers)
    enc_ref = None
    for enc_ref in re.finditer(rb"/Encrypt\s+(\d+)\s+\d+\s+R", data):
        pass
    if enc_ref is None:
        return None
    enc = objs.get(int(enc_ref.group(1)))
    if enc is None:
        raise PdfError("encrypted PDF: dangling /Encrypt reference")
    if re.search(rb"/Filter\s*/Standard\b", enc) is None:
        raise PdfError("encrypted PDF: non-standard security handler")
    v = _int_key(enc, b"V") or 0
    r = _int_key(enc, b"R") or 0
    method = "rc4"
    if v == 4 and r == 4:
        # crypt filters: the crawled AES norm is /StdCF with /CFM
        # /AESV2 applied to both streams and strings. AESV3/R6
        # (AES-256, V=5) stays a distinct typed error.
        cfm = re.search(rb"/CFM\s*/(\w+)", enc)
        if cfm is None or cfm.group(1) not in (b"AESV2", b"V2"):
            raise PdfError("encrypted PDF: unsupported crypt filter")
        stmf = re.search(rb"/StmF\s*/(\w+)", enc)
        if stmf is not None and stmf.group(1) == b"Identity":
            raise PdfError("encrypted PDF: Identity StmF unsupported")
        method = "aes" if cfm.group(1) == b"AESV2" else "rc4"
    elif v == 5 and r == 6:
        # AES-256 (AESV3, ISO 32000-2): /U = hash(32) ∥ validation
        # salt(8) ∥ key salt(8); file key unwrapped from /UE. The key is
        # used directly per stream (no per-object derivation). R5 (the
        # deprecated ExtensionLevel-3 scheme) stays a typed error.
        cfm = re.search(rb"/CFM\s*/(\w+)", enc)
        if cfm is None or cfm.group(1) != b"AESV3":
            raise PdfError("encrypted PDF: unsupported crypt filter")
        u5 = _dict_string(enc, b"U")
        ue = _dict_string(enc, b"UE")
        if u5 is None or ue is None or len(u5) < 48 or len(ue) < 32:
            raise PdfError("encrypted PDF: malformed /Encrypt dictionary")
        vsalt, ksalt = u5[32:40], u5[40:48]
        if _hash_2b(b"", vsalt, b"") != u5[:32]:
            raise PdfError("encrypted PDF: password required")
        ikey = _hash_2b(b"", ksalt, b"")
        return _aes_cbc_raw(ikey, b"\x00" * 16, ue[:32], False), "aes256"
    elif v >= 4 or r >= 4:
        raise PdfError("encrypted PDF: AES-256 (R5/ExtensionLevel-3) "
                       "or unknown V/R unsupported")
    elif v not in (1, 2) or r not in (2, 3):
        raise PdfError(f"encrypted PDF: V={v}/R={r} unsupported")
    o = _dict_string(enc, b"O")
    u = _dict_string(enc, b"U")
    pm = re.search(rb"/P\s+(-?\d+)", enc)
    if o is None or u is None or pm is None or len(o) < 32 or len(u) < 32:
        raise PdfError("encrypted PDF: malformed /Encrypt dictionary")
    n = 5 if r == 2 else (_int_key(enc, b"Length") or 40) // 8
    if not 5 <= n <= 16:
        raise PdfError("encrypted PDF: bad key length")
    no_meta = re.search(rb"/EncryptMetadata\s+false", enc) is not None
    # a missing /ID is the empty string, matching viewers' leniency for
    # ID-less encrypted files
    id0 = _last_id0(data)
    key, want = _file_key_and_u(_PW_PAD, o, int(pm.group(1)),
                                b"" if id0 is None else id0, r, n, no_meta)
    # verify the EMPTY user password against /U
    k = 32 if r == 2 else 16
    if want[:k] != u[:k]:
        raise PdfError("encrypted PDF: password required")
    return key, method


def _decrypt_streams(
    objs: dict[int, bytes], key: bytes, method: str = "rc4"
) -> dict[int, bytes]:
    """Decrypt every stream payload through :func:`_rewrite_stream`.
    RC4 is length-preserving (so /Length values and body offsets stay
    valid); AESV2 shrinks the payload (IV prefix + PKCS#7 padding
    removed), so the /Length token is patched to the plaintext length.
    Per-object keys come from :func:`_object_key`; AES-256 (R6) uses the
    file key directly. Dict strings are left encrypted: extraction only
    reads strings out of (decrypted) content streams, never from
    dicts."""
    salt = b"sAlT" if method == "aes" else b""

    def plain(oid: int, payload: bytes) -> bytes:
        if method == "aes256":
            return _aes_cbc_decrypt(key, payload)
        okey = _object_key(key, oid, salt)
        if method == "aes":
            return _aes_cbc_decrypt(okey, payload)
        return _rc4(okey, payload)

    return {oid: _rewrite_stream(body, functools.partial(plain, oid))
            for oid, body in objs.items()}


def _encrypt_streams(data: bytes, cipher, encrypt: str, id0: bytes) -> bytes:
    """The writers' one stream-rewrite loop: every stream payload of
    ``data`` becomes ``cipher(oid, payload)`` (:func:`_rewrite_stream`),
    then the /Encrypt dictionary (``encrypt`` holds its entries after
    /Filter /Standard) and a trailer carrying its reference and
    ``/ID [id0 id0]`` are appended."""
    out = bytearray()
    cursor = max_oid = 0
    for oid, lo, hi in _scan_objects(data):
        max_oid = max(max_oid, oid)
        out += data[cursor:lo]
        out += _rewrite_stream(data[lo:hi], functools.partial(cipher, oid))
        cursor = hi
    out += data[cursor:]
    eid = max_oid + 1
    out += (
        f"{eid} 0 obj\n<< /Filter /Standard {encrypt} >>\nendobj\n"
        f"trailer\n<< /Encrypt {eid} 0 R"
        f" /ID [<{id0.hex()}> <{id0.hex()}>] >>\n%%EOF\n"
    ).encode("ascii")
    return bytes(out)


def _writer_id_and_keys(data, owner_pw, user_pw, permissions, file_id,
                        r, n):
    """(first /ID element, /O, file key, /U) of an R2-R4 writer.
    ``file_id`` defaults to the input's own (last trailer's) first /ID
    element — the spec keeps it permanent across incremental updates, so
    readers keying off either occurrence agree — else md5 of the input.
    /O is Algorithm 3."""
    id0 = _last_id0(data) if file_id is None else file_id
    if id0 is None:
        id0 = md5(data).digest()
    h = md5(((owner_pw or user_pw) + _PW_PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            h = md5(h).digest()
    okey = h[:n]
    upad = (user_pw + _PW_PAD)[:32]
    o = _rc4(okey, upad)
    if r >= 3:
        for i in range(1, 20):
            o = _rc4(bytes(b ^ i for b in okey), o)
    return (id0, o, *_file_key_and_u(upad, o, permissions, id0, r, n))


def _aes_cipher(key_of, id0: bytes):
    """AES-CBC stream cipher of the writers: the per-stream IV derives
    from (first /ID element, object number)."""
    def cipher(oid: int, payload: bytes) -> bytes:
        iv = md5(b"iv" + id0 + oid.to_bytes(3, "little")).digest()[:16]
        return _aes_cbc_encrypt(key_of(oid), iv, payload)
    return cipher


def _crypt_filter(cfm: str, n: int) -> str:
    return (f" /CF << /StdCF << /CFM /{cfm} /AuthEvent /DocOpen"
            f" /Length {n} >> >> /StmF /StdCF /StrF /StdCF")


def encrypt_pdf_rc4(
    data: bytes,
    r: int = 3,
    length: int = 128,
    owner_pw: bytes = b"owner",
    user_pw: bytes = b"",
    permissions: int = -44,
    file_id: bytes | None = None,
) -> bytes:
    """Writer-side counterpart of the standard security handler: RC4
    encrypt every stream payload of ``data`` (length-preserving, so all
    offsets stay valid) and append the /Encrypt dictionary + a trailer
    carrying its reference and /ID. ``r=2`` → V1/40-bit, ``r=3`` →
    V2/``length``-bit. The default empty ``user_pw`` produces the
    common crawled shape (owner-restricted, user-readable); a non-empty
    one makes a file :func:`extract_pdf_text` refuses with the typed
    "password required" error. Deterministic given ``file_id`` (defaults
    to the input's first /ID element, else md5 of the input) — used by
    the driver-gated synthetic corpus."""
    if r == 2:
        n, v, length = 5, 1, 40
    elif r == 3:
        n, v = length // 8, 2
    else:
        raise ValueError(f"unsupported revision {r}")
    id0, o, key, u = _writer_id_and_keys(
        data, owner_pw, user_pw, permissions, file_id, r, n)
    return _encrypt_streams(
        data, lambda oid, p: _rc4(_object_key(key, oid), p),
        f"/V {v} /R {r} /Length {length} /O <{o.hex()}> /U <{u.hex()}>"
        f" /P {permissions}", id0)


def encrypt_pdf_aes(
    data: bytes,
    owner_pw: bytes = b"owner",
    user_pw: bytes = b"",
    permissions: int = -44,
    file_id: bytes | None = None,
) -> bytes:
    """Writer-side AESV2 counterpart (standard security handler V=4
    R=4, /CF /StdCF /CFM /AESV2, 128-bit): every stream payload becomes
    IV ∥ AES-CBC ciphertext (PKCS#7), the stream dict's /Length is
    patched to the ciphertext length, and the /Encrypt dictionary with
    crypt-filter plumbing + trailer are appended. /O and /U follow the
    same R≥3 algorithms as RC4 (the /U check is RC4-based even under
    AES). Deterministic: ``file_id`` defaults like the RC4 writer; the
    per-stream IV derives from (file_id, object number)."""
    id0, o, key, u = _writer_id_and_keys(
        data, owner_pw, user_pw, permissions, file_id, 4, 16)
    return _encrypt_streams(
        data, _aes_cipher(lambda oid: _object_key(key, oid, b"sAlT"), id0),
        "/V 4 /R 4 /Length 128" + _crypt_filter("AESV2", 16)
        + f" /O <{o.hex()}> /U <{u.hex()}> /P {permissions}", id0)


def encrypt_pdf_aes256(
    data: bytes,
    owner_pw: bytes = b"owner",
    user_pw: bytes = b"",
    permissions: int = -44,
    file_id: bytes | None = None,
) -> bytes:
    """AES-256 writer (standard security handler V=5 R=6, /CFM /AESV3,
    ISO 32000-2): 32-byte file key wrapped into /UE and /OE via the
    Algorithm 2.B hardened KDF; /U = 2.B(user_pw, vsalt) ∥ salts,
    /O = 2.B(owner_pw, ovsalt, U48) ∥ salts; /Perms = AES-ECB of the
    permissions block. Streams become IV ∥ AES-256-CBC ∥ PKCS#7 with
    the file key used directly (no per-object derivation), /Length
    patched. Deterministic: salts/key/IVs derive from ``file_id``
    (default md5 of the input).
    NOTE: the reader shares :func:`_hash_2b` with this writer (same
    situation as the RC4 /O·/U algorithms) — the driver gate proves
    the end-to-end roundtrip, not KDF interop with external files."""
    if file_id is None:
        file_id = md5(data).digest()
    filekey = sha256(b"key" + file_id).digest()
    vsalt = sha256(b"aes256" + file_id).digest()[:8]
    ksalt = sha256(b"ksalt" + file_id).digest()[:8]
    u = _hash_2b(user_pw, vsalt, b"") + vsalt + ksalt
    ue = _aes_cbc_raw(_hash_2b(user_pw, ksalt, b""), b"\x00" * 16,
                      filekey, True)
    ovsalt = sha256(b"ovsalt" + file_id).digest()[:8]
    oksalt = sha256(b"oksalt" + file_id).digest()[:8]
    o = _hash_2b(owner_pw, ovsalt, u) + ovsalt + oksalt
    oe = _aes_cbc_raw(_hash_2b(owner_pw, oksalt, u), b"\x00" * 16,
                      filekey, True)
    perms_blk = (struct.pack("<i", permissions) + b"\xff\xff\xff\xff"
                 + b"Tadb" + sha256(b"perms" + file_id).digest()[:4])
    perms = _aes_encrypt_block(_aes_expand_key(filekey), perms_blk)
    return _encrypt_streams(
        data, _aes_cipher(lambda oid: filekey, file_id),
        "/V 5 /R 6 /Length 256" + _crypt_filter("AESV3", 32)
        + f" /O <{o.hex()}> /U <{u.hex()}> /OE <{oe.hex()}>"
        f" /UE <{ue.hex()}> /Perms <{perms.hex()}> /P {permissions}",
        file_id)


def _content_stream(body: bytes) -> bytes:
    span = _stream_span(body)
    if span is None:
        return b""
    head, _, lo, hi = span
    raw = body[lo:hi]
    if b"/FlateDecode" in head:
        try:
            raw = zlib.decompress(raw)
        except zlib.error as e:
            raise PdfError(f"FlateDecode failed: {e}") from None
        raw = _apply_predictor(raw, head)
    return raw


_PARMS_OPEN_RE = re.compile(rb"/(?:DecodeParms|DP)\s*<<")


def _balanced_dict(data: bytes, start: int, what: str = "dictionary") -> bytes:
    """``data[start:]`` is just past an opening ``<<``; return the dict
    body up to (not including) the matching ``>>``, balancing nested
    dicts. Literal ``(...)`` and hex ``<...>`` strings are skipped so a
    value like ``/ID <ABCD>`` (hex close immediately followed by ``>>``)
    or a literal string containing ``>>`` cannot unbalance the scan
    (ADVICE r4). Raises PdfError when unterminated."""
    depth, i, n = 1, start, len(data)
    while i < n and depth:
        c = data[i]
        if c == 0x28:  # '(' — literal string; honor \) escapes + nesting
            i += 1
            pdepth = 1
            while i < n and pdepth:
                sc = data[i]
                if sc == 0x5C:  # backslash escape: skip next byte
                    i += 2
                    continue
                if sc == 0x28:
                    pdepth += 1
                elif sc == 0x29:
                    pdepth -= 1
                i += 1
            continue
        two = data[i : i + 2]
        if two == b"<<":
            depth += 1
            i += 2
        elif two == b">>":
            depth -= 1
            i += 2
        elif c == 0x3C:  # single '<' — hex string, skip to '>'
            j = data.find(b">", i + 1)
            i = n if j < 0 else j + 1
        else:
            i += 1
    if depth:
        raise PdfError(f"unterminated {what}")
    return data[start : i - 2]


def _extract_parms(stream_dict: bytes) -> bytes | None:
    """Extract the /DecodeParms (or /DP) inline dictionary body with
    balanced ``<< >>`` scanning — a non-greedy regex truncates at the
    first ``>>`` of any *nested* dict, silently dropping predictor keys
    that follow it (ADVICE r3). Returns None when the stream has no
    inline DecodeParms dict; raises PdfError on an unterminated one."""
    m = _PARMS_OPEN_RE.search(stream_dict)
    if m is None:
        return None
    return _balanced_dict(stream_dict, m.end(), "DecodeParms dictionary")


def _dict_int(d: bytes, key: bytes, default: int) -> int:
    m = re.search(rb"/" + key + rb"\s+(\d+)", d)
    return int(m.group(1)) if m else default


def _apply_predictor(raw: bytes, stream_dict: bytes) -> bytes:
    """Undo the /DecodeParms predictor after inflate: PNG filters 10-15
    (None/Sub/Up/Average/Paeth per row through :func:`_png_unfilter`,
    ISO 32000-1 §7.4.4.4 via PNG spec §9) and TIFF horizontal differencing (predictor 2, 8-bit
    components only). Truncated rows / unknown filter bytes raise
    PdfError (row-level error, never a silent wrong answer)."""
    parms = _extract_parms(stream_dict)
    if parms is None:
        return raw
    predictor = _dict_int(parms, b"Predictor", 1)
    if predictor <= 1:
        return raw
    colors = _dict_int(parms, b"Colors", 1)
    bpc = _dict_int(parms, b"BitsPerComponent", 8)
    columns = _dict_int(parms, b"Columns", 1)
    if predictor == 2:
        if bpc != 8:
            raise PdfError(f"TIFF predictor with BitsPerComponent={bpc}")
        rowlen = columns * colors
        out = bytearray(raw)
        for r0 in range(0, len(out), rowlen):
            row_end = min(r0 + rowlen, len(out))
            for i in range(r0 + colors, row_end):
                out[i] = (out[i] + out[i - colors]) & 0xFF
        return bytes(out)
    if predictor < 10:
        raise PdfError(f"unsupported predictor {predictor}")
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(rowlen)
    i, n = 0, len(raw)
    while i < n:
        ft = raw[i]
        i += 1
        if i + rowlen > n:
            raise PdfError("truncated predictor row")
        row = bytearray(raw[i : i + rowlen])
        i += rowlen
        if not _png_unfilter(ft, row, prev, bpp):
            raise PdfError(f"unknown PNG filter byte {ft}")
        out += row
        prev = row
    return bytes(out)


def _png_unfilter(ft: int, row: bytearray, prev, bpp: int) -> bool:
    """The one PNG row unfilter (PNG spec §9), shared by the PDF
    predictors above and ``multimodal._decode_png``: undo filter type
    ``ft`` (0 None, 1 Sub, 2 Up, 3 Average, 4 Paeth) on ``row`` in
    place. ``prev`` is the unfiltered row above (zeros for the first
    row) and ``bpp`` the bytes per complete pixel (at least 1; filters
    reference the previous pixel's corresponding byte). Returns False,
    the row untouched, for any other type: each caller raises its own
    error."""
    rowlen = len(row)
    if ft == 1:  # Sub
        for j in range(bpp, rowlen):
            row[j] = (row[j] + row[j - bpp]) & 0xFF
    elif ft == 2:  # Up
        for j in range(rowlen):
            row[j] = (row[j] + prev[j]) & 0xFF
    elif ft == 3:  # Average
        for j in range(rowlen):
            left = row[j - bpp] if j >= bpp else 0
            row[j] = (row[j] + ((left + prev[j]) >> 1)) & 0xFF
    elif ft == 4:  # Paeth
        for j in range(rowlen):
            a = row[j - bpp] if j >= bpp else 0
            b = prev[j]
            c = prev[j - bpp] if j >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            row[j] = (
                row[j] + (a if pa <= pb and pa <= pc else b if pb <= pc else c)
            ) & 0xFF
    elif ft != 0:
        return False
    return True


_TYPE_RE = re.compile(rb"/Type\s*/(Pages|Page)\b")


_XOBJDICT_REF_RE = re.compile(rb"/XObject\s+(\d+)\s+\d+\s+R")
_XOBJDICT_INLINE_RE = re.compile(rb"/XObject\s*<<")


def _make_xobj_resolver(objs, res, font_cache, visited=frozenset()):
    """Lazy Form-XObject resolver over one node's /Resources: name →
    (content bytes, that form's fonts, nested resolver) for
    /Subtype /Form streams; None for images/unknown names. Cycle-safe
    (visited object-id set) — a self-referencing form terminates."""
    if not res or b"/XObject" not in res:
        return None

    def resolve(name):
        m = _XOBJDICT_REF_RE.search(res)
        if m:
            xdict = objs.get(int(m.group(1)), b"")
        else:
            m = _XOBJDICT_INLINE_RE.search(res)
            if m is None:
                return None
            xdict = _balanced_dict(res, m.end(), "XObject dictionary")
        for nm in _FONT_REF_RE.finditer(xdict):
            if nm.group(1).decode("latin-1") != name:
                continue
            ref = int(nm.group(2))
            if ref in visited:
                return None  # cycle
            body = objs.get(ref)
            if body is None:
                return None
            sm = _STREAM_RE.search(body)
            if sm is None or b"/Form" not in body[: sm.start()]:
                return None  # image or non-form XObject
            try:
                content = _content_stream(body)
            except PdfError:
                return None
            own_res = _resources_of(objs, body[: sm.start()], res)
            fonts = _fonts_from_resources(objs, own_res, font_cache)
            return (
                content,
                fonts,
                _make_xobj_resolver(
                    objs, own_res, font_cache, visited | {ref}
                ),
            )
        return None

    return resolve


def _page_content_entries(
    objs: dict[int, bytes],
) -> list[tuple[int, dict[str, tuple[int, dict[int, str]] | None], object]]:
    """(content-stream object id, that page's font resource-name →
    byte-map, Form-XObject resolver) in document page order (catalog →
    pages tree →
    /Contents; /Resources inherited down the tree per §7.8.3). Falls
    back to every stream-bearing object in id order (empty font dict)
    when the page tree is missing/broken. The walk is iterative with a
    visited set — a corrupt/malicious /Kids cycle must become an error
    row, never a hung executor task."""
    catalog = next(
        (b for b in objs.values() if b"/Type" in b and b"/Catalog" in b), None
    )
    entries: list[tuple[int, dict[str, tuple[int, dict[int, str]] | None]]] = []
    visited: set[int] = set()
    font_cache: dict[int, tuple[int, dict[int, str]] | None] = {}
    font_sets: dict[bytes, dict[str, tuple[int, dict[int, str]] | None]] = {}

    def fonts_for(res: bytes | None) -> dict[str, tuple[int, dict[int, str]] | None]:
        key = res or b""
        if key not in font_sets:
            font_sets[key] = _fonts_from_resources(objs, res, font_cache)
        return font_sets[key]

    def walk(node_id: int):
        stack: list[tuple[int, bytes | None]] = [(node_id, None)]
        while stack:
            nid, inherited_res = stack.pop()
            if nid in visited or nid not in objs:
                continue
            visited.add(nid)
            body = objs[nid]
            res = _resources_of(objs, body, inherited_res)
            tm = _TYPE_RE.search(body)
            node_type = tm.group(1) if tm else None
            km = _KIDS_RE.search(body)
            if node_type == b"Pages" or (node_type is None and km):
                if km:
                    kids = [
                        int(rm.group(1))
                        for rm in re.finditer(rb"(\d+)\s+\d+\s+R", km.group(1))
                    ]
                    stack.extend(
                        (k, res) for k in reversed(kids)
                    )  # preserve document order
            elif node_type == b"Page":
                fonts = fonts_for(res)
                resolver = _make_xobj_resolver(objs, res, font_cache)
                # /Contents is a single ref or an array of refs
                am = re.search(rb"/Contents\s*\[([^\]]*)\]", body)
                if am:
                    for rm in re.finditer(rb"(\d+)\s+\d+\s+R", am.group(1)):
                        entries.append((int(rm.group(1)), fonts, resolver))
                else:
                    for name, ref in _REF_RE.findall(body):
                        if name == b"Contents":
                            entries.append((int(ref), fonts, resolver))

    if catalog is not None:
        for name, ref in _REF_RE.findall(catalog):
            if name == b"Pages":
                walk(int(ref))
    if not entries:
        # heuristic salvage: every stream-bearing object EXCEPT
        # structural streams (xref / object streams are never page
        # content, and a corrupt one must not fail the salvage)
        entries = [
            (oid, {}, None)
            for oid in sorted(objs)
            if (sm := _STREAM_RE.search(objs[oid])) is not None
            and b"/XRef" not in objs[oid][: sm.start()]
            and b"/ObjStm" not in objs[oid][: sm.start()]
        ]
    return entries


# ---------------------------------------------------------------------------
# Simple-font decoding: /Encoding (+ /Differences) and /ToUnicode CMaps
# (ISO 32000-1 §9.6.6, §9.10.3, Appendix D). Composite/CID fonts remain
# out of scope (module docstring); a font with no explicit encoding
# info keeps the legacy Latin-1 passthrough so the deterministic
# writer→reader roundtrip stays byte-identical.


def _win_ansi_table() -> list[str | None]:
    # WinAnsiEncoding is cp1252 (Appendix D.2); the five cp1252 holes
    # (81 8D 8F 90 9D) are undefined → None → caller fallback
    out: list[str | None] = []
    for i in range(256):
        try:
            out.append(bytes([i]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(None)
    return out


def _mac_roman_table() -> list[str | None]:
    # MacRomanEncoding via the stdlib mac_roman codec. Known divergence:
    # Apple's post-1998 codec maps 0xDB to U+20AC (euro) where PDF's
    # table keeps U+00A4 (currency) — patched to match Appendix D.2.
    out: list[str | None] = [bytes([i]).decode("mac_roman") for i in range(256)]
    out[0xDB] = "¤"
    return out


# Adobe StandardEncoding (Appendix D.2): printable ASCII with the two
# quote substitutions, plus the defined 0xA1-0xFB range; holes → None.
_STANDARD_HIGH = {
    0xA1: "¡", 0xA2: "¢", 0xA3: "£", 0xA4: "⁄",
    0xA5: "¥", 0xA6: "ƒ", 0xA7: "§", 0xA8: "¤",
    0xA9: "'", 0xAA: "“", 0xAB: "«", 0xAC: "‹",
    0xAD: "›", 0xAE: "ﬁ", 0xAF: "ﬂ", 0xB1: "–",
    0xB2: "†", 0xB3: "‡", 0xB4: "·", 0xB6: "¶",
    0xB7: "•", 0xB8: "‚", 0xB9: "„", 0xBA: "”",
    0xBB: "»", 0xBC: "…", 0xBD: "‰", 0xBF: "¿",
    0xC1: "`", 0xC2: "´", 0xC3: "ˆ", 0xC4: "˜",
    0xC5: "¯", 0xC6: "˘", 0xC7: "˙", 0xC8: "¨",
    0xCA: "˚", 0xCB: "¸", 0xCD: "˝", 0xCE: "˛",
    0xCF: "ˇ", 0xD0: "—", 0xE1: "Æ", 0xE3: "ª",
    0xE8: "Ł", 0xE9: "Ø", 0xEA: "Œ", 0xEB: "º",
    0xF1: "æ", 0xF5: "ı", 0xF8: "ł", 0xF9: "ø",
    0xFA: "œ", 0xFB: "ß",
}


def _standard_table() -> list[str | None]:
    out: list[str | None] = [None] * 256
    for i in range(0x20, 0x7F):
        out[i] = chr(i)
    out[0x27] = "’"  # quoteright
    out[0x60] = "‘"  # quoteleft
    for k, v in _STANDARD_HIGH.items():
        out[k] = v
    return out


_BASE_ENCODINGS: dict[bytes, list[str | None]] = {}


def _base_encoding(name: bytes) -> list[str | None]:
    if not _BASE_ENCODINGS:
        _BASE_ENCODINGS[b"WinAnsiEncoding"] = _win_ansi_table()
        _BASE_ENCODINGS[b"MacRomanEncoding"] = _mac_roman_table()
        _BASE_ENCODINGS[b"StandardEncoding"] = _standard_table()
    return _BASE_ENCODINGS.get(name, _BASE_ENCODINGS[b"StandardEncoding"])


# Adobe Glyph List subset (AGL is a public Adobe specification): the
# names /Differences arrays use in practice for Latin-script web PDFs.
# Single-letter names (A-Z, a-z) resolve to themselves; uniXXXX / uXXXX
# resolve algorithmically; anything else → U+FFFD (lossy marker).
_GLYPH_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "exclamdown": "¡", "cent": "¢", "sterling": "£",
    "currency": "¤", "yen": "¥", "brokenbar": "¦",
    "section": "§", "dieresis": "¨", "copyright": "©",
    "ordfeminine": "ª", "guillemotleft": "«",
    "logicalnot": "¬", "registered": "®", "macron": "¯",
    "degree": "°", "plusminus": "±", "acute": "´",
    "mu": "µ", "paragraph": "¶", "periodcentered": "·",
    "cedilla": "¸", "ordmasculine": "º",
    "guillemotright": "»", "onequarter": "¼",
    "onehalf": "½", "threequarters": "¾",
    "questiondown": "¿", "multiply": "×", "divide": "÷",
    "Agrave": "À", "Aacute": "Á", "Acircumflex": "Â",
    "Atilde": "Ã", "Adieresis": "Ä", "Aring": "Å",
    "AE": "Æ", "Ccedilla": "Ç", "Egrave": "È",
    "Eacute": "É", "Ecircumflex": "Ê", "Edieresis": "Ë",
    "Igrave": "Ì", "Iacute": "Í", "Icircumflex": "Î",
    "Idieresis": "Ï", "Eth": "Ð", "Ntilde": "Ñ",
    "Ograve": "Ò", "Oacute": "Ó", "Ocircumflex": "Ô",
    "Otilde": "Õ", "Odieresis": "Ö", "Oslash": "Ø",
    "Ugrave": "Ù", "Uacute": "Ú", "Ucircumflex": "Û",
    "Udieresis": "Ü", "Yacute": "Ý", "Thorn": "Þ",
    "germandbls": "ß", "agrave": "à", "aacute": "á",
    "acircumflex": "â", "atilde": "ã", "adieresis": "ä",
    "aring": "å", "ae": "æ", "ccedilla": "ç",
    "egrave": "è", "eacute": "é", "ecircumflex": "ê",
    "edieresis": "ë", "igrave": "ì", "iacute": "í",
    "icircumflex": "î", "idieresis": "ï", "eth": "ð",
    "ntilde": "ñ", "ograve": "ò", "oacute": "ó",
    "ocircumflex": "ô", "otilde": "õ", "odieresis": "ö",
    "oslash": "ø", "ugrave": "ù", "uacute": "ú",
    "ucircumflex": "û", "udieresis": "ü", "yacute": "ý",
    "thorn": "þ", "ydieresis": "ÿ",
    "OE": "Œ", "oe": "œ", "Scaron": "Š",
    "scaron": "š", "Ydieresis": "Ÿ", "Zcaron": "Ž",
    "zcaron": "ž", "florin": "ƒ", "Lslash": "Ł",
    "lslash": "ł", "dotlessi": "ı", "circumflex": "ˆ",
    "caron": "ˇ", "breve": "˘", "dotaccent": "˙",
    "ring": "˚", "ogonek": "˛", "tilde": "˜",
    "hungarumlaut": "˝", "endash": "–", "emdash": "—",
    "quoteleft": "‘", "quoteright": "’",
    "quotesinglbase": "‚", "quotedblleft": "“",
    "quotedblright": "”", "quotedblbase": "„",
    "dagger": "†", "daggerdbl": "‡", "bullet": "•",
    "ellipsis": "…", "perthousand": "‰",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "fraction": "⁄", "Euro": "€", "trademark": "™",
    "minus": "−", "fi": "ﬁ", "fl": "ﬂ",
}

_UNI_NAME_RE = re.compile(r"^uni((?:[0-9A-Fa-f]{4})+)$")
_U_NAME_RE = re.compile(r"^u([0-9A-Fa-f]{4,6})$")


def _glyph_to_unicode(name: str) -> str:
    if len(name) == 1 and " " <= name <= "~":
        return name
    got = _GLYPH_NAMES.get(name)
    if got is not None:
        return got
    m = _UNI_NAME_RE.match(name)
    if m:
        hexs = m.group(1)
        return "".join(
            chr(int(hexs[i : i + 4], 16)) for i in range(0, len(hexs), 4)
        )
    m = _U_NAME_RE.match(name)
    if m:
        cp = int(m.group(1), 16)
        return chr(cp) if cp <= 0x10FFFF else "�"
    return "�"


def _utf16_hex(h: bytes) -> str:
    if len(h) % 2:  # odd digit count: pad per the PDF hex-string rule
        h += b"0"
    raw = bytes.fromhex(h.decode("ascii")) if h else b""
    return raw.decode("utf-16-be", errors="replace")


_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)


def _parse_tounicode(cmap: bytes, max_code: int = 0xFF) -> dict[int, str]:
    """bfchar/bfrange entries of a ToUnicode CMap → code → str. Simple
    fonts use one-byte codes (max_code 0xFF); Identity-H Type0 fonts
    two-byte codes (max_code 0xFFFF); wider source codes are ignored.
    Both bfrange destination forms handled (base hex string with
    increment, and explicit array)."""
    out: dict[int, str] = {}
    for m in _BFCHAR_RE.finditer(cmap):
        for sm in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]*)>", m.group(1)
        ):
            src = int(sm.group(1), 16)
            if src <= max_code:
                out[src] = _utf16_hex(sm.group(2))
    for m in _BFRANGE_RE.finditer(cmap):
        for rm in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
            rb"(\[[^\]]*\]|<[0-9A-Fa-f]*>)",
            m.group(1),
        ):
            lo, hi = int(rm.group(1), 16), int(rm.group(2), 16)
            if lo > max_code:
                continue
            hi = min(hi, max_code)
            dst = rm.group(3)
            if dst.startswith(b"["):
                dsts = re.findall(rb"<([0-9A-Fa-f]*)>", dst)
                for i, d in enumerate(dsts):
                    if lo + i <= hi:
                        out[lo + i] = _utf16_hex(d)
            else:
                base = _utf16_hex(dst[1:-1])
                for c in range(lo, hi + 1):
                    out[c] = (
                        base[:-1] + chr(ord(base[-1]) + (c - lo))
                        if base
                        else ""
                    )
    return out


_DIFF_RE = re.compile(rb"/Differences\s*\[([^\]]*)\]", re.S)
_DIFF_TOK_RE = re.compile(rb"(\d+)|/([^\s/\[\]()<>]+)")


_ENC_NAME_RE = re.compile(rb"/Encoding\s*/(\w+)")
_ENC_REF_RE = re.compile(rb"/Encoding\s+(\d+)\s+\d+\s+R")
_ENC_INLINE_RE = re.compile(rb"/Encoding\s*<<")
_BASEENC_RE = re.compile(rb"/BaseEncoding\s*/(\w+)")
_TOUNI_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")


def _encoding_map(objs: dict[int, bytes], font: bytes) -> dict[int, str] | None:
    """byte → str map from the font's /Encoding entry, or None when the
    font names no encoding (builtin-encoding fonts keep the legacy
    Latin-1 passthrough)."""
    m = _ENC_NAME_RE.search(font)
    if m:
        table = _base_encoding(m.group(1))
        return {i: c for i, c in enumerate(table) if c is not None}
    enc_body = None
    m = _ENC_REF_RE.search(font)
    if m:
        enc_body = objs.get(int(m.group(1)))
    else:
        m = _ENC_INLINE_RE.search(font)
        if m:
            enc_body = _balanced_dict(font, m.end(), "Encoding dictionary")
    if enc_body is None:
        return None
    bm = _BASEENC_RE.search(enc_body)
    table = list(_base_encoding(bm.group(1) if bm else b"StandardEncoding"))
    dm = _DIFF_RE.search(enc_body)
    if dm:
        code = 0
        for num, name in _DIFF_TOK_RE.findall(dm.group(1)):
            if num:
                code = int(num)
            elif 0 <= code <= 255:
                table[code] = _glyph_to_unicode(name.decode("latin-1"))
                code += 1
    return {i: c for i, c in enumerate(table) if c is not None}


# a resolved font is (code_bytes, code → str): 1-byte simple fonts,
# 2-byte Identity-H/V Type0 fonts; code_bytes may instead be a tuple of
# (nbytes, lo, hi) codespace ranges for embedded-CMap Type0 fonts
# (variable-width codes, r7)
_TYPE0_RE = re.compile(rb"/Subtype\s*/Type0\b")
_IDENTITY_RE = re.compile(rb"/Encoding\s*/Identity-[HV]\b")
_ENC_STREAM_RE = re.compile(rb"/Encoding\s+(\d+)\s+\d+\s+R")
_PREDEF_CMAP_RE = re.compile(rb"/Encoding\s*/([\w-]+)")

#: predefined UCS2-family CMap names (public Adobe resources): the
#: 2-byte code IS the UCS-2/BMP code unit, so no external data file is
#: needed to decode text — including the -HW- half-width variants and
#: the vertical (-V) forms, which share the horizontal mapping
_UCS2_PREDEF_RE = re.compile(
    rb"/Encoding\s*/Uni(?:GB|CNS|JIS|KS|KR)-UCS2(?:-HW)?-[HV]\b"
)

_CODESPACE_RE = re.compile(
    rb"begincodespacerange(.*?)endcodespacerange", re.S
)
_CIDRANGE_RE = re.compile(rb"begincidrange(.*?)endcidrange", re.S)
_CIDCHAR_RE = re.compile(rb"begincidchar(.*?)endcidchar", re.S)


def _parse_cid_cmap(
    data: bytes,
) -> tuple[tuple[tuple[int, int, int], ...], dict[int, int]]:
    """Embedded CID CMap stream (ISO 32000-2 §9.7.5.3) →
    (codespace ranges as (nbytes, lo, hi), code → CID). The codespace
    section defines the code WIDTHS (how a show-string's bytes split
    into character codes — 1-4 bytes, possibly mixed); cidchar/cidrange
    give each code its CID in the descendant font's glyph collection.
    Codes are int-keyed: same-valued codes of different widths would
    collide, which real CMaps avoid by disjoint codespace design."""
    codespace: list[tuple[int, int, int]] = []
    for m in _CODESPACE_RE.finditer(data):
        for pm in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", m.group(1)
        ):
            lo_h, hi_h = pm.group(1), pm.group(2)
            nbytes = (len(lo_h) + 1) // 2
            if 1 <= nbytes <= 4:
                codespace.append(
                    (nbytes, int(lo_h, 16), int(hi_h, 16))
                )
    cid_map: dict[int, int] = {}
    for m in _CIDCHAR_RE.finditer(data):
        for cm in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s+(\d+)", m.group(1)
        ):
            cid_map[int(cm.group(1), 16)] = int(cm.group(2))
    for m in _CIDRANGE_RE.finditer(data):
        for rm in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s+(\d+)", m.group(1)
        ):
            lo, hi = int(rm.group(1), 16), int(rm.group(2), 16)
            base = int(rm.group(3))
            if hi - lo > 0xFFFF:  # malformed range bomb guard
                hi = lo + 0xFFFF
            for c in range(lo, hi + 1):
                cid_map[c] = base + (c - lo)
    return tuple(codespace), cid_map


def _split_codes(
    raw: bytes, codespace: tuple[tuple[int, int, int], ...]
) -> list[int]:
    """Split a show-string's bytes into character codes per the CMap's
    codespace ranges (§9.7.6.3): try widths ascending; a code whose
    value falls in a range of that width matches; bytes matching no
    range consume the shortest width and decode as -1 (→ U+FFFD)."""
    widths = sorted({nb for nb, _, _ in codespace}) or [1]
    out: list[int] = []
    i, n = 0, len(raw)
    while i < n:
        for w in widths:
            if i + w <= n:
                c = int.from_bytes(raw[i : i + w], "big")
                if any(
                    nb == w and lo <= c <= hi for nb, lo, hi in codespace
                ):
                    out.append(c)
                    i += w
                    break
        else:
            out.append(-1)
            i += widths[0]
    return out


def _font_byte_map(
    objs: dict[int, bytes],
    ref: int,
    cache: dict[int, tuple[int, dict[int, str]] | None],
) -> tuple[int, dict[int, str]] | None:
    """Resolve one font object to (code_bytes, code → str), or None: no
    explicit encoding info — legacy passthrough. Simple fonts:
    /ToUnicode wins over /Encoding per code, /Encoding fills the CMap's
    gaps. Type0 + /Identity-H(-V): two-byte codes through the 2-byte
    ToUnicode ({} when absent — every code decodes to U+FFFD, which is
    honest: Identity CIDs are glyph ids, not characters). Type0 with an
    EMBEDDED CMap stream (r7): the CMap's codespace ranges drive
    variable-width code splitting (code_bytes becomes the range tuple)
    and ToUnicode maps the split codes; codes the CMap assigns a CID
    but ToUnicode doesn't cover decode U+FFFD (glyph known, character
    not). Type0 with a predefined non-Identity CMap name (UniGB-UCS2-H
    etc.: external data this from-scratch reader doesn't carry) decodes
    every 2-byte code to U+FFFD rather than passing mojibake through —
    the module docstring's distinct-degradation contract."""
    if ref in cache:
        return cache[ref]
    body = objs.get(ref)
    result: tuple[int, dict[int, str]] | None = None
    if body is not None:
        def tounicode(max_code: int) -> dict[int, str]:
            tm = _TOUNI_RE.search(body) if b"/ToUnicode" in body else None
            if tm and int(tm.group(1)) in objs:
                try:
                    cmap = _content_stream(objs[int(tm.group(1))])
                except PdfError:
                    return {}
                return _parse_tounicode(cmap, max_code)
            return {}

        if _TYPE0_RE.search(body):
            if _IDENTITY_RE.search(body):
                result = (2, tounicode(0xFFFF))
            else:
                em = _ENC_STREAM_RE.search(body)
                enc_obj = objs.get(int(em.group(1))) if em else None
                if enc_obj is not None and (
                    b"begincidrange" in enc_obj
                    or b"begincidchar" in enc_obj
                    or b"begincodespacerange" in enc_obj
                    or b"/CMap" in enc_obj
                ):
                    try:
                        cmap_data = _content_stream(enc_obj)
                    except PdfError:
                        cmap_data = enc_obj
                    codespace, cid_map = _parse_cid_cmap(cmap_data)
                    if codespace:
                        tou = tounicode(0xFFFFFFFF)
                        # CID known but character unknown → explicit
                        # U+FFFD (distinct from unmapped raw bytes)
                        fmap = {c: "�" for c in cid_map}
                        fmap.update(tou)
                        result = (codespace, fmap)  # type: ignore[assignment]
                elif _UCS2_PREDEF_RE.search(body):
                    # predefined Uni*-UCS2-* CMap (r8): the 2-byte code
                    # is the UCS-2 code unit by the public Adobe Uni*
                    # design, so text decodes WITHOUT the external data
                    # file: chr(code), ToUnicode still winning per code
                    result = ("ucs2", tounicode(0xFFFF))  # type: ignore[assignment]
                elif _PREDEF_CMAP_RE.search(body):
                    # other predefined external CMaps (GBK-EUC-H etc.:
                    # real code→CID data this from-scratch reader
                    # doesn't carry): 2-byte U+FFFD degradation, never
                    # mojibake
                    result = (2, {})
        else:
            enc = _encoding_map(objs, body) if b"/Encoding" in body else None
            tou = tounicode(0xFF)
            if tou:
                result = (1, {**(enc or {}), **tou})
            elif enc is not None:
                result = (1, enc)
    cache[ref] = result
    return result


_FONT_REF_RE = re.compile(rb"/([^\s/\[\]()<>]+)\s+(\d+)\s+\d+\s+R")
_FONTDICT_REF_RE = re.compile(rb"/Font\s+(\d+)\s+\d+\s+R")
_FONTDICT_INLINE_RE = re.compile(rb"/Font\s*<<")
_RES_REF_RE = re.compile(rb"/Resources\s+(\d+)\s+\d+\s+R")
_RES_INLINE_RE = re.compile(rb"/Resources\s*<<")


def _fonts_from_resources(
    objs: dict[int, bytes],
    res: bytes | None,
    cache: dict[int, tuple[int, dict[int, str]] | None],
) -> dict[str, tuple[int, dict[int, str]] | None]:
    """Resource-name → byte-map for the /Font entries of one page's
    /Resources (inline or indirect dict)."""
    if not res or b"/Font" not in res:
        return {}
    m = _FONTDICT_REF_RE.search(res)
    if m:
        fdict = objs.get(int(m.group(1)), b"")
    else:
        m = _FONTDICT_INLINE_RE.search(res)
        if m is None:
            return {}
        fdict = _balanced_dict(res, m.end(), "Font dictionary")
    return {
        nm.group(1).decode("latin-1"): _font_byte_map(
            objs, int(nm.group(2)), cache
        )
        for nm in _FONT_REF_RE.finditer(fdict)
    }


def _resources_of(
    objs: dict[int, bytes], body: bytes, inherited: bytes | None
) -> bytes | None:
    """A node's /Resources dict body (indirect or inline), else the
    inherited one (/Resources is an inheritable page attribute)."""
    if b"/Resources" not in body:
        return inherited
    m = _RES_REF_RE.search(body)
    if m:
        return objs.get(int(m.group(1)), inherited)
    m = _RES_INLINE_RE.search(body)
    if m:
        return _balanced_dict(body, m.end(), "Resources dictionary")
    return inherited


_TOKEN_RE = re.compile(
    rb"\(|<[0-9A-Fa-f\s]*>|\[|\]|/[^\s/\[\]()<>]*|[-+.0-9]+|[A-Za-z'\"*]+"
)


_LIT_SPECIAL = re.compile(rb"[\\()]")

# leading bytes of number tokens (first-byte dispatch in
# _extract_stream_text)
_NUM_LEAD = frozenset(b"-+.0123456789")


def _parse_literal_string(data: bytes, p: int) -> tuple[str, int]:
    """data[p] is just past '('; returns (decoded, pos past ')')."""
    out = []
    depth = 1
    n = len(data)
    while p < n:
        # r9: bulk-copy the run up to the next special byte — latin-1
        # decode of a byte run == the per-byte chr() appends it replaces
        m = _LIT_SPECIAL.search(data, p)
        if m is None:
            break
        q = m.start()
        if q > p:
            out.append(data[p:q].decode("latin-1"))
            p = q
        c = data[p]
        if c == 0x5C:  # backslash
            p += 1
            if p >= n:
                break
            e = data[p]
            if e in b"nrtbf":
                out.append({0x6E: "\n", 0x72: "\r", 0x74: "\t",
                            0x62: "\b", 0x66: "\f"}[e])
                p += 1
            elif e in b"()\\":
                out.append(chr(e))
                p += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                oct_digits = ""
                while p < n and len(oct_digits) < 3 and 0x30 <= data[p] <= 0x37:
                    oct_digits += chr(data[p])
                    p += 1
                # "high-order overflow shall be ignored" (§7.3.4.2):
                # \777 is byte 0xFF, and keeping every char < 256 also
                # makes the string losslessly re-encodable to the raw
                # bytes for font-map decoding
                out.append(chr(int(oct_digits, 8) & 0xFF))
            elif e in (0x0A, 0x0D):  # line continuation (spec 7.3.4.2):
                # backslash-EOL drops BOTH the backslash and the EOL
                p += 1
                if e == 0x0D and p < n and data[p] == 0x0A:
                    p += 1
            else:  # stray backslash: drop it (spec)
                pass
        elif c == 0x28:  # (
            depth += 1
            out.append("(")
            p += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth == 0:
                return "".join(out), p + 1
            out.append(")")
            p += 1
        else:
            out.append(chr(c))
            p += 1
    raise PdfError("unterminated literal string")


def _extract_stream_text(
    content: bytes,
    fonts: dict[str, tuple[int, dict[int, str]] | None] | None = None,
    xobj_resolver=None,
    depth: int = 0,
) -> list[str]:
    """Text lines from one content stream's BT/ET blocks. ``fonts``
    maps the page's font resource names to byte→str maps; ``Tf``
    selects the active font, and show operators decode their string
    bytes through it. Fonts without explicit encoding info (map None)
    and pages without resources keep the legacy Latin-1 passthrough —
    the deterministic writer emits no /Font, so the byte-exact
    roundtrip gate is untouched.

    ``xobj_resolver(name)`` resolves a Form XObject resource name to
    (content, fonts, nested_resolver) — the ``Do`` operator recurses
    into it in stream order (crawled PDFs routinely keep their text in
    Form XObjects); depth-capped, cycle-guarded by the resolver.
    Inline images (BI … ID <binary> EI) are skipped wholesale so their
    binary payload can never tokenize into fake text operators."""
    lines: list[str] = []
    cur: list[str] = []
    in_text = False
    in_tj_array = False
    # (decoded-passthrough text, raw bytes or None when pre-decoded);
    # raw tracking + Tf dispatch only engage when the page HAS fonts —
    # font-less pages (every writer-roundtrip PDF) keep the r3 fast path
    pending_strings: list[tuple[str, bytes | None]] = []
    # only fonts WITH a byte map can ever change the decode — pages
    # whose fonts all lack encoding info (the writer's /F1 Helvetica)
    # take the fast path too
    has_fonts = any(m is not None for m in (fonts or {}).values())
    cur_font: tuple[int, dict[int, str]] | None = None
    last_name: str | None = None
    p = 0
    n = len(content)

    def break_line():
        if cur:
            lines.append("".join(cur))
            cur.clear()

    def show():
        for text, raw in pending_strings:
            if cur_font is not None and raw is not None:
                nb, fmap = cur_font
                # fmap may deliberately map a code to "" (ToUnicode
                # `<41> <>`): only a MISSING key falls back, an empty
                # mapping survives — hence `is None`, not truthiness
                if nb == 1:
                    cur.append(
                        "".join(
                            (chr(b) if 0x20 <= b <= 0x7E else "�")
                            if (m1 := fmap.get(b)) is None
                            else m1
                            for b in raw
                        )
                    )
                elif nb == "ucs2":
                    # predefined UCS2 CMap: code == BMP code point;
                    # surrogate-range codes are outside the UCS2
                    # codespace → U+FFFD; odd tail → U+FFFD
                    cur.append(
                        "".join(
                            m2
                            if (m2 := fmap.get(c)) is not None
                            else (
                                "�" if 0xD800 <= c <= 0xDFFF else chr(c)
                            )
                            for i in range(0, len(raw) - 1, 2)
                            for c in ((raw[i] << 8) | raw[i + 1],)
                        )
                        + ("�" if len(raw) % 2 else "")
                    )
                elif nb == 2:  # 2-byte Identity codes; odd tail → U+FFFD
                    cur.append(
                        "".join(
                            "�"
                            if (m2 := fmap.get((raw[i] << 8) | raw[i + 1]))
                            is None
                            else m2
                            for i in range(0, len(raw) - 1, 2)
                        )
                        + ("�" if len(raw) % 2 else "")
                    )
                else:  # embedded-CMap codespace: variable-width codes
                    cur.append(
                        "".join(
                            "�"
                            if c < 0 or (mv := fmap.get(c)) is None
                            else mv
                            for c in _split_codes(raw, nb)
                        )
                    )
            else:
                cur.append(text)
        pending_strings.clear()

    while p < n:
        m = _TOKEN_RE.search(content, p)
        if m is None:
            break
        tok = m.group(0)
        p = m.end()
        # r9: first-byte dispatch — the three dominant token families
        # (numbers, literal strings, hex strings) each resolve on ONE
        # int compare instead of walking the operator chain; every
        # _TOKEN_RE alternation starting with the byte is the same
        # family ('<' tokens always end '>', the regex requires it)
        c0 = tok[0]
        if c0 in _NUM_LEAD:
            # number tokens only ever matter as TJ-array kerning
            # inside a text block — the dispatch chain below cannot
            # match them otherwise
            if in_text and in_tj_array:
                try:
                    if float(tok) <= -180 and pending_strings:
                        pending_strings.append((" ", None))
                except ValueError:
                    pass
            continue
        if c0 == 0x28:  # b"("
            s, p = _parse_literal_string(content, p)
            # chars are all < 256 (octal overflow masked), so latin-1
            # re-encoding recovers the exact string bytes for font maps
            pending_strings.append(
                (s, s.encode("latin-1") if has_fonts else None)
            )
            continue
        if c0 == 0x3C:  # b"<...>" hex string
            hexs = re.sub(rb"\s", b"", tok[1:-1])
            if len(hexs) % 2:
                hexs += b"0"
            raw = bytes.fromhex(hexs.decode())
            if raw.startswith(b"\xfe\xff"):  # UTF-16BE BOM
                # errors='replace': a corrupt hex string (lone
                # surrogate) must degrade to U+FFFD, not escape as a
                # non-PdfError exception from the extraction contract
                pending_strings.append(
                    (raw[2:].decode("utf-16-be", errors="replace"), None)
                )
            else:
                pending_strings.append((raw.decode("latin-1"), raw))
            continue
        if c0 == 0x2F:  # b"/" name
            if has_fonts or xobj_resolver is not None:
                last_name = tok[1:].decode("latin-1")
            continue
        if c0 == 0x5B:  # b"["
            if in_text:
                in_tj_array = True
            continue
        if c0 == 0x5D:  # b"]"
            if in_text:
                in_tj_array = False
            continue
        if tok == b"BI":
            # inline image: skip to the EI delimiter after the binary
            # payload (EI must follow whitespace — binary may contain
            # the two letters by chance)
            idp = content.find(b"ID", p)
            q = idp + 3 if idp != -1 else p
            while True:
                q = content.find(b"EI", q)
                if q == -1:
                    p = n
                    break
                if content[q - 1 : q].isspace() and (
                    q + 2 >= n or content[q + 2 : q + 3].isspace()
                ):
                    p = q + 2
                    break
                q += 2
            continue
        if tok == b"Do" and xobj_resolver is not None and last_name:
            sub = xobj_resolver(last_name) if depth < 8 else None
            if sub is not None:
                break_line()
                sub_content, sub_fonts, sub_resolver = sub
                lines.extend(
                    _extract_stream_text(
                        sub_content, sub_fonts, sub_resolver, depth + 1
                    )
                )
            continue
        if tok == b"BT":
            in_text = True
            pending_strings.clear()
            continue
        if tok == b"ET":
            break_line()
            in_text = False
            continue
        if has_fonts and tok == b"Tf":
            # text-state operator: legal outside BT/ET too (§9.3.1)
            if last_name is not None:
                cur_font = fonts.get(last_name)
            continue
        if not in_text:
            continue
        if tok in (b"Tj", b"TJ"):
            show()
            in_tj_array = False
        elif tok in (b"'", b'"'):  # move-to-next-line + show
            break_line()
            show()
        elif tok in (b"Td", b"TD", b"T*", b"Tm"):
            break_line()
            pending_strings.clear()
        # '[' / ']' are handled by the first-byte dispatch above.
        # TJ kerning numbers are handled by the early exit above: a
        # large negative adjustment (thousandths of an em, ≈-180
        # threshold) is how justified text encodes WORD SPACES without
        # a space glyph — the standard extractor heuristic.
    break_line()
    return lines


def extract_pdf_text(data: bytes) -> tuple[str, int]:
    """(extracted_text, n_pages) for a simple-profile PDF; raises
    :class:`PdfError` on anything out of scope (caller maps it to the
    row-level error column)."""
    if not isinstance(data, (bytes, bytearray, memoryview)):
        raise PdfError("binary input required")
    data = bytes(data)
    if not data.startswith(b"%PDF-"):
        raise PdfError("missing %PDF header")
    objs = _objects(data)
    if b"/Encrypt" in data:
        # RC4 standard security handler with the empty user password
        # (the common crawled case: owner-restricted, user-readable);
        # AES / real passwords raise distinct typed errors
        km = _std_security_key(data, objs)
        if km is not None:
            objs = _decrypt_streams(objs, km[0], km[1])
            # encrypted /ObjStm bodies could not be expanded during the
            # xref walk (they inflate only AFTER stream decryption, and
            # ISO 32000 encrypts the ObjStm as ONE stream — contained
            # objects come out plaintext). Expanding now restores the
            # real page tree / fonts for AES-era files instead of the
            # structure-blind salvage heuristic (r6).
            _expand_objstms(objs)
    entries = _page_content_entries(objs)
    if not entries:
        raise PdfError("no page content streams")
    lines: list[str] = []
    for cid, fonts, resolver in entries:
        if cid not in objs:
            raise PdfError(f"dangling /Contents ref {cid}")
        lines.extend(
            _extract_stream_text(_content_stream(objs[cid]), fonts, resolver)
        )
    return "\n".join(lines), len(entries)
