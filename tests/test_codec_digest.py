"""Frozen digest of the PDF writers, the PDF reader's stream path and the
PNG decoder on a fixed input set.

The PDF writers, the reader's stream handling and the PNG row unfilter
share code paths that are easy to break without a visible test failure:
a writer that moves one byte still round-trips, and an unfilter slip on
a filter type that no test image uses goes unnoticed. This test pins
them. It hashes three sets, one sha256 each:

* ``writers``: the bytes of every PDF writer on fixed inputs (all four
  UCS2 families, ``make_objstm_pdf`` with and without the PNG predictor,
  RC4 R2, R3/40 and R3/128, a non-empty user password, an input that
  already carries ``/ID``, AESV2 and AES-256), or the error string;
* ``reader``: ``extract_pdf_text`` (text and page count, or the
  ``PdfError`` string) on predictor streams with each PNG filter byte,
  TIFF predictor 2, an unknown filter byte, truncated rows, an indirect
  ``/Length`` and a stream without ``endstream``, plus the round trip of
  every ``writers`` output;
* ``png``: ``multimodal._decode_png`` ``(w, h, pixels)`` or its error
  string over all five filter types, Adam7, 16-bit samples, a bad
  filter type and truncated data.

After a deliberate output change, print the new digests with
``python tests/test_codec_digest.py`` and refreeze ``FROZEN``.
"""

from __future__ import annotations

import hashlib
import json
import random
import struct
import sys
import zlib
from pathlib import Path

_TESTS = Path(__file__).resolve().parent
sys.path.insert(0, str(_TESTS.parent))

from tests.test_pdf import _png_filter, _predictor_pdf  # noqa: E402
from tests.test_round4_fixes import _make_png  # noqa: E402

# per input set: (number of records hashed, sha256)
FROZEN = {
    "png": (
        30, "111fc7a1a87db514c5ec41943705885cd3cc4fefa76990d7ceb083cf2747a295"),
    "reader": (
        76, "bed714afdb576c986e2852b90498332f5ca241e012466172f54af1437a400f93"),
    "writers": (
        45, "2dc2e013c01a11807e9ef763a9522a061cb7654c052ec7026c22e8dde447692b"),
}

_LINES = ["plain ascii line", "parens ( and ) back\\slash", "café Ünïcode",
          "東京 mixed ascii", "", "tab\tline"]


def _calls(fn, *args, **kw):
    try:
        return fn(*args, **kw)
    except Exception as e:  # noqa: BLE001 - the error string is pinned
        return f"{type(e).__name__}: {e}"


# -- writers ------------------------------------------------------------------

def writer_outputs() -> list[tuple[str, object]]:
    """``(label, bytes or error string)`` for every writer call."""
    from html5ever_elixir_spark.parser import pdf

    out = []
    for lines, lpp in ((_LINES, 40), (_LINES * 3, 5), ([], 40)):
        out.append((f"simple {len(lines)}/{lpp}",
                    _calls(pdf.make_simple_pdf, lines, lpp)))
        out.append((f"cid {len(lines)}/{lpp}",
                    _calls(pdf.make_cid_pdf, lines, lpp)))
    out.append(("cid wide", _calls(
        pdf.make_cid_pdf, ["".join(chr(0x4E00 + i) for i in range(300))])))
    for name in pdf._UCS2_CMAP_NAMES:
        out.append((f"ucs2 {name}", _calls(
            pdf.make_ucs2_pdf, _LINES * 2, name, 4)))
    out.append(("ucs2 bad name", _calls(pdf.make_ucs2_pdf, ["x"], "GBK-EUC-H")))
    out.append(("ucs2 non-BMP", _calls(pdf.make_ucs2_pdf, ["\U0001F600"])))
    for pred in (1, 12):
        out.append((f"objstm {pred}", _calls(
            pdf.make_objstm_pdf, _LINES, predictor=pred)))

    base = pdf.make_simple_pdf(["secret text", "second line"])
    with_id = base + b"\ntrailer\n<< /ID [<0A1b2c3D 4e> <ffff>] >>\n"
    indirect = _predictor_pdf(b"BT (x) Tj ET", 1, 1).replace(
        b"/Length ", b"/Length 9 0 R /L ", 1)
    inputs = (("base", base), ("with_id", with_id), ("indirect", indirect))
    for label, data in inputs:
        for kw in ({"r": 2}, {"r": 3, "length": 40}, {"r": 3, "length": 128},
                   {"user_pw": b"pw"}, {"file_id": b"\x01" * 16},
                   {"owner_pw": b"", "permissions": -4}):
            out.append((f"rc4 {label} {kw}",
                        _calls(pdf.encrypt_pdf_rc4, data, **kw)))
        for kw in ({}, {"user_pw": b"pw"}, {"file_id": b"\x02" * 16}):
            out.append((f"aes {label} {kw}",
                        _calls(pdf.encrypt_pdf_aes, data, **kw)))
    out.append(("rc4 r4", _calls(pdf.encrypt_pdf_rc4, base, r=4)))
    # the AES-256 KDF costs ~0.3 s a call: a few inputs only
    out.append(("aes256 base", _calls(pdf.encrypt_pdf_aes256, base)))
    out.append(("aes256 with_id fid", _calls(
        pdf.encrypt_pdf_aes256, with_id, file_id=b"\x03" * 16)))
    return out


# -- reader -------------------------------------------------------------------

def _png_rows(raw: bytes, columns: int, colors: int, filters) -> bytes:
    """PNG-filtered rows of ``raw`` (8-bit, ``colors`` per pixel) with the
    per-row filter types ``filters`` (cycled), via ``_make_png``."""
    rowlen = columns * colors
    raw += b" " * (-len(raw) % rowlen)
    h = len(raw) // rowlen
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[colors]
    png = _make_png(columns, h, list(raw), color_type,
                    [filters[r % len(filters)] for r in range(h)])
    (n,) = struct.unpack(">I", png[33:37])
    return zlib.decompress(png[41 : 41 + n])


def _tiff_rows(raw: bytes, columns: int, colors: int) -> bytes:
    rowlen = columns * colors
    out = bytearray(raw)
    for r0 in range(0, len(raw), rowlen):
        for i in range(min(r0 + rowlen, len(raw)) - 1, r0 + colors - 1, -1):
            out[i] = (raw[i] - raw[i - colors]) & 0xFF
    return bytes(out)


def _stream_pdf(head: bytes, payload: bytes, tail: bytes = b"\nendstream"
                ) -> bytes:
    return (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< " + head + b" >>\nstream\n" + payload + tail
        + b"\nendobj\n%%EOF"
    )


def _flate_parms_pdf(filtered: bytes, parms: bytes) -> bytes:
    flate = zlib.compress(filtered)
    return _stream_pdf(
        b"/Length " + str(len(flate)).encode()
        + b" /Filter /FlateDecode /DecodeParms << " + parms + b" >>", flate)


def reader_inputs() -> list[tuple[str, bytes]]:
    content = b"BT /F1 12 Tf (predicted text line one) Tj T* " \
              b"(and a second line of text) Tj ET"
    out = []
    for ft in range(5):
        out.append((f"png ft{ft}", _predictor_pdf(
            _png_rows(content, 7, 1, [ft]), 7, 10 + ft)))
    out.append(("png_filter up", _predictor_pdf(
        _png_filter(content, 9, 2), 9)))
    for colors in (2, 3, 4):
        out.append((f"png mixed colors{colors}", _flate_parms_pdf(
            _png_rows(content, 5, colors, [0, 1, 2, 3, 4, 4, 3, 1]),
            b"/Predictor 15 /Colors %d /Columns 5" % colors)))
    out.append(("png bpc16", _flate_parms_pdf(
        _png_rows(content, 4, 2, [4, 3, 1]),
        b"/Predictor 12 /BitsPerComponent 16 /Columns 4")))
    for colors in (1, 3):
        out.append((f"tiff colors{colors}", _flate_parms_pdf(
            _tiff_rows(content, 6, colors),
            b"/Predictor 2 /Colors %d /Columns 6" % colors)))
    out.append(("tiff bpc16", _flate_parms_pdf(
        content, b"/Predictor 2 /BitsPerComponent 16 /Columns 4")))
    out.append(("predictor 5", _flate_parms_pdf(content, b"/Predictor 5")))
    bad = bytearray(_png_rows(content, 7, 1, [2]))
    bad[8] = 5
    out.append(("unknown filter byte", _predictor_pdf(bytes(bad), 7)))
    good = _png_rows(content, 7, 1, [1])
    out.append(("truncated rows", _predictor_pdf(good[:-3], 7)))
    out.append(("nested parms", _flate_parms_pdf(
        _png_rows(content, 7, 1, [4]),
        b"/X << /Predictor 1 >> /Predictor 12 /Columns 7")))
    flate = zlib.compress(content)
    for eol in (b"\n", b"\r\n", b"\r", b""):
        out.append((f"indirect length eol{eol!r}", _stream_pdf(
            b"/Length 9 0 R /Filter /FlateDecode", flate,
            eol + b"endstream")))
        out.append((f"no length plain eol{eol!r}", _stream_pdf(
            b"/Filter /Other", content, eol + b"endstream")))
    for tail in (b"", b"\n", b"\r\n", b"  "):
        out.append((f"no endstream plain {tail!r}", _stream_pdf(
            b"", content, tail)))
        out.append((f"no endstream flate {tail!r}", _stream_pdf(
            b"/Filter /FlateDecode", flate, tail)))
    out.append(("no endstream flate length", _stream_pdf(
        b"/Length %d /Filter /FlateDecode" % len(flate), flate, b"")))
    return out


def reader_records() -> list[str]:
    from html5ever_elixir_spark.parser.pdf import extract_pdf_text

    recs = []
    inputs = reader_inputs() + [
        (f"roundtrip {label}", data) for label, data in writer_outputs()
        if isinstance(data, bytes)
    ]
    for label, data in inputs:
        recs.append(f"{label}\x1f{_calls(extract_pdf_text, data)!r}")
    return recs


# -- PNG ----------------------------------------------------------------------

def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))


def _raw_png(w, h, depth, color, interlace, raw: bytes, plte=None) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    return (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + (_chunk(b"PLTE", plte) if plte else b"")
            + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))


def _random_rows(rng, n_rows: int, rowlen: int, filters) -> bytes:
    out = bytearray()
    for r in range(n_rows):
        out.append(filters[r % len(filters)])
        out += bytes(rng.randrange(256) for _ in range(rowlen))
    return bytes(out)


def png_inputs() -> list[tuple[str, bytes]]:
    from html5ever_elixir_spark.operators.multimodal import _adam7_dims

    rng = random.Random("codec-digest-png")
    out = []
    w, h = 6, 5
    pixels = [(x * 37 + y * 11) % 256 for y in range(h) for x in range(w)]
    for ft in range(5):
        out.append((f"gray ft{ft}", _make_png(w, h, pixels, 0, [ft] * h)))
    rgba = [(i * 29) % 256 for i in range(w * h * 4)]
    out.append(("rgba mixed", _make_png(w, h, rgba, 6, [0, 1, 2, 3, 4])))
    chans = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
    filters = [0, 1, 2, 3, 4, 4, 3, 2, 1]
    plte = bytes(rng.randrange(256) for _ in range(3 * 256))
    for color, nchan in chans.items():
        for depth in (8, 16):
            if color == 3 and depth == 16:
                continue
            bypp = nchan * depth // 8
            pl = plte if color == 3 else None
            out.append((f"random c{color} d{depth}", _raw_png(
                7, 9, depth, color, 0,
                _random_rows(rng, 9, 7 * bypp, filters), pl)))
            raw = b"".join(
                _random_rows(rng, ph, pw * bypp, filters)
                for pw, ph in (_adam7_dims(11, 10, p) for p in range(7))
                if pw and ph)
            out.append((f"adam7 c{color} d{depth}", _raw_png(
                11, 10, depth, color, 1, raw, pl)))
    out.append(("adam7 1x1", _raw_png(1, 1, 8, 0, 1, b"\x04\x7f")))
    bad = bytearray(_random_rows(rng, 4, 3, [1]))
    bad[8] = 5
    out.append(("bad filter type", _raw_png(3, 4, 8, 0, 0, bytes(bad))))
    out.append(("bad filter adam7", _raw_png(
        2, 2, 8, 0, 1, b"\x00\x01\x09\x02\x00\x03\x04")))
    ok = _raw_png(3, 4, 8, 0, 0, _random_rows(rng, 4, 3, [4]))
    out.append(("truncated data", _raw_png(
        3, 4, 8, 0, 0, _random_rows(rng, 4, 3, [4])[:-2])))
    out.append(("truncated chunk", ok[:-20]))
    out.append(("palette index out of range", _raw_png(
        2, 2, 8, 3, 0, b"\x00\x05\x00\x00\x00\x01", b"\x00" * 6)))
    return out


def png_records() -> list[str]:
    from html5ever_elixir_spark.operators.multimodal import _decode_png

    return [f"{label}\x1f{_calls(_decode_png, data)!r}"
            for label, data in png_inputs()]


def digests() -> dict[str, tuple]:
    sets = {
        "png": png_records(),
        "reader": reader_records(),
        "writers": [
            f"{label}\x1f"
            + (data.hex() if isinstance(data, bytes) else repr(data))
            for label, data in writer_outputs()
        ],
    }
    out = {}
    for name, recs in sorted(sets.items()):
        h = hashlib.sha256()
        for r in recs:
            h.update(r.encode("utf-8", "surrogatepass"))
            h.update(b"\x1e")
        out[name] = (len(recs), h.hexdigest())
    return out


def test_codec_output_digest_is_frozen():
    assert digests() == FROZEN


if __name__ == "__main__":
    print(json.dumps(digests(), indent=1))
