"""PDF path: from-scratch writer/reader roundtrip, string/operator
edge cases, row-level error surface through the Spark operator."""

import zlib

import pytest

from html5ever_elixir_spark.parser.pdf import (
    PdfError,
    extract_pdf_text,
    make_simple_pdf,
)


def test_roundtrip_multiline_multipage():
    lines = [f"line {i} of the corpus" for i in range(95)]
    text, n_pages = extract_pdf_text(make_simple_pdf(lines))
    assert text == "\n".join(lines)
    assert n_pages == 3  # 40 lines/page


def test_roundtrip_escapes():
    lines = ["parens ( inside ) text", "back\\slash", "tab\tand(nested (deep))"]
    text, _ = extract_pdf_text(make_simple_pdf(lines))
    assert text == "\n".join(lines)


def test_flate_payload_ending_in_eol_bytes():
    # regression: compressed data ending in 0x0a/0x0d must survive the
    # endstream boundary handling (rstrip would corrupt it)
    for i in range(200):
        lines = [f"doc variant {i} " * 3]
        text, _ = extract_pdf_text(make_simple_pdf(lines))
        assert text == lines[0]


def test_raw_operators_hex_tj_quote():
    content = (
        b"BT /F1 12 Tf 72 720 Td "
        b"[(kern) -120 (ed)] TJ "
        b"<48 6921> Tj "
        b"0 -14 Td (second) Tj "
        b"(third) ' "
        b"ET"
    )
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF"
    )
    text, n_pages = extract_pdf_text(pdf)
    # <48 6921> = "Hi!" (odd nibble padded with 0 -> 0x10? no: 48 69 21)
    assert text == "kernedHi!\nsecond\nthird"
    assert n_pages == 1


def test_octal_and_newline_escapes():
    content = rb"BT (\101\102\103 and \n newline \) done) Tj ET"
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n%%EOF"
    )
    text, _ = extract_pdf_text(pdf)
    assert text == "ABC and \n newline ) done"


def test_errors_are_typed():
    with pytest.raises(PdfError):
        extract_pdf_text(b"plain text")
    with pytest.raises(PdfError):
        extract_pdf_text(b"%PDF-1.4\nnothing here")
    with pytest.raises(PdfError):
        extract_pdf_text(b"%PDF-1.4\n/Encrypt 1 0 obj << >> endobj")
    # corrupt flate
    bad = make_simple_pdf(["x"]).replace(zlib.compress(b"BT\n/F1 12 Tf\n72 720 Td\n(x) Tj\nET"), b"\x00\x01")
    with pytest.raises(PdfError):
        extract_pdf_text(bad)


def test_spark_pdf_operator_error_rows(spark):
    import pyspark.sql.functions as F

    from html5ever_elixir_spark.operators.pdf import docs_to_pdfs, pdf_extract

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")],
        "doc_id long, text string",
    )
    pdfs = docs_to_pdfs(docs)
    # corrupt one payload
    broken = pdfs.withColumn(
        "pdf",
        F.when(F.col("doc_id") == 2, F.lit(b"%PDF-broken")).otherwise(
            F.col("pdf")
        ),
    )
    out = {r["doc_id"]: r for r in pdf_extract(broken).collect()}
    assert out[1]["error"] is None and out[1]["text"] == "alpha beta gamma"
    assert out[2]["error"] is not None and out[2]["text"] is None
    assert out[2]["n_bytes"] > 0


def test_stream_containing_endobj_literal():
    # /Length-guided scan must not truncate at binary 'endobj' bytes
    content = b"BT (before) Tj ET endobj trap BT (x) Tj ET"
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n%%EOF"
    )
    text, _ = extract_pdf_text(pdf)
    assert text == "before\nx"


def test_contents_array_multiple_streams():
    c1 = b"BT (part one) Tj ET"
    c2 = b"BT (part two) Tj ET"
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents [4 0 R 5 0 R] >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(c1)).encode() + b" >>\nstream\n"
        + c1 + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Length " + str(len(c2)).encode() + b" >>\nstream\n"
        + c2 + b"\nendstream\nendobj\n%%EOF"
    )
    text, n = extract_pdf_text(pdf)
    assert text == "part one\npart two"
    assert n == 2  # n_pages counts content streams (1:1 for our writer)


def test_non_latin1_text_roundtrips_via_utf16_hex():
    lines = ["curly ’ quote and 中文 text", "plain ascii"]
    text, _ = extract_pdf_text(make_simple_pdf(lines))
    assert text == "\n".join(lines)


def test_kids_cycle_is_error_not_hang():
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [2 0 R 2 0 R 2 0 R] /Count 1 >>\nendobj\n"
        b"%%EOF"
    )
    with pytest.raises(PdfError):  # no content streams found
        extract_pdf_text(pdf)


def test_indirect_length_not_misparsed():
    # '/Length 5 0 R' must not slice the stream to 5 bytes
    content = b"BT (complete text survives) Tj ET"
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 5 0 R >>\nstream\n" + content
        + b"\nendstream\nendobj\n"
        b"5 0 obj\n" + str(len(content)).encode() + b"\nendobj\n%%EOF"
    )
    text, _ = extract_pdf_text(pdf)
    assert text == "complete text survives"


def test_indirect_length_multidigit_objnum_not_misparsed():
    # '/Length 50 0 R': regex backtracking must not capture '5' as a
    # direct byte count (anchored digit run in _LENGTH_RE)
    content = b"BT (multi-digit ref object survives intact) Tj ET"
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 50 0 R >>\nstream\n" + content
        + b"\nendstream\nendobj\n"
        b"50 0 obj\n" + str(len(content)).encode() + b"\nendobj\n%%EOF"
    )
    text, _ = extract_pdf_text(pdf)
    assert text == "multi-digit ref object survives intact"


def test_incremental_update_last_definition_wins():
    base = make_simple_pdf(["old text"])
    c = b"BT (new text) Tj ET"
    update = (
        b"\n4 0 obj\n<< /Length " + str(len(c)).encode() + b" >>\nstream\n"
        + c + b"\nendstream\nendobj\n%%EOF"
    )
    text, _ = extract_pdf_text(base + update)
    assert text == "new text"


def test_backslash_eol_is_line_continuation():
    content = b"BT (first \\\npart) Tj ET"
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n%%EOF"
    )
    text, _ = extract_pdf_text(pdf)
    assert text == "first part"


# -- round 3: xref fast path + Flate predictors ------------------------------

def _png_filter(raw: bytes, columns: int, ftype: int) -> bytes:
    """Forward-apply a PNG row filter (Colors=1, BPC=8) for test input."""
    if len(raw) % columns:
        raw += b" " * (columns - len(raw) % columns)
    out = bytearray()
    prev = bytes(columns)
    for r in range(0, len(raw), columns):
        row = raw[r : r + columns]
        out.append(ftype)
        for j, b in enumerate(row):
            if ftype == 0:
                out.append(b)
            elif ftype == 1:  # sub
                out.append((b - (row[j - 1] if j else 0)) & 0xFF)
            elif ftype == 2:  # up
                out.append((b - prev[j]) & 0xFF)
        prev = row
    return bytes(out)


def _predictor_pdf(filtered: bytes, columns: int, predictor: int = 12) -> bytes:
    import zlib

    flate = zlib.compress(filtered)
    return (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(flate)).encode()
        + b" /Filter /FlateDecode /DecodeParms << /Predictor "
        + str(predictor).encode() + b" /Columns " + str(columns).encode()
        + b" >> >>\nstream\n" + flate + b"\nendstream\nendobj\n%%EOF"
    )


def test_xref_fast_path_used_and_equivalent():
    from html5ever_elixir_spark.parser.pdf import _objects, _objects_via_xref

    pdf = make_simple_pdf([f"line {i}" for i in range(50)])
    via_xref = _objects_via_xref(pdf)
    assert via_xref is not None  # the writer's table validates
    assert via_xref == _objects(pdf)


def test_corrupt_xref_offsets_fall_back_to_scan():
    from html5ever_elixir_spark.parser.pdf import _objects_via_xref

    pdf = bytearray(make_simple_pdf(["survives bad xref"]))
    at = pdf.index(b"xref\n")
    # clobber the first in-use entry's offset (points mid-file garbage)
    entry_at = pdf.index(b"0000000000 65535 f \n", at) + 20
    pdf[entry_at : entry_at + 10] = b"0000000003"
    assert _objects_via_xref(bytes(pdf)) is None
    text, _ = extract_pdf_text(bytes(pdf))
    assert text == "survives bad xref"


def test_xref_prev_chain_newest_generation_wins():
    # base file + proper incremental update: new object 4, new xref with
    # /Prev → fast path must resolve object 4 to the NEW definition
    from html5ever_elixir_spark.parser.pdf import _objects_via_xref

    base = make_simple_pdf(["old text"])
    old_xref_at = int(base.rsplit(b"startxref\n", 1)[1].split(b"\n")[0])
    c = b"BT (new text) Tj ET"
    update = bytearray(b"\n")
    obj_at = len(base) + len(update)
    update += (
        b"4 0 obj\n<< /Length " + str(len(c)).encode() + b" >>\nstream\n"
        + c + b"\nendstream\nendobj\n"
    )
    xref_at = len(base) + len(update)
    update += (
        b"xref\n4 1\n" + f"{obj_at:010d} 00000 n \n".encode()
        + b"trailer\n<< /Size 6 /Root 1 0 R /Prev "
        + str(old_xref_at).encode() + b" >>\nstartxref\n"
        + str(xref_at).encode() + b"\n%%EOF"
    )
    pdf = base + bytes(update)
    assert _objects_via_xref(pdf) is not None
    text, _ = extract_pdf_text(pdf)
    assert text == "new text"


@pytest.mark.parametrize("ftype", [0, 1, 2])
def test_png_predictor_roundtrip(ftype):
    content = b"BT (predictor text round trips exactly) Tj ET"
    pdf = _predictor_pdf(_png_filter(content, 10, ftype), 10)
    text, _ = extract_pdf_text(pdf)
    assert text == "predictor text round trips exactly"


def test_tiff_predictor_roundtrip():
    content = b"BT (tiff differenced) Tj ET"
    cols = len(content)  # one row, Colors=1 → horizontal differencing
    diffed = bytearray(content)
    for i in range(len(diffed) - 1, 0, -1):
        diffed[i] = (diffed[i] - diffed[i - 1]) & 0xFF
    pdf = _predictor_pdf(bytes(diffed), cols, predictor=2)
    text, _ = extract_pdf_text(pdf)
    assert text == "tiff differenced"


def test_truncated_predictor_row_is_error():
    filtered = _png_filter(b"BT (x) Tj ET", 10, 2)[:-3]  # cut mid-row
    with pytest.raises(PdfError):
        extract_pdf_text(_predictor_pdf(filtered, 10))


# -- PDF 1.5: xref streams + object streams ----------------------------------

def test_objstm_roundtrip_with_and_without_predictor():
    from html5ever_elixir_spark.parser.pdf import (
        _objects_via_xref,
        make_objstm_pdf,
    )

    lines = ["modern layout line one", "and line two"]
    for pred in (12, 1):
        pdf = make_objstm_pdf(lines, predictor=pred)
        # resolved through the xref-stream fast path, incl. type-2 rows
        assert sorted(_objects_via_xref(pdf)) == [1, 2, 3, 4, 5, 6]
        text, n = extract_pdf_text(pdf)
        assert text == "\n".join(lines) and n == 1


def test_hybrid_xrefstm_from_classic_trailer():
    # classic table whose trailer carries /XRefStm → the stream's
    # type-2 entries must be honored (ISO 32000-1 §7.5.8.4)
    from html5ever_elixir_spark.parser.pdf import make_objstm_pdf

    base = make_objstm_pdf(["hybrid reference file"])
    xref_stream_at = int(base.rsplit(b"startxref\n", 1)[1].split(b"\n")[0])
    body = base.rsplit(b"startxref\n", 1)[0]
    classic_at = len(body)
    pdf = (
        body + b"xref\n0 1\n0000000000 65535 f \n"
        b"trailer\n<< /Size 7 /Root 1 0 R /XRefStm "
        + str(xref_stream_at).encode() + b" >>\nstartxref\n"
        + str(classic_at).encode() + b"\n%%EOF"
    )
    text, _ = extract_pdf_text(pdf)
    assert text == "hybrid reference file"


def test_objstm_incremental_update_prev_chain():
    # modern incremental update: new content obj + new xref stream with
    # /Prev to the original → newest generation wins across the chain
    import zlib as _z

    from html5ever_elixir_spark.parser.pdf import make_objstm_pdf

    base = make_objstm_pdf(["original text"])
    old_xref_at = int(base.rsplit(b"startxref\n", 1)[1].split(b"\n")[0])
    c = _z.compress(b"BT (updated text) Tj ET")
    update = bytearray(b"\n")
    obj_at = len(base) + len(update)
    update += (
        b"4 0 obj\n<< /Length " + str(len(c)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + c + b"\nendstream\nendobj\n"
    )
    xref_at = len(base) + len(update)
    rows = b"".join(
        bytes([1]) + n.to_bytes(4, "big") + b"\x00" for n in (obj_at, xref_at)
    )
    payload = _z.compress(rows)
    update += (
        b"7 0 obj\n<< /Type /XRef /Size 8 /Index [4 1 7 1] /W [1 4 1] "
        b"/Root 1 0 R /Prev " + str(old_xref_at).encode()
        + b" /Length " + str(len(payload)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + payload
        + b"\nendstream\nendobj\nstartxref\n" + str(xref_at).encode()
        + b"\n%%EOF"
    )
    text, _ = extract_pdf_text(base + bytes(update))
    assert text == "updated text"


def test_corrupt_xref_stream_falls_back_to_scan():
    # clobber the xref stream payload: the fast path must give up and
    # the scan still salvages the uncompressed content stream
    from html5ever_elixir_spark.parser.pdf import (
        _objects_via_xref,
        make_objstm_pdf,
    )

    pdf = bytearray(make_objstm_pdf(["salvageable content"]))
    at = pdf.index(b"6 0 obj")
    st = pdf.index(b"stream\n", at) + 7
    pdf[st : st + 6] = b"\x00" * 6
    assert _objects_via_xref(bytes(pdf)) is None
    text, _ = extract_pdf_text(bytes(pdf))
    assert text == "salvageable content"


def test_fuzz_corruption_never_escapes_error_contract():
    # any truncation / byte clobber must yield (text, n) or PdfError —
    # never IndexError/KeyError/zlib.error/etc.
    import random

    from html5ever_elixir_spark.parser.pdf import make_objstm_pdf

    rng = random.Random(42)
    bases = [
        make_simple_pdf([f"line {i}" for i in range(10)]),
        make_objstm_pdf(["objstm doc", "second line"]),
    ]
    for base in bases:
        for trial in range(150):
            buf = bytearray(base)
            mode = trial % 3
            if mode == 0:
                buf = buf[: rng.randrange(1, len(buf))]
            elif mode == 1:
                for _ in range(rng.randrange(1, 6)):
                    buf[rng.randrange(len(buf))] = rng.randrange(256)
            else:
                at = rng.randrange(len(buf))
                del buf[at : at + rng.randrange(1, 40)]
            try:
                extract_pdf_text(bytes(buf))
            except PdfError:
                pass


@pytest.mark.parametrize("writer", ["rc4", "aes", "aes256"])
@pytest.mark.parametrize("stream", [
    b"stream\nBT (kept as is) Tj ET\n",  # no /Length, no endstream
    b"stream BT (x) Tj ET endstream\n",  # keyword only inside endstream
], ids=["no_length_no_endstream", "keyword_in_endstream"])
def test_encrypt_leaves_payloadless_stream_as_the_reader_does(
        writer, stream):
    # the decryptor finds no payload span in these streams and leaves
    # them alone, so every writer must too
    from html5ever_elixir_spark.parser import pdf

    plain = (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< >>\n" + stream + b"endobj\n"
    )
    enc = getattr(pdf, f"encrypt_pdf_{writer}")(plain)
    assert enc[: len(plain)] == plain
    assert extract_pdf_text(enc) == extract_pdf_text(plain)
