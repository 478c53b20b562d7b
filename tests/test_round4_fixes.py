"""Round-4 regression tests for the r3 ADVICE items and verdict asks:
NULL-safe incremental-dedup oracle (NOT EXISTS), PNM whitespace-after-
maxval validation, balanced DecodeParms extraction with nested dicts,
and the size-gated decontaminate broadcast (AQE still broadcasts small
manifests without the forced hint)."""

import zlib

import duckdb
import pytest


# -- incremental dedup: NULL-text rows must not poison the oracle -----------

def test_incremental_oracle_null_text_matches_spark(spark):
    from html5ever_elixir_spark.operators.dedup import (
        incremental_dedup,
        oracle_incremental_dedup_sql,
    )

    # seen = doc_id % 5 == 0 (includes a NULL text); new = the rest
    # (includes two NULL-text rows and one text already seen)
    rows = [
        (0, None, "en", "web", 0),          # seen, NULL
        (5, "alpha beta", "en", "web", 10),  # seen
        (1, "alpha beta", "en", "web", 10),  # new, dup of seen → dropped
        (2, "gamma delta", "en", "web", 11),  # new, fresh → kept
        (3, None, "en", "web", 0),           # new, NULL → kept (min id)
        (4, None, "en", "web", 0),           # new, NULL dup-in-batch → dropped
        (6, "gamma delta", "en", "web", 11),  # new, dup-in-batch → dropped
    ]
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    docs = spark.createDataFrame(rows, schema)
    got = {
        r.doc_id
        for r in incremental_dedup(
            docs.where("doc_id % 5 <> 0"), docs.where("doc_id % 5 = 0")
        ).collect()
    }
    assert got == {2, 3}

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", rows)
    oracle = {
        r[0] for r in con.execute(oracle_incremental_dedup_sql()).fetchall()
    }
    assert oracle == got  # NOT IN would have returned set() here


# -- PNM: byte after maxval must be whitespace; CRLF writers tolerated ------

def _p5(header_sep: bytes, w: int = 2, h: int = 2, trailing: bytes = b"") -> bytes:
    return b"P5 " + f"{w} {h} 255".encode() + header_sep + bytes(range(w * h)) + trailing


def test_pnm_lf_after_maxval_decodes(spark=None):
    from html5ever_elixir_spark.operators.multimodal import _decode_raster

    w, h, px = _decode_raster(_p5(b"\n"))
    assert (w, h) == (2, 2) and px == [0, 1, 2, 3]


def test_pnm_crlf_after_maxval_decodes_unshifted():
    # non-spec CRLF writer: consuming both bytes makes the remaining
    # length exactly match the pixel count → unambiguous, decode clean
    from html5ever_elixir_spark.operators.multimodal import _decode_raster

    w, h, px = _decode_raster(_p5(b"\r\n"))
    assert (w, h) == (2, 2) and px == [0, 1, 2, 3]


def test_pnm_cr_only_with_exact_payload_still_decodes():
    from html5ever_elixir_spark.operators.multimodal import _decode_raster

    w, h, px = _decode_raster(_p5(b"\r"))
    assert px == [0, 1, 2, 3]


def test_pnm_header_ending_at_eof_is_corrupt_not_shifted():
    from html5ever_elixir_spark.operators.multimodal import (
        CorruptRasterError,
        _decode_raster,
    )

    with pytest.raises(CorruptRasterError):
        _decode_raster(b"P5 2 2 255")  # nothing after maxval


def test_pnm_ambiguous_crlf_with_trailing_data_not_eaten():
    # CRLF but remaining length does NOT match need after eating the LF:
    # the LF must be treated as the first pixel byte (value 10), spec rules
    from html5ever_elixir_spark.operators.multimodal import _decode_raster

    payload = b"P5 2 2 255\r" + b"\n" + bytes([1, 2, 3]) + b"xx"
    w, h, px = _decode_raster(payload)
    assert px == [10, 1, 2, 3]


# -- PDF: DecodeParms with a nested dict keeps the predictor keys -----------

def _nested_parms_pdf(content: bytes, columns: int) -> bytes:
    from tests.test_pdf import _png_filter

    flate = zlib.compress(_png_filter(content, columns, 2))
    return (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(flate)).encode()
        + b" /Filter /FlateDecode /DecodeParms << /Nested << /A 1 >> "
        b"/Predictor 12 /Columns " + str(columns).encode()
        + b" >> >>\nstream\n" + flate + b"\nendstream\nendobj\n%%EOF"
    )


def test_decodeparms_nested_dict_predictor_still_applied():
    # the old non-greedy regex stopped at the nested dict's ">>" and
    # silently skipped the predictor → garbled text; balanced scan fixes it
    from html5ever_elixir_spark.parser.pdf import extract_pdf_text

    text, n_pages = extract_pdf_text(
        _nested_parms_pdf(b"BT (nested parms ok) Tj ET", 10)
    )
    assert text == "nested parms ok" and n_pages == 1


def test_decodeparms_unterminated_raises_typed_error():
    from html5ever_elixir_spark.parser.pdf import PdfError, _extract_parms

    with pytest.raises(PdfError):
        _extract_parms(b"/DecodeParms << /Predictor 12 /Columns 4 ")


def test_extract_parms_balances_nested():
    from html5ever_elixir_spark.parser.pdf import _extract_parms

    parms = _extract_parms(
        b"/Filter /FlateDecode /DecodeParms << /N << /A 1 >> /Predictor 12 >>"
    )
    assert b"/Predictor 12" in parms and b"/A 1" in parms


# -- decontaminate: un-hinted plan still broadcasts small manifests via AQE --

def test_decontaminate_unhinted_aqe_broadcasts_small_manifest(spark):
    from html5ever_elixir_spark.operators.dedup import decontaminate

    words = "the quick brown fox jumps over the lazy dog again and again ok"
    docs = spark.createDataFrame(
        [(i, words + f" doc {i}") for i in range(40)], "doc_id bigint, text string"
    )
    bench = spark.createDataFrame([(0, words)], "doc_id bigint, text string")
    out = decontaminate(docs, bench)  # no broadcast hint
    rows = out.collect()
    assert len(rows) == 40 and all(r.contaminated for r in rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


# -- pack_sequences strict mode: hard seq_len budget ------------------------

def test_pack_strict_opens_new_sequence_on_overflow(spark):
    from html5ever_elixir_spark.operators.textstats import pack_sequences

    chunks = spark.createDataFrame(
        [(0, i, f"c{i}", 30) for i in range(3)],
        "doc_id bigint, chunk_idx bigint, chunk_text string, n_chunk_words bigint",
    )
    greedy = {(r.seq_id, r.n_chunks, r.n_words)
              for r in pack_sequences(chunks, seq_len=40).collect()}
    strict = {(r.seq_id, r.n_chunks, r.n_words)
              for r in pack_sequences(chunks, seq_len=40, strict=True).collect()}
    # greedy floor(prev/40): chunk1 lands in seq 0 → 60-word overflow
    assert greedy == {(0, 2, 60), (1, 1, 30)}
    # strict: every chunk would overflow → one sequence per chunk
    assert strict == {(0, 1, 30), (1, 1, 30), (2, 1, 30)}


def test_pack_strict_oversized_chunk_gets_own_sequence(spark):
    from html5ever_elixir_spark.operators.textstats import pack_sequences

    chunks = spark.createDataFrame(
        [(7, 0, "big", 50), (7, 1, "small", 10), (7, 2, "small2", 20)],
        "doc_id bigint, chunk_idx bigint, chunk_text string, n_chunk_words bigint",
    )
    strict = {(r.seq_id, r.n_chunks, r.n_words)
              for r in pack_sequences(chunks, seq_len=40, strict=True).collect()}
    assert strict == {(0, 1, 50), (1, 2, 30)}


def test_pack_strict_budget_holds_on_corpus(spark):
    # property over real sf data: no multi-chunk sequence exceeds seq_len
    from html5ever_elixir_spark.operators.textstats import (
        chunk_documents,
        pack_sequences,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    chunks = chunk_documents(docs, chunk_words=20, overlap=5)
    out = pack_sequences(chunks, seq_len=40, strict=True)
    bad = out.where("n_words > 40 AND n_chunks > 1").count()
    assert bad == 0


# -- PNG: pure-Python decode (zlib + unfilter), the dominant web format ------

def _make_png(w, h, pixels, color_type, filters=None):
    """Minimal PNG encoder for tests: 8-bit, forward-applies the given
    per-row filter types (defaults to all-0/None)."""
    import struct

    nchan = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    filters = filters or [0] * h
    rowlen = w * nchan

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    raw = bytearray()
    prev = bytearray(rowlen)
    flat = bytes(pixels)
    assert len(flat) == rowlen * h
    for r in range(h):
        row = bytearray(flat[r * rowlen : (r + 1) * rowlen])
        ft = filters[r]
        out = bytearray(row)
        if ft == 1:
            for j in range(rowlen - 1, nchan - 1, -1):
                out[j] = (row[j] - row[j - nchan]) & 0xFF
        elif ft == 2:
            for j in range(rowlen):
                out[j] = (row[j] - prev[j]) & 0xFF
        elif ft == 3:
            for j in range(rowlen):
                left = row[j - nchan] if j >= nchan else 0
                out[j] = (row[j] - ((left + prev[j]) >> 1)) & 0xFF
        elif ft == 4:
            for j in range(rowlen):
                a = row[j - nchan] if j >= nchan else 0
                b, c = prev[j], (prev[j - nchan] if j >= nchan else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else b if pb <= pc else c
                out[j] = (row[j] - pr) & 0xFF
        raw += bytes([ft]) + out
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def test_png_gray_all_filter_types_roundtrip():
    from html5ever_elixir_spark.operators.multimodal import _decode_raster

    w, h = 6, 5
    pixels = [(x * 37 + y * 11) % 256 for y in range(h) for x in range(w)]
    for filters in ([0] * h, [1] * h, [2] * h, [3] * h, [4] * h, [0, 1, 2, 3, 4]):
        png = _make_png(w, h, pixels, 0, filters)
        got = _decode_raster(png)
        assert got == (w, h, pixels), f"filters={filters}"


def test_png_rgb_rgba_and_gray_alpha_luma():
    from html5ever_elixir_spark.operators.multimodal import _decode_raster

    # one pixel (r,g,b) = (40, 0, 10) → BT.601 luma as in the PNM branch
    rgb = _make_png(1, 1, [40, 0, 10], 2, [4])
    assert _decode_raster(rgb)[2] == [(40 * 299 + 0 * 587 + 10 * 114) // 1000]
    rgba = _make_png(1, 1, [40, 0, 10, 255], 6, [1])
    assert _decode_raster(rgba)[2] == _decode_raster(rgb)[2]  # alpha ignored
    ga = _make_png(2, 1, [7, 255, 9, 0], 4)
    assert _decode_raster(ga)[2] == [7, 9]


def test_png_same_image_as_ppm_same_features():
    from tests.test_round3_fixes import _make_ppm
    from html5ever_elixir_spark.operators.multimodal import _decode_image

    rgb_fn = lambda x, y: ((x * 40) % 256, (y * 60) % 256, (x + y) * 10 % 256)
    w, h = 5, 3
    flat = [c for y in range(h) for x in range(w) for c in rgb_fn(x, y)]
    png = _make_png(w, h, flat, 2, [2] * h)
    assert _decode_image(png) == _decode_image(_make_ppm(w, h, rgb_fn))


def test_png_corrupt_variants_are_row_errors():
    from html5ever_elixir_spark.operators.multimodal import (
        CorruptRasterError,
        _decode_image,
    )
    import struct

    good = _make_png(4, 4, list(range(16)), 0)
    # flipped CRC byte
    bad_crc = bytearray(good)
    bad_crc[-5] ^= 0xFF
    with pytest.raises(CorruptRasterError):
        _decode_image(bytes(bad_crc))
    # truncated IDAT
    with pytest.raises(CorruptRasterError):
        _decode_image(good[:-20])
    # interlace flag flipped on sequential data (r6: Adam7 is now
    # SUPPORTED, so this fails as a pass-layout length mismatch — still
    # a typed error, never garbage)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 1)
    interlaced = (b"\x89PNG\r\n\x1a\n"
                  + struct.pack(">I", 13) + b"IHDR" + ihdr
                  + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF))
    with pytest.raises(CorruptRasterError):
        _decode_image(interlaced + good[8 + 25:])
    # 16-bit gray is now SUPPORTED (r6, high-byte downsample): the
    # 1x1 sample 0x0000 decodes to pixel 0
    from html5ever_elixir_spark.operators.multimodal import _decode_raster

    assert _decode_raster(_make_png_depth16()) == (1, 1, [0])
    # 16-bit PALETTED is not a thing (spec forbids) → typed error
    with pytest.raises(CorruptRasterError):
        _decode_image(_make_png_depth16(color=3))


def _make_png_depth16(color=0):
    import struct

    ihdr = struct.pack(">IIBBBBB", 1, 1, 16, color, 0, 0, 0)
    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
            + chunk(b"IEND", b""))


def test_png_zlib_bomb_geometry_rejected():
    from html5ever_elixir_spark.operators.multimodal import (
        CorruptRasterError,
        _decode_raster,
    )
    import struct

    # absurd IHDR geometry must be rejected BEFORE any inflate allocation
    ihdr = struct.pack(">IIBBBBB", 1 << 24, 1 << 24, 8, 6, 0, 0, 0)
    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))
    bomb = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00" * 1024))
            + chunk(b"IEND", b""))
    with pytest.raises(CorruptRasterError):
        _decode_raster(bomb)


def test_png_through_spark_media_features(spark):
    from html5ever_elixir_spark.operators.multimodal import (
        extract_media_features,
    )

    good = _make_png(6, 4, [(x + y) % 256 for _ in range(1)
                            for y in range(4) for x in range(6)], 0)
    bad = bytearray(good)
    bad[-5] ^= 0xFF
    media = spark.createDataFrame(
        [(0, "image", bytearray(good), (6, 4, "image/png")),
         (1, "image", bytes(bad), (6, 4, "image/png"))],
        "media_id bigint, kind string, payload binary, "
        "meta struct<width:int, height:int, mime:string>",
    )
    out = {r.media_id: r for r in extract_media_features(media).collect()}
    assert out[0].decode_error is None and len(out[0].feature) == 8
    assert out[1].decode_error is not None and out[1].feature is None


def test_png_paletted_decodes_via_plte_luma():
    import struct

    from html5ever_elixir_spark.operators.multimodal import (
        CorruptRasterError,
        _decode_raster,
    )

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    # palette: idx0=(40,0,10), idx1=(255,255,255)
    plte = bytes([40, 0, 10, 255, 255, 255])
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)
    raw = bytes([0, 0, 1])  # filter 0, pixels idx0 idx1
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    w, h, px = _decode_raster(png)
    assert (w, h) == (2, 1)
    assert px == [(40 * 299 + 0 * 587 + 10 * 114) // 1000, 255]

    # missing PLTE → typed error
    no_plte = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    with pytest.raises(CorruptRasterError):
        _decode_raster(no_plte)

    # out-of-range palette index → typed error
    bad_idx = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
               + chunk(b"IDAT", zlib.compress(bytes([0, 7, 1])))
               + chunk(b"IEND", b""))
    with pytest.raises(CorruptRasterError):
        _decode_raster(bad_idx)


# -- bloom-manifest incremental dedup ---------------------------------------

def test_bloom_incremental_semantics_and_oracle(spark):
    from html5ever_elixir_spark.operators.dedup import (
        bloom_incremental,
        bloom_manifest,
        oracle_bloom_incremental_sql,
    )

    rows = [
        (0, "shared text one", "en", "web", 10),     # seen
        (5, "shared text two", "en", "web", 10),     # seen
        (10, None, "en", "web", 0),                  # seen, NULL
        (1, "shared text one", "en", "web", 10),     # new, dup → possibly_seen
        (2, "totally fresh text", "en", "web", 12),  # new → definitely new
        (3, None, "en", "web", 0),                   # new, NULL → n_pos 0
        (4, "shared text two", "en", "web", 10),     # new, dup → possibly_seen
    ]
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    docs = spark.createDataFrame(rows, schema)
    new = docs.where("doc_id % 5 <> 0")
    seen = docs.where("doc_id % 5 = 0")
    got = {r.doc_id: r for r in bloom_incremental(new, seen).collect()}
    # no false negatives: every truly-seen text flags possibly_seen
    assert got[1].possibly_seen and got[4].possibly_seen
    assert not got[2].possibly_seen  # fresh (fp prob ~ (nk/m)^k, ~1e-19 here)
    assert got[3].n_pos == 0 and not got[3].possibly_seen
    assert all(r.n_hit <= r.n_pos <= 4 for r in got.values())

    # precomputed-manifest path gives the identical answer
    man = bloom_manifest(seen)
    got2 = {r.doc_id: (r.n_pos, r.n_hit, r.possibly_seen)
            for r in bloom_incremental(new, man).collect()}
    assert got2 == {k: (r.n_pos, r.n_hit, r.possibly_seen)
                    for k, r in got.items()}

    # DuckDB oracle agreement on the same rows
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", rows)
    oracle = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(oracle_bloom_incremental_sql()).fetchall()
    }
    assert oracle == {k: (r.n_pos, r.n_hit, bool(r.possibly_seen))
                      for k, r in got.items()}


def test_bloom_manifest_bounded_at_m(spark):
    from html5ever_elixir_spark.operators.dedup import bloom_manifest

    docs = spark.createDataFrame(
        [(i, f"doc number {i} body") for i in range(200)],
        "doc_id bigint, text string",
    )
    m = 64  # tiny filter: 200 docs x 4 positions must saturate below m
    man = bloom_manifest(docs, k=4, m=m)
    n = man.count()
    assert n <= m
    assert man.where(f"bloom_pos < 0 OR bloom_pos >= {m}").count() == 0


# -- embedding near-dup clustering: CC over the pair graph ------------------

def test_neardup_clusters_match_union_find(spark):
    from html5ever_elixir_spark.operators.similarity import (
        neardup_clusters,
        neardup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pairs = neardup_pairs(emb, threshold=0.35).collect()
    got = {r.vec_id: r.cluster_id
           for r in neardup_clusters(emb, threshold=0.35, max_iter=4).collect()}

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for r in pairs:
        union(r.id_a, r.id_b)
    expected = {v: find(v) for v in got}
    # canonical rep per component = min id; union-find min-root by
    # construction (always parent to the smaller root)
    assert got == expected
    # pairless vectors label themselves
    in_pairs = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert all(got[v] == v for v in got if v not in in_pairs)


# -- plan audits for the round-4 operators ----------------------------------

def test_pack_strict_plan_single_shuffle(spark):
    from html5ever_elixir_spark.operators.textstats import (
        chunk_documents,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(i, "w " * 100) for i in range(50)], "doc_id bigint, text string"
    )
    out = pack_sequences(chunk_documents(docs, 20, 5), seq_len=40, strict=True)
    out.collect()
    # AdaptiveSparkPlan.toString echoes the pre-AQE plan under
    # "== Initial Plan ==" — count exchanges in the FINAL plan only
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # one groupBy-doc exchange; per-seq rollup is row-local (no window,
    # no second shuffle)
    assert final.count("Exchange hashpartitioning") == 1, final
    assert "Window" not in final, final


def test_bloom_incremental_plan_broadcasts_manifest(spark):
    from html5ever_elixir_spark.operators.dedup import bloom_incremental

    docs = spark.createDataFrame(
        [(i, f"text body {i}") for i in range(60)], "doc_id bigint, text string"
    )
    out = bloom_incremental(
        docs.where("doc_id % 5 <> 0"), docs.where("doc_id % 5 = 0")
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the <= m-row manifest side must broadcast (AQE from runtime stats)
    assert "BroadcastHashJoin" in plan, plan


# -- corpus-level boilerplate line removal ----------------------------------

def test_remove_boilerplate_lines_semantics(spark):
    from html5ever_elixir_spark.operators.dedup import remove_boilerplate_lines

    rows = [
        (0, "COOKIE BANNER\nreal content zero\nCOOKIE BANNER"),
        (1, "COOKIE BANNER\nreal content one"),
        (2, "COOKIE BANNER\nreal content two\nrare footer"),
        (3, "COOKIE BANNER"),            # all-boilerplate doc
        (4, None),                        # null text
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in
           remove_boilerplate_lines(docs, min_docs=3).collect()}
    assert got[0].text_clean == "real content zero"
    assert got[0].n_lines_removed == 2  # both occurrences stripped
    assert got[1].text_clean == "real content one"
    # rare footer (1 doc) survives, order preserved
    assert got[2].text_clean == "real content two\nrare footer"
    assert got[3].text_clean == "" and got[3].n_lines_kept == 0
    assert got[4].text_clean == "" and got[4].n_lines_removed == 0


def test_normalized_exact_dedup_collapses_variants(spark):
    from html5ever_elixir_spark.operators.dedup import normalized_exact_dedup

    docs = spark.createDataFrame(
        [(0, "Hello, World!"), (1, "hello   world"), (2, "HELLO-WORLD"),
         (3, "a different doc")],
        "doc_id bigint, text string",
    )
    got = {r.keep_id: r.group_size
           for r in normalized_exact_dedup(docs).collect()}
    assert got == {0: 3, 3: 1}


def test_fuzz_png_corruption_error_contract():
    # byte flips / truncation on a valid PNG must produce a decode or a
    # typed error (CorruptRasterError or unrecognized-magic ValueError)
    # — never IndexError/struct.error/zlib.error escapes
    import random

    from html5ever_elixir_spark.operators.multimodal import _decode_raster

    base = _make_png(6, 5, [(x * 7 + y) % 256 for y in range(5)
                            for x in range(6)], 0, [4] * 5)
    rng = random.Random(11)
    for trial in range(200):
        buf = bytearray(base)
        mode = trial % 3
        if mode == 0:
            buf = buf[: rng.randrange(1, len(buf))]
        elif mode == 1:
            for _ in range(rng.randrange(1, 5)):
                buf[rng.randrange(len(buf))] = rng.randrange(256)
        else:
            at = rng.randrange(len(buf))
            del buf[at : at + rng.randrange(1, 20)]
        try:
            w, h, px = _decode_raster(bytes(buf))
            assert len(px) == w * h
        except ValueError:
            pass  # CorruptRasterError is a ValueError subclass


# -- temperature-based source mixing ----------------------------------------

def test_temperature_mix_flattens_sources(spark):
    from html5ever_elixir_spark.operators.sampling import temperature_mix

    # 900 docs from "big", 100 from "small": T=2 must keep a HIGHER
    # fraction of the small source than the big one
    docs = spark.createDataFrame(
        [(i, "big" if i < 900 else "small") for i in range(1000)],
        "doc_id bigint, source string",
    )
    out = temperature_mix(docs, temperature=2.0, target_frac=0.4)
    kept = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    big_rate = kept.get("big", 0) / 900
    small_rate = kept.get("small", 0) / 100
    assert small_rate > big_rate
    # target_frac is approximately honored overall (hash-gate variance)
    total = sum(kept.values())
    assert 0.25 < total / 1000 < 0.55
    # layout independence: repartitioned input keeps the SAME doc ids
    ids_a = {r.doc_id for r in out.collect()}
    ids_b = {r.doc_id for r in
             temperature_mix(docs.repartition(13), temperature=2.0,
                             target_frac=0.4).collect()}
    assert ids_a == ids_b


def test_temperature_one_preserves_proportions(spark):
    from html5ever_elixir_spark.operators.sampling import temperature_mix

    docs = spark.createDataFrame(
        [(i, "a" if i % 4 else "b") for i in range(800)],
        "doc_id bigint, source string",
    )
    # T=1: q_s = p_s → every source rate = target_frac exactly
    out = temperature_mix(docs, temperature=1.0, target_frac=0.5)
    kept = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    for src, n_in in (("a", 600), ("b", 200)):
        assert abs(kept.get(src, 0) / n_in - 0.5) < 0.12


def test_scrub_pii_semantics(spark):
    from html5ever_elixir_spark.operators.textstats import scrub_pii

    docs = spark.createDataFrame(
        [(0, "mail a.b+c@test.org and 10.1.2.3 then +44 20 7946 0958 end"),
         (1, "no pii here"),
         (2, "two mails x@y.io z@w.dev")],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in scrub_pii(docs).collect()}
    assert got[0].text_scrubbed == "mail [EMAIL] and [IP] then [PHONE] end"
    assert (got[0].n_emails, got[0].n_ips, got[0].n_phones) == (1, 1, 1)
    assert got[1].text_scrubbed == "no pii here" and got[1].n_emails == 0
    assert got[2].n_emails == 2 and "[EMAIL]" in got[2].text_scrubbed


def test_boilerplate_unhinted_plan_broadcasts_small_manifest(spark):
    from html5ever_elixir_spark.operators.dedup import remove_boilerplate_lines

    docs = spark.createDataFrame(
        [(i, f"SHARED HEADER\nbody {i}") for i in range(40)],
        "doc_id bigint, text string",
    )
    out = remove_boilerplate_lines(docs, min_docs=30)  # no hint
    rows = out.collect()
    assert all("SHARED HEADER" not in r.text_clean for r in rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
