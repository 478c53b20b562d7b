"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark-side plumbing (schemas, one :func:`~.map_rows` stage per
transform, partitioning) is real and tested. Decode has three tiers:
a REAL pure-Python decoder for uncompressed rasters (P5/P6 PNM and
24-bit BI_RGB BMP — executes and is tested in this sandbox), PIL for
everything else when installed, and a deterministic byte-histogram
stub as the last resort so pipelines never need media libraries to
exercise the plumbing. Corrupt payloads in a RECOGNIZED format are
row-level decode errors, never silently stubbed.
"""

from __future__ import annotations

import hashlib
import zlib

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..parser.pdf import _png_unfilter
from . import map_rows
from .dedup import DEFAULT_MAX_BUCKET

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, "
    "meta struct<width:int, height:int, mime:string>"
)

# the columns after (media_id, kind) of extract_media_features
FEATURES_SCHEMA = pa.schema([
    ("n_bytes", pa.int64()), ("sha256", pa.string()),
    # double, not float: the media_raster_features driver gate compares
    # feature values against DuckDB float64 arithmetic — float32 would
    # quantize before the shared SQL rounding and hash-mismatch
    ("feature", pa.list_(pa.float64())), ("decode_error", pa.string()),
])

# the column after media_id of the synthetic media corpora
PAYLOAD_SCHEMA = pa.schema([("payload", pa.binary())])


try:  # real decoder when the runtime has PIL; sandbox does not
    from PIL import Image  # type: ignore

    _HAS_PIL = True
except ImportError:
    Image = None
    _HAS_PIL = False


def _decode_image_stub(payload: bytes, n_dims: int = 8) -> list[float]:
    """Deterministic fake 'embedding': byte-histogram folded to n_dims.
    Used when PIL is unavailable (this sandbox); raising
    NotImplementedError per modality is also acceptable upstream."""
    if payload is None:
        raise ValueError("null payload")
    acc = [0] * n_dims
    for i, b in enumerate(payload):
        acc[i % n_dims] += b
    total = max(sum(acc), 1)
    return [round(a / total, 6) for a in acc]


class CorruptMediaError(ValueError):
    """Recognized media magic but unparseable body: a row-level decode
    error (must NOT fall through to the stub — silent fake features for
    a corrupt payload are worse than an error column)."""


class CorruptRasterError(CorruptMediaError):
    """Recognized raster magic, unparseable body."""


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# pixel-count cap for untrusted web payloads: a crafted IHDR + zlib bomb
# must not allocate unbounded memory inside an executor (128 Mpx-channel)
_PNG_MAX_SAMPLES = 1 << 27


def _decode_png(payload: bytes) -> tuple[int, int, list[int]]:
    """Pure-Python PNG decode (stdlib only): chunk walk with CRC
    verification, concatenated-IDAT zlib inflate, per-scanline unfilter
    (types 0-4 — the row kernel parser/pdf.py applies for PNG
    predictors), 8-bit gray / gray+alpha / RGB / RGBA / paletted
    (PLTE). Adam7-interlaced images are deinterlaced (per-pass
    unfiltering — each pass is its own filtered sub-image); 16-bit
    depths decode via high-byte downsample (r6); other depths raise
    CorruptRasterError (recognized magic, unsupported body — a
    row-level error, never stub features). Returns (w, h, grayscale
    via BT.601 integer luma, alpha ignored)."""
    import struct

    pos, n = 8, len(payload)
    ihdr = None
    idat = bytearray()
    plte: bytes | None = None
    while pos + 12 <= n:
        (clen,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + clen]
        if len(body) < clen or pos + 12 + clen > n:
            raise CorruptRasterError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + clen)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise CorruptRasterError(f"PNG CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            if clen != 13:
                raise CorruptRasterError("bad IHDR length")
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            if clen == 0 or clen % 3:
                raise CorruptRasterError("bad PLTE length")
            plte = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None or not idat:
        raise CorruptRasterError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if interlace not in (0, 1):
        raise CorruptRasterError(f"PNG interlace method {interlace}")
    if comp or filt:
        raise CorruptRasterError(f"PNG compression/filter method {comp}/{filt}")
    if depth not in (8, 16) or (depth == 16 and color == 3):
        raise CorruptRasterError(f"PNG bit depth {depth} unsupported")
    nchan = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if nchan is None:
        raise CorruptRasterError(f"PNG color type {color} unsupported")
    # 16-bit: unfilter at 2 bytes/sample, then keep the high byte per
    # sample (the standard 16→8 downsample for a featurizer)
    sampw = depth // 8
    bypp = nchan * sampw
    palette: list[int] | None = None
    if color == 3:
        if plte is None:
            raise CorruptRasterError("paletted PNG missing PLTE")
        # pre-resolve each palette index to its BT.601 luma
        palette = [
            (plte[k] * 299 + plte[k + 1] * 587 + plte[k + 2] * 114) // 1000
            for k in range(0, len(plte), 3)
        ]
    # bound decoded BYTES (w*h*nchan*sampw), not samples: a 16-bit image
    # would otherwise allocate ~2x the intended cap before inflate
    if w <= 0 or h <= 0 or w * h * bypp > _PNG_MAX_SAMPLES:
        raise CorruptRasterError(f"PNG geometry {w}x{h}x{nchan} out of bounds")
    if interlace:
        # Adam7: total bytes = Σ passes of ph*(pw*bypp + 1)
        want = sum(
            ph * (pw * bypp + 1)
            for pw, ph in (_adam7_dims(w, h, p) for p in range(7))
            if pw and ph
        )
    else:
        want = h * (w * bypp + 1)
    d = zlib.decompressobj()
    try:
        raw = d.decompress(bytes(idat), want)
    except zlib.error as e:
        raise CorruptRasterError(f"PNG inflate failed: {e}") from None
    if len(raw) != want or not (d.eof or d.flush(1) == b""):
        raise CorruptRasterError("PNG pixel data length mismatch")
    if not interlace:
        px: list[int] = []
        for row in _png_unfilter_rows(raw, 0, w, h, bypp):
            px.extend(_png_row_luma(row, nchan, palette, sampw))
        return w, h, px
    # Adam7 deinterlace: each pass is its own filtered sub-image
    grid = [0] * (w * h)
    off = 0
    for p in range(7):
        pw, ph = _adam7_dims(w, h, p)
        if not pw or not ph:
            continue
        x0, y0, dx, dy = _ADAM7[p]
        for j, row in enumerate(_png_unfilter_rows(raw, off, pw, ph, bypp)):
            lum = _png_row_luma(row, nchan, palette, sampw)
            base = (y0 + j * dy) * w
            for i, v in enumerate(lum):
                grid[base + x0 + i * dx] = v
        off += ph * (pw * bypp + 1)
    return w, h, grid


# Adam7 pass geometry: (x0, y0, dx, dy)
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _adam7_dims(w: int, h: int, p: int) -> tuple[int, int]:
    x0, y0, dx, dy = _ADAM7[p]
    return -(-(w - x0) // dx) if w > x0 else 0, \
        -(-(h - y0) // dy) if h > y0 else 0


def _png_unfilter_rows(raw, off: int, w: int, h: int, bypp: int):
    """Yield unfiltered scanlines of a (sub-)image whose filtered bytes
    start at ``off`` (shared by the sequential and Adam7 paths) through
    the one row kernel ``parser.pdf._png_unfilter``; ``bypp`` = bytes per
    pixel (16-bit depths just widen the stride)."""
    rowlen = w * bypp
    prev = bytearray(rowlen)
    for r in range(h):
        base = off + r * (rowlen + 1)
        ft = raw[base]
        row = bytearray(raw[base + 1 : base + 1 + rowlen])
        if not _png_unfilter(ft, row, prev, bypp):
            raise CorruptRasterError(f"PNG filter type {ft}")
        prev = row
        yield row


def _png_row_luma(row, nchan: int, palette, sampw: int = 1) -> list[int]:
    if palette is not None:
        try:
            return [palette[b] for b in row]
        except IndexError:
            raise CorruptRasterError(
                "PNG palette index out of range"
            ) from None
    if sampw == 2:  # 16-bit: high byte of each sample
        row = row[0::2]
    if nchan == 1:
        return list(row)
    if nchan == 2:  # gray + alpha
        return list(row[0::2])
    return [  # RGB / RGBA
        (row[k] * 299 + row[k + 1] * 587 + row[k + 2] * 114) // 1000
        for k in range(0, len(row), nchan)
    ]


def _gif_lzw(data: bytes, mcs: int, max_px: int) -> list[int]:
    """GIF-variant LZW decode (GIF89a spec appendix F): codes packed
    LSB-first, dynamic code width mcs+1..12, clear/end codes, deferred
    clear (table saturates at 4096 until an explicit clear). Output is
    capped at ``max_px`` indices — a crafted stream cannot expand past
    the image's own pixel count (same bomb discipline as the PNG
    geometry cap)."""
    clear = 1 << mcs
    end = clear + 1

    def fresh() -> tuple[list[list[int] | None], int]:
        t: list[list[int] | None] = [[i] for i in range(clear)]
        t += [None, None]  # clear/end placeholders keep indices aligned
        return t, mcs + 1

    table, csize = fresh()
    out: list[int] = []
    prev: list[int] | None = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= csize:
            code = acc & ((1 << csize) - 1)
            acc >>= csize
            nbits -= csize
            if code == clear:
                table, csize = fresh()
                prev = None
                continue
            if code == end:
                return out
            if prev is None:
                if code >= clear:
                    raise CorruptRasterError("GIF LZW: bad initial code")
                entry = table[code]
            elif code < len(table) and table[code] is not None:
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table) and len(table) < 4096:
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise CorruptRasterError("GIF LZW: code out of range")
            out.extend(entry)  # type: ignore[arg-type]
            prev = entry
            if len(table) == (1 << csize) and csize < 12:
                csize += 1
            if len(out) >= max_px:
                return out
    return out


def _gif_lzw_encode(indices, mcs: int) -> bytes:
    """GIF LZW compressor (spec appendix F): clear code first, dynamic
    code width LSB-first, table reset past 4095. Writer-side counterpart
    of :func:`_gif_lzw` — used by :func:`encode_gif` for deterministic
    synthesis (tests/driver gates; no external data)."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    csize = mcs + 1
    acc = nbits = 0
    out = bytearray()

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += csize
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    run = ()
    for px in indices:
        cand = run + (px,)
        if cand in table:
            run = cand
            continue
        emit(table[run])
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << csize) and csize < 12:
            csize += 1
        if next_code > 4095:
            emit(clear)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            csize = mcs + 1
        run = (px,)
    if run:
        emit(table[run])
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(
    pixels: bytes,
    w: int,
    h: int,
    version: bytes = b"89a",
    extensions: bytes = b"",
) -> bytes:
    """Grayscale GIF writer: 256-entry global color table with color
    i = (i, i, i), so the decoder's BT.601 luma of palette entry i is
    exactly i — decoded gray == the input byte, making the encode→LZW→
    decode roundtrip byte-lossless and therefore SQL-predictable (the
    driver oracle computes features from the source text directly).
    ``extensions`` is spliced before the image descriptor (GIF89a
    graphic-control/comment blocks — exercises the decoder's
    extension-skip path)."""
    import struct

    if len(pixels) != w * h:
        raise ValueError("pixel count != w*h")
    if not (0 < w <= 0xFFFF and 0 < h <= 0xFFFF):
        # GIF logical-screen fields are uint16; an oversized doc would
        # otherwise surface as an untyped struct.error inside mapInArrow
        raise ValueError(f"GIF dimensions {w}x{h} exceed uint16")
    table = bytes(b for i in range(256) for b in (i, i, i))
    out = bytearray(b"GIF" + version)
    out += struct.pack("<HHBBB", w, h, 0x80 | 7, 0, 0)  # GCT, 256 entries
    out += table
    out += extensions
    out += b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out += bytes([8])  # LZW min code size for an 8-bit palette
    data = _gif_lzw_encode(pixels, 8)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3B"
    return bytes(out)


# GIF89a graphic-control + comment extensions (decoder must skip both)
_GIF_EXTS = b"\x21\xf9\x04\x00\x00\x00\x00\x00" b"\x21\xfe\x03gif\x00"


def docs_to_gifs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic synthetic GIF corpus from the documents table
    (driver gate for the pure-Python GIF decoder — no external data):
    each doc's ASCII text becomes a 1×len grayscale GIF whose pixel
    bytes are the character codes. Odd and null doc_ids get bare GIF87a;
    even ones GIF89a with graphic-control + comment extension blocks, so the
    driver row exercises both version paths and the extension skip.
    One :func:`map_rows` stage, binary out."""

    def emit(out, did, t) -> int:
        px = (t or "").encode("utf-8")
        even = did is not None and did % 2 == 0
        version, exts = (b"89a", _GIF_EXTS) if even else (b"87a", b"")
        out["payload"].append(encode_gif(px, len(px), 1, version, exts))
        return 1

    mid = F.col(id_col).cast("bigint")
    return map_rows(
        docs, [mid.alias("media_id")], [mid, text_col], emit, PAYLOAD_SCHEMA
    )


def docs_to_webps(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic synthetic WebP/VP8L corpus from the documents
    table (driver gate for the pure-Python VP8L decoder — no external
    data): each doc's ASCII text becomes a 1×len grayscale lossless
    WebP whose decoded BT.601 luma equals the character code exactly
    (r=g=b=v → (299+587+114)/1000 = 1). Even doc_ids route through the
    subtract-green transform (§5.2) so the driver row exercises both
    the plain-literal and transform-inverse paths. One
    :func:`map_rows` stage, binary out."""

    def emit(out, did, t) -> int:
        px = (t or "").encode("utf-8")
        out["payload"].append(
            encode_webp_vp8l(
                px, len(px), 1,
                subtract_green=did is not None and did % 2 == 0,
            )
        )
        return 1

    mid = F.col(id_col).cast("bigint")
    return map_rows(
        docs, [mid.alias("media_id")], [mid, text_col], emit, PAYLOAD_SCHEMA
    )


def _skip_gif_subblocks(payload: bytes, pos: int) -> int:
    n = len(payload)
    while True:
        if pos >= n:
            raise CorruptRasterError("truncated GIF sub-blocks")
        ln = payload[pos]
        pos += 1
        if ln == 0:
            return pos
        if pos + ln > n:
            raise CorruptRasterError("truncated GIF sub-block")
        pos += ln


def _decode_gif(payload: bytes) -> tuple[int, int, list[int]]:
    """Pure-Python GIF87a/89a decode, first frame only: logical screen
    descriptor, global/local color tables, extension-block skip, LZW
    image data (:func:`_gif_lzw`), palette resolved to BT.601 luma like
    PNG's PLTE path. Interlaced frames are deinterlaced (appendix E
    four-pass row order); animation frames past the first are ignored (a curation
    featurizer keyframes, it doesn't compose). Transparency is ignored
    (the transparent index keeps its palette color)."""
    import struct

    n = len(payload)
    if n < 13:
        raise CorruptRasterError("truncated GIF header")
    sw, sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        ncol = 2 << (packed & 7)
        gct = payload[pos : pos + 3 * ncol]
        if len(gct) < 3 * ncol:
            raise CorruptRasterError("truncated GIF global color table")
        pos += 3 * ncol
    while pos < n:
        blk = payload[pos]
        pos += 1
        if blk == 0x3B:  # trailer before any image
            break
        if blk == 0x21:  # extension: label byte + sub-blocks
            if pos >= n:
                raise CorruptRasterError("truncated GIF extension")
            pos = _skip_gif_subblocks(payload, pos + 1)
            continue
        if blk != 0x2C:
            raise CorruptRasterError(f"unknown GIF block 0x{blk:02x}")
        if pos + 9 > n:
            raise CorruptRasterError("truncated GIF image descriptor")
        _l, _t, w, h, ip = struct.unpack_from("<HHHHB", payload, pos)
        pos += 9
        interlaced = bool(ip & 0x40)
        table = gct
        if ip & 0x80:
            ncol = 2 << (ip & 7)
            table = payload[pos : pos + 3 * ncol]
            if len(table) < 3 * ncol:
                raise CorruptRasterError("truncated GIF local color table")
            pos += 3 * ncol
        if table is None:
            raise CorruptRasterError("GIF image missing color table")
        if w <= 0 or h <= 0 or w * h > _PNG_MAX_SAMPLES:
            raise CorruptRasterError(f"GIF geometry {w}x{h} out of bounds")
        if pos >= n:
            raise CorruptRasterError("truncated GIF image data")
        mcs = payload[pos]
        pos += 1
        if not 2 <= mcs <= 11:
            raise CorruptRasterError(f"GIF LZW min code size {mcs}")
        data = bytearray()
        while True:
            if pos >= n:
                raise CorruptRasterError("truncated GIF image data")
            ln = payload[pos]
            pos += 1
            if ln == 0:
                break
            if pos + ln > n:
                raise CorruptRasterError("truncated GIF image data")
            data += payload[pos : pos + ln]
            pos += ln
        idx = _gif_lzw(bytes(data), mcs, w * h)
        if len(idx) < w * h:
            raise CorruptRasterError("GIF pixel data short")
        lum = [
            (table[3 * i] * 299 + table[3 * i + 1] * 587
             + table[3 * i + 2] * 114) // 1000
            for i in range(len(table) // 3)
        ]
        try:
            px = [lum[i] for i in idx[: w * h]]
        except IndexError:
            raise CorruptRasterError("GIF palette index out of range") from None
        if interlaced:
            # GIF89a appendix E: rows stored in four passes
            # (0,8,16..), (4,12..), (2,6,10..), (1,3,5..) — reorder to
            # top-down raster
            order = (list(range(0, h, 8)) + list(range(4, h, 8))
                     + list(range(2, h, 4)) + list(range(1, h, 2)))
            out_rows: list[list[int]] = [[]] * h
            for file_row, screen_row in enumerate(order):
                out_rows[screen_row] = px[file_row * w : (file_row + 1) * w]
            px = [v for row in out_rows for v in row]
        return w, h, px
    raise CorruptRasterError("GIF has no image data")


# -- JPEG (baseline sequential Huffman, the overwhelming crawled
# majority) — r5 verdict ask #3. Pure stdlib; progressive/arithmetic/
# 12-bit are typed CorruptRasterErrors (row-level, never job failures).

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_IDCT_COS = None  # lazily built [x][u] table, and C(u) scale factors


def _idct_tables():
    global _IDCT_COS
    if _IDCT_COS is None:
        import math

        cos = [[math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)]
               for x in range(8)]
        c = [math.sqrt(0.5)] + [1.0] * 7
        _IDCT_COS = (cos, c)
    return _IDCT_COS


class _HuffDict(dict):
    """Canonical Huffman table dict {(length, code): sym} carrying a
    256-entry prefix LUT for the <=8-bit fast path (``None`` entries
    mean the code is longer than 8 bits — walk the dict)."""

    __slots__ = ("lut",)


def _parse_dht(body: bytes, huffs: dict) -> None:
    """Parse one DHT segment body into ``huffs[(tc, th)]`` tables
    (shared by the sequential and progressive marker walks) and build
    each table's 8-bit prefix LUT."""
    i = 0
    while i + 17 <= len(body):
        tc, th = body[i] >> 4, body[i] & 15
        counts = list(body[i + 1 : i + 17])
        i += 17
        table = _HuffDict()
        code = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                if i >= len(body):
                    raise CorruptRasterError("truncated DHT")
                table[(length, code)] = body[i]
                code += 1
                i += 1
            code <<= 1
        lut: list = [None] * 256
        for (ln, c), sym in table.items():
            # c >= 2^ln can appear in a CORRUPT DHT (counts overflow the
            # canonical space); the bit walk can never produce such a
            # code, so it must not enter the LUT either (fuzz contract)
            if ln <= 8 and c < (1 << ln):
                base = c << (8 - ln)
                entry = (sym, ln)
                for hi in range(1 << (8 - ln)):
                    lut[base | hi] = entry
        table.lut = lut
        huffs[(tc, th)] = table


class _JpegBits:
    """Entropy-segment bit reader: 0xFF00 destuffing, restart-marker
    detection, MSB-first bits."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None  # pending marker byte seen mid-stream

    def _fill(self):
        d, n = self.data, len(self.data)
        # r9: drop already-consumed high bits — bits() only ever reads
        # the low ``nbits`` bits, but without this mask ``acc`` grew
        # into a bignum spanning the whole entropy segment and every
        # shift/or paid arbitrary-precision cost
        self.acc &= (1 << self.nbits) - 1
        # fast path (r9): 4 stuffing-free bytes load in one int op —
        # identical to four single-byte steps of the loop below
        p = self.pos
        if self.marker is None and p + 4 <= n:
            chunk = d[p : p + 4]
            if b"\xff" not in chunk:
                self.acc = (self.acc << 32) | int.from_bytes(chunk, "big")
                self.nbits += 32
                self.pos = p + 4
                return
        while self.nbits <= 24:
            if self.marker is not None or self.pos >= n:
                # per spec, missing bits decode as 1s (padding)
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                continue
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < n else None
                if nxt == 0x00:
                    self.pos += 2
                elif nxt is None:
                    raise CorruptRasterError("JPEG entropy data truncated")
                else:
                    self.marker = nxt  # RSTn / EOI — stop consuming
                    continue
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def bits(self, k: int) -> int:
        if k == 0:
            return 0
        if self.nbits < k:
            self._fill()
        self.nbits -= k
        v = (self.acc >> self.nbits) & ((1 << k) - 1)
        return v

    def huff(self, table: dict) -> int:
        # r9 fast path: one 256-entry LUT probe on the next 8 stream
        # bits resolves every code of length <= 8 (all codes in the
        # synthesized corpus; typical for real DC/low-AC tables too) —
        # consuming the matched length is bit-identical to the
        # bit-by-bit walk. Longer codes fall back to the walk.
        if self.nbits < 8:
            self._fill()
        e = table.lut[(self.acc >> (self.nbits - 8)) & 0xFF]
        if e is not None:
            self.nbits -= e[1]
            return e[0]
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bits(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise CorruptRasterError("JPEG invalid Huffman code")

    def restart(self):
        """Byte-align and consume an RSTn marker."""
        self.nbits = 0
        self.acc = 0
        if self.marker is None:
            d, n = self.data, len(self.data)
            while self.pos + 1 < n:
                if d[self.pos] == 0xFF and d[self.pos + 1] != 0x00:
                    self.marker = d[self.pos + 1]
                    break
                self.pos += 1
        m = self.marker
        if m is None or not 0xD0 <= m <= 0xD7:
            raise CorruptRasterError("JPEG missing restart marker")
        self.pos += 2
        self.marker = None


def _jpeg_extend(v: int, t: int) -> int:
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


_DC_ROWS = [bytes([v]) * 8 for v in range(256)]


def _jpeg_idct_into(ybuf, yplane_w, bx, by, coefs, nz):
    """Reconstruct one 8×8 block into the luma plane: integer-exact
    DC-only fast path, else separable float IDCT (cols then rows)."""
    if not nz:
        v = (coefs[0] + 4) >> 3 if coefs[0] >= 0 \
            else -((-coefs[0] + 4) >> 3)
        row = _DC_ROWS[min(255, max(0, v + 128))]
        off = by * yplane_w + bx
        for _ in range(8):
            ybuf[off : off + 8] = row
            off += yplane_w
        return
    cos, cc = _idct_tables()
    tmp = [0.0] * 64
    for u in range(8):
        col = [coefs[v8 * 8 + u] for v8 in range(8)]
        if not any(col):
            continue
        # hoist cc[v8]*col[v8] out of the row loop: the inner add is
        # (cc*col)*cos in both forms (Python * is left-assoc), so the
        # float sequence — and every rounded pixel — is unchanged
        nzc = [(v8, cc[v8] * col[v8]) for v8 in range(8) if col[v8]]
        for yy in range(8):
            s_ = 0.0
            crow = cos[yy]
            for v8, cv in nzc:
                s_ += cv * crow[v8]
            tmp[yy * 8 + u] = s_
    for yy in range(8):
        off = (by + yy) * yplane_w + bx
        base = yy * 8
        cview = tmp[base : base + 8]
        nzt = [(u, cc[u] * cview[u]) for u in range(8) if cview[u]]
        for xx in range(8):
            s_ = 0.0
            crow = cos[xx]
            for u, tv in nzt:
                s_ += tv * crow[u]
            v = int(round(s_ / 4)) + 128
            ybuf[off + xx] = min(255, max(0, v))


def _decode_jpeg(payload: bytes) -> tuple[int, int, list[int]]:
    """Pure-Python baseline-sequential JPEG decode (ITU T.81): marker
    walk (DQT/DHT/SOF0-1/SOS/DRI, APPn/COM skipped), canonical Huffman
    entropy decode with byte destuffing and restart intervals, dequant
    + zigzag + separable float IDCT (DC-only blocks take an exact
    integer fast path), level shift + clamp. Returns the LUMA plane:
    component 0 (Y of YCbCr, or the single gray channel) cropped to
    (w, h) — Y at full resolution for standard 4:4:4/4:2:2/4:2:0
    sampling; chroma blocks are entropy-decoded (the stream requires
    it) but their IDCT is skipped. Progressive (SOF2)/arithmetic/
    12-bit/hierarchical raise CorruptRasterError — recognized magic,
    unsupported body, a row-level error."""
    import struct

    n = len(payload)
    if n < 4 or payload[0:2] != b"\xff\xd8":
        raise CorruptRasterError("bad JPEG SOI")
    qt: dict[int, list[int]] = {}
    huffs: dict[tuple[int, int], dict] = {}
    sof = None
    progressive = False
    restart_interval = 0
    pos = 2
    while True:
        if pos + 4 > n:
            raise CorruptRasterError("truncated JPEG marker segment")
        if payload[pos] != 0xFF:
            raise CorruptRasterError("JPEG marker sync lost")
        m = payload[pos + 1]
        pos += 2
        if m == 0xD8 or 0xD0 <= m <= 0xD7:
            continue  # stray SOI / RST between segments
        if m == 0xD9:
            raise CorruptRasterError("JPEG EOI before scan data")
        (seglen,) = struct.unpack_from(">H", payload, pos)
        if seglen < 2 or pos + seglen > n:
            raise CorruptRasterError("truncated JPEG segment")
        body = payload[pos + 2 : pos + seglen]
        pos += seglen
        if m == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                i += 1
                if pq == 0:
                    vals = list(body[i : i + 64])
                    i += 64
                elif pq == 1:
                    vals = [v for (v,) in struct.iter_unpack(
                        ">H", body[i : i + 128])]
                    i += 128
                else:
                    raise CorruptRasterError("bad DQT precision")
                if len(vals) < 64:
                    raise CorruptRasterError("truncated DQT")
                qt[tq] = vals
        elif m == 0xC4:  # DHT
            _parse_dht(body, huffs)
        elif m in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            if len(body) < 6:
                raise CorruptRasterError("truncated SOF header")
            prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if len(body) < 6 + 3 * ncomp:
                raise CorruptRasterError("truncated SOF components")
            if prec != 8:
                raise CorruptRasterError(f"JPEG precision {prec} unsupported")
            comps = []
            for ci in range(ncomp):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * ci)
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15,
                              "tq": tq})
            sof = (w, h, comps)
            progressive = m == 0xC2
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                   0xCD, 0xCE, 0xCF, 0xDE):
            raise CorruptRasterError(
                "arithmetic/lossless/hierarchical JPEG unsupported")
        elif m == 0xDD:  # DRI
            if len(body) < 2:
                raise CorruptRasterError("truncated DRI")
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif m == 0xDA:  # SOS — entropy data follows
            if sof is None:
                raise CorruptRasterError("JPEG SOS before SOF")
            if progressive:
                # hand off at the FFDA marker itself: the progressive
                # player owns the multi-scan marker walk from here
                return _decode_jpeg_progressive(
                    payload, pos - seglen - 2, qt, huffs, sof,
                    restart_interval,
                )
            if not body or len(body) < 4 + 2 * body[0]:
                raise CorruptRasterError("truncated JPEG scan header")
            ns = body[0]
            scan = []
            for si in range(ns):
                cs, tt = body[1 + 2 * si], body[2 + 2 * si]
                scan.append((cs, tt >> 4, tt & 15))
            break
        # APPn / COM / others: skipped
    w, h, comps = sof
    if not comps:
        raise CorruptRasterError("JPEG SOF has no components")
    if w <= 0 or h <= 0 or w * h > _PNG_MAX_SAMPLES:
        raise CorruptRasterError(f"JPEG geometry {w}x{h} out of bounds")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax < 1 or vmax < 1 or len(comps) != len(scan):
        raise CorruptRasterError("JPEG component/scan mismatch")
    for c in comps:
        if c["h"] not in (1, 2, 4) or c["v"] not in (1, 2, 4):
            raise CorruptRasterError("JPEG sampling factors unsupported")
    by_id = {c["id"]: c for c in comps}
    order = []
    for cs, dc_id, ac_id in scan:
        c = by_id.get(cs)
        if c is None:
            raise CorruptRasterError("JPEG scan names unknown component")
        c["dc"] = huffs.get((0, dc_id))
        c["ac"] = huffs.get((1, ac_id))
        if c["dc"] is None or c["ac"] is None:
            raise CorruptRasterError("JPEG scan references missing DHT")
        if c["tq"] not in qt:
            raise CorruptRasterError("JPEG missing quantization table")
        order.append(c)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # luma plane only (component 0); chroma is entropy-decoded, not
    # reconstructed — a featurizer needs Y
    y = order[0]
    ybw = mcux * y["h"]  # luma blocks per row
    yplane_w = ybw * 8
    ybuf = bytearray(yplane_w * mcuy * y["v"] * 8)
    bits = _JpegBits(payload, pos)
    # hoist per-component dict lookups and bound methods out of the MCU
    # loop (r9): identical decode sequence, ~15% fewer interpreter ops
    specs = [
        (ci, c["dc"], c["ac"], qt[c["tq"]], c["v"], c["h"], c is y)
        for ci, c in enumerate(order)
    ]
    pred = [0] * len(order)
    bhuff, bbits = bits.huff, bits.bits
    zig = _JPEG_ZIGZAG
    y_h, y_v = y["h"], y["v"]
    mcu_seen = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_seen and \
                    mcu_seen % restart_interval == 0:
                bits.restart()
                pred = [0] * len(order)
            mcu_seen += 1
            for ci, dct, act, q, cv, ch, is_y in specs:
                for bv in range(cv):
                    for bh in range(ch):
                        t = bhuff(dct)
                        if t > 11:
                            raise CorruptRasterError("JPEG bad DC category")
                        diff = _jpeg_extend(bbits(t), t) if t else 0
                        pred[ci] += diff
                        coefs = [0] * 64
                        coefs[0] = pred[ci] * q[0]
                        k = 1
                        nz = False
                        while k < 64:
                            rs = bhuff(act)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise CorruptRasterError("JPEG AC overflow")
                            coefs[zig[k]] = (
                                _jpeg_extend(bbits(s), s) * q[k]
                            )
                            nz = True
                            k += 1
                        if not is_y:
                            continue  # chroma: decoded, not reconstructed
                        bx = (mx * y_h + bh) * 8
                        by = (my * y_v + bv) * 8
                        _jpeg_idct_into(ybuf, yplane_w, bx, by, coefs, nz)
    # crop the padded plane to (w, h); upsample if Y is subsampled
    sx = hmax // y["h"] if y["h"] else 1
    sy = vmax // y["v"] if y["v"] else 1
    px: list[int] = []
    for yy in range(h):
        off = (yy // sy) * yplane_w
        row = ybuf[off : off + yplane_w]
        if sx == 1:
            px.extend(row[:w])
        else:
            px.extend(row[xx // sx] for xx in range(w))
    return w, h, px


def _decode_jpeg_progressive(
    payload: bytes, pos: int, qt, huffs, sof, restart_interval
) -> tuple[int, int, list[int]]:
    """Progressive JPEG (SOF2) scan player: accumulates dequantization-
    pending coefficients per block across DC/AC first + refinement
    scans (spectral selection Ss..Se, successive approximation Ah/Al,
    EOB runs per T.81 §G.1.2), then dequantizes and IDCTs the luma
    plane once at EOI. Chroma coefficients are entropy-consumed but not
    reconstructed, matching the baseline path. Restart intervals reset
    DC predictors AND the EOB run."""
    import struct

    n = len(payload)
    w, h, comps = sof
    if not comps:
        raise CorruptRasterError("JPEG SOF has no components")
    if w <= 0 or h <= 0 or w * h > _PNG_MAX_SAMPLES:
        raise CorruptRasterError(f"JPEG geometry {w}x{h} out of bounds")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax < 1 or vmax < 1:
        raise CorruptRasterError("JPEG bad sampling factors")
    for c in comps:
        if c["h"] not in (1, 2, 4) or c["v"] not in (1, 2, 4):
            raise CorruptRasterError("JPEG sampling factors unsupported")
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    by_id = {}
    for c in comps:
        c["pw"] = mcux * c["h"]          # padded plane width in blocks
        c["ph"] = mcuy * c["v"]
        cw = -(-(w * c["h"]) // hmax)    # component sample dims
        ch = -(-(h * c["v"]) // vmax)
        c["bw"] = -(-cw // 8)            # data-unit dims (non-interleaved)
        c["bh"] = -(-ch // 8)
        c["coef"] = [None] * (c["pw"] * c["ph"])  # lazy [0]*64 blocks
        by_id[c["id"]] = c

    def blk(c, idx):
        b = c["coef"][idx]
        if b is None:
            b = c["coef"][idx] = [0] * 64
        return b

    zz = _JPEG_ZIGZAG
    n_scans = 0
    while True:
        # ---- marker walk between scans ----
        if pos + 2 > n:
            break  # truncated after last scan: reconstruct what we have
        if payload[pos] != 0xFF:
            raise CorruptRasterError("JPEG marker sync lost")
        m = payload[pos + 1]
        pos += 2
        if m == 0xD9:  # EOI
            break
        if 0xD0 <= m <= 0xD7 or m == 0xD8:
            continue
        if pos + 2 > n:
            raise CorruptRasterError("truncated JPEG marker segment")
        (seglen,) = struct.unpack_from(">H", payload, pos)
        if seglen < 2 or pos + seglen > n:
            raise CorruptRasterError("truncated JPEG segment")
        body = payload[pos + 2 : pos + seglen]
        pos += seglen
        if m == 0xC4:  # DHT may precede any scan
            _parse_dht(body, huffs)
            continue
        if m == 0xDD:
            if len(body) < 2:
                raise CorruptRasterError("truncated DRI")
            (restart_interval,) = struct.unpack_from(">H", body, 0)
            continue
        if m != 0xDA:
            continue  # DQT updates/APPn/COM between scans: skip
        # ---- one scan ----
        n_scans += 1
        if n_scans > 200:
            raise CorruptRasterError("JPEG scan count out of bounds")
        if not body or len(body) < 4 + 2 * body[0]:
            raise CorruptRasterError("truncated JPEG scan header")
        ns = body[0]
        scomp = []
        for si in range(ns):
            cs, tt = body[1 + 2 * si], body[2 + 2 * si]
            c = by_id.get(cs)
            if c is None:
                raise CorruptRasterError("JPEG scan names unknown component")
            scomp.append((c, tt >> 4, tt & 15))
        ss, se, aa = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
        ah, al = aa >> 4, aa & 15
        if ss > se or se > 63 or (ss == 0 and se != 0):
            raise CorruptRasterError("JPEG bad spectral selection")
        if ss > 0 and ns != 1:
            raise CorruptRasterError("JPEG AC scan must be single-component")
        bits = _JpegBits(payload, pos)
        eobrun = 0
        pred = {c["id"]: 0 for c, _, _ in scomp}

        def restart():
            nonlocal eobrun
            bits.restart()
            eobrun = 0
            for k in pred:
                pred[k] = 0

        dc_tab = {}
        ac_tab = {}
        for c, dc_id, ac_id in scomp:
            if ss == 0 and ah == 0:
                dc_tab[c["id"]] = huffs.get((0, dc_id))
                if dc_tab[c["id"]] is None:
                    raise CorruptRasterError("JPEG scan references missing DHT")
            if ss > 0 and ah == 0:
                ac_tab[c["id"]] = huffs.get((1, ac_id))
                if ac_tab[c["id"]] is None:
                    raise CorruptRasterError("JPEG scan references missing DHT")
            if ss > 0 and ah > 0:
                ac_tab[c["id"]] = huffs.get((1, ac_id))
                if ac_tab[c["id"]] is None:
                    raise CorruptRasterError("JPEG scan references missing DHT")

        def dc_first(c, coefs):
            t = bits.huff(dc_tab[c["id"]])
            if t > 11:
                raise CorruptRasterError("JPEG bad DC category")
            diff = _jpeg_extend(bits.bits(t), t) if t else 0
            pred[c["id"]] += diff
            coefs[0] = pred[c["id"]] << al

        def dc_refine(coefs):
            if bits.bits(1):
                coefs[0] |= 1 << al

        def ac_first(c, coefs):
            nonlocal eobrun
            if eobrun > 0:
                eobrun -= 1
                return
            k = ss
            while k <= se:
                rs = bits.huff(ac_tab[c["id"]])
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r == 15:
                        k += 16
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += bits.bits(r)
                    return
                k += r
                if k > se:
                    raise CorruptRasterError("JPEG AC overflow")
                coefs[zz[k]] = _jpeg_extend(bits.bits(s), s) << al
                k += 1

        def ac_refine(c, coefs):
            # T.81 §G.1.2.3 correction-bit pass (history-aware runs)
            nonlocal eobrun
            p1 = 1 << al
            m1 = -1 << al

            def correct(z):
                if bits.bits(1) and (coefs[z] & p1) == 0:
                    coefs[z] += p1 if coefs[z] >= 0 else m1

            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = bits.huff(ac_tab[c["id"]])
                    r, s = rs >> 4, rs & 15
                    if s == 0:
                        if r < 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += bits.bits(r)
                            break
                        val = 0  # ZRL: pass 16 zero-history coefficients
                    elif s == 1:
                        val = p1 if bits.bits(1) else m1
                    else:
                        raise CorruptRasterError("JPEG bad refine symbol")
                    while k <= se:
                        z = zz[k]
                        if coefs[z] != 0:
                            correct(z)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if val and k <= se:
                        coefs[zz[k]] = val
                    k += 1
            if eobrun > 0:
                while k <= se:
                    z = zz[k]
                    if coefs[z] != 0:
                        correct(z)
                    k += 1
                eobrun -= 1

        def do_unit(c, coefs):
            if ss == 0:
                if ah == 0:
                    dc_first(c, coefs)
                else:
                    dc_refine(coefs)
            else:
                if ah == 0:
                    ac_first(c, coefs)
                else:
                    ac_refine(c, coefs)

        mcu_seen = 0
        if ns == 1:
            # non-interleaved: data units in component raster order over
            # the UNPADDED block grid (bw × bh)
            c = scomp[0][0]
            for row in range(c["bh"]):
                for col in range(c["bw"]):
                    if restart_interval and mcu_seen and \
                            mcu_seen % restart_interval == 0:
                        restart()
                    mcu_seen += 1
                    do_unit(c, blk(c, row * c["pw"] + col))
        else:
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart_interval and mcu_seen and \
                            mcu_seen % restart_interval == 0:
                        restart()
                    mcu_seen += 1
                    for c, _, _ in scomp:
                        for bv in range(c["v"]):
                            for bh_ in range(c["h"]):
                                idx = ((my * c["v"] + bv) * c["pw"]
                                       + mx * c["h"] + bh_)
                                do_unit(c, blk(c, idx))
        # advance past this scan's entropy data to the next marker (the
        # marker walk at the loop top skips any stray RSTn itself)
        p = bits.pos
        if bits.marker is None:
            while p + 1 < n and not (
                payload[p] == 0xFF and payload[p + 1] != 0x00
            ):
                p += 1
        pos = p
    if n_scans == 0:
        raise CorruptRasterError("JPEG has no scan data")
    # ---- reconstruct the luma plane ----
    y = comps[0]
    if y["tq"] not in qt:
        raise CorruptRasterError("JPEG missing quantization table")
    q = qt[y["tq"]]
    yplane_w = y["pw"] * 8
    ybuf = bytearray(yplane_w * y["ph"] * 8)
    for row in range(y["ph"]):
        for col in range(y["pw"]):
            raw = y["coef"][row * y["pw"] + col]
            if raw is None:
                coefs = [0] * 64
                nz = False
            else:
                coefs = [0] * 64
                nz = False
                for k in range(64):
                    z = zz[k]
                    if raw[z]:
                        coefs[z] = raw[z] * q[k]
                        if k:
                            nz = True
            _jpeg_idct_into(ybuf, yplane_w, col * 8, row * 8, coefs, nz)
    sx = hmax // y["h"]
    sy = vmax // y["v"]
    px: list[int] = []
    for yy in range(h):
        off = (yy // sy) * yplane_w
        rowb = ybuf[off : off + yplane_w]
        if sx == 1:
            px.extend(rowb[:w])
        else:
            px.extend(rowb[xx // sx] for xx in range(w))
    return w, h, px


def encode_jpeg_gray_blocks(
    values: bytes, restart_interval: int = 0, progressive: bool = False
) -> bytes:
    """Deterministic grayscale JPEG writer for synthesis (tests/driver
    gates — no external data): one 8-row image of len(values) constant
    8×8 blocks, quantization table all-ones, DC coefficient 8·(v−128)
    per block — DC-only blocks reconstruct integer-exactly, so decode
    returns each byte of ``values`` 64×. Real marker stream: JFIF APP0,
    DQT, SOF0, two DHTs (12-symbol DC table, single-EOB AC table), SOS,
    stuffed entropy bytes, EOI.
    ``restart_interval`` > 0 adds a DRI segment and RSTn markers every
    N MCUs with DC-predictor reset (the crawled-camera-JPEG norm).
    ``progressive=True`` emits SOF2 with THREE scans instead — DC first
    (Al=1), DC refinement (Al=0), and an all-EOB AC band scan — the
    reconstruction (dc>>1)<<1 | bit is exact for every byte value, so
    the same roundtrip contract holds through the progressive player."""
    import struct

    if not values:
        raise ValueError("empty pixel values")
    nblk = len(values)
    if 8 * nblk > 0xFFFF:
        # SOF width is uint16: cap blocks so struct.pack can't raise an
        # untyped task failure on oversized docs
        raise ValueError(f"{nblk} blocks exceed the uint16 SOF width")
    w, h = 8 * nblk, 8
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xdb\x00\x43\x00" + bytes([1] * 64)
    out += (b"\xff\xc2" if progressive else b"\xff\xc0") + struct.pack(
        ">HBHHB", 11, 8, h, w, 1)
    out += struct.pack(">BBB", 1, 0x11, 0)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # DC table: categories 0..11, all 4-bit codes (canonical, no
    # all-ones 16-bit code)
    out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + 16 + 12, 0x00)
    out += bytes([0, 0, 0, 12] + [0] * 12) + bytes(range(12))
    # AC table: single EOB symbol, 1-bit code "0"
    out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + 16 + 1, 0x10)
    out += bytes([1] + [0] * 15) + b"\x00"
    acc = nbits = 0
    data = bytearray()

    def emit(code: int, k: int):
        nonlocal acc, nbits
        acc = (acc << k) | code
        nbits += k
        while nbits >= 8:
            b = (acc >> (nbits - 8)) & 0xFF
            data.append(b)
            if b == 0xFF:
                data.append(0x00)
            nbits -= 8
        acc &= (1 << nbits) - 1

    def pad_align():
        nonlocal acc, nbits
        if nbits:
            emit((1 << (8 - nbits)) - 1, 8 - nbits)  # pad with 1s

    def emit_dc(diff: int):
        t = abs(diff).bit_length()
        emit(t, 4)  # DC category (4-bit canonical code == symbol index)
        if t:
            emit(diff if diff >= 0 else diff + (1 << t) - 1, t)

    if progressive:
        # scan 1: DC first at Al=1 (floor-shifted diffs)
        out += (b"\xff\xda" + struct.pack(">HB", 8, 1)
                + b"\x01\x00\x00\x00\x01")
        pred = 0
        for v in values:
            dc1 = (8 * (v - 128)) >> 1
            emit_dc(dc1 - pred)
            pred = dc1
        pad_align()
        out += data
        data = bytearray()
        # scan 2: DC refinement to Al=0 (two's-complement bit 0)
        out += (b"\xff\xda" + struct.pack(">HB", 8, 1)
                + b"\x01\x00\x00\x00\x10")
        for v in values:
            emit((8 * (v - 128)) & 1, 1)
        pad_align()
        out += data
        data = bytearray()
        # scan 3: AC band 1..63 first pass, every block EOB
        out += (b"\xff\xda" + struct.pack(">HB", 8, 1)
                + b"\x01\x00\x01\x3f\x00")
        for _ in values:
            emit(0, 1)  # EOB
        pad_align()
        out += data
        out += b"\xff\xd9"
        return bytes(out)

    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + b"\x01\x00\x00\x3f\x00"
    pred = 0
    rst = 0
    for i, v in enumerate(values):
        if restart_interval and i and i % restart_interval == 0:
            pad_align()
            data.extend((0xFF, 0xD0 + rst))
            rst = (rst + 1) % 8
            pred = 0
        dc = 8 * (v - 128)
        emit_dc(dc - pred)
        pred = dc
        emit(0, 1)  # AC EOB
    pad_align()
    out += data
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# WebP / VP8L (lossless) — pure-Python decode per RFC 9649 §3-5: RIFF
# container walk, LSB-first bitstream, canonical prefix codes (simple +
# code-length-coded normal form), LZ77 backward references with the 2D
# distance map, color cache, meta prefix codes, and all four transforms
# (predictor, color, subtract-green, color-indexing incl. sub-byte
# pixel bundling). Lossy VP8 has no stdlib-feasible decoder and stays a
# typed CorruptRasterError. The most common crawled image format after
# JPEG; same featurizer contract as PNG/GIF (BT.601 luma out).


class _Vp8lBits:
    """LSB-first bit reader over the VP8L stream (RFC 9649 §4):
    64-bit refill buffer; ``peek`` is non-consuming and zero-padded at
    EOF (prefix decode may look past the last code), ``read``/
    ``consume`` raise on a true overrun."""

    __slots__ = ("data", "nbytes", "bytepos", "buf", "bits", "pos", "n")

    def __init__(self, data: bytes):
        self.data = data
        self.nbytes = len(data)
        self.bytepos = 0
        self.buf = 0
        self.bits = 0
        self.pos = 0
        self.n = len(data) * 8

    def _fill(self, k: int):
        # r9 fast path: 4 bytes in one int op when available (k never
        # exceeds 32 here; trailing-end reads keep the byte loop)
        bp = self.bytepos
        if self.bits < k and bp + 4 <= self.nbytes:
            self.buf |= int.from_bytes(
                self.data[bp : bp + 4], "little"
            ) << self.bits
            self.bytepos = bp + 4
            self.bits += 32
            return
        while self.bits < k and self.bytepos < self.nbytes:
            self.buf |= self.data[self.bytepos] << self.bits
            self.bytepos += 1
            self.bits += 8

    def read(self, k: int) -> int:
        if self.pos + k > self.n:
            raise CorruptRasterError("VP8L bitstream overrun")
        self._fill(k)
        v = self.buf & ((1 << k) - 1)
        self.buf >>= k
        self.bits -= k
        self.pos += k
        return v

    def peek(self, k: int) -> int:
        self._fill(k)
        return self.buf & ((1 << k) - 1)

    def consume(self, k: int):
        if self.pos + k > self.n:
            raise CorruptRasterError("VP8L bitstream overrun")
        self.buf >>= k
        self.bits -= k
        self.pos += k


_VP8L_LUT_BITS = 8


class _Vp8lTree:
    """Canonical prefix decoder. Codes are read root-first (MSB of the
    canonical code) out of the LSB-first stream, so the fast path is a
    2^8 lookup table indexed by the next 8 stream bits (bit-reversed
    canonical prefix); codes longer than 8 bits fall back to the
    (length, code) dict walk. A single-used-symbol tree is 0-bit."""

    __slots__ = ("table", "only", "max_len", "lut", "lut_bits")

    def __init__(self, code_lengths: list[int]):
        used = [(s, ln) for s, ln in enumerate(code_lengths) if ln > 0]
        if not used:
            raise CorruptRasterError("VP8L empty prefix code")
        if len(used) == 1:
            self.only: int | None = used[0][0]
            self.table: dict[tuple[int, int], int] = {}
            self.max_len = 0
            self.lut: list | None = None
            self.lut_bits = 0
            return
        self.only = None
        kraft = sum(1 << (15 - ln) for _, ln in used)
        if kraft != 1 << 15:
            raise CorruptRasterError("VP8L prefix code not complete")
        # r9: the dict only serves codes LONGER than the LUT (decode's
        # fallback starts at lut_bits+1), so short codes skip the dict;
        # the stream-order index is a table lookup (_REV8) instead of a
        # per-bit reverse loop. Same decode results.
        self.table = {}
        canon: list[tuple[int, int, int]] = []  # (sym, len, code)
        code = 0
        prev_len = 0
        for s, ln in sorted(used, key=lambda t: (t[1], t[0])):
            code <<= ln - prev_len
            prev_len = ln
            canon.append((s, ln, code))
            code += 1
        self.max_len = prev_len
        L = self.lut_bits = min(prev_len, _VP8L_LUT_BITS)
        lut: list = [None] * (1 << L)
        table = self.table
        rev8 = _REV8
        for s, ln, c in canon:
            if ln > L:
                table[(ln, c)] = s
                continue
            idx = rev8[(c << (8 - ln)) & 0xFF]
            entry = (s, ln)
            for hi in range(1 << (L - ln)):
                lut[idx | (hi << ln)] = entry
        self.lut = lut

    def decode(self, br: _Vp8lBits) -> int:
        if self.only is not None:
            return self.only
        # r9: peek+consume inlined (one attribute walk instead of two
        # method calls per symbol); identical to peek(L)/consume(k)
        L = self.lut_bits
        if br.bits < L:
            br._fill(L)
        e = self.lut[br.buf & ((1 << L) - 1)]  # type: ignore[index]
        if e is not None:
            k = e[1]
            if br.pos + k > br.n:
                raise CorruptRasterError("VP8L bitstream overrun")
            br.buf >>= k
            br.bits -= k
            br.pos += k
            return e[0]
        code = 0
        for ln in range(1, self.max_len + 1):
            code = (code << 1) | br.read(1)
            if ln > self.lut_bits:
                s = self.table.get((ln, code))
                if s is not None:
                    return s
        raise CorruptRasterError("VP8L invalid prefix code")


_VP8L_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12,
                  13, 14, 15)


def _vp8l_read_code(br: _Vp8lBits, alphabet_size: int) -> _Vp8lTree:
    """One prefix code: simple (1-2 symbols, §4.2.1.1) or normal
    (code-length-coded lengths with 16/17/18 repeats, §4.2.1.2)."""
    if br.read(1):  # simple
        num_symbols = br.read(1) + 1
        first_8bits = br.read(1)
        s0 = br.read(8 if first_8bits else 1)
        lengths = [0] * alphabet_size
        if s0 >= alphabet_size:
            raise CorruptRasterError("VP8L simple symbol out of range")
        if num_symbols == 1:
            lengths[s0] = 1
            t = _Vp8lTree.__new__(_Vp8lTree)
            t.only, t.table, t.max_len = s0, {}, 0
            return t
        s1 = br.read(8)
        if s1 >= alphabet_size or s0 == s1:
            raise CorruptRasterError("VP8L simple symbols invalid")
        lengths[s0] = lengths[s1] = 1
        return _Vp8lTree(lengths)
    num_code_lengths = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_code_lengths):
        cl_lengths[_VP8L_CL_ORDER[i]] = br.read(3)
    cl_tree = _Vp8lTree(cl_lengths)
    if br.read(1):  # use a length cap on how many codes are read
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    symbol = 0
    prev_len = 8  # spec default for the first repeat-16
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code_len = cl_tree.decode(br)
        if code_len < 16:
            lengths[symbol] = code_len
            symbol += 1
            if code_len:
                prev_len = code_len
        else:
            if code_len == 16:
                repeat, rep_val = 3 + br.read(2), prev_len
            elif code_len == 17:
                repeat, rep_val = 3 + br.read(3), 0
            else:
                repeat, rep_val = 11 + br.read(7), 0
            if symbol + repeat > alphabet_size:
                raise CorruptRasterError("VP8L code-length repeat overflow")
            for _ in range(repeat):
                lengths[symbol] = rep_val
                symbol += 1
    return _Vp8lTree(lengths)


def _vp8l_prefix_value(code: int, br: _Vp8lBits) -> int:
    """LZ77 length/distance prefix decoding (§4.2.2): codes 0-3 are
    literal 1-4; above that, extra bits."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


# §4.2.2.1 distance mapping: codes 1..120 are 2D neighborhood offsets
# (dx, dy) relative to the scan width; > 120 map to dist - 120.
_VP8L_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)


def _vp8l_decode_pixels(
    br: _Vp8lBits, w: int, h: int, is_main: bool
) -> list[int]:
    """One entropy-coded ARGB image (§4.2.2): optional color cache,
    optional meta prefix image (main image only), then the LZ77 +
    prefix-coded pixel stream. Returns row-major ARGB ints."""
    if w * h > _PNG_MAX_SAMPLES:
        raise CorruptRasterError(f"VP8L geometry {w}x{h} out of bounds")
    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits > 11:
        raise CorruptRasterError("VP8L color cache too large")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size
    meta: list[int] | None = None
    meta_bits = 0
    n_groups = 1
    if is_main and br.read(1):
        meta_bits = 2 + br.read(3)
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta = _vp8l_decode_pixels(br, mw, mh, False)
        n_groups = max(((p >> 8) & 0xFFFF) for p in meta) + 1
    green_alpha = 256 + 24 + cache_size
    groups = []
    for _ in range(n_groups):
        groups.append((
            _vp8l_read_code(br, green_alpha),   # green+length+cache
            _vp8l_read_code(br, 256),           # red
            _vp8l_read_code(br, 256),           # blue
            _vp8l_read_code(br, 256),           # alpha
            _vp8l_read_code(br, 40),            # distance
        ))
    px: list[int] = []
    npix = w * h
    x = 0
    mrow_w = (w + (1 << meta_bits) - 1) >> meta_bits if meta else 0
    g_tree, r_tree, b_tree, a_tree, d_tree = groups[0]
    while len(px) < npix:
        if meta is not None:
            y = len(px) // w
            gid = (meta[(y >> meta_bits) * mrow_w + (x >> meta_bits)]
                   >> 8) & 0xFFFF
            g_tree, r_tree, b_tree, a_tree, d_tree = groups[gid]
        s = g_tree.decode(br)
        if s < 256:
            g = s
            r = r_tree.decode(br)
            b = b_tree.decode(br)
            a = a_tree.decode(br)
            v = (a << 24) | (r << 16) | (g << 8) | b
            px.append(v)
            if cache_size:
                cache[(0x1E35A7BD * v & 0xFFFFFFFF)
                      >> (32 - cache_bits)] = v
            x += 1
            if x == w:
                x = 0
        elif s < 280:
            length = _vp8l_prefix_value(s - 256, br)
            dist_code = _vp8l_prefix_value(d_tree.decode(br), br)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _VP8L_DIST_MAP[dist_code - 1]
                dist = dx + dy * w
                if dist < 1:
                    dist = 1
            if dist > len(px) or len(px) + length > npix:
                raise CorruptRasterError("VP8L backref out of range")
            base = len(px) - dist
            for i in range(length):
                v = px[base + i]
                px.append(v)
                if cache_size:
                    cache[(0x1E35A7BD * v & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = v
                x += 1
                if x == w:
                    x = 0
        else:
            idx = s - 280
            if idx >= cache_size:
                raise CorruptRasterError("VP8L cache index out of range")
            px.append(cache[idx])
            x += 1
            if x == w:
                x = 0
    return px


def _vp8l_avg2(a: int, b: int) -> int:
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _vp8l_clamp_add_sub_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        c = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        out |= max(0, min(255, c)) << sh
    return out


def _vp8l_clamp_add_sub_half(l: int, t: int, tl: int) -> int:
    avg = _vp8l_avg2(l, t)
    out = 0
    for sh in (24, 16, 8, 0):
        a = (avg >> sh) & 0xFF
        d = a - ((tl >> sh) & 0xFF)
        half = d // 2 if d >= 0 else -((-d) // 2)  # C truncation
        out |= max(0, min(255, a + half)) << sh
    return out


def _vp8l_select(l: int, t: int, tl: int) -> int:
    pl = pt = 0
    for sh in (24, 16, 8, 0):
        p = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        pl += abs(p - ((l >> sh) & 0xFF))
        pt += abs(p - ((t >> sh) & 0xFF))
    return l if pl < pt else t


def _vp8l_predict(mode: int, l: int, t: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _vp8l_avg2(_vp8l_avg2(l, tr), t)
    if mode == 6:
        return _vp8l_avg2(l, tl)
    if mode == 7:
        return _vp8l_avg2(l, t)
    if mode == 8:
        return _vp8l_avg2(tl, t)
    if mode == 9:
        return _vp8l_avg2(t, tr)
    if mode == 10:
        return _vp8l_avg2(_vp8l_avg2(l, tl), _vp8l_avg2(t, tr))
    if mode == 11:
        return _vp8l_select(l, t, tl)
    if mode == 12:
        return _vp8l_clamp_add_sub_full(l, t, tl)
    if mode == 13:
        return _vp8l_clamp_add_sub_half(l, t, tl)
    raise CorruptRasterError(f"VP8L predictor mode {mode}")


def _vp8l_add_pixels(a: int, b: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        out |= ((((a >> sh) & 0xFF) + ((b >> sh) & 0xFF)) & 0xFF) << sh
    return out


def _vp8l_ct_delta(t: int, c: int) -> int:
    """ColorTransformDelta: both args as signed int8, product >> 5
    arithmetic (§5.3)."""
    if t >= 128:
        t -= 256
    if c >= 128:
        c -= 256
    return (t * c) >> 5


def _decode_vp8l(data: bytes) -> tuple[int, int, list[int]]:
    """VP8L chunk payload → (w, h, BT.601 luma pixels). Transforms are
    read front-to-back and inverted back-to-front per §5."""
    if not data or data[0] != 0x2F:
        raise CorruptRasterError("bad VP8L signature")
    br = _Vp8lBits(data[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise CorruptRasterError("VP8L version != 0")
    if w * h > _PNG_MAX_SAMPLES:
        raise CorruptRasterError(f"VP8L geometry {w}x{h} out of bounds")
    transforms: list[tuple[int, object]] = []
    seen: set[int] = set()
    cur_w = w  # color-indexing with bundling shrinks the coded width
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise CorruptRasterError("VP8L transform repeated")
        seen.add(ttype)
        if ttype in (0, 1):  # predictor / color transform
            size_bits = 2 + br.read(3)
            bw = (cur_w + (1 << size_bits) - 1) >> size_bits
            bh = (h + (1 << size_bits) - 1) >> size_bits
            sub = _vp8l_decode_pixels(br, bw, bh, False)
            transforms.append((ttype, (size_bits, bw, sub)))
        elif ttype == 2:  # subtract green
            transforms.append((2, None))
        else:  # color indexing
            n_colors = br.read(8) + 1
            pal_deltas = _vp8l_decode_pixels(br, n_colors, 1, False)
            palette = []
            acc = 0
            for d in pal_deltas:
                acc = _vp8l_add_pixels(acc, d)
                palette.append(acc)
            if n_colors <= 2:
                width_bits = 3
            elif n_colors <= 4:
                width_bits = 2
            elif n_colors <= 16:
                width_bits = 1
            else:
                width_bits = 0
            transforms.append((3, (width_bits, palette, cur_w)))
            cur_w = (cur_w + (1 << width_bits) - 1) >> width_bits
    px = _vp8l_decode_pixels(br, cur_w, h, True)
    for ttype, arg in reversed(transforms):
        if ttype == 3:  # color indexing: unbundle + palette lookup
            width_bits, palette, out_w = arg
            if width_bits:
                per = 1 << width_bits
                bits = 8 >> width_bits
                mask = (1 << bits) - 1
                wide: list[int] = []
                for y in range(h):
                    row = px[y * cur_w : (y + 1) * cur_w]
                    line: list[int] = []
                    for v in row:
                        packed = (v >> 8) & 0xFF
                        for i in range(per):
                            line.append((packed >> (i * bits)) & mask)
                    wide.extend(line[:out_w])
                idxs = wide
            else:
                idxs = [(v >> 8) & 0xFF for v in px]
            px = [
                palette[i] if i < len(palette) else 0 for i in idxs
            ]
            cur_w = out_w
        elif ttype == 2:  # add green back to red/blue
            px = [
                (v & 0xFF000000)
                | ((((v >> 16) + (v >> 8)) & 0xFF) << 16)
                | (v & 0xFF00)
                | ((v + (v >> 8)) & 0xFF)
                for v in px
            ]
        elif ttype == 1:  # color transform inverse
            size_bits, bw, sub = arg
            out = []
            for y in range(h):
                for x in range(cur_w):
                    v = px[y * cur_w + x]
                    cte = sub[(y >> size_bits) * bw + (x >> size_bits)]
                    # ColorTransformElement slots: green_to_red = BLUE,
                    # green_to_blue = GREEN, red_to_blue = RED (§5.3)
                    g2r = cte & 0xFF
                    g2b = (cte >> 8) & 0xFF
                    r2b = (cte >> 16) & 0xFF
                    g = (v >> 8) & 0xFF
                    r = ((v >> 16) & 0xFF) + _vp8l_ct_delta(g2r, g)
                    b = (v & 0xFF) + _vp8l_ct_delta(g2b, g)
                    b += _vp8l_ct_delta(r2b, r & 0xFF)
                    out.append((v & 0xFF00FF00) | ((r & 0xFF) << 16)
                               | (b & 0xFF))
            px = out
        else:  # predictor inverse
            size_bits, bw, sub = arg
            for y in range(h):
                for x in range(cur_w):
                    i = y * cur_w + x
                    if x == 0 and y == 0:
                        pred = 0xFF000000
                    elif y == 0:
                        pred = px[i - 1]  # L
                    elif x == 0:
                        pred = px[i - cur_w]  # T
                    else:
                        mode = (sub[(y >> size_bits) * bw
                                    + (x >> size_bits)] >> 8) & 0xFF
                        l = px[i - 1]
                        t = px[i - cur_w]
                        tl = px[i - cur_w - 1]
                        # TR via the linear array (§5.1): for the
                        # rightmost column i-w+1 lands on the CURRENT
                        # row's first, already-decoded pixel — the
                        # spec's wraparound addressing
                        tr = px[i - cur_w + 1]
                        pred = _vp8l_predict(mode, l, t, tl, tr)
                    px[i] = _vp8l_add_pixels(px[i], pred)
    if cur_w != w:
        raise CorruptRasterError("VP8L width mismatch after transforms")
    return w, h, [
        (((v >> 16) & 0xFF) * 299 + ((v >> 8) & 0xFF) * 587
         + (v & 0xFF) * 114) // 1000
        for v in px
    ]


def _decode_webp(payload: bytes) -> tuple[int, int, list[int]]:
    """RIFF container walk → VP8L decode. Lossy 'VP8 ' and animation
    frames are typed errors (no stdlib VP8/entropy-DCT path); 'VP8X'
    extended headers are walked through to find the VP8L chunk."""
    import struct

    if (len(payload) < 12 or payload[:4] != b"RIFF"
            or payload[8:12] != b"WEBP"):
        raise CorruptRasterError("bad WEBP RIFF header")
    pos, n = 12, len(payload)
    while pos + 8 <= n:
        fourcc = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise CorruptRasterError("truncated WEBP chunk")
        if fourcc == b"VP8L":
            return _decode_vp8l(body)
        if fourcc == b"VP8 ":
            raise CorruptRasterError("lossy VP8 not supported")
        if fourcc == b"ANMF":
            raise CorruptRasterError("animated WebP not supported")
        pos += 8 + size + (size & 1)  # chunks are even-padded
    raise CorruptRasterError("WEBP: no VP8L chunk")


_REV8 = tuple(
    int(f"{i:08b}"[::-1], 2) for i in range(256)
)


class _Vp8lWriter:
    """LSB-first bit writer (encoder counterpart of :class:`_Vp8lBits`)."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, k: int):
        self.acc |= (v & ((1 << k) - 1)) << self.nbits
        self.nbits += k
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def write_code(self, code: int, k: int):
        """Prefix codes are emitted MSB-first (root-first). r9: one
        accumulator write of the bit-reversed code — appending bits
        code[k-1]..code[0] at increasing LSB-first positions IS the
        k-bit write of the reversed value (identical output bytes,
        ~8x fewer calls on the per-pixel hot path)."""
        rev = 0
        for _ in range(k):
            rev = (rev << 1) | (code & 1)
            code >>= 1
        self.write(rev, k)

    def bytes(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = self.nbits = 0
        return bytes(self.out)


def _vp8l_write_simple(bw: _Vp8lWriter, symbol: int):
    """1-symbol simple code: zero bits per use."""
    bw.write(1, 1)  # simple
    bw.write(0, 1)  # num_symbols - 1 = 0
    bw.write(1, 1)  # first symbol in 8 bits
    bw.write(symbol, 8)


def _vp8l_write_8bit_code(bw: _Vp8lWriter, tail_zeros: int = 0):
    """Normal prefix code with all 256 literal symbols at length 8
    (complete, canonical code == symbol value), then ``tail_zeros``
    zero-length symbols (24 for green's length symbols, 0 for the
    plain 256-symbol channels). Code-length code: {8:1, 16:2, 17:2}."""
    bw.write(0, 1)  # not simple
    bw.write(12 - 4, 4)  # 12 code-length codes cover order idx of 8
    for sym in _VP8L_CL_ORDER[:12]:
        bw.write({8: 1, 16: 2, 17: 2}.get(sym, 0), 3)
    bw.write(0, 1)  # no max_symbol cap
    # canonical CL codes: 8 -> '0'; 16 -> '10'; 17 -> '11'
    bw.write_code(0, 1)  # literal length 8 (symbol 0)
    left = 255
    while left:  # repeat-previous (16), 3..6 at a time
        take = min(6, left if left != 7 else 4)  # never leave 1 or 2
        bw.write_code(2, 2)
        bw.write(take - 3, 2)
        left -= take
    left = tail_zeros  # zero-fill via 17 (3..10 zeros per use)
    while left:
        take = min(10, left if left != 11 else 8)
        bw.write_code(3, 2)
        bw.write(take - 3, 3)
        left -= take


def encode_webp_vp8l(
    pixels: bytes, w: int, h: int, subtract_green: bool = False
) -> bytes:
    """Deterministic grayscale WebP/VP8L writer for synthesis (tests /
    driver gates — no external data): pixel bytes become literal ARGB
    (255, v, v, v). Green carries the byte through a full 256-symbol
    length-8 prefix code; red/blue ride 1-symbol simple codes (zero
    bits each) — equal to green via the inverse subtract-green
    transform when ``subtract_green`` (exercising §5.2), else as
    plain literals through their own 8-bit normal codes. Decode is
    byte-lossless either way, so the driver oracle predicts features
    from the source text alone (the GIF/PNG discipline)."""
    if len(pixels) != w * h:
        raise ValueError("pixel count != w*h")
    if not (0 < w <= 1 << 14 and 0 < h <= 1 << 14):
        raise ValueError(f"VP8L dimensions {w}x{h} exceed 14 bits")
    bw = _Vp8lWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha
    bw.write(0, 3)  # version
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)  # transform type: subtract green
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix image
    _vp8l_write_8bit_code(bw, tail_zeros=24)  # green + absent lengths
    if subtract_green:
        _vp8l_write_simple(bw, 0)  # red residual = 0
        _vp8l_write_simple(bw, 0)  # blue residual = 0
        per_pixel_rb = None
    else:
        _vp8l_write_8bit_code(bw)  # red literal = v
        _vp8l_write_8bit_code(bw)  # blue literal = v
        per_pixel_rb = True
    _vp8l_write_simple(bw, 255)  # alpha
    _vp8l_write_simple(bw, 0)  # distance (never used)
    # r9: the per-pixel codes are canonical length-8 (code == symbol);
    # emit each as ONE reversed-8-bit accumulator write (see write_code)
    rev8 = _REV8
    wr = bw.write
    for v in pixels:
        r = rev8[v]
        wr(r, 8)  # green
        if per_pixel_rb:
            wr(r, 8)  # red
            wr(r, 8)  # blue
    body = b"\x2f" + bw.bytes()
    import struct

    chunk = b"VP8L" + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunk += b"\x00"
    return (b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk)


def _decode_raster(payload: bytes) -> tuple[int, int, list[int]]:
    """Pure-Python decode of raster formats — the REAL decode branch
    that runs without PIL: PNG (8-bit gray/GA/RGB/RGBA, see
    :func:`_decode_png`), GIF87a/89a (first frame, LZW, see
    :func:`_decode_gif`), baseline-sequential JPEG (Huffman, see
    :func:`_decode_jpeg` — progressive/arithmetic are typed errors),
    binary PNM (P5 gray / P6 RGB, maxval 255) and 24-bit uncompressed
    BI_RGB BMP (top-down or bottom-up, row padding honored). Returns
    (width, height, grayscale pixels 0-255 row-major top-down; RGB via
    the BT.601 integer luma — JPEG returns its Y plane, which IS that
    luma). Raises plain ValueError when the magic is unrecognized
    (caller falls through to PIL/stub) and CorruptRasterError when the
    magic matched but the body is bad."""
    if payload[:8] == _PNG_MAGIC:
        return _decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(payload)
    if payload[:3] == b"\xff\xd8\xff":
        return _decode_jpeg(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return _decode_webp(payload)
    if payload[:2] in (b"P5", b"P6"):
        toks: list[bytes] = []
        i, n = 2, len(payload)
        while len(toks) < 3 and i < n:
            while i < n and payload[i : i + 1].isspace():
                i += 1
            if payload[i : i + 1] == b"#":  # comment to EOL
                while i < n and payload[i] != 0x0A:
                    i += 1
                continue
            j = i
            while j < n and not payload[j : j + 1].isspace():
                j += 1
            toks.append(payload[i:j])
            i = j
        if len(toks) < 3:
            raise CorruptRasterError("truncated PNM header")
        try:
            w, h, maxval = (int(t) for t in toks)
        except ValueError:
            raise CorruptRasterError("non-numeric PNM header") from None
        if maxval != 255 or w <= 0 or h <= 0:
            raise CorruptRasterError(f"unsupported PNM geometry {w}x{h}/{maxval}")
        nchan = 3 if payload[:2] == b"P6" else 1
        need = w * h * nchan
        # exactly one whitespace byte after maxval (spec) — verify it IS
        # whitespace so a truncated header errors instead of shifting the
        # pixel data (ADVICE r3); tolerate the non-spec CRLF writers seen
        # in the wild only when consuming both bytes makes the remaining
        # payload length exactly match the pixel count (unambiguous).
        ws = payload[i : i + 1]
        if not ws.isspace():
            raise CorruptRasterError("PNM: byte after maxval is not whitespace")
        i += 1
        if ws == b"\r" and payload[i : i + 1] == b"\n" and n - (i + 1) == need:
            i += 1
        raw = payload[i : i + need]
        if len(raw) < need:
            raise CorruptRasterError("truncated PNM pixel data")
        if nchan == 1:
            return w, h, list(raw)
        px = [
            (raw[k] * 299 + raw[k + 1] * 587 + raw[k + 2] * 114) // 1000
            for k in range(0, need, 3)
        ]
        return w, h, px
    if payload[:2] == b"BM":
        import struct

        if len(payload) < 54:
            raise CorruptRasterError("truncated BMP header")
        data_off = struct.unpack_from("<I", payload, 10)[0]
        hdr_size = struct.unpack_from("<I", payload, 14)[0]
        if hdr_size < 40:
            raise CorruptRasterError("BMP core header unsupported")
        w, h = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        comp = struct.unpack_from("<I", payload, 30)[0]
        if (bpp, comp) not in ((24, 0), (8, 0), (8, 1)):
            raise CorruptRasterError(
                f"unsupported BMP variant (bpp={bpp}, compression={comp})")
        if w <= 0 or h == 0:
            raise CorruptRasterError(f"bad BMP geometry {w}x{h}")
        flip = h > 0  # positive height = bottom-up storage
        h = abs(h)
        if w * h > _PNG_MAX_SAMPLES:
            raise CorruptRasterError(f"BMP geometry {w}x{h} out of bounds")
        if bpp == 8:
            # palette: BGRX quads after the info header (r6 — 8-bit
            # paletted BMPs, incl. RLE8, are the old-crawl norm)
            n_colors = struct.unpack_from("<I", payload, 46)[0] or 256
            pal_at = 14 + hdr_size
            if pal_at + 4 * n_colors > len(payload):
                raise CorruptRasterError("truncated BMP palette")
            pal = [
                (payload[pal_at + 4 * i + 2] * 299
                 + payload[pal_at + 4 * i + 1] * 587
                 + payload[pal_at + 4 * i] * 114) // 1000
                for i in range(n_colors)
            ]
            idx = bytearray(w * h)  # file-order rows
            if comp == 1:  # RLE8
                p = data_off
                x = y = 0
                n = len(payload)
                while p + 1 < n:
                    cnt, val = payload[p], payload[p + 1]
                    p += 2
                    if cnt:  # encoded run
                        if y >= h or x + cnt > w:
                            raise CorruptRasterError("RLE8 run overflow")
                        idx[y * w + x : y * w + x + cnt] = bytes(
                            [val]) * cnt
                        x += cnt
                    elif val == 0:  # end of line
                        x, y = 0, y + 1
                    elif val == 1:  # end of bitmap
                        break
                    elif val == 2:  # delta
                        if p + 1 >= n:
                            raise CorruptRasterError("truncated RLE8 delta")
                        x += payload[p]
                        y += payload[p + 1]
                        p += 2
                        if x > w or y > h:
                            raise CorruptRasterError("RLE8 delta overflow")
                    else:  # absolute mode: val literal pixels, word pad
                        if y >= h or x + val > w or p + val > n:
                            raise CorruptRasterError("RLE8 absolute overflow")
                        idx[y * w + x : y * w + x + val] = payload[
                            p : p + val]
                        x += val
                        p += val + (val & 1)
                else:
                    raise CorruptRasterError("unterminated RLE8 stream")
            else:
                rowlen = (w + 3) & ~3
                for r in range(h):
                    ro = data_off + r * rowlen
                    if ro + w > len(payload):
                        raise CorruptRasterError("truncated BMP pixel data")
                    idx[r * w : (r + 1) * w] = payload[ro : ro + w]
            px = [0] * (w * h)
            try:
                for r in range(h):
                    y = (h - 1 - r) if flip else r
                    base = r * w
                    row = [pal[i] for i in idx[base : base + w]]
                    px[y * w : (y + 1) * w] = row
            except IndexError:
                raise CorruptRasterError(
                    "BMP palette index out of range") from None
            return w, h, px
        rowlen = (w * 3 + 3) & ~3  # rows padded to 4 bytes
        px = [0] * (w * h)
        for r in range(h):
            ro = data_off + r * rowlen
            if ro + w * 3 > len(payload):
                raise CorruptRasterError("truncated BMP pixel data")
            y = (h - 1 - r) if flip else r
            for c in range(w):
                b_ = payload[ro + 3 * c]
                g_ = payload[ro + 3 * c + 1]
                r_ = payload[ro + 3 * c + 2]
                px[y * w + c] = (r_ * 299 + g_ * 587 + b_ * 114) // 1000
        return w, h, px
    raise ValueError("unrecognized raster magic")


def _wav_samples(payload: bytes) -> list[int]:
    """RIFF/WAVE PCM16 container walk → absolute sample values (the
    integer core shared by the float featurizer and the driver-gated
    integer-sum query). ValueError on non-RIFF magic (caller falls
    through to the stub), CorruptMediaError on a recognized-but-bad
    container."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("unrecognized audio magic")
    pos, n = 12, len(payload)
    fmt_ok = False
    data = None
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        body_at = pos + 8
        if body_at + clen > n:
            raise CorruptMediaError("truncated WAV chunk")
        if cid == b"fmt ":
            if clen < 16:
                raise CorruptMediaError("short fmt chunk")
            audio_format, _ch = struct.unpack_from("<HH", payload, body_at)
            bits = struct.unpack_from("<H", payload, body_at + 14)[0]
            if audio_format != 1 or bits != 16:
                raise CorruptMediaError(
                    f"only PCM16 WAV (got format={audio_format}, bits={bits})"
                )
            fmt_ok = True
        elif cid == b"data":
            data = payload[body_at : body_at + clen]
        pos = body_at + clen + (clen & 1)  # chunks are word-aligned
    if not fmt_ok or data is None:
        raise CorruptMediaError("missing fmt/data chunk")
    if len(data) < 2:
        raise CorruptMediaError("empty PCM data")
    return [abs(v[0])
            for v in struct.iter_unpack("<h", data[: len(data) & ~1])]


def _decode_audio(payload: bytes, n_dims: int = 8) -> list[float]:
    """Pure-Python decode of RIFF/WAVE PCM16: per-window mean absolute
    amplitude (n_dims contiguous windows, normalized to [0,1]) — the
    real audio-feature branch, running without any media library."""
    samples = _wav_samples(payload)
    k = len(samples)
    out = []
    for i in range(n_dims):
        lo, hi = i * k // n_dims, (i + 1) * k // n_dims
        win = samples[lo:hi]
        out.append(round(sum(win) / (len(win) * 32768.0), 6) if win else 0.0)
    return out


def make_wav_pcm16(samples, sample_rate: int = 8000) -> bytes:
    """Deterministic RIFF/WAVE PCM16 writer for synthesis (tests/driver
    gates — no external data): mono, little-endian int16 samples."""
    import struct

    data = b"".join(struct.pack("<h", max(-32768, min(32767, s)))
                    for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def docs_to_wavs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic synthetic WAV corpus from the documents table:
    sample i = (byte_i − 128) · 256 — exactly representable int16, so
    |sample| is SQL-predictable from the text and the driver gate can
    compare INTEGER window sums (no cross-engine float rounding)."""

    def emit(out, t) -> int:
        px = (t or "").encode("utf-8")
        out["payload"].append(make_wav_pcm16([(b - 128) * 256 for b in px]))
        return 1

    media_id = F.col(id_col).cast("bigint").alias("media_id")
    return map_rows(docs, [media_id], [text_col], emit, PAYLOAD_SCHEMA)


def _pool_features(px: list[int], n_dims: int) -> list[float]:
    # full-precision doubles on purpose: the driver-gated query rounds
    # in Spark SQL so both engines round with identical SQL semantics
    # (Python round() and DuckDB round() differ at the ulp level)
    total = max(sum(px), 1)
    acc = [0] * n_dims
    for i, v in enumerate(px):
        acc[i % n_dims] += v
    return [a / total for a in acc]


def _decode_image(payload: bytes, n_dims: int = 8) -> list[float]:
    """Real path: decode → grayscale → mean-pooled pixel features.
    Uncompressed PNM/BMP decode is pure Python (runs everywhere); other
    formats go through PIL when installed and otherwise fall back to
    the deterministic stub. Corrupt payloads in a recognized format
    raise (row-level decode_error), they do not get stub features."""
    if payload is None:
        raise ValueError("null payload")
    try:
        _, _, px = _decode_raster(bytes(payload))
        return _pool_features(px, n_dims)
    except CorruptRasterError:
        raise
    except ValueError:
        pass  # unrecognized magic: try PIL / stub
    if not _HAS_PIL:
        return _decode_image_stub(payload, n_dims)
    import io

    img = Image.open(io.BytesIO(payload)).convert("L")
    img.thumbnail((n_dims, n_dims))
    return _pool_features(list(img.getdata()), n_dims)


# the columns after media_id of sample_frames
FRAMES_SCHEMA = pa.schema([
    ("frame_idx", pa.int64()), ("n_bytes", pa.int64()),
    ("frame_sha256", pa.string()),
])


def sample_frames(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    n_frames: int = 4,
) -> DataFrame:
    """Deterministic frame sampling over opaque binary payloads: frame i
    covers bytes [i*L//n, (i+1)*L//n) (balanced split), emitted as one
    row per frame with its byte count and sha256. For real video this is
    where a decoder picks keyframes; the Spark-side shape — one binary
    payload in, N typed frame rows out, in one :func:`map_rows` stage —
    is exactly the production plumbing, and the byte-range split keeps
    the whole operator oracle-checkable without media libraries. A null
    payload gives no rows."""

    def emit(out, payload) -> int:
        if payload is None:
            return 0
        data = bytes(payload)
        ln = len(data)
        for i in range(n_frames):
            chunk = data[i * ln // n_frames : (i + 1) * ln // n_frames]
            out["frame_idx"].append(i)
            out["n_bytes"].append(len(chunk))
            out["frame_sha256"].append(hashlib.sha256(chunk).hexdigest())
        return n_frames

    media_id = F.col(id_col).cast("bigint").alias("media_id")
    return map_rows(df, [media_id], [payload_col], emit, FRAMES_SCHEMA)


def extract_media_features(
    df: DataFrame, n_dims: int = 8, decoder=None
) -> DataFrame:
    """media(media_id, kind, payload, meta) → per-item features.

    One :func:`map_rows` stage: payloads stay binary end-to-end (no
    base64/utf8 round trip); one Python call per Arrow batch. Any decode
    failure is a row-level ``decode_error`` with a null ``feature``.

    Default decoding dispatches per ``kind``: audio → pure-Python
    RIFF/PCM16 WAV features, everything else → :func:`_decode_image`
    (pure-Python PNM/BMP, then PIL when installed, then the stub).
    Pass ``decoder`` (e.g. :func:`_decode_image_stub`) to override for
    environment-independent output — the driver-gated
    ``media_features`` query does, so its decode_error column stays
    NULL whether or not the runtime has Pillow."""
    def _by_kind(kind, payload, n_dims_):
        if kind == "audio":
            try:
                return _decode_audio(payload, n_dims_)
            except CorruptMediaError:
                raise
            except ValueError:
                return _decode_image_stub(payload, n_dims_)
        return _decode_image(payload, n_dims_)

    def emit(out, kind, p) -> int:
        out["n_bytes"].append(len(p) if p is not None else 0)
        out["sha256"].append(
            hashlib.sha256(p).hexdigest() if p is not None else None
        )
        try:
            if decoder is not None:
                feat = decoder(p, n_dims)
            else:
                feat = _by_kind(kind, p, n_dims)
            err = None
        except Exception as e:  # decode failures are row-level
            feat, err = None, str(e)
        out["feature"].append(feat)
        out["decode_error"].append(err)
        return 1

    media_id = F.col("media_id").cast("bigint").alias("media_id")
    return map_rows(
        df, [media_id, "kind"], ["kind", "payload"], emit, FEATURES_SCHEMA
    )


# ---------------------------------------------------------------------------
# perceptual image hashing (dHash) + Hamming near-dup pairs — the image
# leg of corpus dedup: re-encoded/resized copies of the same picture
# survive exact-byte dedup but collapse under a gradient-sign hash


def dhash_from_pixels(
    px: list[int], w: int, h: int, grid_w: int = 8, grid_h: int = 8
) -> tuple[int, int]:
    """Pure dHash over a decoded grayscale raster: integer block-mean
    downsample to a (grid_w+1) x grid_h grid, then one bit per
    horizontal gradient sign (cell > right neighbor). All-integer
    (floor-division means) so an oracle can replay it exactly. Returns
    the 64-bit hash as two non-negative 32-bit halves (bit p = row-major
    gradient index; p < 32 -> hi bit p, else lo bit p-32) — the repo's
    sign-safe fingerprint convention (see dedup.simhash64)."""
    gw1 = grid_w + 1
    if w < gw1 or h < grid_h:
        raise ValueError(
            f"image {w}x{h} too small for {gw1}x{grid_h} dhash grid"
        )
    cells = []
    for r in range(grid_h):
        y0, y1 = r * h // grid_h, (r + 1) * h // grid_h
        row_cells = []
        for c in range(gw1):
            x0, x1 = c * w // gw1, (c + 1) * w // gw1
            s = 0
            for y in range(y0, y1):
                base = y * w
                for x in range(x0, x1):
                    s += px[base + x]
            row_cells.append(s // ((y1 - y0) * (x1 - x0)))
        cells.append(row_cells)
    hi = lo = 0
    for r in range(grid_h):
        for c in range(grid_w):
            if cells[r][c] > cells[r][c + 1]:
                p = r * grid_w + c
                if p < 32:
                    hi |= 1 << p
                else:
                    lo |= 1 << (p - 32)
    return hi, lo


# the columns after media_id of image_dhash
DHASH_SCHEMA = pa.schema([
    ("width", pa.int64()), ("height", pa.int64()), ("dhash_hi", pa.int64()),
    ("dhash_lo", pa.int64()), ("decode_error", pa.string()),
])


def image_dhash(
    media: DataFrame,
    grid_w: int = 8,
    grid_h: int = 8,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """media(media_id, payload) -> per-image 64-bit dHash through the
    REAL raster decode path (:func:`_decode_raster`: PNM/BMP/PNG/GIF/
    JPEG/WebP-VP8L). Row-local in Arrow batches — zero shuffle; at
    100 TB the decode cost dominates and scales embarrassingly, and the
    8-byte hash (not the image) is all that ever shuffles downstream.
    Decode/size failures are row-level ``decode_error`` rows."""

    def emit(out, p) -> int:
        try:
            if p is None:
                raise ValueError("null payload")
            w, h, px = _decode_raster(bytes(p))
            row = (w, h, *dhash_from_pixels(px, w, h, grid_w, grid_h), None)
        except Exception as e:  # decode failures are row-level
            row = (None, None, None, None, str(e))
        for k, v in zip(DHASH_SCHEMA.names, row):
            out[k].append(v)
        return 1

    media_id = F.col(id_col).cast("bigint").alias("media_id")
    return map_rows(media, [media_id], [payload_col], emit, DHASH_SCHEMA)


def image_dhash_pairs(
    media: DataFrame,
    max_hamming: int = 3,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    grid_w: int = 8,
    grid_h: int = 8,
) -> DataFrame:
    """Image near-dup candidate pairs: real decode -> dHash -> the
    shared 16-bit-chunk pigeonhole bucketing (dedup.hamming_pairs_64 —
    in-bucket pairs, never all-pairs; identical-hash buckets over
    ``max_bucket`` emit none). Output (id_a, id_b, hamming).

    r9: ``hamming_pairs_64`` generates pairs in-bucket from ONE
    lineage (no self-join), so the hash table has a single consumer
    and the former eager localCheckpoint barrier (which existed to
    stop each join leg re-running the Arrow decode — measured 4
    MapInArrow stages in r8) is no longer needed: the decode runs
    exactly once, inline, and the extra materialization job is gone.
    Plan-asserted in
    tests/test_dhash.py::test_dhash_pairs_plan_single_parse_stage."""
    from .dedup import hamming_pairs_64

    hashes = image_dhash(media, grid_w, grid_h).where(
        "decode_error IS NULL"
    )
    return hamming_pairs_64(
        hashes,
        id_col="media_id",
        hi_col="dhash_hi",
        lo_col="dhash_lo",
        max_hamming=max_hamming,
        max_bucket=max_bucket,
    )


def docs_to_dhash_pnms(docs: DataFrame, grid_w: int = 8, grid_h: int = 8):
    """Deterministic P5 PNM per document for the dHash gate: pixels are
    the first (grid_w+1)*grid_h bytes of the ASCII text, space-padded,
    and docs with ``doc_id % 11 == 0`` get their LAST pixel value +1 —
    a synthetic "re-encoded copy" whose dHash differs from its
    unperturbed head-twin by at most one bit, so the gate exercises
    hamming > 0 matches, not just identical hashes.

    Two resolutions by parity: even doc_ids emit the exact
    (grid_w+1) x grid_h grid (cells ARE the pixels — no resample);
    odd doc_ids emit a 2x upscale (each pixel duplicated 2x2), whose
    integer block-mean downsample reproduces the base pixels EXACTLY —
    so the block-mean path runs for half the corpus, resolution-
    mismatched copies still collide (the property dHash exists for),
    and the oracle stays the same direct byte formula for every doc."""

    gw1 = grid_w + 1
    n_px = gw1 * grid_h
    header1 = f"P5 {gw1} {grid_h} 255\n".encode()
    header2 = f"P5 {2 * gw1} {2 * grid_h} 255\n".encode()

    def emit(out, did, t) -> int:
        vals = bytearray((t or "")[:n_px].ljust(n_px).encode())
        if did is not None and did % 11 == 0:
            vals[-1] += 1
        if did is not None and did % 2:
            # r9: 2x pixel doubling via strided slice assignment (C
            # speed) instead of a per-pixel generator — identical bytes
            up = bytearray()
            dbl = bytearray(2 * gw1)
            for r in range(grid_h):
                row = vals[r * gw1 : (r + 1) * gw1]
                dbl[0::2] = row
                dbl[1::2] = row
                up += dbl + dbl
            out["payload"].append(header2 + bytes(up))
        else:
            out["payload"].append(header1 + bytes(vals))
        return 1

    media_id = F.col("doc_id").cast("bigint").alias("media_id")
    return map_rows(
        docs, [media_id], ["doc_id", "text"], emit, PAYLOAD_SCHEMA
    )


def oracle_dhash_sql(
    table: str = "documents", grid_w: int = 8, grid_h: int = 8
) -> str:
    """DuckDB mirror of image_dhash over docs_to_dhash_pnms payloads:
    pixel i (1-based) = ord of the padded text head, +1 on the last
    pixel for doc_id % 11 == 0; bit (r, c) = px[r*(gw+1)+c+1] >
    px[r*(gw+1)+c+2]."""
    gw1 = grid_w + 1
    n_px = gw1 * grid_h

    def bit_terms(lo_row: int, hi_row: int) -> str:
        terms = []
        for r in range(lo_row, hi_row):
            for c in range(grid_w):
                p = r * grid_w + c
                shift = p if p < 32 else p - 32
                a = r * gw1 + c + 1
                b = a + 1
                terms.append(
                    f"(CASE WHEN px[{a}] > px[{b}] "
                    f"THEN {1 << shift}::BIGINT ELSE 0 END)"
                )
        return " + ".join(terms)

    half = grid_h // 2
    return f"""
SELECT doc_id AS media_id,
       {gw1}::BIGINT AS width, {grid_h}::BIGINT AS height,
       ({bit_terms(0, half)}) AS dhash_hi,
       ({bit_terms(half, grid_h)}) AS dhash_lo,
       cast(NULL AS varchar) AS decode_error
FROM (
  SELECT doc_id,
         list_transform(range(1, {n_px + 1}),
           i -> ord(substr(rpad(substr(text, 1, {n_px}), {n_px}, ' '),
                           i, 1))
                + (CASE WHEN i = {n_px} AND doc_id % 11 = 0
                        THEN 1 ELSE 0 END)) AS px
  FROM {table}
)
"""


def image_dhash_clusters(
    media: DataFrame,
    max_hamming: int = 3,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    max_iter: int = 4,
    grid_w: int = 8,
    grid_h: int = 8,
) -> DataFrame:
    """Image near-dup CLUSTERS: decode -> dHash -> Hamming pairs ->
    connected components (the generic neighbor-min propagation), so a
    re-encode chain A~B~C collapses to one canonical cluster id even
    when A and C differ by more than ``max_hamming`` bits. Covers EVERY
    decodable image (pairless images label themselves). Output
    (media_id, cluster_id) — pick min-id (== cluster_id) or best-
    resolution per cluster as the keeper downstream."""
    from .dedup import cc_label_propagation, hamming_pairs_64

    hashes = (
        image_dhash(media, grid_w, grid_h)
        .where("decode_error IS NULL")
        .localCheckpoint(eager=True)  # decode once: pairs + id legs
    )
    pairs = hamming_pairs_64(
        hashes,
        id_col="media_id",
        hi_col="dhash_hi",
        lo_col="dhash_lo",
        max_hamming=max_hamming,
        max_bucket=max_bucket,
    )
    return cc_label_propagation(
        hashes.select("media_id"), pairs, id_col="media_id",
        max_iter=max_iter,
    )
