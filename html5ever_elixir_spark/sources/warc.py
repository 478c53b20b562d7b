"""WARC container source — the format crawl corpora actually arrive in
(ISO 28500; Common Crawl ships WARC/1.0 response records, usually as
per-record gzip members). The reference repo has no container layer
(it parses bytes you already have); this is north-rule "Common-Crawl-
style pages" source surface.

Reader design for 100 TB: a WARC file is a *byte stream* of records —
one `mapInArrow` call per Arrow batch of (warc_id, content) blobs,
each blob walked iteratively record-by-record (no regex over the whole
payload, no recursion); malformed records become row-level error rows,
never job failures — the same error contract as the HTML/PDF parsers.
Per-record gzip members (the Common Crawl layout) are detected by the
gzip magic and inflated one member at a time via ``zlib``'s
``unused_data`` chaining.

The writer exists for deterministic synthesis (tests/driver gates —
no external data): records sorted by url, WARC-Date from ``warc_ts``,
payload is a minimal HTTP/1.1 response. Writer→reader roundtrip feeds
the SAME extraction oracle as the plain pages path, which makes the
driver's `warc_extract` query an end-to-end crawl-container gate.
"""

from __future__ import annotations

import zlib
from typing import Iterator

from pyspark.sql import DataFrame

from ..operators import map_rows

PAGES_FIELDS = (
    "url string, warc_ts string, html binary, warc_id bigint, "
    "http_status int, error string"
)


class WarcError(ValueError):
    """Malformed WARC record (row-level error, never job-fatal)."""


def make_warc_record(
    url: str,
    date: str,
    html: bytes,
    rec_type: str = "response",
    http_status: str = "200 OK",
    content_encoding: str | None = None,
    chunked: bool = False,
) -> bytes:
    """One WARC/1.0 record with an HTTP response payload.
    ``content_encoding="gzip"`` gzips the entity and adds the header;
    ``chunked=True`` applies Transfer-Encoding: chunked (7-byte chunks)
    — both are how raw crawled captures actually arrive, and the
    reader must undo them."""
    body = html
    extra = ""
    if content_encoding == "gzip":
        co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
        body = co.compress(body) + co.flush()
        extra += "Content-Encoding: gzip\r\n"
    if chunked:
        chunks = bytearray()
        for i in range(0, len(body), 7):
            part = body[i : i + 7]
            chunks += f"{len(part):x}\r\n".encode("ascii") + part + b"\r\n"
        chunks += b"0\r\n\r\n"
        body = bytes(chunks)
        extra += "Transfer-Encoding: chunked\r\n"
    else:
        extra += f"Content-Length: {len(body)}\r\n"
    http = (
        f"HTTP/1.1 {http_status}\r\n"
        "Content-Type: text/html; charset=utf-8\r\n"
        f"{extra}\r\n"
    ).encode("ascii") + body
    headers = (
        "WARC/1.0\r\n"
        f"WARC-Type: {rec_type}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode("ascii")
    return headers + http + b"\r\n\r\n"


def make_warc(
    records: list[tuple[str, str, bytes]],
    gzip_records: bool = False,
    http_encode: bool = False,
) -> bytes:
    """Concatenated WARC records (optionally per-record gzip members —
    the Common Crawl layout), preceded by a warcinfo record the reader
    must skip. ``http_encode=True`` cycles the records through the raw
    HTTP transfer shapes crawls capture: plain, Content-Encoding: gzip,
    Transfer-Encoding: chunked, and chunked-over-gzip."""
    info_body = b"software: html5ever_elixir_spark\r\n"
    info = (
        "WARC/1.0\r\n"
        "WARC-Type: warcinfo\r\n"
        "Content-Type: application/warc-fields\r\n"
        f"Content-Length: {len(info_body)}\r\n\r\n"
    ).encode("ascii") + info_body + b"\r\n\r\n"
    out = [info]
    for i, (u, d, h) in enumerate(records):
        ce = "gzip" if http_encode and i % 4 in (1, 3) else None
        ck = bool(http_encode and i % 4 in (2, 3))
        out.append(make_warc_record(u, d, h, content_encoding=ce,
                                    chunked=ck))
    if gzip_records:
        # per-record gzip members, concatenated (wb9 deterministic)
        def gz(b: bytes) -> bytes:
            co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
            return co.compress(b) + co.flush()

        return b"".join(gz(r) for r in out)
    return b"".join(out)


def make_wet(
    records: list[tuple[str, str, str]], gzip_records: bool = False
) -> bytes:
    """WET-style extracted-text WARC: a warcinfo record, then one
    ``conversion`` record per (url, date, text) with a plain UTF-8
    text/plain payload — the Common Crawl .wet layout, the standard
    interchange format for extraction output. ``gzip_records`` emits
    per-record gzip members like :func:`make_warc`."""
    info_body = b"software: html5ever_elixir_spark\r\n"
    info = (
        "WARC/1.0\r\n"
        "WARC-Type: warcinfo\r\n"
        "Content-Type: application/warc-fields\r\n"
        f"Content-Length: {len(info_body)}\r\n\r\n"
    ).encode("ascii") + info_body + b"\r\n\r\n"
    out = [info]
    for u, d, t in records:
        body = t.encode("utf-8")
        out.append(
            (
                "WARC/1.0\r\n"
                "WARC-Type: conversion\r\n"
                f"WARC-Target-URI: {u}\r\n"
                f"WARC-Date: {d}\r\n"
                "Content-Type: text/plain\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode("ascii")
            + body
            + b"\r\n\r\n"
        )
    if gzip_records:
        def gz(b: bytes) -> bytes:
            co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
            return co.compress(b) + co.flush()

        return b"".join(gz(r) for r in out)
    return b"".join(out)


# Per-blob inflate budget: a hostile tiny gzip member must not expand to
# executor-OOM scale (same bomb discipline as the raster pixel caps).
# Ratio-based with an absolute floor — legitimate crawled text inflates
# ~5-20×, so 128× compressed size is generous; the floor keeps small
# test/driver blobs unconstrained.
_INFLATE_RATIO_CAP = 128
_INFLATE_FLOOR = 256 * 1024 * 1024
# inflate granularity / header-block sanity cap / buffer compaction
_INFLATE_CHUNK = 4 * 1024 * 1024
_MAX_HEADER_BLOCK = 1024 * 1024
_COMPACT_AT = 1024 * 1024
# per-member input feed window: starts small (typical Common Crawl
# members are a few hundred bytes compressed) and doubles per pull so
# large members still take O(log) Python calls
_FEED_MIN = 8 * 1024


def _iter_inflated(data: bytes) -> Iterator[bytes]:
    """Yield a blob's plain byte stream as bounded chunks: non-gzip data
    passes through whole; concatenated gzip members (the Common Crawl
    per-record layout) inflate incrementally — the fully inflated
    corpus NEVER exists in memory at once, so worker memory for a GiB
    .warc.gz is compressed blob + ~one record, not ~5× the blob.
    Cumulative output is budget-capped (``max(_INFLATE_FLOOR,
    _INFLATE_RATIO_CAP × len(data))``) so a gzip bomb is a row-level
    WarcError, not a job failure (ADVICE r5).

    Input is fed to each member's decompressor in BOUNDED windows from
    a memoryview (r9): handing every member the whole remaining blob
    made zlib materialize ``unused_data`` — a near-full copy of the
    blob — per member, an O(members × blob) memcpy that dominated the
    walk (measured 0.61 s of a 1.09 s 5k-record walk). The copy is now
    bounded by the feed window that contained the member's end."""
    if data[:2] != b"\x1f\x8b":
        yield data
        return
    budget = max(_INFLATE_FLOOR, _INFLATE_RATIO_CAP * len(data))
    produced = 0
    mv = memoryview(data)
    n = len(data)
    off = 0
    while off < n and data[off:off + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        fed_end = off
        feed = _FEED_MIN
        src: object = b""
        try:
            while True:
                if not src:
                    if fed_end >= n:
                        break  # truncated member: keep what inflated
                    src = mv[fed_end:fed_end + feed]
                    fed_end += len(src)
                    feed = min(feed * 2, _INFLATE_CHUNK)
                chunk = d.decompress(src, _INFLATE_CHUNK)
                produced += len(chunk)
                if produced > budget:
                    raise WarcError("gzip inflate budget exceeded")
                if chunk:
                    yield chunk
                if d.eof:
                    break
                src = d.unconsumed_tail
            tail = d.flush()
        except zlib.error as e:
            raise WarcError(f"gzip member inflate failed: {e}") from None
        if tail:
            produced += len(tail)
            if produced > budget:
                raise WarcError("gzip inflate budget exceeded")
            yield tail
        if not d.eof:
            return  # truncated member consumed all input (no trailer)
        off = fed_end - len(d.unused_data)
    if off < n:
        raise WarcError("trailing garbage after gzip members")


def parse_warc_records(
    data: bytes, conversion: bool = False
) -> Iterator[dict]:
    """Iterate response records of a (possibly gzipped) WARC byte blob:
    yields {url, date, html} per response record; warcinfo/request/
    metadata records are skipped. Raises WarcError on a structurally
    broken stream (caller maps it to a row-level error).
    ``conversion=True`` additionally yields WET-style conversion
    records as {url, date, text} (plain UTF-8 payload, no HTTP
    envelope — the Common Crawl extracted-text layout).

    Streaming walk over a ROLLING buffer fed by :func:`_iter_inflated`:
    consumed bytes are discarded as records complete, so peak memory is
    one record (+ one inflate chunk), independent of blob size — the
    property that makes GiB-scale Common Crawl files safe in a single
    Python worker (binaryFile's own ceiling is 2 GiB/file, int32 Arrow
    offsets; scan partitions are size-packed so a batch never carries
    more than ~max(maxPartitionBytes, one file))."""
    src = _iter_inflated(bytes(data))
    buf = bytearray()
    eof = False
    base = 0  # absolute offset of buf[0] (error messages survive compaction)

    def pull() -> bool:
        nonlocal eof
        if eof:
            return False
        chunk = next(src, None)
        if chunk is None:
            eof = True
            return False
        buf.extend(chunk)
        return True

    pos = 0
    while True:
        if pos > _COMPACT_AT:  # drop consumed prefix, keep buffer ~record-sized
            base += pos
            del buf[:pos]
            pos = 0
        # tolerate inter-record padding newlines (pulling as needed)
        while True:
            while pos < len(buf) and buf[pos : pos + 1] in (b"\r", b"\n"):
                pos += 1
            if pos < len(buf) or not pull():
                break
        if pos >= len(buf):
            return
        # accumulate the full header block (bounded — WARC headers are
        # small; a no-terminator stream must not buffer everything)
        search_from = pos
        while True:
            hdr_end = buf.find(b"\r\n\r\n", search_from)
            if hdr_end != -1:
                break
            if len(buf) - pos > _MAX_HEADER_BLOCK:
                raise WarcError("unterminated WARC header block")
            search_from = max(pos, len(buf) - 3)
            if not pull():
                break
        if buf[pos : pos + 5] != b"WARC/":
            raise WarcError(
                f"expected WARC/ version line at offset {base + pos}"
            )
        if hdr_end == -1:
            raise WarcError("unterminated WARC header block")
        headers: dict[str, str] = {}
        for line in bytes(buf[pos:hdr_end]).split(b"\r\n")[1:]:
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower().decode("latin-1")] = (
                    v.strip().decode("latin-1")
                )
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            raise WarcError("missing/invalid WARC Content-Length") from None
        if clen < 0:
            # int('-N') parses; without this guard pos would move
            # BACKWARD and a hostile record could loop the walk forever
            # (ADVICE r5 medium — executor hang, not a row error)
            raise WarcError("negative WARC Content-Length")
        body_lo = hdr_end + 4
        while len(buf) < body_lo + clen and pull():
            pass
        if len(buf) < body_lo + clen:
            raise WarcError("truncated WARC record body")
        body = bytes(buf[body_lo : body_lo + clen])
        assert body_lo + clen > pos  # the walk strictly advances
        pos = body_lo + clen
        wtype = headers.get("warc-type")
        if wtype == "conversion" and conversion:
            yield {
                "url": headers.get("warc-target-uri", ""),
                "date": headers.get("warc-date", ""),
                "text": body.decode("utf-8", "replace"),
            }
            continue
        if wtype != "response":
            continue
        url = headers.get("warc-target-uri", "")
        date = headers.get("warc-date", "")
        # HTTP payload: status line + headers, then the entity body
        split = body.find(b"\r\n\r\n")
        if split == -1 or not body.startswith(b"HTTP/"):
            raise WarcError(f"record for {url!r}: malformed HTTP payload")
        status_line = body[: body.find(b"\r\n")].split(b" ")
        try:
            status = int(status_line[1])
        except (IndexError, ValueError):
            status = None
        http_headers: dict[str, str] = {}
        for line in body[:split].split(b"\r\n")[1:]:
            k, sep, v = line.partition(b":")
            if sep:
                http_headers[k.strip().lower().decode("latin-1")] = (
                    v.strip().lower().decode("latin-1")
                )
        entity = body[split + 4 :]
        # raw captures preserve the wire shape: dechunk, then undo
        # Content-Encoding. A failure here is a PER-RECORD error row
        # (url carried), never a blob failure.
        try:
            if "chunked" in http_headers.get("transfer-encoding", ""):
                entity = _dechunk(entity)
            entity = _decode_entity(
                entity, http_headers.get("content-encoding", "")
            )
        except WarcError as e:
            yield {"url": url, "date": date, "html": None,
                   "status": status, "error": str(e)}
            continue
        yield {"url": url, "date": date, "html": entity,
               "status": status}


def _dechunk(data: bytes) -> bytes:
    """Undo HTTP/1.1 Transfer-Encoding: chunked (hex size lines,
    optional chunk extensions, trailers ignored)."""
    out = bytearray()
    pos = 0
    while True:
        nl = data.find(b"\r\n", pos)
        if nl == -1:
            raise WarcError("truncated chunked body")
        tok = data[pos:nl].split(b";")[0].strip()
        try:
            size = int(tok, 16)
        except ValueError:
            raise WarcError("malformed chunk size") from None
        pos = nl + 2
        if size == 0:
            return bytes(out)
        if pos + size > len(data):
            raise WarcError("truncated chunk")
        out += data[pos : pos + size]
        pos += size + 2  # trailing CRLF


# per-RECORD entity inflate floor (blob-level budget is larger)
_ENTITY_FLOOR = 64 * 1024 * 1024


def _decode_entity(entity: bytes, ce: str) -> bytes:
    """Undo Content-Encoding. gzip/x-gzip and deflate (both zlib-wrapped
    and raw) decode with a bomb budget; brotli/zstd have no stdlib
    decoder and become typed PER-RECORD errors rather than feeding
    compressed bytes to the HTML parser as if they were markup."""
    ce = ce.strip()
    if ce in ("", "identity", "none"):
        return entity
    budget = max(_ENTITY_FLOOR, _INFLATE_RATIO_CAP * len(entity))
    if ce in ("gzip", "x-gzip"):
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
    elif ce == "deflate":
        # some servers send raw deflate despite the zlib-wrapper spec;
        # sniff the zlib header properly (CM==8 in the low CMF nibble +
        # the FCHECK mod-31 rule) — legal small-window CMF bytes like
        # 0x08/0x18/0x28 are zlib too, not just 0x78/0x58
        wrapped = (
            len(entity) >= 2
            and (entity[0] & 0x0F) == 8
            and ((entity[0] << 8) | entity[1]) % 31 == 0
        )
        d = zlib.decompressobj(zlib.MAX_WBITS if wrapped else -zlib.MAX_WBITS)
    else:
        raise WarcError(f"unsupported content-encoding: {ce}")
    try:
        out = d.decompress(entity, budget + 1)
        if len(out) > budget:
            raise WarcError("entity inflate budget exceeded")
        out += d.flush()
    except zlib.error as e:
        raise WarcError(f"entity inflate failed: {e}") from None
    return out


def warc_to_pages(
    df: DataFrame, id_col: str = "warc_id", content_col: str = "content",
    spread: bool = True,
) -> DataFrame:
    """(warc_id, content binary) → one row per response record
    (url, warc_ts string, html binary, warc_id, http_status, error).
    A broken WARC blob yields ONE error row carrying its warc_id
    (error contract of the parse/pdf operators); a record whose HTTP
    payload cannot be decoded (unsupported content-encoding, corrupt
    entity gzip) yields a PER-RECORD error row carrying its url;
    request/warcinfo records are skipped silently. ``http_status`` is
    the parsed status-line code (real crawls carry 3xx/4xx/5xx bodies
    a curation pipeline filters on — downstream keeps 200s). mapInArrow: binary end-to-end, 2-column pruned input.

    ``spread=True`` (default, r9) round-robin-repartitions the blob
    frame to 2×defaultParallelism before the walk: a blob is the unit
    of sequential work (an unsplittable gzip stream), and when blobs
    arrive hash-clustered (e.g. the output of a groupBy whose key count
    is near the shuffle partition count) a few tasks own 2-4 blobs each
    while others own none — the measured r9 straggler cost was ~0.8 s
    of the 3.0 s warc_extract gate. The repartition moves COMPRESSED
    bytes only (the cheapest pass that exists; round-robin is
    deterministic under retries via sort-before-repartition,
    SPARK-23207) and gives one-blob task granularity. Pass
    ``spread=False`` for sources that are already one-blob-per-split
    (real WARC file scans at corpus scale) or for streaming frames."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    fn = _records_fn()

    pruned = df.select(
        F.col(id_col).cast("bigint").alias("warc_id"),
        F.col(content_col).alias("content"),
    )
    if spread:
        n = df.sparkSession.sparkContext.defaultParallelism * 2
        pruned = pruned.repartition(n)
    return pruned.mapInArrow(fn, PAGES_FIELDS)


def _records_fn(flush_bytes: int = 64 * 1024 * 1024, flush_rows: int = 4096):
    """Build the mapInArrow record-walk function (module-level so tests
    can drive it Spark-free and shrink the flush thresholds)."""
    import pyarrow as pa

    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.string()),
        ("html", pa.binary()), ("warc_id", pa.int64()),
        ("http_status", pa.int32()), ("error", pa.string()),
    ])

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # output is flushed by SIZE, not per input batch: a single GiB
        # blob yields many bounded RecordBatches instead of one giant
        # pydict of every record in the blob — paired with the rolling
        # record walk this keeps worker memory ~O(one record), not
        # O(inflated blob)
        out = {"url": [], "warc_ts": [], "html": [], "warc_id": [],
               "http_status": [], "error": []}
        held = 0

        def flush():
            nonlocal out, held
            batch = pa.RecordBatch.from_pydict(out, schema=schema)
            out = {"url": [], "warc_ts": [], "html": [], "warc_id": [],
                   "http_status": [], "error": []}
            held = 0
            return batch

        for batch in batches:
            ids = batch.column(0).to_pylist()
            blobs = batch.column(1).to_pylist()
            del batch
            for wid, blob in zip(ids, blobs):
                try:
                    if blob is None:
                        raise WarcError("null payload")
                    for rec in parse_warc_records(blob):
                        out["url"].append(rec["url"])
                        out["warc_ts"].append(rec["date"])
                        out["html"].append(rec["html"])
                        out["warc_id"].append(wid)
                        out["http_status"].append(rec.get("status"))
                        # per-record errors (bad content-encoding etc.)
                        # carry their url, unlike blob-level errors
                        out["error"].append(rec.get("error"))
                        held += len(rec["html"] or b"") + 64
                        if held >= flush_bytes or len(out["url"]) >= flush_rows:
                            yield flush()
                except WarcError as e:
                    out["url"].append(None)
                    out["warc_ts"].append(None)
                    out["html"].append(None)
                    out["warc_id"].append(wid)
                    out["http_status"].append(None)
                    out["error"].append(str(e))
        yield flush()

    return fn


def wet_to_text(
    df: DataFrame, id_col: str = "wet_id", content_col: str = "content"
) -> DataFrame:
    """(wet_id, content binary) → one row per WET conversion record
    (url, warc_ts string, text string, wet_id, error). The read-side
    of the extraction interchange format :func:`make_wet` writes,
    walking each blob record by record like :func:`warc_to_pages`. A
    broken (or null) blob yields ONE error row carrying its wet_id.
    Response records inside a mixed blob are skipped (this reader wants
    extracted text, not raw captures). Memory: one :func:`map_rows`
    output batch per input Arrow batch, so a task holds every text
    record of one input batch of blobs until that batch ends — unlike
    :func:`warc_to_pages`, whose output flushes by size, this is not
    O(one record) at GiB blob scale."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    names = ("url", "warc_ts", "text", "error")

    def emit(out, blob) -> int:
        n = 0
        try:
            if blob is None:
                raise WarcError("null payload")
            for rec in parse_warc_records(blob, conversion=True):
                if "text" not in rec:
                    continue  # response records: not our format
                row = (rec["url"], rec["date"], rec["text"], None)
                for k, v in zip(names, row):
                    out[k].append(v)
                n += 1
        except WarcError as e:
            # the records walked before the break keep their rows
            for k, v in zip(names, (None, None, None, str(e))):
                out[k].append(v)
            n += 1
        return n

    return map_rows(
        df, [F.col(id_col).cast("bigint").alias("wet_id")], [content_col],
        emit, pa.schema([(k, pa.string()) for k in names]),
    ).select("url", "warc_ts", "text", "wet_id", "error")
