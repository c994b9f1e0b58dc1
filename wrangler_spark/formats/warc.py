"""WARC (Web ARChive, ISO 28500) record parsing — pure stdlib.

The format underlying Common Crawl and web-archive corpora: a WARC file
is a sequence of records, each ``WARC/1.x\\r\\n`` + header lines + blank
line + exactly ``Content-Length`` payload bytes + ``\\r\\n\\r\\n``. Files
ship either plain or gzipped; the archival convention is ONE GZIP MEMBER
PER RECORD (so tools can seek).

Decompression is INCREMENTAL: a ``zlib.decompressobj`` loop walks the
members, yielding bounded decompressed chunks that a buffered parser
consumes and discards as records complete — peak memory is the
compressed input buffer plus ONE pending record (plus a fixed chunk
slack), never the fully-decompressed archive (a ~1 GB Common Crawl
.warc.gz is ~4-5 GB decompressed; 32 concurrent whole-file decompresses
would need 140+ GB). This holds for the per-record-member convention AND
for whole-stream gzip: the parser's buffer drains after every record
either way.

This module only parses bytes; the Spark plumbing (file parallelism,
batching, schema) lives in ``wrangler_spark.sources.read_warc``.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

GZIP_MAGIC = b"\x1f\x8b"

# compressed bytes fed to the decompressor per call / decompressed bytes
# yielded per chunk — both bound the transient memory of the member walk
_FEED = 1 << 20
_MAX_CHUNK = 1 << 20


GZIP_MEMBER_MAGIC = b"\x1f\x8b\x08"  # magic + DEFLATE method byte

# discontinuity sentinel in the chunk stream: everything decoded BEFORE
# a corrupt member is unreliable record material (the corruption point
# is mid-record), so the record layer must never frame across it — it
# drops its pending buffer and starts fresh on the post-resync bytes.
_RESET = object()


def _gunzip_members(data: bytes) -> Iterator[bytes | object]:
    """Yield decompressed chunks (each ≤ ``_MAX_CHUNK``) across all gzip
    members of ``data`` without ever holding more than one chunk of
    decompressed output. A truncated final member yields what decoded
    cleanly and stops (the parser then drops the partial tail record —
    the same contract as a truncated PLAIN file).

    A CORRUPT member does not end the walk: members are independent, so
    the walk RESYNCS by scanning forward for the next member header
    (``\\x1f\\x8b\\x08``) and decoding from there — one bad member in a
    per-record-member Common Crawl archive costs that record, never the
    rest of the file. A spurious in-deflate magic hit just fails
    decoding again and resyncs further (false positives are rejected by
    the member's own integrity checks). Partial output decoded before
    the corruption has already been yielded, so the corruption point is
    marked with a ``_RESET`` sentinel in the stream: the record layer
    discards everything pending and re-frames from the post-resync
    bytes — without the sentinel, a partial record whose COMPLETE header
    survived the corruption would trust its Content-Length and swallow
    the next member's bytes as body (a silent frankenrecord that also
    destroys the following record)."""
    view = memoryview(data)
    pos, n = 0, len(data)
    while pos < n:
        if bytes(view[pos : pos + 2]) != GZIP_MAGIC:
            # inter-member garbage / clobbered member header: resync to
            # the next member header (none left -> trailing garbage,
            # drop it). No output was produced from the garbage itself,
            # but the CLOBBERED member's record is gone — reset so a
            # preceding partial can't frame across the gap.
            nxt = data.find(GZIP_MEMBER_MAGIC, pos)
            yield _RESET
            if nxt < 0:
                return
            pos = nxt
        member_start = pos
        d = zlib.decompressobj(wbits=31)
        buf = view[pos : pos + _FEED]
        pos += len(buf)
        corrupt = False
        while True:
            try:
                out = d.decompress(buf, _MAX_CHUNK)
            except zlib.error:
                corrupt = True
                break
            if out:
                yield out
            if d.eof:
                pos -= len(d.unused_data)  # rewind to the next member
                break
            buf = d.unconsumed_tail
            if not buf:
                if pos >= n:
                    tail = d.flush()  # truncated final member
                    if tail:
                        yield tail
                    return
                buf = view[pos : pos + _FEED]
                pos += len(buf)
        if corrupt:
            yield _RESET  # everything pending precedes the corruption
            nxt = data.find(GZIP_MEMBER_MAGIC, member_start + 1)
            if nxt < 0:
                return  # no further member header: the tail is gone
            pos = nxt


def _records_from_chunks(
    chunks: Iterator[bytes | object], _watermark: list[int] | None = None
) -> Iterator[tuple[dict[str, str], bytes]]:
    """Incremental record parser over a chunk stream that may carry
    ``_RESET`` discontinuity sentinels (corrupt-member resyncs): the
    stream is split into SEGMENTS at each sentinel and every segment is
    framed independently, so a partial record decoded before a corrupt
    member is dropped at its segment's end (the truncated-tail rule)
    and can never splice onto post-resync bytes — even when its
    complete header (and Content-Length) survived the corruption."""
    it = iter(chunks)
    eof = [False]

    def segment() -> Iterator[bytes]:
        for c in it:
            if c is _RESET:
                return
            yield c
        eof[0] = True

    while not eof[0]:
        yield from _records_contiguous(segment(), _watermark)


def _records_contiguous(
    chunks: Iterator[bytes], _watermark: list[int] | None = None
) -> Iterator[tuple[dict[str, str], bytes]]:
    """Incremental record parser over a CONTIGUOUS chunk stream: the
    working buffer holds at most one pending record (consumed prefixes
    are deleted as records complete; junk runs are trimmed during
    resync), so memory is bounded by the largest record, not the
    archive. ``_watermark`` is a test hook — a 1-element list updated
    with the peak buffer size."""
    buf = bytearray()
    exhausted = False

    def fill() -> bool:
        nonlocal exhausted
        if exhausted:
            return False
        c = next(chunks, None)
        if c is None:
            exhausted = True
            return False
        buf.extend(c)
        if _watermark is not None and len(buf) > _watermark[0]:
            _watermark[0] = len(buf)
        return True

    while True:
        # skip inter-record CR/LF padding
        while True:
            i = 0
            while i < len(buf) and buf[i : i + 1] in (b"\r", b"\n"):
                i += 1
            if i:
                del buf[:i]
            if buf or not fill():
                break
        if not buf:
            return
        while len(buf) < 5 and fill():
            pass
        if bytes(buf[:5]) != b"WARC/":
            # resync: junk / malformed bytes cost at most the run up to
            # the next record boundary; trim the buffer while scanning so
            # a marker-free junk run never accumulates
            j = buf.find(b"\nWARC/")
            while j < 0:
                if len(buf) > 5:
                    del buf[: len(buf) - 5]
                if not fill():
                    return
                j = buf.find(b"\nWARC/")
            del buf[: j + 1]
            continue
        end_hdr = buf.find(b"\r\n\r\n")
        while end_hdr < 0:
            if not fill():
                return  # truncated header at the tail
            end_hdr = buf.find(b"\r\n\r\n")
        headers: dict[str, str] = {}
        for ln in bytes(buf[:end_hdr]).decode("utf-8", "replace").split("\r\n")[1:]:
            if ":" in ln:
                k, v = ln.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        clen_s = headers.get("content-length")
        if clen_s is None or not clen_s.isdigit():
            # malformed record (Content-Length is mandatory): skip it
            # alone — resync from the end of its header block
            del buf[:end_hdr]
            if buf[:1] in (b"\r", b"\n"):
                del buf[:1]  # don't let the header's own CRLF re-match
            continue
        clen = int(clen_s)
        start = end_hdr + 4
        while len(buf) < start + clen:
            if not fill():
                return  # truncated tail record
        yield headers, bytes(buf[start : start + clen])
        del buf[: start + clen]


def iter_records(
    data: bytes, _watermark: list[int] | None = None
) -> Iterator[tuple[dict[str, str], bytes]]:
    """Yield (headers, block) per WARC record. Header names are
    lower-cased; values are stripped. A truncated TAIL record is dropped
    rather than raised (partial downloads); a malformed MID-FILE record
    (missing/non-numeric Content-Length — a mandatory header — or
    non-record bytes) is skipped by resyncing to the next record
    boundary, so one bad record never discards the rest of the file.

    Gzip input is decompressed INCREMENTALLY per member: peak memory is
    the compressed input + one record, never the decompressed archive
    (see module docstring). ``_watermark`` is a test hook exposing the
    parser's peak buffer size."""
    if data[:2] == GZIP_MAGIC:
        return _records_from_chunks(_gunzip_members(data), _watermark)
    return _records_from_chunks(iter((bytes(data),)), _watermark)


def split_http_payload(block: bytes) -> tuple[int | None, bytes]:
    """(status, body) for an ``application/http`` response block: parse
    the status line, drop the HTTP headers. Non-HTTP-looking blocks come
    back unchanged with status None."""
    if not block.startswith(b"HTTP/"):
        return None, block
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        return None, block
    status_line = block[: block.find(b"\r\n")].decode("ascii", "replace")
    parts = status_line.split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        status = None
    return status, block[sep + 4 :]


def build_record(
    headers: dict[str, str], block: bytes, warc_type: str = "response"
) -> bytes:
    """Serialize one WARC record (test/fixture helper — the writer side
    of iter_records). The Content-Length is always COMPUTED from the
    block — a caller-supplied value (e.g. copied from an HTTP response)
    would desynchronize the record framing for everything after it."""
    hdr = {"WARC-Type": warc_type, **headers}
    hdr["Content-Length"] = str(len(block))
    head = b"WARC/1.0\r\n" + b"".join(
        f"{k}: {v}\r\n".encode() for k, v in hdr.items()
    )
    return head + b"\r\n" + block + b"\r\n\r\n"
