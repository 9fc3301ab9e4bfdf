"""WARC (ISO 28500) container parse/write — the Common-Crawl delivery
format, pure stdlib.

The engine's input hint is a table of Common-Crawl-style pages
(url, warc_ts, html, ...), but real crawls arrive as ``*.warc.gz``
files: a sequence of WARC records, each its own gzip member, each
holding WARC headers + (for ``response`` records) an HTTP/1.1 response
whose body is the page payload. This kernel turns those bytes into
(url, warc_ts, html_utf8) rows:

- WARC/1.0 and /1.1 record framing: version line, CRLF header block,
  ``Content-Length``-delimited body, CRLF CRLF trailer
- per-record gzip members (the spec's recommended layout — stdlib
  ``zlib`` decodes concatenated members incrementally, so a 1 GB
  archive streams in bounded memory) and plain uncompressed WARC
- HTTP response split: status line + headers vs body;
  ``Transfer-Encoding: chunked`` bodies are de-chunked (crawlers store
  the raw wire bytes)
- charset normalization at the edge: BOM → Content-Type charset →
  HTML5 meta prescan (``<meta charset>`` / http-equiv) → UTF-8
  fallback with replacement, so the ``html`` column downstream is
  always UTF-8 and the extraction kernel's utf-8 decode is exact

Error contract (same shape as the other kernels): a structurally
corrupt archive raises ``WarcFormatError``; an individual record that
is merely odd (non-response type, empty body, unparseable HTTP) is
skipped, never fatal — at crawl scale a bad record must not kill the
file's task.

Reference parity note: the reference ingests local files/directories
(src/ocr_agent/input_discovery.py); WARC is the corresponding web-scale
source container for the Common-Crawl-style pages table this engine is
specified over.
"""

from __future__ import annotations

import datetime as _dt
import gzip
import io
import re
import zlib
from collections.abc import Iterator

_CRLF = b"\r\n"
_MAX_HEADER_BLOCK = 1 << 20  # 1 MiB of headers is corruption, not HTML
# Largest single record body we will buffer (Common Crawl truncates
# response payloads at 1 MiB; 1 GiB leaves room for fat resources
# while still bounding a corrupt length field)
_MAX_RECORD_BODY = 1 << 30


class WarcFormatError(ValueError):
    """The archive's framing is broken (not: one odd record)."""


# -- charset sniffing -------------------------------------------------------

_META_CHARSET = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([-A-Za-z0-9_:.]+)""", re.IGNORECASE
)
_CT_CHARSET = re.compile(r"charset\s*=\s*\"?([-A-Za-z0-9_:.]+)", re.IGNORECASE)

_BOMS = (
    (b"\xef\xbb\xbf", "utf-8-sig"),
    (b"\xff\xfe\x00\x00", "utf-32-le"),
    (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
)


def sniff_charset(body: bytes, content_type: str | None = None) -> str:
    """BOM → HTTP Content-Type charset → meta prescan → utf-8.

    The HTML5 prescan order, bounded to the first 1024 bytes like
    browsers. Unknown/bogus charset names fall through to utf-8.
    """
    for bom, enc in _BOMS:
        if body.startswith(bom):
            return enc
    if content_type:
        m = _CT_CHARSET.search(content_type)
        if m:
            enc = m.group(1).strip().lower()
            if _codec_exists(enc):
                return enc
    m = _META_CHARSET.search(body[:1024])
    if m:
        enc = m.group(1).decode("ascii", "replace").strip().lower()
        # HTML5: utf-16 declared in-document is read as utf-8 (the
        # prescan only sees ASCII-compatible bytes anyway)
        if enc in ("utf-16", "utf-16-le", "utf-16-be"):
            return "utf-8"
        if _codec_exists(enc):
            return enc
    return "utf-8"


def _codec_exists(name: str) -> bool:
    import codecs

    try:
        info = codecs.lookup(name)
    except LookupError:
        return False
    # codecs.lookup also resolves binary transforms (hex, base64, zlib,
    # rot13…) whose .decode() raises LookupError("not a text encoding")
    # — a crawled page declaring <meta charset="hex"> must fall through
    # to utf-8, not blow up the archive task (code-review r5).
    return bool(getattr(info, "_is_text_encoding", True))


def decode_to_utf8(body: bytes, content_type: str | None = None) -> bytes:
    """Page bytes in any declared charset → UTF-8 bytes (replacement on
    undecodable sequences). Normalizing ONCE at the ingest edge keeps
    every downstream stage (extraction, dedup shingles, lang-id) on the
    exact utf-8 contract."""
    enc = sniff_charset(body, content_type)
    if enc == "utf-8" or enc == "ascii":
        # fast path: verify instead of transcode
        try:
            body.decode("utf-8")
            return body
        except UnicodeDecodeError:
            return body.decode("utf-8", "replace").encode("utf-8")
    decoded = body.decode(enc, "replace")
    # utf-8-sig strips its BOM during decode; the utf-16/32 codecs do
    # NOT (the BOM decodes to a leading U+FEFF), which would otherwise
    # re-encode as EF BB BF and pollute extracted text and dedup
    # shingles for every UTF-16/32 crawl page (ADVICE r4).
    if decoded.startswith("\ufeff"):
        decoded = decoded[1:]
    return decoded.encode("utf-8")


# -- HTTP response parsing --------------------------------------------------


def _dechunk(body: bytes) -> bytes:
    """Transfer-Encoding: chunked wire bytes → payload bytes."""
    out = []
    pos = 0
    n = len(body)
    while pos < n:
        eol = body.find(_CRLF, pos)
        if eol < 0:
            break  # truncated chunk header: keep what we have
        size_token = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_token, 16)
        except ValueError:
            break
        if size == 0:
            break  # terminal chunk (trailers ignored)
        start = eol + 2
        out.append(body[start:start + size])
        pos = start + size + 2  # skip chunk-data CRLF
    return b"".join(out)


def _hdr_decode(value: bytes) -> str:
    """Header-value bytes → str: UTF-8 first, latin-1 fallback.

    The writers in this module encode WARC-Target-URI / Location as
    UTF-8; decoding everything as latin-1 would mojibake non-ASCII URLs
    through the WET round trip (url read back != url written),
    silently breaking joins against the original url column.
    Legacy archives with raw 8-bit header bytes still parse via the
    latin-1 fallback (which never fails)."""
    try:
        return value.decode("utf-8")
    except UnicodeDecodeError:
        return value.decode("latin-1")


def parse_http_response(raw: bytes) -> tuple[dict[str, str], bytes] | None:
    """HTTP/1.x response bytes → (lowercased headers, payload body).

    Returns None when the bytes don't look like an HTTP response (some
    crawls store bare payloads in response records)."""
    if not raw.startswith(b"HTTP/"):
        return None
    sep = raw.find(b"\r\n\r\n")
    if sep < 0:
        return None
    headers: dict[str, str] = {}
    for line in raw[:sep].split(_CRLF)[1:]:
        c = line.find(b":")
        if c > 0:
            headers[line[:c].decode("latin-1").strip().lower()] = (
                _hdr_decode(line[c + 1:]).strip()
            )
    body = raw[sep + 4:]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    return headers, body


# -- WARC record framing ----------------------------------------------------


def _parse_warc_date(value: str) -> _dt.datetime:
    v = value.strip().replace("Z", "+00:00")
    try:
        ts = _dt.datetime.fromisoformat(v)
    except ValueError:
        return _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    return ts


def iter_warc_records(stream) -> Iterator[tuple[dict[str, str], bytes]]:
    """File-like of (possibly gzipped) WARC bytes → (headers, body) per
    record. Bounded memory: reads one record at a time.

    Accepts per-record-member gzip (the spec layout), whole-file gzip,
    and uncompressed WARC — all through one incremental zlib path.
    """
    head = stream.read(2)
    if head == b"\x1f\x8b":
        reader = _GzipMembersReader(stream, head)
    else:
        reader = _PlainReader(stream, head)

    while True:
        line = reader.readline()
        if line is None:
            return
        if line.strip() == b"":
            continue  # inter-record CRLFs
        if not line.startswith(b"WARC/"):
            raise WarcFormatError(f"expected WARC version line, got {line[:40]!r}")
        headers: dict[str, str] = {}
        hdr_bytes = 0
        while True:
            hl = reader.readline()
            if hl is None:
                raise WarcFormatError("EOF inside WARC header block")
            hdr_bytes += len(hl)
            if hdr_bytes > _MAX_HEADER_BLOCK:
                raise WarcFormatError("WARC header block exceeds 1 MiB")
            if hl.strip() == b"":
                break
            c = hl.find(b":")
            if c > 0:
                headers[hl[:c].decode("latin-1").strip().lower()] = (
                    _hdr_decode(hl[c + 1:]).strip()
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            raise WarcFormatError("WARC record without valid Content-Length")
        if length < 0:
            # a negative slice would silently swallow the NEXT record
            # into this body — corruption, not tolerance territory
            raise WarcFormatError(f"negative WARC Content-Length {length}")
        if length > _MAX_RECORD_BODY:
            # bounded-memory contract: a absurd length would buffer the
            # whole decompressed archive chasing it
            raise WarcFormatError(
                f"WARC Content-Length {length} exceeds the "
                f"{_MAX_RECORD_BODY >> 20} MiB record bound"
            )
        body = reader.read_exact(length)
        if body is None:
            raise WarcFormatError("EOF inside WARC record body")
        yield headers, body


class _PlainReader:
    """Line/exact reads over an uncompressed stream (+pushback head)."""

    def __init__(self, stream, head: bytes) -> None:
        self._stream = stream
        self._buf = bytearray(head)

    def _fill(self, want: int) -> None:
        while len(self._buf) < want:
            chunk = self._stream.read(max(want - len(self._buf), 1 << 16))
            if not chunk:
                return
            self._buf.extend(chunk)

    def readline(self) -> bytes | None:
        while True:
            nl = self._buf.find(b"\n")
            if nl >= 0:
                line = bytes(self._buf[:nl + 1])
                del self._buf[:nl + 1]
                return line
            before = len(self._buf)
            self._fill(before + (1 << 16))
            if len(self._buf) == before:
                if not self._buf:
                    return None
                line = bytes(self._buf)
                self._buf.clear()
                return line

    def read_exact(self, n: int) -> bytes | None:
        self._fill(n)
        if len(self._buf) < n:
            return None
        out = bytes(self._buf[:n])
        del self._buf[:n]
        return out


class _GzipMembersReader(_PlainReader):
    """Same interface over concatenated gzip members, decompressed
    incrementally (zlib wbits=47 auto-detects each member header)."""

    def __init__(self, stream, head: bytes) -> None:
        super().__init__(stream, b"")
        self._raw = io.BufferedReader(_Prepend(stream, head), 1 << 16)
        self._z = zlib.decompressobj(47)

    def _fill(self, want: int) -> None:
        # zlib.error (bad member header, corrupt deflate stream) is
        # re-raised as WarcFormatError: a damaged archive must surface
        # through the one typed channel callers already handle.
        try:
            self._fill_z(want)
        except zlib.error as exc:
            raise WarcFormatError(f"corrupt gzip member: {exc}") from exc

    def _fill_z(self, want: int) -> None:
        while len(self._buf) < want:
            if self._z.eof:
                tail = self._z.unused_data.lstrip(b"\x00")
                if not tail:
                    tail = self._raw.read(1 << 16)
                    if not tail:
                        return
                self._z = zlib.decompressobj(47)
                self._buf.extend(self._z.decompress(tail, want - len(self._buf)))
                continue
            if self._z.unconsumed_tail:
                self._buf.extend(
                    self._z.decompress(self._z.unconsumed_tail, want - len(self._buf))
                )
                continue
            chunk = self._raw.read(1 << 16)
            if not chunk:
                self._buf.extend(self._z.flush())
                return
            self._buf.extend(self._z.decompress(chunk, want - len(self._buf)))


class _Prepend(io.RawIOBase):
    def __init__(self, stream, head: bytes) -> None:
        self._stream = stream
        self._head = head

    def readable(self) -> bool:
        return True

    def readinto(self, b) -> int:
        if self._head:
            n = min(len(b), len(self._head))
            b[:n] = self._head[:n]
            self._head = self._head[n:]
            return n
        data = self._stream.read(len(b))
        if not data:
            return 0
        b[:len(data)] = data
        return len(data)


def _iter_usable_responses(stream) -> Iterator[tuple[str, _dt.datetime, bytes, str | None]]:
    """(url, ts, raw_payload, content_type) for each usable ``response``
    record — the shared filter chain, WITHOUT charset transcoding."""
    for headers, body in iter_warc_records(stream):
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        ts = _parse_warc_date(headers.get("warc-date", ""))
        http = parse_http_response(body)
        if http is not None:
            http_headers, payload = http
            ctype = http_headers.get("content-type")
        else:
            payload, ctype = body, None
        if not payload:
            continue
        yield url, ts, payload, ctype


def iter_warc_pages(stream) -> Iterator[tuple[str, _dt.datetime, bytes]]:
    """WARC stream → (url, warc_ts, utf8_html_bytes) for each usable
    ``response`` record. Odd records (requests, metadata, resources
    without a URI, empty bodies) are skipped."""
    for url, ts, payload, ctype in _iter_usable_responses(stream):
        yield url, ts, decode_to_utf8(payload, ctype)



# -- writer (fixtures + the engine's own export path) -----------------------


#: frozen reason phrases for the writer's status line (RFC 9110 names)
_REASONS = {
    200: "OK", 301: "Moved Permanently", 302: "Found",
    303: "See Other", 304: "Not Modified", 307: "Temporary Redirect",
    308: "Permanent Redirect", 404: "Not Found", 410: "Gone",
    500: "Internal Server Error", 503: "Service Unavailable",
}


def write_warc_record(out, url: str, ts: _dt.datetime, payload: bytes,
                      content_type: str = "text/html; charset=UTF-8",
                      compress: bool = True, chunked: bool = False,
                      status: int = 200,
                      location: str | None = None) -> None:
    """Append one ``response`` record (its own gzip member) to ``out``.

    Defaults (status=200, no location) write byte-identical records to
    the historical form — the golden roundtrip contracts are
    unaffected. ``status``/``location`` write redirect and error
    responses."""
    if chunked:
        http_body = (
            b"%x\r\n" % len(payload) + payload + b"\r\n0\r\n\r\n"
            if payload else b"0\r\n\r\n"
        )
        te = b"Transfer-Encoding: chunked\r\n"
    else:
        http_body = payload
        te = b"Content-Length: %d\r\n" % len(payload)
    reason = _REASONS.get(status, "Unknown")
    loc = (b"Location: " + location.encode("utf-8") + _CRLF
           if location else b"")
    http = (
        b"HTTP/1.1 %d " % status + reason.encode("latin-1") + _CRLF
        + b"Content-Type: " + content_type.encode("latin-1") + _CRLF
        + loc + te + _CRLF + http_body
    )
    warc_date = ts.astimezone(_dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        + b"WARC-Target-URI: " + url.encode("utf-8") + _CRLF
        + b"WARC-Date: " + warc_date.encode("ascii") + _CRLF
        + b"Content-Type: application/http; msgtype=response\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(http)
        + http + b"\r\n\r\n"
    )
    out.write(gzip.compress(rec, mtime=0) if compress else rec)


def build_warc(pages, compress: bool = True, chunked_every: int = 0) -> bytes:
    """(url, ts, payload_bytes[, content_type]) rows → WARC archive
    bytes. ``chunked_every=k`` stores every k-th record with a chunked
    HTTP body (wire-format realism for tests)."""
    out = io.BytesIO()
    for i, row in enumerate(pages):
        url, ts, payload = row[0], row[1], row[2]
        ctype = row[3] if len(row) > 3 else "text/html; charset=UTF-8"
        write_warc_record(
            out, url, ts, payload, content_type=ctype, compress=compress,
            chunked=bool(chunked_every and i % chunked_every == 0),
        )
    return out.getvalue()


# -- WET (extracted-text "conversion" records) -------------------------------
#
# Common Crawl publishes extracted text as WET sidecars: WARC records
# with WARC-Type: conversion and a text/plain UTF-8 body, one per
# source page. Writing each record as its own gzip member keeps the
# layout identical to the response archives above.


def write_wet_record(out, url: str, ts: _dt.datetime, text: str,
                     compress: bool = True) -> None:
    """Append one ``conversion`` record (its own gzip member) to
    ``out`` — the WET shape: no HTTP envelope, text/plain body."""
    body = text.encode("utf-8")
    warc_date = ts.astimezone(_dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: conversion\r\n"
        + b"WARC-Target-URI: " + url.encode("utf-8") + _CRLF
        + b"WARC-Date: " + warc_date.encode("ascii") + _CRLF
        + b"Content-Type: text/plain\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(body)
        + body + b"\r\n\r\n"
    )
    out.write(gzip.compress(rec, mtime=0) if compress else rec)


def iter_wet_texts(stream) -> Iterator[tuple[str, _dt.datetime, str]]:
    """WET archive → (url, ts, text) per conversion record. Non-
    conversion records in the stream are skipped, so a mixed archive
    degrades gracefully rather than erroring."""
    for headers, body in iter_warc_records(stream):
        if headers.get("warc-type") != "conversion":
            continue
        url = headers.get("warc-target-uri", "")
        ts = _parse_warc_date(headers.get("warc-date", ""))
        yield url, ts, body.decode("utf-8", "replace")
