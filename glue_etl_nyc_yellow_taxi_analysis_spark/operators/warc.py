"""WARC (ISO 28500 / WARC 1.0) record walker — pure stdlib parsing,
written from the public format spec.

A CommonCrawl-style web ingest starts at WARC shards, one record per
capture, each record its own gzip member (the wire convention that
makes records independently seekable) — the first-mile step BEFORE any
HTML extraction, quality gate, or dedup pass in the curation stack.
This is the archive-layer discipline of ``operators/tar.py`` applied
to the web on-ramp:

- ``response_record(uri, http_block)`` / ``warcinfo_record(body)`` —
  build single records: version line, named headers (WARC-Type,
  WARC-Record-ID deterministic from the URI, fixed WARC-Date,
  Content-Length), CRLF framing, two-CRLF record terminator.
- ``warc_container(records)`` — concatenate records into a .warc file.
- ``warc_gz_container(records)`` — the wire form: each record its own
  RFC 1952 gzip member, members concatenated (.warc.gz).
- ``_shard_pack(software, uri_prefix, gz)`` — the shard ``pack`` the
  WARC lanes hand to ``multimodal._shard_stage``: warcinfo head record
  plus one response record per doc's synth HTML page.
- ``parse_warc(data)`` — walk a .warc → [(headers dict, block bytes)].
  Verifies the version line, header syntax, Content-Length framing and
  the record terminator; raises ValueError on truncation/corruption —
  never a silent partial read.
- ``parse_warc_gz(data)`` — split gzip members (decompressobj +
  unused_data), require EXACTLY one record per member (the seekability
  contract), then delegate to ``parse_warc``.
- ``split_http_response(block)`` — strip the HTTP envelope of a
  response record → (status line, header dict, body bytes).

Intentionally NOT implemented (swap seam: ``warcio`` / ``fastwarc``):
chunked transfer decoding, WARC segmentation (WARC-Segment-*),
revisit-record deduplication by digest — a shard BUILDER controls its
own framing, so these are read-side gaps only for foreign archives.
"""

from __future__ import annotations

import hashlib
import zlib

_CRLF = b"\r\n"
_FIXED_DATE = "2021-01-01T00:00:00Z"  # fixed for determinism, like tar mtime


def _record(headers: list[tuple[str, str]], block: bytes) -> bytes:
    out = bytearray(b"WARC/1.0" + _CRLF)
    for name, value in headers:
        out += f"{name}: {value}".encode("utf-8") + _CRLF
    out += f"Content-Length: {len(block)}".encode() + _CRLF
    out += _CRLF
    out += block
    out += _CRLF + _CRLF
    return bytes(out)


def response_record(uri: str, http_block: bytes) -> bytes:
    """A WARC response record. The record id is deterministic (md5 of
    the target URI) so shards are bit-stable across runs/retries."""
    rid = hashlib.md5(uri.encode("utf-8")).hexdigest()
    return _record(
        [
            ("WARC-Type", "response"),
            ("WARC-Record-ID", f"<urn:md5:{rid}>"),
            ("WARC-Date", _FIXED_DATE),
            ("WARC-Target-URI", uri),
            ("Content-Type", "application/http; msgtype=response"),
        ],
        http_block,
    )


def revisit_record(uri: str, refers_to_uri: str, payload_digest: str) -> bytes:
    """A WARC revisit record (ISO 28500 §6.7.2, identical-payload-digest
    profile — how CommonCrawl stores re-crawled duplicates): no payload
    block; ``WARC-Refers-To`` names the original capture's record id
    and ``WARC-Payload-Digest`` carries the shared digest a reader uses
    to resolve content without re-storing it."""
    rid = hashlib.md5(uri.encode("utf-8")).hexdigest()
    ref = hashlib.md5(refers_to_uri.encode("utf-8")).hexdigest()
    return _record(
        [
            ("WARC-Type", "revisit"),
            ("WARC-Record-ID", f"<urn:md5:{rid}>"),
            ("WARC-Date", _FIXED_DATE),
            ("WARC-Target-URI", uri),
            ("WARC-Refers-To", f"<urn:md5:{ref}>"),
            ("WARC-Payload-Digest", f"md5:{payload_digest}"),
            (
                "WARC-Profile",
                "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest",
            ),
        ],
        b"",
    )


def warcinfo_record(body: str) -> bytes:
    rid = hashlib.md5(body.encode("utf-8")).hexdigest()
    return _record(
        [
            ("WARC-Type", "warcinfo"),
            ("WARC-Record-ID", f"<urn:md5:{rid}>"),
            ("WARC-Date", _FIXED_DATE),
            ("Content-Type", "application/warc-fields"),
        ],
        body.encode("utf-8"),
    )


def http_response(html: bytes, content_type: str = "text/html; charset=utf-8") -> bytes:
    """The HTTP envelope a response record's block carries."""
    return (
        b"HTTP/1.1 200 OK" + _CRLF
        + f"Content-Type: {content_type}".encode() + _CRLF
        + f"Content-Length: {len(html)}".encode() + _CRLF
        + _CRLF
        + html
    )


def warc_container(records: list[bytes]) -> bytes:
    """Concatenate pre-built records into one .warc shard."""
    return b"".join(records)


def warc_gz_container(records: list[bytes]) -> bytes:
    """The wire form: one gzip member per record, concatenated — keeps
    records independently seekable (the CommonCrawl convention)."""
    out = bytearray()
    for rec in records:
        co = zlib.compressobj(6, zlib.DEFLATED, 31)  # wbits 31 = gzip frame
        out += co.compress(rec) + co.flush()
    return bytes(out)


def _shard_pack(software: str, uri_prefix: str, gz: bool = False):
    """The ``pack`` of a WARC shard for ``multimodal._shard_stage``:
    a warcinfo head record naming ``software``, then one response
    record per (doc_id, text, source) row carrying the doc's synth HTML
    page at ``{uri_prefix}{doc_id}``; per-record gzip members when
    ``gz`` (.warc.gz)."""
    from .html import synth_html

    container = warc_gz_container if gz else warc_container

    def pack(shard_id, pdf):
        records = [warcinfo_record(f"software: {software}\r\n")]
        for d, t, s in zip(pdf["doc_id"], pdf["text"], pdf["source"]):
            page = synth_html(int(d), t, s).encode("utf-8")
            records.append(response_record(f"{uri_prefix}{int(d)}", http_response(page)))
        return container(records)

    return pack


def parse_warc(data: bytes) -> list[tuple[dict, bytes]]:
    """Walk a .warc → ordered [(headers, block)].  Header names are
    lower-cased in the returned dict.  Raises ValueError on any framing
    violation (bad version line, header without a colon, missing
    Content-Length, truncated block, missing record terminator)."""
    records: list[tuple[dict, bytes]] = []
    pos = 0
    n = len(data)
    while pos < n:
        hdr_end = data.find(_CRLF + _CRLF, pos)
        if hdr_end < 0:
            raise ValueError("truncated WARC record header")
        lines = data[pos:hdr_end].split(_CRLF)
        if lines[0] not in (b"WARC/1.0", b"WARC/1.1"):
            raise ValueError(f"bad WARC version line at byte {pos}")
        headers: dict[str, str] = {}
        for line in lines[1:]:
            name, sep, value = line.partition(b":")
            if not sep:
                raise ValueError("WARC header line without a colon")
            headers[name.decode("utf-8").strip().lower()] = (
                value.decode("utf-8").strip()
            )
        if "content-length" not in headers:
            raise ValueError("WARC record missing Content-Length")
        try:
            length = int(headers["content-length"])
        except ValueError:
            raise ValueError("malformed Content-Length") from None
        if length < 0:
            raise ValueError("malformed Content-Length")
        body_start = hdr_end + 4
        body_end = body_start + length
        if body_end + 4 > n:
            raise ValueError("truncated WARC record block")
        if data[body_end : body_end + 4] != _CRLF + _CRLF:
            raise ValueError("missing WARC record terminator")
        records.append((headers, data[body_start:body_end]))
        pos = body_end + 4
    return records


def parse_warc_gz(data: bytes) -> list[tuple[dict, bytes]]:
    """Split concatenated gzip members, one record per member (raises
    if a member holds 0 or >1 records — a shard that breaks the
    seekability contract is malformed, not quietly accepted)."""
    records: list[tuple[dict, bytes]] = []
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(31)
        try:
            raw = d.decompress(data[pos:]) + d.flush()
        except zlib.error as e:
            raise ValueError(f"bad gzip member at byte {pos}: {e}") from None
        if not d.eof:
            raise ValueError("truncated gzip member")
        member = parse_warc(raw)
        if len(member) != 1:
            raise ValueError(
                f"gzip member holds {len(member)} records (expected 1)"
            )
        records.extend(member)
        pos = n - len(d.unused_data)
    return records


def split_http_response(block: bytes) -> tuple[str, dict, bytes]:
    """Strip the HTTP envelope of a response record's block →
    (status line, lower-cased header dict, body bytes)."""
    sep = block.find(_CRLF + _CRLF)
    if sep < 0:
        raise ValueError("HTTP block without header/body separator")
    lines = block[:sep].split(_CRLF)
    status = lines[0].decode("utf-8", "replace")
    if not status.startswith("HTTP/"):
        raise ValueError("HTTP block without a status line")
    headers: dict[str, str] = {}
    for line in lines[1:]:
        name, sep2, value = line.partition(b":")
        if not sep2:
            raise ValueError("HTTP header line without a colon")
        headers[name.decode("utf-8").strip().lower()] = (
            value.decode("utf-8").strip()
        )
    return status, headers, block[sep + 4 :]
