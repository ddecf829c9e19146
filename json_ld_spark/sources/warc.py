"""WARC (Web ARChive) ingestion — the standard container format for
web-crawl corpora, written against the public ISO 28500 / WARC 1.0
specification (and the conventional ``.warc.gz`` layout: each record
an INDEPENDENT gzip member, concatenated — the property that lets a
reader split a multi-GB file at member boundaries).

This module is pure stdlib: a writer (`build_warc_gz`) used only by
the deterministic synthesizer, and a strict reader (`parse_warc_gz`)
that validates the version line, parses headers, honors
Content-Length for the body, and requires the spec's CRLF CRLF
record terminator — so a truncated record, a mangled header, or an
off-by-one body length is loud, not silently absorbed.

Distributed shape (operators side, warc_record_stats): one WARC file
per row, parsed inside Arrow-batched ``mapInPandas`` — files
partition freely across executors and no shuffle happens until the
caller aggregates. At 100 TB (a crawl dump) the same plan holds:
the unit of parallelism is the .warc.gz file (or member-range
splits), exactly how production crawl pipelines shard.
"""

from __future__ import annotations

import gzip
from typing import List, Tuple

CRLF = b"\r\n"
VERSION = b"WARC/1.0"


def build_warc_record(headers: "dict[str, str]", body: bytes) -> bytes:
    """One uncompressed WARC record: version line, headers (with the
    mandatory Content-Length computed here), blank line, body, and
    the two-CRLF terminator."""
    out = bytearray()
    out += VERSION + CRLF
    for k, v in headers.items():
        out += f"{k}: {v}".encode() + CRLF
    out += f"Content-Length: {len(body)}".encode() + CRLF
    out += CRLF
    out += body
    out += CRLF + CRLF
    return bytes(out)


def build_warc_gz(
    records: "List[Tuple[dict, bytes]]",
) -> bytes:
    """Standard .warc.gz: each record its own gzip member (mtime=0 so
    the bytes are deterministic), members concatenated."""
    out = bytearray()
    for headers, body in records:
        out += gzip.compress(build_warc_record(headers, body), mtime=0)
    return bytes(out)


def parse_warc_gz(
    payload: bytes,
) -> "List[Tuple[dict, bytes]]":
    """[(headers, body)] from a .warc.gz (or plain .warc) payload.

    Multi-member gzip streams decompress to the concatenated record
    stream (stdlib gzip handles member concatenation), and records
    are then walked by Content-Length — the spec's framing. Strict:
    bad version line, missing Content-Length, or a missing CRLFCRLF
    terminator raises ValueError."""
    if payload[:2] == b"\x1f\x8b":
        data = gzip.decompress(payload)
    else:
        data = payload
    records: "List[Tuple[dict, bytes]]" = []
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record padding CRLFs (some writers emit them)
        while pos < n and data[pos : pos + 2] == CRLF:
            pos += 2
        if pos >= n:
            break
        end_hdr = data.find(CRLF + CRLF, pos)
        if end_hdr < 0:
            raise ValueError("WARC header block not terminated")
        header_block = data[pos:end_hdr].split(CRLF)
        if header_block[0].strip() != VERSION:
            raise ValueError(
                f"bad WARC version line: {header_block[0][:40]!r}"
            )
        headers: "dict[str, str]" = {}
        for line in header_block[1:]:
            if b":" not in line:
                raise ValueError(f"malformed WARC header: {line[:40]!r}")
            k, v = line.split(b":", 1)
            headers[k.decode().strip()] = v.decode().strip()
        if "Content-Length" not in headers:
            raise ValueError("missing Content-Length")
        length = int(headers["Content-Length"])
        body_start = end_hdr + 4
        body = data[body_start : body_start + length]
        if len(body) != length:
            raise ValueError("truncated WARC body")
        term = data[body_start + length : body_start + length + 4]
        if term != CRLF + CRLF:
            raise ValueError("missing WARC record terminator")
        records.append((headers, body))
        pos = body_start + length + 4
    return records
