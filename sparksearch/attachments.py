"""Ingest-attachment analogue: binary documents → text + metadata.

Reference: plugins/ingest-attachment/src/main/java/org/opensearch/ingest/
attachment/AttachmentProcessor.java:132-200 — Tika-parses a base64/binary
field and emits a target map with `content` (trimmed parsed text),
`content_type`, `content_length`, `title` et al.

Tika is a JVM dependency this engine does not ship; instead a FROZEN
pure-bytes extractor family (same posture as extract.extract_text):

- PDF: a real container parse — object-stream scan (no xref needed),
  FlateDecode via stdlib zlib, BT..ET text operators (Tj / TJ / ' / "),
  PDF literal/hex string syntax with the full escape table, and /Title
  document-info metadata.  `make_pdf` is the matching deterministic
  writer used by tests/fixtures, so extract(make_pdf(t)) == t holds
  byte-for-byte (string bytes are defined as UTF-8 in this dialect).
- HTML: the frozen html_strip state machine (extract.extract_text).
- plain text: UTF-8 decode.

Spark shape: one Arrow-batched `mapInPandas` stage; payload bytes never
leave the executors and the per-row cost is O(len(bytes)).  At 100 TB
this is a map-only pass — no shuffle, no driver involvement.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame, types as T

__all__ = ["make_pdf", "pdf_extract", "sniff_type", "extract_attachment",
           "ingest_attachment"]


# ---------------------------------------------------------------------------
# PDF writer (fixture/ingest side)
# ---------------------------------------------------------------------------

def _esc(raw: bytes) -> bytes:
    return (raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(")
            .replace(b")", b"\\)").replace(b"\r", b"\\r"))


def make_pdf(text: str, title: str | None = None,
             compress: bool = True) -> bytes:
    """Minimal single-page PDF showing `text` as one Tj string (with a
    Flate-compressed content stream by default) + optional /Title info."""
    content = (b"BT /F1 11 Tf 72 720 Td ("
               + _esc(text.encode("utf-8")) + b") Tj ET")
    if compress:
        stream = zlib.compress(content, 9)
        filt = b" /Filter /FlateDecode"
    else:
        stream, filt = content, b""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
         b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"),
        (b"<< /Length " + str(len(stream)).encode() + filt
         + b" >>\nstream\n" + stream + b"\nendstream"),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    if title is not None:
        objs.append(b"<< /Title (" + _esc(title.encode("utf-8")) + b") >>")
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for n, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{n} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    trailer = f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R"
    if title is not None:
        trailer += f" /Info {len(objs)} 0 R"
    out += (trailer + f" >>\nstartxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)


# ---------------------------------------------------------------------------
# PDF reader
# ---------------------------------------------------------------------------

_STREAM_HDR_RE = re.compile(rb"<<((?:[^<>]|<<.*?>>)*?)>>\s*stream\r?\n",
                            re.DOTALL)
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)\b")


def _iter_streams(data: bytes):
    """Yield (dict bytes, stream bytes).  Stream bounds come from the
    literal /Length when present — compressed payloads may contain the
    byte sequence 'endstream', so scanning for the keyword alone is
    wrong; it remains the fallback for indirect-ref lengths."""
    for m in _STREAM_HDR_RE.finditer(data):
        dct, start = m.group(1), m.end()
        lm = _LENGTH_RE.search(dct)
        if lm:
            end = start + int(lm.group(1))
            if data[end:end + 11].lstrip(b"\r\n")[:9] == b"endstream":
                yield dct, data[start:end]
                continue
        end = data.find(b"endstream", start)
        if end < 0:
            end = len(data)
        yield dct, data[start:end]
# a BT..ET text block; literal strings (one level of nested parens) are
# skipped whole, so a shown "ET" does not end the block
_BT_RE = re.compile(rb"BT((?:\((?:[^()\\]|\\.|\((?:[^()\\]|\\.)*\))*\)"
                    rb"|[^(])*?)ET", re.DOTALL)
_OP_RE = re.compile(rb"[A-Za-z*]+|'|\"")
_TITLE_RE = re.compile(rb"/Title\s*\(")

_ESC_MAP = {ord("n"): b"\n", ord("r"): b"\r", ord("t"): b"\t",
            ord("b"): b"\b", ord("f"): b"\f", ord("("): b"(",
            ord(")"): b")", ord("\\"): b"\\"}


def _parse_string(b: bytes, i: int) -> tuple[str, int]:
    """Parse a PDF literal string starting at b[i] == '('; returns
    (decoded text, index past the closing paren)."""
    i += 1
    depth, out = 1, bytearray()
    n = len(b)
    while i < n and depth:
        c = b[i]
        if c == 0x5C:                       # backslash
            i += 1
            if i >= n:
                break
            c2 = b[i]
            if c2 in _ESC_MAP:
                out += _ESC_MAP[c2]
                i += 1
            elif 0x30 <= c2 <= 0x37:        # up to 3 octal digits
                oct_s, j = "", i
                while j < n and j < i + 3 and 0x30 <= b[j] <= 0x37:
                    oct_s += chr(b[j])
                    j += 1
                out.append(int(oct_s, 8) & 0xFF)
                i = j
            elif c2 in (0x0A, 0x0D):        # line continuation
                i += 1
                if c2 == 0x0D and i < n and b[i] == 0x0A:
                    i += 1
            else:                            # unknown escape: literal
                out.append(c2)
                i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return out.decode("utf-8", errors="replace"), i


def _parse_hex_string(b: bytes, i: int) -> tuple[str, int]:
    j = b.find(b">", i)
    if j < 0:
        j = len(b)
    hx = re.sub(rb"\s", b"", b[i + 1:j])
    if len(hx) % 2:
        hx += b"0"
    try:
        raw = bytes.fromhex(hx.decode("ascii"))
    except ValueError:
        raw = b""
    return raw.decode("utf-8", errors="replace"), j + 1


def _scan_text_block(b: bytes) -> list[str]:
    """Shown strings from one BT..ET block; "\n" markers on line moves
    (Td/TD/T*/')."""
    parts: list[str] = []
    pending: str | None = None
    i, n = 0, len(b)
    while i < n:
        c = b[i:i + 1]
        if c == b"(":
            pending, i = _parse_string(b, i)
            continue
        if c == b"<" and b[i:i + 2] != b"<<":
            pending, i = _parse_hex_string(b, i)
            continue
        m = _OP_RE.match(b, i)
        if m:
            op = m.group()
            if op in (b"Tj", b"TJ") and pending is not None:
                parts.append(pending)
                pending = None
            elif op in (b"Td", b"TD", b"T*"):
                parts.append("\n")
            elif op in (b"'", b'"'):
                parts.append("\n")
                if pending is not None:
                    parts.append(pending)
                    pending = None
            i = m.end()
            continue
        i += 1
    return parts


_TJ_ARR_RE = re.compile(rb"\[((?:[^][\\]|\\.)*)\]\s*TJ", re.DOTALL)


def _join_tj(m: re.Match) -> bytes:
    inner = m.group(1)
    out = bytearray()
    i, n = 0, len(inner)
    while i < n:
        if inner[i:i + 1] == b"(":
            depth, i = 1, i + 1
            while i < n and depth:
                if inner[i] == 0x5C:
                    out += inner[i:i + 2]
                    i += 2
                    continue
                if inner[i] == 0x28:
                    depth += 1
                elif inner[i] == 0x29:
                    depth -= 1
                    if not depth:
                        i += 1
                        break
                out.append(inner[i])
                i += 1
            continue
        i += 1
    return b"(" + bytes(out) + b") Tj"


def pdf_extract(data: bytes) -> tuple[str, str | None]:
    """(text content, /Title or None) from raw PDF bytes.  Tolerant:
    scans stream objects directly (no xref), inflates FlateDecode,
    reads BT..ET text operators.  Frozen semantics: show-strings are
    concatenated, line-move operators become '\n', result is trimmed
    (AttachmentProcessor.java:134 puts parsedContent.trim())."""
    blocks: list[str] = []
    for dct, stream in _iter_streams(data):
        if b"/FlateDecode" in dct:
            # raw bytes first — deflate output can itself end in \r/\n
            # byte values; strip only as a fallback for writers that
            # pad an EOL before `endstream` without counting it
            try:
                stream = zlib.decompress(stream)
            except zlib.error:
                try:
                    stream = zlib.decompress(stream.strip(b"\r\n"))
                except zlib.error:
                    continue
        stream = _TJ_ARR_RE.sub(_join_tj, stream)
        for block in _BT_RE.findall(stream):
            parts = _scan_text_block(block)
            if parts:
                blocks.append("".join(parts))
    title = None
    m = _TITLE_RE.search(data)
    if m:
        title, _ = _parse_string(data, m.end() - 1)
    return "\n".join(blocks).strip(), title


# ---------------------------------------------------------------------------
# sniff + processor
# ---------------------------------------------------------------------------

def sniff_type(data: bytes) -> str:
    if data[:5] == b"%PDF-":
        return "application/pdf"
    head = data[:512].lstrip().lower()
    if head.startswith((b"<!doctype html", b"<html", b"<head", b"<body")):
        return "text/html"
    try:
        data.decode("utf-8")
        return "text/plain"
    except UnicodeDecodeError:
        return "application/octet-stream"


def extract_attachment(data: bytes) -> dict:
    """One attachment → the AttachmentProcessor property map subset
    {content, content_type, content_length, title}."""
    ctype = sniff_type(data)
    title = None
    if ctype == "application/pdf":
        content, title = pdf_extract(data)
    elif ctype == "text/html":
        from sparksearch.extract import extract_text
        content = extract_text(data).strip()
    elif ctype == "text/plain":
        content = data.decode("utf-8").strip()
    else:
        content = ""
    return {"content": content, "content_type": ctype,
            "content_length": len(content), "title": title}


_ATT_FIELDS = (("content", T.StringType()),
               ("content_type", T.StringType()),
               ("content_length", T.LongType()),
               ("title", T.StringType()))


def ingest_attachment(df: DataFrame, field: str = "data",
                      target_field: str = "attachment") -> DataFrame:
    """The ingest processor: adds `{target_field}_content`,
    `_content_type`, `_content_length`, `_title` from the binary
    `field`.  One Arrow mapInPandas stage, all input columns carried
    through — map-only at any scale."""
    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(f"{target_field}_{n}", t, True)
           for n, t in _ATT_FIELDS])

    def kernel(batches):
        for pdf in batches:
            cols = {n: [] for n, _ in _ATT_FIELDS}
            for payload in pdf[field]:
                r = extract_attachment(
                    bytes(payload) if payload is not None else b"")
                for n, _ in _ATT_FIELDS:
                    cols[n].append(r[n])
            for n, _ in _ATT_FIELDS:
                pdf[f"{target_field}_{n}"] = cols[n]
            yield pdf

    return df.mapInPandas(kernel, schema=schema)
