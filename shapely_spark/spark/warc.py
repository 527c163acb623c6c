"""WARC sink/source — the Common Crawl container format (ISO 28500 /
WARC 1.1) for the pages table (url, warc_ts, html binary, ...).

Common Crawl ships its 10^12-page corpus as ``*.warc.gz`` files where
EVERY record is its own gzip member; the CDX index maps url ->
(file, member offset, member length) so a single record is fetched with
one ranged read + one member inflate. This module reproduces that
layout with the stdlib only:

- ``write_warc``: ``mapInPandas`` sink — each Spark partition becomes
  one ``part-NNNNN.warc.gz`` written executor-side (no driver
  collect): a leading ``warcinfo`` member, then one gzip member per
  ``response`` record (WARC headers + an HTTP/1.1 response envelope
  around the html payload, Content-Length framed — binary payloads
  containing CRLFCRLF survive). ``mtime=0`` in every member makes the
  bytes a pure function of the rows: re-runs are byte-identical, so a
  file-level resume can compare checksums.
- ``read_warc``: ``binaryFile`` scan -> Arrow-batched member walk
  (zlib ``unused_data`` gives exact member boundaries without
  recompressing) -> one row per response record, carrying
  (warc_file, warc_offset, warc_length) — the CDX triple.
- ``cdx_index``: the url -> (file, offset, length) projection of a
  read, i.e. the index Common Crawl publishes next to the crawl.
- ``read_warc_record``: the random-access path — seek(offset),
  read(length), inflate ONE member, parse ONE record. At 100 TB this
  is how a url lookup costs O(record) instead of O(file).

Scale notes: parallelism is per-file (Common Crawl caps files at ~1 GB
for exactly this reason); ``binaryFile`` holds one file per row, so
file size — not corpus size — bounds task memory. Timestamps keep
microseconds (WARC 1.1 allows fractional seconds in WARC-Date).
"""

from __future__ import annotations

import base64
import gzip
import hashlib
import io
import os
import zlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WARC_VERSION = "WARC/1.1"

_READ_DT = ("url string, warc_ts timestamp, html binary, "
            "warc_file string, warc_offset long, warc_length long, "
            "http_status int, mime string")
_MANIFEST_DT = "file string, records long, bytes long"

_TS_FMT = "%Y-%m-%dT%H:%M:%S.%fZ"


# ---------------------------------------------------------------------------
# record encode (pure bytes -> bytes, shared by sink and tests)
# ---------------------------------------------------------------------------

def _record_id(url: str, ts_iso: str) -> str:
    """Deterministic record id (sha1 of url+date) — the uuid the spec
    suggests would break byte-reproducible re-runs."""
    h = hashlib.sha1((url + "|" + ts_iso).encode()).hexdigest()
    return f"<urn:sha1:{h}>"


_HTTP_REASONS = {200: "OK", 301: "Moved Permanently", 302: "Found",
                 304: "Not Modified", 404: "Not Found",
                 403: "Forbidden", 500: "Internal Server Error",
                 503: "Service Unavailable"}


def encode_warc_response(url: str, ts_iso: str, html: bytes,
                         status: int = 200,
                         content_type: str = "text/html; charset=utf-8",
                         ) -> bytes:
    """One uncompressed WARC response record: WARC header block, an
    HTTP/1.1 envelope (status + Content-Type per args — defaults keep
    byte-identical output with pre-r4 writers), the payload, and the
    record-terminating CRLF CRLF. Content-Length framing on both
    layers."""
    reason = _HTTP_REASONS.get(int(status), "Status")
    http = (f"HTTP/1.1 {int(status)} {reason}\r\n"
            f"Content-Type: {content_type}\r\n"
            f"Content-Length: {len(html)}\r\n\r\n".encode()
            + html)
    hdr = (f"{WARC_VERSION}\r\n"
           f"WARC-Type: response\r\n"
           f"WARC-Target-URI: {url}\r\n"
           f"WARC-Date: {ts_iso}\r\n"
           f"WARC-Record-ID: {_record_id(url, ts_iso)}\r\n"
           f"Content-Type: application/http; msgtype=response\r\n"
           f"Content-Length: {len(http)}\r\n\r\n").encode()
    return hdr + http + b"\r\n\r\n"


def encode_warc_revisit(url: str, ts_iso: str, payload: bytes,
                        refers_ts_iso: str) -> bytes:
    """One uncompressed WARC ``revisit`` record (WARC 1.1 §6.7.2,
    identical-payload-digest profile): an unchanged refetch carries NO
    payload — only the sha1 payload digest and a WARC-Refers-To pointer
    at the response record of the version it duplicates (same
    deterministic id scheme as encode_warc_response), which is how
    Common Crawl stores refetches without re-storing bodies."""
    digest = "sha1:" + base64.b32encode(
        hashlib.sha1(payload).digest()).decode()
    hdr = (f"{WARC_VERSION}\r\n"
           f"WARC-Type: revisit\r\n"
           f"WARC-Target-URI: {url}\r\n"
           f"WARC-Date: {ts_iso}\r\n"
           f"WARC-Record-ID: {_record_id(url + '#revisit', ts_iso)}\r\n"
           f"WARC-Refers-To: {_record_id(url, refers_ts_iso)}\r\n"
           f"WARC-Payload-Digest: {digest}\r\n"
           f"WARC-Profile: http://netpreserve.org/warc/1.1/revisit/"
           f"identical-payload-digest\r\n"
           f"Content-Type: message/http\r\n"
           f"Content-Length: 0\r\n\r\n").encode()
    return hdr + b"\r\n\r\n"


def _encode_warcinfo(filename: str) -> bytes:
    body = (b"software: shapely_spark warc sink\r\n"
            b"format: WARC File Format 1.1\r\n")
    hdr = (f"{WARC_VERSION}\r\n"
           f"WARC-Type: warcinfo\r\n"
           f"WARC-Filename: {filename}\r\n"
           f"WARC-Date: 2026-01-01T00:00:00.000000Z\r\n"
           f"WARC-Record-ID: {_record_id(filename, 'warcinfo')}\r\n"
           f"Content-Type: application/warc-fields\r\n"
           f"Content-Length: {len(body)}\r\n\r\n").encode()
    return hdr + body + b"\r\n\r\n"


def _gzip_member(data: bytes) -> bytes:
    """One deterministic gzip member (mtime=0, no filename)."""
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
        g.write(data)
    return buf.getvalue()


# ---------------------------------------------------------------------------
# record decode
# ---------------------------------------------------------------------------

def iter_warc_members(raw: bytes):
    """Yield (offset, compressed_length, inflated_bytes) per gzip member.
    zlib with wbits=47 stops at the member boundary; ``unused_data`` is
    the start of the next member — exact offsets, no guessing."""
    pos = 0
    n = len(raw)
    while pos < n:
        d = zlib.decompressobj(47)
        out = d.decompress(raw[pos:])
        out += d.flush()
        consumed = n - pos - len(d.unused_data)
        if consumed <= 0:
            raise ValueError(f"corrupt gzip member at offset {pos}")
        yield pos, consumed, out
        pos += consumed


def parse_warc_record(rec: bytes) -> dict:
    """One inflated record -> dict of WARC headers + ``payload`` (for
    response records: the HTTP body, envelope stripped)."""
    head_end = rec.find(b"\r\n\r\n")
    if head_end < 0 or not rec.startswith(b"WARC/"):
        raise ValueError("not a WARC record")
    lines = rec[:head_end].decode("utf-8").split("\r\n")
    headers = {}
    for ln in lines[1:]:
        k, _, v = ln.partition(":")
        headers[k.strip()] = v.strip()
    clen = int(headers["Content-Length"])
    block = rec[head_end + 4:head_end + 4 + clen]
    payload = block
    if headers.get("WARC-Type") == "response":
        http_end = block.find(b"\r\n\r\n")
        if http_end >= 0:
            payload = block[http_end + 4:]
            # HTTP envelope: status from the first line, MIME from the
            # Content-Type header (parameters stripped) — the CDX fields
            # a crawl pipeline filters on before touching payloads.
            env = block[:http_end].decode("utf-8", "replace").split("\r\n")
            parts = env[0].split(" ", 2)
            if len(parts) >= 2 and parts[1].isdigit():
                headers["http_status"] = int(parts[1])
            for ln in env[1:]:
                k, _, v = ln.partition(":")
                if k.strip().lower() == "content-type":
                    headers["http_content_type"] = (
                        v.split(";", 1)[0].strip().lower())
                    break
    headers["payload"] = payload
    return headers


# ---------------------------------------------------------------------------
# Spark sink / source
# ---------------------------------------------------------------------------

def write_warc(
    pages: DataFrame,
    path: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    html_col: str = "html",
    status_col: str | None = None,
    mime_col: str | None = None,
) -> list:
    """Write the pages DataFrame as a directory of ``part-NNNNN.warc.gz``
    files, one per Spark partition, one gzip member per record (the
    Common Crawl layout). Returns the manifest: one Row per file
    (file, records, bytes) — the natural input for a snapshot-table
    commit. Executor-side stdlib gzip; the driver sees only the
    manifest. status_col/mime_col (optional) feed each record's HTTP
    envelope; omitted, every record is 200 text/html — byte-identical
    to pre-r4 output."""
    os.makedirs(path, exist_ok=True)
    sel = [F.col(url_col).alias("url"),
           F.date_format(ts_col,
                         "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("ts_iso"),
           F.col(html_col).alias("html"),
           (F.col(status_col) if status_col else F.lit(200))
           .cast("int").alias("status"),
           (F.col(mime_col) if mime_col
            else F.lit("text/html; charset=utf-8")).alias("ctype")]
    cols = pages.select(*sel)

    def _write(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        fname = f"part-{pid:05d}.warc.gz"
        chunks = []
        nrec = 0
        for pdf in batches:
            for url, ts_iso, html, status, ctype in zip(
                    pdf["url"], pdf["ts_iso"], pdf["html"],
                    pdf["status"], pdf["ctype"]):
                rec = encode_warc_response(
                    url, ts_iso, bytes(html) if html is not None else b"",
                    status=int(status), content_type=str(ctype))
                chunks.append(_gzip_member(rec))
                nrec += 1
        if not nrec:
            return
        data = _gzip_member(_encode_warcinfo(fname)) + b"".join(chunks)
        with open(os.path.join(path, fname), "wb") as f:
            f.write(data)
        yield pd.DataFrame({"file": [fname], "records": [nrec],
                            "bytes": [len(data)]})

    return cols.mapInPandas(_write, _MANIFEST_DT).collect()


def parse_warc_files(files: DataFrame) -> DataFrame:
    """(path, content) file rows of a ``binaryFile`` scan -> one row per
    ``response`` record. The parse is stateless per file."""

    def _parse(batches):
        for pdf in batches:
            rows = {k: [] for k in ("url", "warc_ts", "html", "warc_file",
                                    "warc_offset", "warc_length",
                                    "http_status", "mime")}
            for fpath, raw in zip(pdf["path"], pdf["content"]):
                fname = os.path.basename(fpath)
                for off, ln, rec in iter_warc_members(bytes(raw)):
                    h = parse_warc_record(rec)
                    if h.get("WARC-Type") != "response":
                        continue
                    rows["url"].append(h["WARC-Target-URI"])
                    rows["warc_ts"].append(h["WARC-Date"])
                    rows["html"].append(h["payload"])
                    rows["warc_file"].append(fname)
                    rows["warc_offset"].append(off)
                    rows["warc_length"].append(ln)
                    rows["http_status"].append(h.get("http_status"))
                    rows["mime"].append(h.get("http_content_type"))
            # ONE vectorized timestamp parse per Arrow batch — a
            # per-record pd.to_datetime was ~40% of parse wall
            rows["warc_ts"] = pd.to_datetime(
                pd.Series(rows["warc_ts"], dtype="object").str.rstrip("Z"),
                format="ISO8601")
            # nullable int carrier: an envelope-less response (legal WARC)
            # has no status; plain int64 would reject the None
            rows["http_status"] = pd.array(rows["http_status"], dtype="Int32")
            yield pd.DataFrame(rows)

    return files.select("path", "content").mapInPandas(_parse, _READ_DT)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Scan a directory (or glob) of ``*.warc.gz`` files into the pages
    shape plus the CDX triple (warc_file, warc_offset, warc_length).
    One task per file (``binaryFile``); the member walk is a single
    inflate pass per file. warcinfo/request/metadata records are
    dropped — only ``response`` records carry pages."""
    reader = spark.read.format("binaryFile")
    if os.path.isdir(path):
        reader = reader.option("pathGlobFilter", "*.warc.gz")
    return parse_warc_files(reader.load(path))


def cdx_index(warc_df: DataFrame) -> DataFrame:
    """The CDX projection of a ``read_warc`` frame: url ->
    (warc_file, warc_offset, warc_length) plus, when the frame carries
    them (r4 HTTP-envelope parse), the CDXJ mime + status fields a
    pipeline filters on before touching payloads. Written next to the
    crawl, this is the url-lookup index — ``read_warc_record`` consumes
    one row of it."""
    base = ["url", "warc_file", "warc_offset", "warc_length"]
    extra = [c for c in ("mime", "http_status") if c in warc_df.columns]
    return warc_df.select(*base, *extra)


def read_warc_record(path: str, offset: int, length: int) -> dict:
    """Random access: one ranged read + one member inflate -> one parsed
    record (headers + payload). The 100-TB lookup path — cost is
    O(record), independent of file and corpus size."""
    with open(path, "rb") as f:
        f.seek(offset)
        raw = f.read(length)
    _, consumed, rec = next(iter_warc_members(raw))
    if consumed != length:
        raise ValueError(f"member at {offset} has length {consumed}, "
                         f"index said {length}")
    return parse_warc_record(rec)


# ---------------------------------------------------------------------------
# WET (extracted-text conversion records) — the *.warc.wet.gz sidecar
# ---------------------------------------------------------------------------

def encode_wet_record(url: str, ts_iso: str, text: str) -> bytes:
    """One uncompressed WET ``conversion`` record (the Common Crawl
    extracted-text sidecar): text/plain payload, WARC-Refers-To points
    at the response record the text was extracted from (same
    deterministic id scheme)."""
    body = text.encode("utf-8")
    hdr = (f"{WARC_VERSION}\r\n"
           f"WARC-Type: conversion\r\n"
           f"WARC-Target-URI: {url}\r\n"
           f"WARC-Date: {ts_iso}\r\n"
           f"WARC-Record-ID: {_record_id(url + '#wet', ts_iso)}\r\n"
           f"WARC-Refers-To: {_record_id(url, ts_iso)}\r\n"
           f"Content-Type: text/plain\r\n"
           f"Content-Length: {len(body)}\r\n\r\n").encode()
    return hdr + body + b"\r\n\r\n"


def write_wet(
    pages: DataFrame,
    path: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> list:
    """Write extracted text as ``part-NNNNN.warc.wet.gz`` files —
    same layout discipline as ``write_warc`` (one file per partition,
    one gzip member per record, deterministic bytes), conversion
    records instead of responses. Returns the (file, records, bytes)
    manifest."""
    os.makedirs(path, exist_ok=True)
    cols = (pages.select(F.col(url_col).alias("url"),
                         F.date_format(ts_col,
                                       "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
                                       ).alias("ts_iso"),
                         F.col(text_col).alias("text")))

    def _write(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        fname = f"part-{pid:05d}.warc.wet.gz"
        chunks = []
        nrec = 0
        for pdf in batches:
            for url, ts_iso, text in zip(pdf["url"], pdf["ts_iso"],
                                         pdf["text"]):
                rec = encode_wet_record(url, ts_iso,
                                        text if text is not None else "")
                chunks.append(_gzip_member(rec))
                nrec += 1
        if not nrec:
            return
        data = _gzip_member(_encode_warcinfo(fname)) + b"".join(chunks)
        with open(os.path.join(path, fname), "wb") as f:
            f.write(data)
        yield pd.DataFrame({"file": [fname], "records": [nrec],
                            "bytes": [len(data)]})

    return cols.mapInPandas(_write, _MANIFEST_DT).collect()


_WET_DT = ("url string, warc_ts timestamp, text string, "
           "warc_file string, warc_offset long, warc_length long")


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """Scan ``*.warc.wet.gz`` conversion records back into
    (url, warc_ts, text) plus the CDX triple. Same member walk as
    ``read_warc``."""
    reader = spark.read.format("binaryFile")
    if os.path.isdir(path):
        reader = reader.option("pathGlobFilter", "*.warc.wet.gz")
    files = reader.load(path)

    def _parse(batches):
        for pdf in batches:
            rows = {k: [] for k in ("url", "warc_ts", "text", "warc_file",
                                    "warc_offset", "warc_length")}
            for fpath, raw in zip(pdf["path"], pdf["content"]):
                fname = os.path.basename(fpath)
                for off, ln, rec in iter_warc_members(bytes(raw)):
                    h = parse_warc_record(rec)
                    if h.get("WARC-Type") != "conversion":
                        continue
                    rows["url"].append(h["WARC-Target-URI"])
                    rows["warc_ts"].append(h["WARC-Date"])
                    rows["text"].append(h["payload"].decode("utf-8"))
                    rows["warc_file"].append(fname)
                    rows["warc_offset"].append(off)
                    rows["warc_length"].append(ln)
            rows["warc_ts"] = pd.to_datetime(
                pd.Series(rows["warc_ts"], dtype="object").str.rstrip("Z"),
                format="ISO8601")
            yield pd.DataFrame(rows)

    return files.select("path", "content").mapInPandas(_parse, _WET_DT)


def write_warc_dedup(
    pages: DataFrame,
    path: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    html_col: str = "html",
) -> list:
    """Revisit-deduplicated WARC sink: the Common Crawl storage
    convention for a multi-snapshot archive. Each url's FIRST fetch and
    every CHANGED refetch (64-bit digest lag over the url window — the
    same classification as crawl.version_changes) write full ``response``
    records; unchanged refetches write body-less ``revisit`` records
    whose WARC-Refers-To points at the response record of the version
    they duplicate (the most recent changed fetch). One url-window
    shuffle for the classification, then the same per-partition
    one-gzip-member-per-record writer as write_warc."""
    from pyspark.sql import Window

    os.makedirs(path, exist_ok=True)
    w = Window.partitionBy(url_col).orderBy(F.col(ts_col).asc())
    fp = F.xxhash64(F.col(html_col))
    prev = F.lag(fp).over(w)
    keep = prev.isNull() | (prev != fp)
    ts_iso = F.date_format(ts_col, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    # the response record this fetch's content belongs to: the most
    # recent kept (first/changed) fetch at or before it, in the window
    keeper = F.last(F.when(keep, ts_iso), ignorenulls=True).over(
        Window.partitionBy(url_col).orderBy(F.col(ts_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cols = pages.select(F.col(url_col).alias("url"), ts_iso.alias("ts_iso"),
                        F.col(html_col).alias("html"),
                        keep.alias("keep"), keeper.alias("keeper_iso"))

    def _write(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        fname = f"part-{pid:05d}.warc.gz"
        chunks = []
        nrec = 0
        for pdf in batches:
            for url, ts_iso, html, keep, keeper in zip(
                    pdf["url"], pdf["ts_iso"], pdf["html"],
                    pdf["keep"], pdf["keeper_iso"]):
                payload = bytes(html) if html is not None else b""
                if keep:
                    rec = encode_warc_response(url, ts_iso, payload)
                else:
                    rec = encode_warc_revisit(url, ts_iso, payload, keeper)
                chunks.append(_gzip_member(rec))
                nrec += 1
        if not nrec:
            return
        data = _gzip_member(_encode_warcinfo(fname)) + b"".join(chunks)
        with open(os.path.join(path, fname), "wb") as f:
            f.write(data)
        yield pd.DataFrame({"file": [fname], "records": [nrec],
                            "bytes": [len(data)]})

    return cols.mapInPandas(_write, _MANIFEST_DT).collect()


_RECORDS_DT = ("record_type string, url string, warc_ts timestamp, "
               "payload binary, record_id string, refers_to string, "
               "payload_digest string")


def read_warc_records(spark: SparkSession, path: str) -> DataFrame:
    """Scan ``*.warc.gz`` into ALL record types (response, revisit,
    conversion, warcinfo, …) with their linkage headers — the audit
    view of an archive; ``read_warc`` remains the pages-shaped
    response-only view."""

    def _parse(batches):
        for pdf in batches:
            rows = {k: [] for k in ("record_type", "url", "warc_ts",
                                    "payload", "record_id", "refers_to",
                                    "payload_digest")}
            for raw in pdf["content"]:
                for _off, _ln, rec in iter_warc_members(bytes(raw)):
                    h = parse_warc_record(rec)
                    rows["record_type"].append(h.get("WARC-Type"))
                    rows["url"].append(h.get("WARC-Target-URI"))
                    rows["warc_ts"].append(h.get("WARC-Date"))
                    rows["payload"].append(h["payload"])
                    rows["record_id"].append(h.get("WARC-Record-ID"))
                    rows["refers_to"].append(h.get("WARC-Refers-To"))
                    rows["payload_digest"].append(h.get("WARC-Payload-Digest"))
            ts = pd.Series(rows["warc_ts"], dtype="object")
            rows["warc_ts"] = pd.to_datetime(ts.str.rstrip("Z"),
                                             format="ISO8601")
            yield pd.DataFrame(rows)

    reader = spark.read.format("binaryFile")
    if os.path.isdir(path):
        reader = reader.option("pathGlobFilter", "*.warc.gz")
    return reader.load(path).select("content").mapInPandas(_parse, _RECORDS_DT)
