"""WARC sink/source (spark/warc.py): roundtrip, member offsets, random
access, determinism. The format contract is ISO 28500 / WARC 1.1 as
Common Crawl applies it (per-record gzip members; reference layout
described in the module docstring)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from shapely_spark.spark.warc import (cdx_index, encode_warc_response,
                                      iter_warc_members, parse_warc_record,
                                      read_warc, read_warc_record, write_warc)


def _pages(spark, n=20, parts=3):
    return spark.range(n).select(
        F.concat(F.lit("https://example.org/doc/"), F.col("id")).alias("url"),
        (F.to_timestamp(F.lit("2026-01-01 00:00:00"))
         + F.make_interval(secs=F.col("id").cast("double"))).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><p>doc "), F.col("id"),
                          F.lit(" body</p></html>")), "UTF-8").alias("html"),
    ).repartition(parts)


def test_roundtrip_bytes_urls_timestamps(spark, tmp_path):
    df = _pages(spark)
    man = write_warc(df, str(tmp_path))
    assert sum(r.records for r in man) == 20
    back = read_warc(spark, str(tmp_path))
    orig = {r.url: (r.warc_ts, bytes(r.html)) for r in df.collect()}
    got = back.collect()
    assert len(got) == 20
    for r in got:
        ts, html = orig[r.url]
        assert bytes(r.html) == html
        assert r.warc_ts == ts


def test_binary_payload_with_crlfcrlf_survives(spark, tmp_path):
    # Content-Length framing, not delimiter scanning: a payload that
    # CONTAINS the record separator must come back byte-identical.
    evil = b"<html>\r\n\r\nWARC/1.1\r\n\x00\xffContent-Length: 7\r\n\r\n</html>"
    df = spark.createDataFrame(
        [("https://e.org/x", evil)], "url string, html binary"
    ).withColumn("warc_ts", F.to_timestamp(F.lit("2026-02-03 04:05:06.123456")))
    write_warc(df, str(tmp_path))
    r = read_warc(spark, str(tmp_path)).collect()[0]
    assert bytes(r.html) == evil
    assert str(r.warc_ts) == "2026-02-03 04:05:06.123456"


def test_member_offsets_random_access(spark, tmp_path):
    df = _pages(spark, n=12, parts=2)
    write_warc(df, str(tmp_path))
    back = read_warc(spark, str(tmp_path))
    expect = {r.url: bytes(r.html) for r in back.collect()}
    for row in cdx_index(back).collect():
        rec = read_warc_record(os.path.join(str(tmp_path), row.warc_file),
                               row.warc_offset, row.warc_length)
        assert rec["WARC-Target-URI"] == row.url
        assert rec["payload"] == expect[row.url]


def test_random_access_length_mismatch_raises(spark, tmp_path):
    write_warc(_pages(spark, n=3, parts=1), str(tmp_path))
    row = cdx_index(read_warc(spark, str(tmp_path))).collect()[0]
    with pytest.raises(ValueError, match="length"):
        read_warc_record(os.path.join(str(tmp_path), row.warc_file),
                         row.warc_offset, row.warc_length + 40)


def test_warcinfo_member_present_but_not_a_page(spark, tmp_path):
    write_warc(_pages(spark, n=5, parts=1), str(tmp_path))
    f = glob.glob(str(tmp_path / "*.warc.gz"))[0]
    raw = open(f, "rb").read()
    members = list(iter_warc_members(raw))
    assert len(members) == 6  # warcinfo + 5 responses
    first = parse_warc_record(members[0][2])
    assert first["WARC-Type"] == "warcinfo"
    # offsets tile the file exactly
    assert members[0][0] == 0
    for (o1, l1, _), (o2, _, _) in zip(members, members[1:]):
        assert o1 + l1 == o2
    assert members[-1][0] + members[-1][1] == len(raw)
    assert read_warc(spark, str(tmp_path)).count() == 5


def test_write_deterministic_bytes(spark, tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    df = _pages(spark, n=10, parts=1)
    write_warc(df, str(a))
    write_warc(df, str(b))
    fa = glob.glob(str(a / "*.warc.gz"))
    fb = glob.glob(str(b / "*.warc.gz"))
    assert [os.path.basename(p) for p in fa] == \
           [os.path.basename(p) for p in fb]
    for pa, pb in zip(sorted(fa), sorted(fb)):
        assert open(pa, "rb").read() == open(pb, "rb").read()


def test_empty_partitions_write_no_files(spark, tmp_path):
    df = _pages(spark, n=2, parts=8)
    man = write_warc(df, str(tmp_path))
    files = glob.glob(str(tmp_path / "*.warc.gz"))
    assert len(files) == len(man) <= 2
    assert read_warc(spark, str(tmp_path)).count() == 2


def test_record_encode_parse_unit():
    rec = encode_warc_response("https://u", "2026-01-01T00:00:00.000000Z",
                               b"payload-bytes")
    h = parse_warc_record(rec)
    assert h["WARC-Type"] == "response"
    assert h["WARC-Target-URI"] == "https://u"
    assert h["payload"] == b"payload-bytes"


# ---------------------------------------------------------------------------
# WET (extracted-text conversion records)
# ---------------------------------------------------------------------------

def test_wet_roundtrip_text_and_unicode(spark, tmp_path):
    from shapely_spark.spark.warc import read_wet, write_wet

    rows = [("https://e.org/a", "plain ascii text"),
            ("https://e.org/b", "unicodé — ß∂ƒ 中文 🚀"),
            ("https://e.org/c", "text with\r\n\r\nembedded separators"),
            ("https://e.org/d", "")]
    df = (spark.createDataFrame(rows, "url string, text string")
          .withColumn("warc_ts",
                      F.to_timestamp(F.lit("2026-03-01 12:00:00.5"))))
    man = write_wet(df, str(tmp_path))
    assert sum(r.records for r in man) == 4
    got = {r.url: r.text for r in read_wet(spark, str(tmp_path)).collect()}
    assert got == dict(rows)


def test_wet_refers_to_response_record_id(spark, tmp_path):
    from shapely_spark.spark.warc import (_record_id, encode_wet_record,
                                          parse_warc_record)

    rec = parse_warc_record(
        encode_wet_record("https://u", "2026-01-01T00:00:00.000000Z", "t"))
    assert rec["WARC-Type"] == "conversion"
    assert rec["WARC-Refers-To"] == _record_id(
        "https://u", "2026-01-01T00:00:00.000000Z")
    assert rec["WARC-Record-ID"] != rec["WARC-Refers-To"]


def test_warc_and_wet_coexist_in_one_dir(spark, tmp_path):
    from shapely_spark.spark.warc import (read_warc, read_wet, write_warc,
                                          write_wet)

    pages = _pages(spark, n=6, parts=1)
    write_warc(pages, str(tmp_path))
    wet = pages.withColumn("text", F.decode("html", "UTF-8")).drop("html")
    write_wet(wet, str(tmp_path))
    assert read_warc(spark, str(tmp_path)).count() == 6
    assert read_wet(spark, str(tmp_path)).count() == 6
    # the full warc -> extract -> wet chain reproduces the text bytes
    back = read_wet(spark, str(tmp_path)).select("url", "text")
    orig = {r.url: r.text for r in wet.select("url", "text").collect()}
    for r in back.collect():
        assert r.text == orig[r.url]


def test_http_envelope_status_mime_roundtrip(spark, tmp_path):
    """Non-200 statuses and non-html MIMEs survive the container
    roundtrip; defaults stay 200/text/html (byte-compatible writers)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from shapely_spark.spark.warc import cdx_index, read_warc, write_warc

    rows = [(f"https://x.example.org/{i}", 1_700_000_000 + i,
             f"<p>doc {i}</p>".encode(),
             [200, 404, 301][i % 3],
             ["text/html; charset=utf-8", "text/plain", "application/pdf"][i % 3])
            for i in range(9)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "epoch", "html", "st", "ct"]),
        "url string, epoch long, html binary, st int, ct string",
    ).withColumn("warc_ts", F.col("epoch").cast("timestamp")).drop("epoch")
    path = str(tmp_path / "w1")
    write_warc(df, path, status_col="st", mime_col="ct")
    back = read_warc(spark, path)
    got = {r.url: (r.http_status, r.mime, bytes(r.html)) for r in back.collect()}
    assert len(got) == 9
    for i in range(9):
        st, mime = [200, 404, 301][i % 3], ["text/html", "text/plain",
                                            "application/pdf"][i % 3]
        assert got[f"https://x.example.org/{i}"] == (
            st, mime, f"<p>doc {i}</p>".encode())
    cdx = cdx_index(back)
    assert set(cdx.columns) == {"url", "warc_file", "warc_offset",
                                "warc_length", "mime", "http_status"}

    # defaults: no status/mime columns → 200 text/html
    path2 = str(tmp_path / "w2")
    write_warc(df.select("url", "warc_ts", "html"), path2)
    b2 = read_warc(spark, path2).collect()
    assert {(r.http_status, r.mime) for r in b2} == {(200, "text/html")}


def test_http_envelope_default_bytes_unchanged():
    """The parameterized envelope writer emits byte-identical records at
    the defaults (pre-r4 writer compatibility)."""
    from shapely_spark.spark.warc import encode_warc_response

    rec = encode_warc_response("https://a/b", "2026-01-01T00:00:00.000000Z",
                               b"<p>x</p>")
    assert b"HTTP/1.1 200 OK\r\n" in rec
    assert b"Content-Type: text/html; charset=utf-8\r\n" in rec
    rec2 = encode_warc_response("https://a/b", "2026-01-01T00:00:00.000000Z",
                                b"<p>x</p>", status=418)
    assert b"HTTP/1.1 418 Status\r\n" in rec2


def test_revisit_dedup_roundtrip(spark, tmp_path):
    """Unchanged refetches become body-less revisit records whose
    Refers-To resolves to the stored response; changed fetches store
    full bodies; payload digests match the referenced content."""
    import base64
    import hashlib

    import pandas as pd
    from pyspark.sql import functions as F

    from shapely_spark.spark.warc import read_warc_records, write_warc_dedup

    rows = [
        ("https://a/x", 1_700_000_000, b"v1"),
        ("https://a/x", 1_700_000_100, b"v1"),   # revisit of v1
        ("https://a/x", 1_700_000_200, b"v2"),   # changed
        ("https://a/x", 1_700_000_300, b"v2"),   # revisit of v2
        ("https://a/y", 1_700_000_000, b"only"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "epoch", "html"]),
        "url string, epoch long, html binary",
    ).withColumn("warc_ts", F.col("epoch").cast("timestamp")).drop("epoch")
    path = str(tmp_path / "rv")
    write_warc_dedup(df, path)
    recs = read_warc_records(spark, path).collect()
    by_type = {}
    for r in recs:
        by_type.setdefault(r.record_type, []).append(r)
    assert len(by_type["response"]) == 3          # v1, v2, only
    assert len(by_type["revisit"]) == 2
    resp_ids = {r.record_id for r in by_type["response"]}
    resp_payloads = {r.record_id: bytes(r.payload)
                     for r in by_type["response"]}
    for rv in by_type["revisit"]:
        assert len(bytes(rv.payload)) == 0        # body-less
        assert rv.refers_to in resp_ids           # pointer resolves
        want = ("sha1:" + base64.b32encode(hashlib.sha1(
            resp_payloads[rv.refers_to]).digest()).decode())
        assert rv.payload_digest == want          # digest matches content
