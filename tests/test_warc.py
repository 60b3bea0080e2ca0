"""WARC source (sources/warc.py): round-trips, gzip members, HTTP
payload split, dispatcher registration."""

import gzip

import pytest

from geoio_jl_spark.sources import registry, warc


def _sample_rows(spark):
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            b"<html><body>hello</body></html>")
    return spark.createDataFrame(
        [("response", "http://example.com/a", "application/http",
          bytearray(http)),
         ("response", "http://example.com/b", "application/http",
          bytearray(b"HTTP/1.1 404 Not Found\r\n\r\nmissing")),
         ("resource", "http://example.com/raw.txt", "text/plain",
          bytearray(b"just bytes \x00\xff here"))],
        "warc_type string, target_uri string, content_type string, "
        "payload binary")


@pytest.mark.parametrize("suffix", [".warc", ".warc.gz"])
def test_roundtrip(spark, tmp_path, suffix):
    p = str(tmp_path / f"crawl{suffix}")
    warc.write(_sample_rows(spark), p)
    got = {r["target_uri"]: r
           for r in warc.read(spark, p).collect()}
    assert len(got) == 3
    a = got["http://example.com/a"]
    assert a["warc_type"] == "response"
    assert a["http_status"] == 200
    assert bytes(a["payload"]) == b"<html><body>hello</body></html>"
    b = got["http://example.com/b"]
    assert b["http_status"] == 404
    assert bytes(b["payload"]) == b"missing"
    raw = got["http://example.com/raw.txt"]
    assert raw["http_status"] is None          # not an HTTP envelope
    assert bytes(raw["payload"]) == b"just bytes \x00\xff here"
    assert all(r["record_id"].startswith("<urn:uuid:")
               for r in got.values())


def test_gz_members_are_individually_gzipped(spark, tmp_path):
    """.warc.gz must be per-record gzip members (the Common Crawl
    convention), i.e. several concatenated gzip streams."""
    p = str(tmp_path / "c.warc.gz")
    warc.write(_sample_rows(spark), p)
    blob = open(p, "rb").read()
    assert blob.count(b"\x1f\x8b\x08") >= 3
    # and a plain gzip.decompress still reads all members
    assert gzip.decompress(blob).count(b"WARC/1.0") == 3


def test_directory_scan(spark, tmp_path):
    for i in range(3):
        warc.write(_sample_rows(spark), str(tmp_path / f"seg{i}.warc.gz"))
    df = warc.read(spark, str(tmp_path))
    assert df.count() == 9
    assert df.select("file").distinct().count() == 3


def test_dispatcher_load(spark, tmp_path):
    p = str(tmp_path / "x.warc.gz")
    warc.write(_sample_rows(spark), p)
    df = registry.load(spark, p)
    assert df.count() == 3
    assert "payload" in df.columns


def test_corrupt_raises(spark, tmp_path):
    p = str(tmp_path / "bad.warc")
    with open(p, "wb") as f:
        f.write(b"NOT A WARC FILE AT ALL\r\n\r\n")
    with pytest.raises(Exception, match="WARC version"):
        warc.read(spark, p).collect()


def test_warc_to_extraction_pipeline(spark, tmp_path):
    """End-to-end ingest: Common-Crawl-shaped pages → .warc.gz segments →
    WARC scan → html→text extraction (byte-identical against the
    generator's reference text) → exact dedup."""
    from pyspark.sql import functions as F

    from geoio_jl_spark.datagen import webpages
    from geoio_jl_spark.functions.textkernels import html_to_text
    from geoio_jl_spark.operators.dedup import exact_duplicates

    pages = webpages(spark, 200).select(
        F.lit("response").alias("warc_type"),
        F.col("url").alias("target_uri"),
        F.lit("application/http").alias("content_type"),
        F.concat(
            F.lit(b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
            F.col("html")).alias("payload"),
        F.col("text"))
    ref = {r["target_uri"]: r["text"] for r in
           pages.select("target_uri", "text").collect()}
    warc.write(pages.drop("text"), str(tmp_path / "seg0.warc.gz"))

    scanned = warc.read(spark, str(tmp_path / "seg0.warc.gz"))
    extracted = scanned.select(
        "target_uri",
        html_to_text(F.col("payload")).alias("text"))
    got = {r["target_uri"]: r["text"] for r in extracted.collect()}
    assert got == ref                       # byte-identical through WARC

    deduped = exact_duplicates(
        extracted.withColumnRenamed("target_uri", "doc_id"))
    assert deduped.count() <= 200


def test_wet_conversion_records(spark, tmp_path):
    """WET files are WARC with 'conversion' records (text/plain payload,
    no HTTP envelope) — the reader handles them as-is."""
    rows = spark.createDataFrame(
        [("conversion", "http://example.com/a", "text/plain",
          bytearray("extracted text of page a".encode()))],
        "warc_type string, target_uri string, content_type string, "
        "payload binary")
    p = str(tmp_path / "x.warc.wet.gz")
    warc.write(rows, p)
    got = warc.read(spark, p).collect()
    assert len(got) == 1
    assert got[0]["warc_type"] == "conversion"
    assert got[0]["http_status"] is None
    assert bytes(got[0]["payload"]) == b"extracted text of page a"


def test_parser_honors_content_length_over_markers():
    """Payloads may EMBED 'WARC/1.0' and blank lines — the parser must
    walk by Content-Length, never by scanning for markers."""
    evil = b"\r\n\r\nWARC/1.0\r\nWARC-Type: fake\r\n\r\nnot a record"
    rec = (b"WARC/1.0\r\n"
           b"WARC-Type: resource\r\n"
           b"WARC-Record-ID: <urn:uuid:1>\r\n"
           b"Content-Length: " + str(len(evil)).encode() + b"\r\n"
           b"\r\n" + evil + b"\r\n\r\n")
    rec2 = (b"WARC/1.0\r\n"
            b"WARC-Type: resource\r\n"
            b"WARC-Record-ID: <urn:uuid:2>\r\n"
            b"Content-Length: 2\r\n"
            b"\r\nok\r\n\r\n")
    out = warc.parse_warc_bytes(rec + rec2, "f")
    assert len(out) == 2
    assert out[0]["payload"] == evil
    assert out[1]["payload"] == b"ok"


def test_parser_property_roundtrip_random_payloads():
    import io
    import gzip as _gz
    import random

    rnd = random.Random(11)
    payloads = []
    for i in range(40):
        n = rnd.randrange(0, 200)
        payloads.append(bytes(rnd.randrange(256) for _ in range(n)))
    buf = io.BytesIO()
    for i, p in enumerate(payloads):
        rec = (b"WARC/1.0\r\n"
               b"WARC-Type: resource\r\n"
               b"WARC-Record-ID: <urn:uuid:" + str(i).encode() + b">\r\n"
               b"Content-Length: " + str(len(p)).encode() + b"\r\n"
               b"\r\n" + p + b"\r\n\r\n")
        with _gz.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
            g.write(rec)
    out = warc.parse_warc_bytes(buf.getvalue(), "f")
    assert [r["payload"] for r in out] == payloads


def test_response_roundtrip_preserves_status(spark, tmp_path):
    """read→write→read: the HTTP envelope split off by read() is
    reconstructed on write, so http_status and payload survive."""
    p1 = str(tmp_path / "a.warc.gz")
    warc.write(_sample_rows(spark), p1)
    first = warc.read(spark, p1)
    p2 = str(tmp_path / "b.warc.gz")
    warc.write(first, p2)
    second = {r["target_uri"]: r for r in warc.read(spark, p2).collect()}
    for r in first.collect():
        s = second[r["target_uri"]]
        assert s["http_status"] == r["http_status"]
        assert bytes(s["payload"]) == bytes(r["payload"])


def test_lenient_mode_keeps_good_prefix(spark, tmp_path):
    good = (b"WARC/1.0\r\nWARC-Type: resource\r\n"
            b"WARC-Record-ID: <urn:uuid:1>\r\nContent-Length: 2\r\n"
            b"\r\nok\r\n\r\n")
    bad = b"GARBAGE WITHOUT TERMINATOR"
    p = str(tmp_path / "mix.warc")
    with open(p, "wb") as f:
        f.write(good + bad)
    # strict default: raised in the executor, surfaces as PythonException
    with pytest.raises(Exception, match="WARC version|header terminator"):
        warc.read(spark, p).collect()
    rows = warc.read(spark, p, strict=False).collect()
    assert len(rows) == 1 and bytes(rows[0]["payload"]) == b"ok"


# ---------------------------------------------------------------------------
# cdx-style member index + sub-file splits


def _many_records(spark, n=40):
    from pyspark.sql import Row
    rows = [Row(warc_type="resource",
                target_uri=f"http://example.com/{i}",
                content_type="text/plain",
                payload=(f"payload {i} ".encode() + b"x" * (50 * i)))
            for i in range(n)]
    return spark.createDataFrame(rows)


def test_member_spans_cover_file_exactly(spark, tmp_path):
    p = str(tmp_path / "big.warc.gz")
    warc.write(_many_records(spark), p)
    blob = open(p, "rb").read()
    spans = warc.member_spans(blob)
    assert len(spans) == 40                       # one member per record
    # contiguous and covering: each member starts where the last ended
    pos = 0
    for off, ln in spans:
        assert off == pos and ln > 0
        pos = off + ln
    assert pos == len(blob)


def test_member_spans_truncated_raises(spark, tmp_path):
    p = str(tmp_path / "t.warc.gz")
    warc.write(_many_records(spark, 3), p)
    blob = open(p, "rb").read()
    with pytest.raises(ValueError, match="truncated gzip member"):
        warc.member_spans(blob[:-7])


def test_index_members_matches_spans(spark, tmp_path):
    p = str(tmp_path / "idx.warc.gz")
    warc.write(_many_records(spark), p)
    idx = warc.index_members(spark, p).collect()
    spans = warc.member_spans(open(p, "rb").read())
    assert [(r["offset"], r["length"]) for r in
            sorted(idx, key=lambda r: r["member_idx"])] == spans


def test_read_indexed_identical_split_vs_unsplit(spark, tmp_path):
    """One multi-member archive parses identically whole-file vs split
    into many spans, and the split plan really runs >1 task."""
    p = str(tmp_path / "split.warc.gz")
    warc.write(_many_records(spark), p)

    def key(r):
        return (r["target_uri"], r["warc_type"], bytes(r["payload"]))

    whole = sorted(map(key, warc.read(spark, p).collect()))
    split_df = warc.read_indexed(spark, p, split_bytes=512)
    assert split_df.rdd.getNumPartitions() > 1
    split = sorted(map(key, split_df.collect()))
    assert split == whole and len(split) == 40


def test_read_indexed_accepts_prebuilt_index(spark, tmp_path):
    p = str(tmp_path / "pre.warc.gz")
    warc.write(_many_records(spark, 10), p)
    idx = warc.index_members(spark, p)
    got = warc.read_indexed(spark, p, index=idx, split_bytes=1 << 30)
    assert got.count() == 10


def _members(*payloads):
    return b"".join(gzip.compress(p, mtime=0) for p in payloads)


def _random_members(seed, n, max_size):
    import random
    rng = random.Random(seed)
    return _members(*[rng.randbytes(rng.randrange(0, max_size))
                      for _ in range(n)])


@pytest.mark.parametrize("blob", [
    b"",
    _random_members(7, 200, 3000),                       # many members
    _members(b"a") + b"\x00" * 9 + _members(b"b", b"") + b"\x00" * 3,
    _random_members(11, 5, 200_000),                     # several slices
    _members(b"x" * (3 << 20), b"tail"),                 # inflates > 1 MiB
], ids=["empty", "multi_member", "nul_padded", "random_payload", "large"])
def test_gunzip_matches_gzip_decompress(blob):
    assert warc._gunzip(blob) == gzip.decompress(blob)


def _flip(blob, i):
    b = bytearray(blob)
    b[i] ^= 0x01
    return bytes(b)


@pytest.mark.parametrize("blob", [
    _members(b"record one", b"record two" * 50)[:-5],    # truncated
    _members(b"abc")[:6],                                # truncated header
    _flip(_members(b"record one", b"crc" * 30), -8),     # CRC byte
    _flip(_members(b"length" * 30), -1),                 # ISIZE byte
    _members(b"record") + b"garbage",                    # trailing bytes
    _members(b"record") + b"\x00\x00\x1f",               # after padding
], ids=["truncated", "truncated_header", "crc", "length", "garbage",
        "padded_garbage"])
def test_gunzip_raises_like_gzip_decompress(blob):
    with pytest.raises(Exception) as want:
        gzip.decompress(blob)
    with pytest.raises(Exception) as got:
        warc._gunzip(blob)
    assert got.type is want.type
    assert want.type in (EOFError, gzip.BadGzipFile)


def test_member_spans_large_members():
    """Members that need several input slices and several 1 MiB output
    slices still index to their exact byte ranges."""
    import random
    parts = [gzip.compress(p, mtime=0) for p in
             (random.Random(3).randbytes(200_000), b"y" * (5 << 20), b"")]
    spans, pos = [], 0
    for p in parts:
        spans.append((pos, len(p)))
        pos += len(p)
    assert warc.member_spans(b"".join(parts)) == spans
