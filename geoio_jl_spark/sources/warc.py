"""WARC reader/writer (ISO 28500) — the Common Crawl container format,
the natural ingest for the web-text half of this engine (the reference's
format-dispatch role, src/load.jl:88-158, extended to the LLM-pipeline
axis; no geo counterpart).

Distributed plan: ``binaryFile`` scan (one task per archive segment —
Common Crawl ships crawls as tens of thousands of ~1 GB ``.warc.gz``
segments, so file-level parallelism saturates any cluster) →
``mapInPandas`` record parser (Arrow batches, pure Python record walk
per file).  ``.warc.gz`` uses the standard record-at-a-time gzip-member
convention: one segment holds thousands of small members, so they are
inflated by one linear walk (:func:`_inflate_member`) that feeds
``zlib`` bounded input slices — ``gzip.decompress`` copies the rest of
the buffer for every member, which is quadratic in the member count.

For SUB-file splits (one huge archive, or fewer files than cores),
:func:`index_members` is the cdx-style one-pass index job — (file,
member_idx, offset, length) per gzip member, found by walking member
boundaries with a bounded-memory ``zlib.decompressobj`` (a magic-byte
scan would false-positive inside compressed data) — and
:func:`read_indexed` coalesces contiguous members into ~``split_bytes``
spans and gives each task one seek+read of its span, so a single
multi-member ``.warc.gz`` parses across many tasks with byte-identical
results to the whole-file path (asserted in tests).

For ``response`` records carrying ``application/http`` the HTTP headers
are split off: ``payload`` is the body, ``http_status`` the status code.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import os
import zlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SCHEMA = T.StructType([
    T.StructField("record_id", T.StringType()),
    T.StructField("warc_type", T.StringType()),
    T.StructField("target_uri", T.StringType()),
    T.StructField("warc_date", T.StringType()),
    T.StructField("content_type", T.StringType()),
    T.StructField("http_status", T.IntegerType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("file", T.StringType()),
])


def parse_warc_bytes(data: bytes, fname: str = "",
                     strict: bool = True) -> list[dict]:
    """Parse one (decompressed) WARC file into record dicts.

    ``strict=False`` keeps the records parsed before the first
    structural error instead of failing the whole segment — real crawl
    archives occasionally carry one truncated/mis-lengthed record, and
    a deterministic raise would abort the ingest task for the entire
    ~1 GB file after every retry."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip(data)
    out = []
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record blank lines
        while pos < n and data[pos:pos + 2] in (b"\r\n", b"\n\n"):
            pos += 2
        if pos >= n:
            break
        if not data[pos:pos + 5] == b"WARC/":
            if not strict:
                break
            raise ValueError(
                f"{fname}: expected WARC version line at byte {pos}")
        try:
            hdr_end = data.index(b"\r\n\r\n", pos)
        except ValueError:
            if not strict:
                break
            raise ValueError(
                f"{fname}: record at byte {pos} has no header "
                "terminator") from None
        headers = {}
        hdr_text = data[pos:hdr_end].decode("utf-8", "replace")
        for line in hdr_text.split("\r\n")[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers.get("content-length", "0"))
        except ValueError:
            # tolerant mode keeps everything parsed before the first
            # structural error (ADVICE r5: int() was outside the guard)
            if not strict:
                break
            raise ValueError(
                f"{fname}: record at byte {pos} has non-numeric "
                f"Content-Length {headers.get('content-length')!r}"
            ) from None
        block = data[hdr_end + 4:hdr_end + 4 + clen]
        pos = hdr_end + 4 + clen
        ctype = headers.get("content-type", "")
        status = None
        payload = block
        if ctype.startswith("application/http") and block[:5] == b"HTTP/":
            he = block.find(b"\r\n\r\n")
            if he >= 0:
                status_line = block[:block.find(b"\r\n")].decode(
                    "latin-1", "replace").split()
                if len(status_line) >= 2 and status_line[1].isdigit():
                    status = int(status_line[1])
                payload = block[he + 4:]
        out.append({
            "record_id": headers.get("warc-record-id"),
            "warc_type": headers.get("warc-type"),
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "content_type": ctype or None,
            "http_status": status,
            "payload": payload,
            "file": fname,
        })
    return out


_FEED = 1 << 16
# zlib.error messages for the gzip wrapper checks, as gzip.decompress
# words them (it raises BadGzipFile for each; zlib only knows zlib.error)
_WRAPPER_ERRORS = {"incorrect data check": "CRC check failed",
                   "incorrect length check":
                       "Incorrect length of data produced",
                   "unknown compression method":
                       "Unknown compression method"}


def _inflate_member(view: memoryview, pos: int, sink,
                    max_out: int = 0) -> int:
    """Inflate the gzip member starting at ``view[pos]``, pass every
    output slice to ``sink``, return the offset just past the member.

    Input goes in ``_FEED``-byte slices, so ``unused_data`` (the input
    past the member's end, which zlib copies out) is at most one slice
    — never the rest of the buffer.  ``max_out`` > 0 caps each output
    slice.  zlib checks the header, CRC and length itself; a truncated
    member raises ``EOFError`` and a failed wrapper check
    ``gzip.BadGzipFile``, the types ``gzip.decompress`` raises."""
    d = zlib.decompressobj(31)
    p, n = pos, len(view)
    try:
        while not d.eof:
            if p >= n:
                raise EOFError(
                    "Compressed file ended before the end-of-stream "
                    "marker was reached")
            chunk = view[p:p + _FEED]
            p += len(chunk)
            out = d.decompress(chunk, max_out)
            sink(out)
            # drain a capped call: input left over, or a full slice
            # that may have more output pending
            while not d.eof and (d.unconsumed_tail
                                 or (max_out and len(out) == max_out)):
                out = d.decompress(d.unconsumed_tail, max_out)
                sink(out)
    except zlib.error as exc:
        for needle, msg in _WRAPPER_ERRORS.items():
            if needle in str(exc):
                raise gzip.BadGzipFile(msg) from exc
        raise
    return p - len(d.unused_data)


def _gunzip(data: bytes) -> bytes:
    """``gzip.decompress`` in time linear in the member count: same
    output, same checks, same exception types (NUL padding after a
    member is skipped; anything else that is not a member raises
    ``gzip.BadGzipFile``)."""
    view = memoryview(data)
    out: list[bytes] = []
    pos, n = 0, len(view)
    while pos < n:
        if view[pos:pos + 2] != b"\x1f\x8b":
            raise gzip.BadGzipFile(
                f"Not a gzipped file ({bytes(view[pos:pos + 2])!r})")
        pos = _inflate_member(view, pos, out.append)
        while pos < n and view[pos] == 0:
            pos += 1
    return b"".join(out)


def member_spans(data: bytes) -> list[tuple[int, int]]:
    """(offset, length) of every gzip member in a ``.warc.gz`` buffer.

    Walks real member boundaries with :func:`_inflate_member` in 1 MiB
    output slices that are immediately discarded — only offsets matter,
    so peak memory stays bounded no matter how large a member inflates.
    Raises on a truncated trailing member (an index must never silently
    describe fewer bytes than the archive holds)."""
    spans: list[tuple[int, int]] = []
    pos, n = 0, len(data)
    view = memoryview(data)
    while pos < n:
        if view[pos:pos + 2] != b"\x1f\x8b":
            raise ValueError(f"not a gzip member at byte {pos}")
        try:
            end = _inflate_member(view, pos, lambda _: None, 1 << 20)
        except EOFError:
            raise ValueError(
                f"truncated gzip member at byte {pos}") from None
        spans.append((pos, end - pos))
        pos = end
    return spans


INDEX_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("member_idx", T.LongType()),
    T.StructField("offset", T.LongType()),
    T.StructField("length", T.LongType()),
])


def index_members(spark: SparkSession, path: str) -> DataFrame:
    """cdx-style member-offset index job: one row per gzip member.

    One linear pass per archive (file-level parallel via binaryFile);
    persist the result once per crawl and every later job reads with
    sub-file splits via :func:`read_indexed`."""
    def _index(batches):
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                for i, (off, ln) in enumerate(member_spans(bytes(content))):
                    rows.append({"file": fpath, "member_idx": i,
                                 "offset": off, "length": ln})
            yield pd.DataFrame(
                rows, columns=[f.name for f in INDEX_SCHEMA.fields])

    return _files(spark, path).mapInPandas(_index, INDEX_SCHEMA)


def read_indexed(spark: SparkSession, path: str,
                 index: DataFrame | None = None,
                 split_bytes: int = 128 << 20,
                 strict: bool = True) -> DataFrame:
    """Read ``.warc.gz`` with sub-file splits by gzip member.

    Contiguous members whose start offsets share a ``split_bytes``-wide
    window coalesce into one span (members are back-to-back, so
    min(offset) + sum(length) is one contiguous byte range = one seek +
    one read per task).  Output is row-identical to :func:`read` — the
    span boundaries fall exactly on member boundaries, and
    ``parse_warc_bytes`` consumes a span's concatenated members in one
    call."""
    from pyspark.sql import functions as F
    if index is None:
        index = index_members(spark, path)
    spans = (index
             .withColumn("span", F.floor(F.col("offset") / split_bytes))
             .groupBy("file", "span")
             .agg(F.min("offset").alias("offset"),
                  F.sum("length").alias("length")))
    # one task per span: the span table is tiny (members ÷ coalescing),
    # so the count is a cheap metadata-scale action, not a corpus scan
    n_spans = spans.count()
    spans = spans.repartition(max(1, n_spans), "file", "span")

    def _read_spans(batches):
        for pdf in batches:
            rows = []
            for fpath, off, ln in zip(pdf["file"], pdf["offset"],
                                      pdf["length"]):
                local = (fpath[len("file:"):]
                         if fpath.startswith("file:") else fpath)
                with open(local, "rb") as fh:
                    fh.seek(int(off))
                    data = fh.read(int(ln))
                rows.extend(parse_warc_bytes(
                    data, os.path.basename(local), strict=strict))
            yield pd.DataFrame(
                rows, columns=[f.name for f in SCHEMA.fields])

    return spans.mapInPandas(_read_spans, SCHEMA)


def _files(spark: SparkSession, path: str) -> DataFrame:
    """``(path, content)`` of one archive, or of every archive in a
    directory.  The directory itself is loaded, not a ``dir/*`` glob:
    Spark's streaming-sink metadata probe fails on a glob path and logs
    a full stack trace on every read."""
    return (spark.read.format("binaryFile").load(path)
            .select("path", "content"))


def read(spark: SparkSession, path: str,
         strict: bool = True) -> DataFrame:
    def _parse(batches):
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                rows.extend(parse_warc_bytes(bytes(content),
                                             os.path.basename(fpath),
                                             strict=strict))
            yield pd.DataFrame(
                rows, columns=[f.name for f in SCHEMA.fields])

    return _files(spark, path).mapInPandas(_parse, SCHEMA)


def write(df: DataFrame, path: str, gzip_members: bool | None = None
          ) -> None:
    """Single-file sink (driver-side, like the other one-file formats):
    rows → WARC/1.0 records.  Missing ids/dates get deterministic
    fallbacks (urn:uuid from an md5 of position+uri; epoch date) so
    round-trips are stable."""
    if gzip_members is None:
        gzip_members = path.endswith(".gz")
    cols = df.columns
    rows = df.collect()
    with open(path, "wb") as f:
        for i, r in enumerate(rows):
            get = (lambda k, d=None: r[k] if k in cols else d)
            payload = bytes(get("payload") or b"")
            # read() splits the HTTP envelope off response payloads —
            # reconstruct a minimal one on write so read→write→read
            # keeps http_status (review finding: without this an
            # engine-written archive lost every status and the ingest
            # filter dropped all records)
            ctype = get("content_type") or ""
            status = get("http_status")
            if (ctype.startswith("application/http")
                    and status is not None
                    and not payload.startswith(b"HTTP/")):
                payload = (f"HTTP/1.1 {int(status)} \r\n\r\n".encode()
                           + payload)
            rid = get("record_id")
            if not rid:
                h = hashlib.md5(
                    f"{i}|{get('target_uri') or ''}".encode()).hexdigest()
                rid = (f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-"
                       f"{h[16:20]}-{h[20:32]}>")
            hdr = [b"WARC/1.0",
                   b"WARC-Type: " + (get("warc_type")
                                     or "resource").encode(),
                   b"WARC-Record-ID: " + rid.encode(),
                   b"WARC-Date: " + (get("warc_date")
                                     or "1970-01-01T00:00:00Z").encode()]
            if get("target_uri"):
                hdr.append(b"WARC-Target-URI: " + get("target_uri").encode())
            if get("content_type"):
                hdr.append(b"Content-Type: " + get("content_type").encode())
            hdr.append(b"Content-Length: " + str(len(payload)).encode())
            rec = (b"\r\n".join(hdr) + b"\r\n\r\n" + payload + b"\r\n\r\n")
            if gzip_members:
                buf = io.BytesIO()
                with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
                    g.write(rec)
                rec = buf.getvalue()
            f.write(rec)
