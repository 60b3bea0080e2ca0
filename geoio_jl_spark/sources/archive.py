"""TAR and ZIP archive sources — dataset ingestion for corpora shipped
as member archives (image zips, document tars), from scratch on the
public formats: the PKWARE APPNOTE ZIP layout (EOCD + central
directory + local headers, stored/deflate members via stdlib zlib) and
POSIX ustar 512-byte headers.

Shape mirrors ``sources/warc.py``: a whole-archive scan rides its
``binaryFile`` loader (``warc._files``: one archive or a directory of
them, an empty directory read as 0 rows) + ``mapInPandas`` (one task
per archive — right for crawls of many archives), and a cdx-style
MEMBER INDEX job
(``zip_index_members``) enables sub-file splits for single large
archives: the central directory gives exact (offset, length) per
member, so ``read_zip_indexed`` coalesces contiguous members into
spans and each task does one seek + one read.

ZIP64 and encrypted/other compression methods raise named errors;
``.tar.gz`` decompresses whole-file first (a gzip tar is not
splittable — the documented trade, same as single-member .warc.gz).
"""

from __future__ import annotations

import os
import struct
import zlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from geoio_jl_spark.sources.warc import _files

MEMBER_SCHEMA = T.StructType([
    T.StructField("archive", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("size", T.LongType()),
    T.StructField("content", T.BinaryType()),
])

ZIP_INDEX_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("offset", T.LongType()),      # local header offset
    T.StructField("comp_size", T.LongType()),
    T.StructField("uncomp_size", T.LongType()),
    T.StructField("method", T.IntegerType()),
])


# ---------------------------------------------------------------------------
# ZIP parsing (APPNOTE 4.3)
# ---------------------------------------------------------------------------

_EOCD_SIG = b"PK\x05\x06"
_CDIR_SIG = b"PK\x01\x02"
_LOCAL_SIG = b"PK\x03\x04"


def zip_entries(buf: bytes) -> list[dict]:
    """Central-directory walk -> [{name, offset, comp_size,
    uncomp_size, method}] in directory order."""
    tail = buf[-(22 + 0xFFFF):] if len(buf) > 22 + 0xFFFF else buf
    k = tail.rfind(_EOCD_SIG)
    # a signature can appear with fewer than the 22 fixed EOCD bytes
    # left (truncation, or payload bytes that happen to match): keep
    # searching backwards for a complete record (fuzz-found case)
    while k >= 0 and len(tail) - k < 22:
        k = tail.rfind(_EOCD_SIG, 0, k)
    if k < 0:
        raise ValueError("not a ZIP file (no end-of-central-directory)")
    eocd = tail[k:]
    n_total = struct.unpack_from("<H", eocd, 10)[0]
    cd_off = struct.unpack_from("<I", eocd, 16)[0]
    if n_total == 0xFFFF or cd_off == 0xFFFFFFFF:
        raise ValueError("ZIP64 archives unsupported (named limit)")
    out = []
    pos = cd_off
    for _ in range(n_total):
        if buf[pos:pos + 4] != _CDIR_SIG:
            raise ValueError("ZIP: corrupt central directory")
        try:
            (method, _t, _d, _crc, comp, uncomp, nlen, elen, clen,
             _disk, _ia, _ea, lho) = struct.unpack_from(
                 "<HHHIIIHHHHHII", buf, pos + 10)
        except struct.error as e:
            raise ValueError("ZIP: truncated central directory") from e
        name = buf[pos + 46: pos + 46 + nlen].decode("utf-8", "replace")
        out.append({"name": name, "offset": lho, "comp_size": comp,
                    "uncomp_size": uncomp, "method": method})
        pos += 46 + nlen + elen + clen
    return out


def zip_member_bytes(buf: bytes, entry: dict, base_offset: int = 0
                     ) -> bytes:
    """Decompress one member given its central-directory entry.
    ``base_offset`` shifts local-header offsets when ``buf`` is a
    sub-file span rather than the whole archive."""
    pos = entry["offset"] - base_offset
    if buf[pos:pos + 4] != _LOCAL_SIG:
        raise ValueError(f"ZIP: bad local header for {entry['name']!r}")
    nlen, elen = struct.unpack_from("<HH", buf, pos + 26)
    data_start = pos + 30 + nlen + elen
    raw = buf[data_start: data_start + entry["comp_size"]]
    method = entry["method"]
    if method == 0:
        return raw
    if method == 8:
        return zlib.decompressobj(-15).decompress(raw)
    raise ValueError(f"ZIP compression method {method} unsupported "
                     "(stored/deflate only)")


def zip_local_span(entry: dict) -> int:
    """Upper bound on the member's byte length from its local header:
    30-byte header + name (<=64k) + extra (<=64k) + data.  Exact spans
    come from sorting entries by offset (next offset - this offset);
    this bound covers the LAST member."""
    return 30 + 0xFFFF + 0xFFFF + entry["comp_size"]


# ---------------------------------------------------------------------------
# TAR parsing (POSIX ustar)
# ---------------------------------------------------------------------------

def tar_entries(buf: bytes) -> list[tuple[str, int, int]]:
    """-> [(name, data_offset, size)] for regular files."""
    out = []
    pos = 0
    while pos + 512 <= len(buf):
        hdr = buf[pos:pos + 512]
        if hdr == b"\x00" * 512:
            break
        name = hdr[:100].split(b"\x00", 1)[0].decode("utf-8", "replace")
        size_field = hdr[124:136].split(b"\x00", 1)[0].strip()
        size = int(size_field or b"0", 8)
        typeflag = hdr[156:157]
        prefix = hdr[345:500].split(b"\x00", 1)[0].decode("utf-8",
                                                          "replace")
        if prefix:
            name = prefix + "/" + name
        if typeflag in (b"0", b"\x00"):
            out.append((name, pos + 512, size))
        pos += 512 + ((size + 511) // 512) * 512
    return out


# ---------------------------------------------------------------------------
# Spark scans
# ---------------------------------------------------------------------------

def read_tar(spark: SparkSession, path: str) -> DataFrame:
    """.tar / .tar.gz members -> (archive, name, size, content)."""
    def _parse(batches):
        import gzip as _gz
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                if data[:2] == b"\x1f\x8b":
                    data = _gz.decompress(data)
                base = os.path.basename(fpath)
                for name, off, size in tar_entries(data):
                    rows.append({"archive": base, "name": name,
                                 "size": size,
                                 "content": data[off:off + size]})
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEMBER_SCHEMA.fields])

    return _files(spark, path).mapInPandas(_parse, MEMBER_SCHEMA)


def read_zip(spark: SparkSession, path: str) -> DataFrame:
    """.zip members -> (archive, name, size, content); one task per
    archive (crawl-of-many-zips shape)."""
    def _parse(batches):
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                base = os.path.basename(fpath)
                for e in zip_entries(data):
                    rows.append({"archive": base, "name": e["name"],
                                 "size": e["uncomp_size"],
                                 "content": zip_member_bytes(data, e)})
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEMBER_SCHEMA.fields])

    return _files(spark, path).mapInPandas(_parse, MEMBER_SCHEMA)


def zip_index_members(spark: SparkSession, path: str) -> DataFrame:
    """Member-offset index from the central directory — one metadata
    read per archive (the directory sits at the tail), no member
    decompression.  Persist once; read with :func:`read_zip_indexed`."""
    def _index(batches):
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                for e in zip_entries(bytes(content)):
                    rows.append({"file": fpath, "name": e["name"],
                                 "offset": e["offset"],
                                 "comp_size": e["comp_size"],
                                 "uncomp_size": e["uncomp_size"],
                                 "method": e["method"]})
            yield pd.DataFrame(
                rows, columns=[f.name for f in ZIP_INDEX_SCHEMA.fields])

    return _files(spark, path).mapInPandas(_index, ZIP_INDEX_SCHEMA)


def read_zip_indexed(spark: SparkSession, path: str,
                     index: DataFrame | None = None,
                     split_bytes: int = 128 << 20) -> DataFrame:
    """ZIP read with sub-file splits: contiguous members coalesce into
    ``split_bytes`` spans (offsets come from the central directory, so
    span boundaries fall exactly on local-header starts); each task
    seeks once, reads its span, and decodes only its own members —
    row-identical to :func:`read_zip` (asserted in tests)."""
    from pyspark.sql import functions as F
    if index is None:
        index = zip_index_members(spark, path)
    spans = (index
             .withColumn("span", F.floor(F.col("offset") / split_bytes))
             .groupBy("file", "span")
             .agg(F.min("offset").alias("off0"),
                  F.collect_list(F.struct("name", "offset", "comp_size",
                                          "uncomp_size", "method"))
                  .alias("members")))
    n_spans = spans.count()
    spans = spans.repartition(max(1, n_spans), "file", "span")

    def _read(batches):
        for pdf in batches:
            rows = []
            for fpath, off0, members in zip(pdf["file"], pdf["off0"],
                                            pdf["members"]):
                local = (fpath[len("file:"):]
                         if fpath.startswith("file:") else fpath)
                ms = sorted((dict(m) for m in members),
                            key=lambda m: m["offset"])
                end = max(m["offset"] + zip_local_span(m) for m in ms)
                with open(local, "rb") as fh:
                    fh.seek(int(off0))
                    data = fh.read(int(end - off0))
                base = os.path.basename(local)
                for m in ms:
                    rows.append({
                        "archive": base, "name": m["name"],
                        "size": m["uncomp_size"],
                        "content": zip_member_bytes(
                            data, m, base_offset=int(off0))})
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEMBER_SCHEMA.fields])

    return spans.mapInPandas(_read, MEMBER_SCHEMA)