"""TAR/ZIP archive sources — differential against stdlib zipfile/tarfile
(independent writers), split-vs-unsplit identity, multimodal compose."""

import io
import os
import tarfile
import zipfile

import numpy as np
import pytest

from geoio_jl_spark.sources import archive


def _make_zip(path, members, compress=zipfile.ZIP_DEFLATED):
    with zipfile.ZipFile(path, "w", compression=compress) as z:
        for name, data in members:
            z.writestr(name, data)


def _members(seed=61, n=12, big=False):
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        size = int(rng.integers(5000, 20000)) if big else \
            int(rng.integers(10, 400))
        # half compressible, half random
        if i % 2:
            data = bytes(rng.integers(0, 256, size, dtype=np.uint8))
        else:
            data = (b"pattern" * (size // 7 + 1))[:size]
        out.append((f"dir{i % 3}/member{i:03d}.bin", data))
    return out


def test_zip_entries_and_bytes_vs_stdlib(tmp_path):
    members = _members()
    p = tmp_path / "a.zip"
    _make_zip(str(p), members)
    buf = p.read_bytes()
    entries = archive.zip_entries(buf)
    assert [e["name"] for e in entries] == [n for n, _ in members]
    for e, (_, data) in zip(entries, members):
        assert archive.zip_member_bytes(buf, e) == data
        assert e["uncomp_size"] == len(data)


def test_zip_stored_method(tmp_path):
    members = _members(seed=62, n=4)
    p = tmp_path / "s.zip"
    _make_zip(str(p), members, compress=zipfile.ZIP_STORED)
    buf = p.read_bytes()
    for e, (_, data) in zip(archive.zip_entries(buf), members):
        assert e["method"] == 0
        assert archive.zip_member_bytes(buf, e) == data


def test_zip_rejects_unsupported_method(tmp_path):
    pytest.importorskip("bz2")
    p = tmp_path / "b.zip"
    _make_zip(str(p), [("x.bin", b"hello")],
              compress=zipfile.ZIP_BZIP2)
    buf = p.read_bytes()
    (e,) = archive.zip_entries(buf)
    with pytest.raises(ValueError, match="method"):
        archive.zip_member_bytes(buf, e)


def test_tar_entries_vs_stdlib(tmp_path):
    members = _members(seed=63)
    p = tmp_path / "a.tar"
    with tarfile.open(str(p), "w") as t:
        for name, data in members:
            ti = tarfile.TarInfo(name)
            ti.size = len(data)
            t.addfile(ti, io.BytesIO(data))
    buf = p.read_bytes()
    got = archive.tar_entries(buf)
    assert [g[0] for g in got] == [n for n, _ in members]
    for (name, off, size), (_, data) in zip(got, members):
        assert buf[off:off + size] == data


def test_read_zip_and_tar_spark(spark, tmp_path):
    members = _members(seed=64)
    d = tmp_path / "arch"
    d.mkdir()
    _make_zip(str(d / "one.zip"), members[:6])
    with tarfile.open(str(d / "two.tar.gz"), "w:gz") as t:
        for name, data in members[6:]:
            ti = tarfile.TarInfo(name)
            ti.size = len(data)
            t.addfile(ti, io.BytesIO(data))
    zrows = {(r["archive"], r["name"]): bytes(r["content"])
             for r in archive.read_zip(spark, str(d / "one.zip")).collect()}
    trows = {(r["archive"], r["name"]): bytes(r["content"])
             for r in archive.read_tar(spark, str(d / "two.tar.gz")).collect()}
    assert zrows == {("one.zip", n): v for n, v in members[:6]}
    assert trows == {("two.tar.gz", n): v for n, v in members[6:]}


def test_read_archive_directory(spark, tmp_path):
    """A directory is read through the WARC loader: every archive in it,
    and an empty directory is 0 rows, not PATH_NOT_FOUND."""
    members = _members(seed=65)
    d = tmp_path / "zips"
    d.mkdir()
    _make_zip(str(d / "a.zip"), members[:5])
    _make_zip(str(d / "b.zip"), members[5:])
    rows = {(r["archive"], r["name"])
            for r in archive.read_zip(spark, str(d)).collect()}
    assert rows == ({("a.zip", n) for n, _ in members[:5]}
                    | {("b.zip", n) for n, _ in members[5:]})
    assert archive.zip_index_members(spark, str(d)).count() == len(members)
    empty = tmp_path / "empty"
    empty.mkdir()
    for read in (archive.read_zip, archive.read_tar,
                 archive.zip_index_members):
        assert read(spark, str(empty)).count() == 0


def test_zip_indexed_split_identity(spark, tmp_path):
    """A small split_bytes forces >1 span; rows must be identical to the
    unsplit read and the plan must carry >1 task."""
    members = _members(seed=65, n=10, big=True)
    p = tmp_path / "big.zip"
    _make_zip(str(p), members)
    plain = {(r["archive"], r["name"]): bytes(r["content"])
             for r in archive.read_zip(spark, str(p)).collect()}
    idx = archive.zip_index_members(spark, str(p))
    idx.cache()
    assert idx.count() == 10
    split = archive.read_zip_indexed(spark, str(p), index=idx,
                                     split_bytes=16_000)
    got = {(r["archive"], r["name"]): bytes(r["content"])
           for r in split.collect()}
    assert got == plain
    n_spans = (idx.selectExpr("floor(offset / 16000) AS s")
               .distinct().count())
    assert n_spans > 1                         # genuinely split
    assert split.rdd.getNumPartitions() >= n_spans


def test_zip_of_images_feeds_multimodal(spark, tmp_path):
    """The dataset-ingestion compose: zip of PNGs -> archive scan ->
    image decode/features."""
    from geoio_jl_spark.operators import multimodal as M
    from geoio_jl_spark.sources.img import encode_png

    rng = np.random.default_rng(66)
    imgs = {f"im{i}.png":
            encode_png(rng.integers(0, 256, (8, 9, 3), dtype=np.uint8))
            for i in range(5)}
    p = tmp_path / "imgs.zip"
    _make_zip(str(p), list(imgs.items()))
    df = archive.read_zip(spark, str(p)).withColumnRenamed(
        "content", "image")
    meta = {r["name"]: r["meta"]
            for r in M.decode_images(df).select("name", "meta").collect()}
    assert all(m["ok"] and (m["width"], m["height"]) == (9, 8)
               for m in meta.values())