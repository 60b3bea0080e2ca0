"""GeoTIFF source/sink — from-scratch baseline-TIFF codec (struct/numpy;
no rasterio/GDAL in this container) with the reference's grid semantics
(S7/K7, src/extra/geotiff.jl):

- read: IFD walk (uncompressed strips), bands → channel columns over an
  implicit grid composed with the affine from ModelPixelScale+ModelTiepoint
  or ModelTransformation (F16, geotiff.jl:128-148); EPSG code from the
  GeoKeyDirectory (ProjectedCSTypeGeoKey 3072 / GeographicTypeGeoKey 2048)
- write: grid → single-strip float32 TIFF; the affine is recovered from
  3 grid vertices (F19 closed form, geotiff.jl:152-199) and emitted as
  ModelPixelScale+ModelTiepoint when axis-aligned, else ModelTransformation

Long-form output table: (cell_id, i, j, x, y, channel_1..n) — the same
shape raster ops and the DuckDB oracle consume.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

T_WIDTH, T_HEIGHT, T_BITS, T_COMPRESSION, T_PHOTO = 256, 257, 258, 259, 262
T_STRIP_OFFSETS, T_SPP, T_ROWS_PER_STRIP, T_STRIP_COUNTS = 273, 277, 278, 279
T_PLANAR, T_PREDICTOR, T_SAMPLE_FORMAT = 284, 317, 339
T_TILE_WIDTH, T_TILE_LENGTH, T_TILE_OFFSETS, T_TILE_COUNTS = 322, 323, 324, 325
T_JPEGTABLES = 347
T_MODEL_PIXEL_SCALE, T_MODEL_TIEPOINT, T_MODEL_TRANSFORM = 33550, 33922, 34264
T_GEO_KEYS = 34735

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 11: 4, 12: 8,
              13: 4, 16: 8, 17: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 11: "f", 12: "d",
             13: "I", 16: "Q", 17: "q"}


def _read_ifd_chain(buf: bytes):
    """→ (endianness, [tags per IFD]) for classic TIFF (magic 42) and
    BigTIFF (magic 43 — 8-byte offsets, 20-byte entries; any COG past
    4 GB, so the layout a 100-TB archive actually ships).  IFDs after
    the first are a COG's overview levels."""
    little = buf[:2] == b"II"
    e = "<" if little else ">"
    magic = struct.unpack_from(e + "H", buf, 2)[0]
    if magic == 42:
        off = struct.unpack_from(e + "I", buf, 4)[0]
        esize, inline, cnt_fmt = 12, 4, "HHI"
        nfmt, nsize, ofmt = "H", 2, "I"
    elif magic == 43:
        osize, pad = struct.unpack_from(e + "HH", buf, 4)
        if osize != 8 or pad != 0:
            raise ValueError("malformed BigTIFF header")
        off = struct.unpack_from(e + "Q", buf, 8)[0]
        esize, inline, cnt_fmt = 20, 8, "HHQ"
        nfmt, nsize, ofmt = "Q", 8, "Q"
    else:
        raise ValueError("not a TIFF file")
    ifds = []
    seen_offsets: set[int] = set()
    while off:
        # cycle / runaway guard: a malformed or adversarial next-IFD
        # chain that loops back on itself (or never terminates) must
        # fail fast instead of spinning forever accumulating IFDs
        if off in seen_offsets:
            raise ValueError(f"TIFF IFD chain cycles back to offset {off}")
        if len(seen_offsets) >= 64:
            raise ValueError("TIFF IFD chain exceeds 64 IFDs")
        seen_offsets.add(off)
        n = struct.unpack_from(e + nfmt, buf, off)[0]
        entry0 = off + nsize
        tags = {}
        for k in range(n):
            p = entry0 + esize * k
            tag, typ, cnt = struct.unpack_from(e + cnt_fmt, buf, p)
            size = _TYPE_SIZE.get(typ, 1) * cnt
            vpos = p + (8 if esize == 12 else 12)
            if size <= inline:
                dpos = vpos
            else:
                dpos = struct.unpack_from(
                    e + ("I" if inline == 4 else "Q"), buf, vpos)[0]
            if typ in _TYPE_FMT:
                vals = struct.unpack_from(
                    e + str(cnt) + _TYPE_FMT[typ], buf, dpos)
            elif typ == 5:  # rational
                raw = struct.unpack_from(e + str(2 * cnt) + "I", buf, dpos)
                vals = tuple(raw[i] / raw[i + 1]
                             for i in range(0, 2 * cnt, 2))
            else:
                vals = (buf[dpos:dpos + size],)
            tags[tag] = vals
        ifds.append(tags)
        off = struct.unpack_from(e + ofmt, buf, entry0 + esize * n)[0]
    return e, ifds


def _affine_from_tags(tags) -> tuple[tuple, tuple]:
    if T_MODEL_TRANSFORM in tags:
        m = tags[T_MODEL_TRANSFORM]
        return ((m[0], m[1]), (m[4], m[5])), (m[3], m[7])
    if T_MODEL_PIXEL_SCALE in tags and T_MODEL_TIEPOINT in tags:
        sx, sy = tags[T_MODEL_PIXEL_SCALE][0], tags[T_MODEL_PIXEL_SCALE][1]
        tp = tags[T_MODEL_TIEPOINT]
        # tiepoint: raster (i,j,k) -> model (x,y,z); y axis flips
        ox = tp[3] - tp[0] * sx
        oy = tp[4] + tp[1] * sy
        return ((sx, 0.0), (0.0, -sy)), (ox, oy)
    return ((1.0, 0.0), (0.0, 1.0)), (0.0, 0.0)


def _epsg_from_geokeys(tags) -> str | None:
    if T_GEO_KEYS not in tags:
        return None
    k = tags[T_GEO_KEYS]
    nkeys = k[3]
    for i in range(nkeys):
        key_id, _loc, _cnt, value = k[4 + 4 * i: 8 + 4 * i]
        if key_id in (3072, 2048):  # ProjectedCSType / GeographicType
            return f"EPSG:{value}"
    return None


def _unpackbits(data: bytes) -> bytes:
    """TIFF PackBits (compression 32773) RLE decode."""
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        i += 1
        if n < 128:
            out += data[i:i + n + 1]
            i += n + 1
        elif n > 128:
            out += data[i:i + 1] * (257 - n)
            i += 1
    return bytes(out)


def _unlzw(data: bytes) -> bytes:
    """TIFF-variant LZW (compression 5): MSB-first bit packing, codes
    256=ClearCode, 257=EOI, early code-width change (TIFF spec §13)."""
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    width = 9
    reset()
    acc = bits = 0
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        bits += 8
        while bits >= width:
            code = (acc >> (bits - width)) & ((1 << width) - 1)
            bits -= width
            if code == 256:
                reset()
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:  # KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            # TIFF early change: the encoder widens when ITS next code
            # hits 2^w-1; the decoder's table lags one entry behind, so
            # it widens at 2^w-2 (510/1022/2046)
            if len(table) >= (1 << width) - 2 and width < 12:
                width += 1
    return bytes(out)


def _decompress_strip(raw: bytes, comp: int,
                      jpegtables: bytes | None = None) -> bytes:
    if comp == 1:
        return raw
    if comp == 5:
        return _unlzw(raw)
    if comp == 7:
        return _unjpeg(raw, jpegtables)
    if comp in (8, 32946):  # Deflate / legacy Deflate
        return zlib.decompress(raw)
    if comp == 32773:
        return _unpackbits(raw)
    raise ValueError(f"unsupported TIFF compression {comp}")


def _unjpeg(raw: bytes, jpegtables: bytes | None) -> bytes:
    """New-style JPEG (compression 7, aerial-imagery COGs): each
    tile/strip is a JPEG stream, optionally relying on the shared
    JPEGTables tag (an abbreviated SOI+DQT/DHT+EOI table stream).  The
    tables prefix (EOI stripped) is spliced ahead of the tile stream
    (SOI stripped) to form one standard stream for the engine's own
    baseline decoder (sources/jpeg.py); decoded samples return
    row-major, so the predictor path sees ordinary bytes."""
    from geoio_jl_spark.sources.jpeg import decode as decode_jpeg
    if raw[:2] != b"\xff\xd8":
        raise ValueError("JPEG tile does not start with SOI")
    if jpegtables and len(jpegtables) > 4:
        tbl = jpegtables
        if tbl[-2:] == b"\xff\xd9":
            tbl = tbl[:-2]
        raw = tbl + raw[2:]
    arr = decode_jpeg(raw)
    return arr.tobytes()


def _unpredict(strip: bytes, pred: int, w: int, s: int, bs: int,
               dt: np.dtype) -> np.ndarray:
    """Undo horizontal (2) / floating-point (3, TIFF TechNote3) predictors
    row-by-row; returns a flat array of samples in row-major order."""
    row_bytes = w * s * bs
    rows = len(strip) // row_bytes
    if pred == 3:
        # bytes were byte-plane shuffled (all MSBs first) then differenced;
        # after the cumsum the reassembled stream is big-endian.
        a = np.frombuffer(strip, np.uint8, rows * row_bytes).reshape(rows, row_bytes)
        a = np.add.accumulate(a, axis=1, dtype=np.uint8)
        a = a.reshape(rows, bs, w * s).transpose(0, 2, 1)  # (rows, samples, bytes)
        return np.ascontiguousarray(a).reshape(rows * w * s * bs) \
            .view(np.dtype(">" + dt.str[1:])).astype(dt)
    arr = np.frombuffer(strip, dt, rows * w * s)
    if pred == 2:
        a = arr.reshape(rows, w, s).copy()
        np.add.accumulate(a, axis=1, out=a)
        return a.reshape(-1)
    return arr


def read_raw(path: str):
    with open(path, "rb") as f:
        buf = f.read()
    e, ifds = _read_ifd_chain(buf)
    return _decode_ifd(buf, e, ifds[0])


def read_overviews(path: str):
    """Every resolution level of a COG (full-res IFD + overview IFDs) →
    [(array, affine A, offset b, epsg)].  Overview IFDs usually carry no
    geo tags, so their affine is the full-resolution affine scaled by
    the size ratio (the COG convention)."""
    with open(path, "rb") as f:
        buf = f.read()
    e, ifds = _read_ifd_chain(buf)
    out = [_decode_ifd(buf, e, t) for t in ifds]
    arr0, A0, b0, epsg0 = out[0]
    fixed = [out[0]]
    for arr, A, b, epsg in out[1:]:
        if A == ((1.0, 0.0), (0.0, 1.0)) and b == (0.0, 0.0):
            sx = arr0.shape[1] / arr.shape[1]
            sy = arr0.shape[0] / arr.shape[0]
            A = ((A0[0][0] * sx, A0[0][1] * sy),
                 (A0[1][0] * sx, A0[1][1] * sy))
            b, epsg = b0, (epsg or epsg0)
        fixed.append((arr, A, b, epsg))
    return fixed


def _decode_ifd(buf: bytes, e: str, tags: dict):
    w = tags[T_WIDTH][0]
    h = tags[T_HEIGHT][0]
    spp = tags.get(T_SPP, (1,))[0]
    bits = tags.get(T_BITS, (8,) * spp)
    fmt = tags.get(T_SAMPLE_FORMAT, (1,) * spp)
    comp = tags.get(T_COMPRESSION, (1,))[0]
    jtab = tags.get(T_JPEGTABLES, (None,))[0]
    pred = tags.get(T_PREDICTOR, (1,))[0]
    planar = tags.get(T_PLANAR, (1,))[0]
    dt_map = {(1, 8): "u1", (1, 16): "u2", (1, 32): "u4",
              (2, 8): "i1", (2, 16): "i2", (2, 32): "i4",
              (3, 32): "f4", (3, 64): "f8"}
    dt = np.dtype(e + dt_map[(fmt[0], bits[0])])
    s = 1 if planar == 2 else spp  # samples per pixel within one chunk
    if T_TILE_OFFSETS in tags:  # tiled layout (the COG shape)
        tw = tags[T_TILE_WIDTH][0]
        th = tags[T_TILE_LENGTH][0]
        tiles_x = -(-w // tw)
        tiles_y = -(-h // th)
        per_plane = tiles_x * tiles_y
        arr = np.zeros((h, w, spp), dt.newbyteorder("="))
        for k, (o, c) in enumerate(zip(tags[T_TILE_OFFSETS],
                                       tags[T_TILE_COUNTS])):
            tile = _decompress_strip(buf[o:o + c], comp, jtab)
            vals = _unpredict(tile, pred, tw, s, dt.itemsize, dt)
            t = vals[:tw * th * s].reshape(th, tw, s)
            plane = k // per_plane
            ty, tx = divmod(k % per_plane, tiles_x)
            y0, x0 = ty * th, tx * tw
            sel_h = min(th, h - y0)
            sel_w = min(tw, w - x0)
            if planar == 2:
                arr[y0:y0 + sel_h, x0:x0 + sel_w, plane] = \
                    t[:sel_h, :sel_w, 0]
            else:
                arr[y0:y0 + sel_h, x0:x0 + sel_w, :] = t[:sel_h, :sel_w]
        A, b = _affine_from_tags(tags)
        return arr, A, b, _epsg_from_geokeys(tags)
    offsets = tags[T_STRIP_OFFSETS]
    counts = tags[T_STRIP_COUNTS]
    strips = []
    for o, c in zip(offsets, counts):
        strip = _decompress_strip(buf[o:o + c], comp, jtab)
        strips.append(_unpredict(strip, pred, w, s, dt.itemsize, dt))
    if planar == 2:
        # strips grouped per plane: plane p occupies strips [p*k, (p+1)*k)
        k = len(strips) // spp
        planes = [np.concatenate(strips[p * k:(p + 1) * k])[:w * h].reshape(h, w)
                  for p in range(spp)]
        arr = np.stack(planes, axis=2)
    else:
        arr = np.concatenate(strips)[:w * h * spp].reshape(h, w, spp)
    A, b = _affine_from_tags(tags)
    return arr, A, b, _epsg_from_geokeys(tags)


def read(spark: SparkSession, path: str) -> DataFrame:
    arr, A, b, epsg = read_raw(path)
    h, w, spp = arr.shape
    cell = np.arange(w * h, dtype=np.int64)
    i = cell % w
    j = cell // w
    pdf = pd.DataFrame({
        "cell_id": cell, "i": i, "j": j,
        "x": A[0][0] * i + A[0][1] * j + b[0],
        "y": A[1][0] * i + A[1][1] * j + b[1],
    })
    for c in range(spp):
        pdf[f"channel_{c + 1}"] = arr[j, i, c].astype(np.float64)
    return spark.createDataFrame(pdf)


def write(df: DataFrame, path: str, epsg: int = 4326,
          channels: list[str] | None = None,
          tiled: int | None = None) -> None:
    """2D-grid constraint (geotiff.jl:44-47); affine recovered from 3
    vertices (F19). ``tiled=N`` (multiple of 16) writes N×N
    Deflate-compressed tiles — the Cloud-Optimized-GeoTIFF layout whose
    aligned tiles let remote readers fetch sub-windows without scanning
    whole strips."""
    pdf = df.toPandas().sort_values(["j", "i"])
    w = int(pdf["i"].max()) + 1
    h = int(pdf["j"].max()) + 1
    if len(pdf) != w * h:
        raise ValueError("GeoTIFF write requires a complete 2D grid "
                         "(geotiff.jl:44-47 constraint)")
    if channels is None:
        channels = [c for c in pdf.columns if c.startswith("channel_")] or [
            c for c in pdf.columns
            if c not in ("cell_id", "i", "j", "x", "y")][:1]
    spp = len(channels)
    # F19: b = v(0,0); A cols from v(1,0)-b and v(0,1)-b
    key = pdf.set_index(["i", "j"])
    v00 = np.array([key.loc[(0, 0), "x"], key.loc[(0, 0), "y"]], dtype=float)
    v10 = np.array([key.loc[(1, 0), "x"], key.loc[(1, 0), "y"]], dtype=float) if w > 1 else v00 + [1, 0]
    v01 = np.array([key.loc[(0, 1), "x"], key.loc[(0, 1), "y"]], dtype=float) if h > 1 else v00 + [0, 1]
    a1, a2 = v10 - v00, v01 - v00
    data = np.stack([np.asarray(pdf[c], np.float32).reshape(h, w)
                     for c in channels], axis=2)

    entries = []  # (tag, type, count, values)
    entries.append((T_WIDTH, 4, 1, [w]))
    entries.append((T_HEIGHT, 4, 1, [h]))
    entries.append((T_BITS, 3, spp, [32] * spp))
    entries.append((T_PHOTO, 3, 1, [1]))
    entries.append((T_SPP, 3, 1, [spp]))
    entries.append((T_PLANAR, 3, 1, [1]))
    entries.append((T_SAMPLE_FORMAT, 3, spp, [3] * spp))
    if tiled:
        tw = th = int(tiled)
        if tw % 16:
            raise ValueError("TIFF tile size must be a multiple of 16")
        tiles_x, tiles_y = -(-w // tw), -(-h // th)
        pad = np.zeros((tiles_y * th, tiles_x * tw, spp), np.float32)
        pad[:h, :w] = data
        tile_blobs = []
        for ty in range(tiles_y):
            for tx in range(tiles_x):
                block = pad[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
                tile_blobs.append(zlib.compress(
                    np.ascontiguousarray(block).astype("<f4").tobytes()))
        pixel_bytes = b"".join(tile_blobs)
        n_tiles = len(tile_blobs)
        entries.append((T_COMPRESSION, 3, 1, [8]))  # Deflate
        entries.append((T_TILE_WIDTH, 4, 1, [tw]))
        entries.append((T_TILE_LENGTH, 4, 1, [th]))
        entries.append((T_TILE_COUNTS, 4, n_tiles,
                        [len(b) for b in tile_blobs]))
    else:
        pixel_bytes = data.astype("<f4").tobytes()
        entries.append((T_COMPRESSION, 3, 1, [1]))
        entries.append((T_ROWS_PER_STRIP, 4, 1, [h]))
        entries.append((T_STRIP_COUNTS, 4, 1, [len(pixel_bytes)]))
    axis_aligned = a1[1] == 0 and a2[0] == 0
    if axis_aligned:
        entries.append((T_MODEL_PIXEL_SCALE, 12, 3, [a1[0], -a2[1], 0.0]))
        entries.append((T_MODEL_TIEPOINT, 12, 6, [0, 0, 0, v00[0], v00[1], 0]))
    else:
        m = [a1[0], a2[0], 0, v00[0], a1[1], a2[1], 0, v00[1],
             0, 0, 0, 0, 0, 0, 0, 1]
        entries.append((T_MODEL_TRANSFORM, 12, 16, m))
    geokeys = [1, 1, 0, 2,
               1024, 0, 1, 2 if epsg == 4326 else 1,
               (2048 if epsg == 4326 else 3072), 0, 1, epsg]
    entries.append((T_GEO_KEYS, 3, len(geokeys), geokeys))
    if tiled:
        entries.append((T_TILE_OFFSETS, 4, n_tiles, [0] * n_tiles))
    else:
        entries.append((T_STRIP_OFFSETS, 4, 1, [0]))
    entries.sort(key=lambda t: t[0])

    def assemble(es):
        ifd_off = 8
        n = len(es)
        data_off = ifd_off + 2 + 12 * n + 4
        blobs, rows = [], []
        for tag, typ, cnt, vals in es:
            raw = struct.pack("<" + str(cnt) + _TYPE_FMT[typ], *vals)
            if len(raw) <= 4:
                rows.append((tag, typ, cnt, raw.ljust(4, b"\x00"), None))
            else:
                rows.append((tag, typ, cnt, None, len(b"".join(blobs))))
                blobs.append(raw)
        extra = b"".join(blobs)
        out = struct.pack("<2sHI", b"II", 42, ifd_off)
        out += struct.pack("<H", n)
        for (tag, typ, cnt, inline, rel) in rows:
            out += struct.pack("<HHI", tag, typ, cnt)
            out += inline if inline is not None else struct.pack(
                "<I", data_off + rel)
        out += struct.pack("<I", 0)
        return out + extra

    # first pass sizes the header; second pass carries real offsets
    strip_off = len(assemble(entries))
    if tiled:
        offs, pos = [], strip_off
        for b_ in tile_blobs:
            offs.append(pos)
            pos += len(b_)
        entries = [(t, ty, c, offs) if t == T_TILE_OFFSETS else
                   (t, ty, c, v) for (t, ty, c, v) in entries]
    else:
        entries = [(t, ty, c, [strip_off]) if t == T_STRIP_OFFSETS else
                   (t, ty, c, v) for (t, ty, c, v) in entries]
    with open(path, "wb") as f:
        f.write(assemble(entries) + pixel_bytes)
