"""Seeded input generators and the oracles the benchmark checks against.

Everything here is a pure function of the seed: the same seed gives the
same bytes.  The program under test only ever sees the files these
functions write (parquet tables, page parquet, ``.warc.gz`` segments);
the expected answers stay on the benchmark side.
"""

from __future__ import annotations

import gzip
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from geoio_jl_spark import dialect as D

VOCAB = [
    "data", "table", "query", "spark", "join", "scan", "filter", "group",
    "order", "window", "merge", "batch", "stream", "row", "column", "value",
    "key", "hash", "sort", "part", "line", "agg", "big", "small", "fast",
    "slow", "the", "a", "vector", "customer",
    # entity-escaped in the html and multi-byte in UTF-8, so extraction
    # has to unescape and the length check counts characters, not bytes
    "x&y", "p<q", "a>b", "straße", "café", "数据",
]

_PAGE = (
    "<!DOCTYPE html><html><head><meta charset=\"utf-8\">"
    "<title>doc {id}</title>"
    "<meta name=\"geo.position\" content=\"{lat};{lon}\">"
    "</head><body><nav>site nav</nav><article>{body}</article>"
    "<footer>footer {id}</footer></body></html>"
)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int):
    """n texts of lo..hi-1 words, each a random window of one seeded
    word stream, and the entity-escaped form of each."""
    stream = rng.integers(0, len(VOCAB), 1 << 20)
    counts = rng.integers(lo, hi, n)
    starts = rng.integers(0, stream.size - hi, n)
    ends = starts + counts

    def windows(vocab):
        lens = np.array([len(v) + 1 for v in vocab])[stream]
        off = np.concatenate([[0], np.cumsum(lens)]).tolist()
        big = " ".join(np.array(vocab, dtype=object)[stream].tolist())
        return [big[off[a]:off[b] - 1]
                for a, b in zip(starts.tolist(), ends.tolist())]

    return windows(VOCAB), windows([_escape(v) for v in VOCAB])


def _write(table: pa.Table, path: str, **kw) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, **kw)


def write_nation(out_dir: str) -> None:
    """The fixed 25-row ``nation`` table; the flagship's triangle polygons
    are derived from its keys (``dialect.TRIANGLES_SQL``)."""
    keys = np.arange(25, dtype=np.int32)
    _write(pa.table({
        "n_nationkey": pa.array(keys, pa.int32()),
        "n_name": pa.array([f"NATION_{k}" for k in keys]),
        "n_regionkey": pa.array(keys % 5, pa.int32()),
    }), f"{out_dir}/nation.parquet")


# ---------------------------------------------------------------------------
# flagship_geotag and warc_ingest: Common-Crawl-style pages
# ---------------------------------------------------------------------------

def _coords(rng: np.random.Generator, n: int):
    """Centidegree points; 30% land in three seeded hot spots, each the
    centre of one of the fixed triangles, so the join sees skew."""
    lon_i = rng.integers(0, 36000, n)
    lat_i = rng.integers(0, 17000, n)
    hot_keys = rng.choice(25, 3, replace=False)
    cx = (hot_keys * 1117) % 33000 + 1500
    cy = (hot_keys * 2339) % 14000 + 1500
    hot = rng.random(n) < 0.3
    k = rng.integers(0, 3, int(hot.sum()))
    lon_i[hot] = cx[k] + rng.integers(-200, 200, k.size)
    lat_i[hot] = cy[k] + rng.integers(-200, 200, k.size)
    return lon_i, lat_i


def page_html(doc: int, body: str, lat: str, lon: str) -> bytes:
    """One page; ``body`` is the already entity-escaped article text."""
    return _PAGE.format(id=doc, lat=lat, lon=lon, body=body).encode("utf-8")


def make_pages(seed: int, stream: int, n: int) -> dict:
    """n pages over a seeded id range: url, html, text, plus the exact
    centidegree ints the flagship's float parse will produce."""
    rng = _rng(seed, stream)
    base = int(rng.integers(0, 1 << 40))
    ids = range(base, base + n)
    texts, bodies = _texts(rng, n, 20, 80)
    lon_i, lat_i = _coords(rng, n)
    lat_s = [f"{v:.2f}" for v in (lat_i / 100.0 - 85.0).tolist()]
    lon_s = [f"{v:.2f}" for v in (lon_i / 100.0 - 180.0).tolist()]
    html = [page_html(i, b, la, lo)
            for i, b, la, lo in zip(ids, bodies, lat_s, lon_s)]
    # the pipeline computes ((float(s) + 180) * 100).cast(bigint): the same
    # IEEE double ops here, truncated toward zero like a Spark cast
    lon_f = np.array(lon_s, dtype=np.float64)
    lat_f = np.array(lat_s, dtype=np.float64)
    return {
        "url": [f"https://site{i % 997}.example/p/{i}" for i in ids],
        "html": html,
        "text": texts,
        "lon_q": np.trunc((lon_f + 180.0) * 100).astype(np.int64),
        "lat_q": np.trunc((lat_f + 85.0) * 100).astype(np.int64),
    }


def write_pages(pages: dict, path: str) -> None:
    """Row groups of 8192 pages, so the scan splits across every core."""
    _write(pa.table({
        "url": pa.array(pages["url"], pa.string()),
        "html": pa.array(pages["html"], pa.binary()),
        "text": pa.array(pages["text"], pa.string()),
    }), path, row_group_size=8192)


def flagship_oracle(pages: dict) -> dict[int, tuple[int, int]]:
    """poly_id -> (n, tc): points inside each triangle and the summed
    character length of their texts (polygons with no point are absent,
    as after the pipeline's inner join)."""
    pts = pa.table({
        "lon_i": pa.array(pages["lon_q"]),
        "lat_i": pa.array(pages["lat_q"]),
        "text_len": pa.array([len(t) for t in pages["text"]], pa.int64()),
    })
    nation = pa.table({"n_nationkey": pa.array(range(25), pa.int64())})
    con = duckdb.connect()
    try:
        con.register("pts", pts)
        con.register("nation", nation)
        rows = con.sql(
            f"WITH t AS ({D.TRIANGLES_SQL}) "
            "SELECT poly_id, count(*), sum(text_len) FROM pts JOIN t ON "
            f"{D.point_in_triangle_sql('pts.lon_i', 'pts.lat_i')} "
            "GROUP BY poly_id").fetchall()
    finally:
        con.close()
    return {int(p): (int(n), int(tc)) for p, n, tc in rows}


# ---------------------------------------------------------------------------
# warc_ingest: crawl epochs as .warc.gz segments, one gzip member a record
# ---------------------------------------------------------------------------

def _warc_record(url: str, html: bytes, rid: int) -> bytes:
    payload = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
    hdr = (f"WARC/1.0\r\nWARC-Type: response\r\n"
           f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-{rid:012x}>\r\n"
           f"WARC-Date: 2026-01-01T00:00:00Z\r\n"
           f"WARC-Target-URI: {url}\r\n"
           f"Content-Type: application/http; msgtype=response\r\n"
           f"Content-Length: {len(payload)}\r\n\r\n").encode()
    return hdr + payload + b"\r\n\r\n"


def write_crawl(seed: int, out_dir: str, epochs: int, segments: int,
                per_segment: int, new_share: float,
                changed_share: float) -> dict:
    """Write ``epochs`` crawl directories of ``segments`` ``.warc.gz``
    files each.  Epoch 1 is all new urls; every later epoch re-crawls
    earlier urls, a ``changed_share`` of them with edited content, and
    adds a ``new_share`` of never-seen urls.  Returns the plan, per
    epoch: directory, expected CDC counts, record count, decompressed
    bytes and the url -> text map the store should resolve to after it."""
    rng = _rng(seed, 3)
    per_epoch = segments * per_segment
    n_new_later = int(per_epoch * new_share)
    total = per_epoch + (epochs - 1) * n_new_later
    pages = make_pages(seed, 4, total)
    current: dict[str, str] = {}
    url_idx: dict[str, int] = {}
    plan = {"dirs": [], "expected": [], "raw_bytes": [], "records": [],
            "state": []}
    next_new = 0
    rid = 0
    for e in range(1, epochs + 1):
        n_new = per_epoch if e == 1 else n_new_later
        new_ids = list(range(next_new, next_new + n_new))
        next_new += n_new
        recrawl, changed = [], set()
        if e > 1:
            seen = np.array(sorted(url_idx.values()))
            recrawl = rng.choice(seen, per_epoch - n_new,
                                 replace=False).tolist()
            changed = set(rng.choice(
                recrawl, int(per_epoch * changed_share),
                replace=False).tolist())
        batch = []
        for i in recrawl + new_ids:
            url = pages["url"][i]
            text = current.get(url, pages["text"][i])
            if i in changed:
                text = f"edited {e} {text}"
            batch.append((url, text, i))
            current[url] = text
            url_idx[url] = i
        order = rng.permutation(len(batch))
        d = os.path.join(out_dir, f"epoch{e}")
        os.makedirs(d, exist_ok=True)
        raw = 0
        for s in range(segments):
            with open(os.path.join(d, f"seg{s:03d}.warc.gz"), "wb") as fh:
                for j in order[s * per_segment:(s + 1) * per_segment]:
                    url, text, i = batch[j]
                    rec = _warc_record(url, page_html(
                        i, _escape(text), "0.00", "0.00"), rid)
                    rid += 1
                    raw += len(rec)
                    fh.write(gzip.compress(rec, compresslevel=6, mtime=0))
        plan["dirs"].append(d)
        plan["expected"].append({"inserted": n_new, "updated": len(changed)})
        plan["raw_bytes"].append(raw)
        plan["records"].append(len(batch))
        plan["state"].append(dict(current))
    return plan
