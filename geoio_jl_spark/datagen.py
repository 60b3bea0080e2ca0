"""Deterministic synthetic data generators (seedless integer arithmetic —
stable under any partitioning, no wall clock, no external data).

Two families:

1. ``webpages`` — the input_hint table `(url, warc_ts, html:binary,
   text:string, lang:string)` at arbitrary scale, generated *distributed*
   (spark.range → mapInPandas) so bench-scale inputs never sit on the
   driver.  The html embeds the text in an `<article>` (entity-escaped) and
   a `<meta name="geo.position">` geotag; `functions/textkernels.html_to_text`
   must reproduce `text` byte-identically (FIXTURES.md §5, §7).

2. small driver-side fixture tables mirroring the reference's corpus shapes
   (FIXTURES.md §1–4): geo_points (with lat-clamp edge rows and a missing
   variant), geo_polygons (triangles, one hole, one multipolygon, one
   collection), geo_grid (implicit spec + long-form cells).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoio_jl_spark.functions import wkb as W

VOCAB = [
    "data", "table", "query", "spark", "join", "scan", "filter", "group",
    "order", "window", "merge", "batch", "stream", "row", "column", "value",
    "key", "hash", "sort", "part", "line", "agg", "big", "small", "fast",
    "slow", "the", "a", "vector", "customer", "x&y", "p<q",
]
_EPOCH = 1577836800  # 2020-01-01T00:00:00Z, fixed (no wall clock)

_HTML_TEMPLATE = (
    "<!DOCTYPE html><html><head><meta charset=\"utf-8\">"
    "<title>doc {id}</title>"
    "<meta name=\"geo.position\" content=\"{lat};{lon}\">"
    "</head><body><nav>site nav</nav><article>{body}</article>"
    "<footer>footer {id}</footer></body></html>"
)

LANGS = ["en", "de", "fr", "es", "pt"]


def _escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def doc_text(i: int) -> str:
    """Deterministic token soup for doc id ``i`` (pure arithmetic)."""
    n = 30 + (i * 7919) % 50
    v = len(VOCAB)
    toks = [VOCAB[((i + 1) * 2654435761 + k * 97) % v] for k in range(n)]
    return " ".join(toks)


def doc_coords_centideg(i: int, skew: bool = False) -> tuple[int, int]:
    """Matches dialect.LON_I/LAT_I (and the *_SKEW variants)."""
    if skew and i % 10 == 0:
        return 8050 + i % 97, 4050 + i % 79
    if skew and i % 10 == 1:
        return 20050 + i % 89, 9050 + i % 73
    if skew and i % 10 == 2:
        return 31050 + i % 83, 13050 + i % 71
    return (i * 48271) % 36000, (i * 69621) % 17000


def _page_batch(ids: np.ndarray, skew: bool) -> pd.DataFrame:
    rows = []
    for i in ids.tolist():
        text = doc_text(i)
        lon_i, lat_i = doc_coords_centideg(i, skew)
        lat = lat_i / 100.0 - 85.0
        lon = lon_i / 100.0 - 180.0
        html = _HTML_TEMPLATE.format(
            id=i, lat=f"{lat:.2f}", lon=f"{lon:.2f}", body=_escape(text)
        ).encode("utf-8")
        rows.append((
            f"https://example{i % 1000}.test/p/{i}",
            _EPOCH + i,
            html,
            text,
            LANGS[i % len(LANGS)],
        ))
    return pd.DataFrame(rows, columns=["url", "ts_epoch", "html", "text", "lang"])


def webpages(spark: SparkSession, n: int, skew: bool = False,
             partitions: int | None = None) -> DataFrame:
    """Distributed generation of the Common-Crawl-style table."""
    from geoio_jl_spark.shipping import ensure_pyfiles
    ensure_pyfiles(spark)
    rng = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            yield _page_batch(pdf["id"].values, skew)

    out = rng.mapInPandas(
        gen,
        schema="url string, ts_epoch long, html binary, text string, lang string",
    )
    return out.withColumn(
        "warc_ts", F.timestamp_seconds("ts_epoch")
    ).drop("ts_epoch").select("url", "warc_ts", "html", "text", "lang")


# ---------------------------------------------------------------------------
# Fixture tables (driver-side pandas; small by design)
# ---------------------------------------------------------------------------

def geo_points_pdf(n: int = 64, missing: bool = False) -> pd.DataFrame:
    rows = []
    for i in range(n):
        lon = ((i * 48271) % 36000) / 100.0 - 180.0
        # planted lat-clamp edge rows (gi.jl:82)
        lat = 90.0 if i == 1 else -90.0 if i == 2 else ((i * 69621) % 17000) / 100.0 - 85.0
        geom = W.encode_wkb(W.point(lon, lat))
        if missing and i % 4 == 3:
            geom = None
        if missing and i % 4 == 1:
            lon = None
        rows.append((i, lon, lat, (i * 37 % 1000) / 1000.0, i + 1, f"word{i + 1}", geom))
    return pd.DataFrame(
        rows, columns=["id", "lon", "lat", "variable", "code", "name", "geometry"]
    )


def triangle_vertices(poly_id: int):
    """Same formulas as dialect.TRIANGLES_SQL (n_nationkey → triangle)."""
    cx = (poly_id * 1117) % 33000 + 1500
    cy = (poly_id * 2339) % 14000 + 1500
    w = ((poly_id % 5) + 3) * 300
    h = ((poly_id % 7) + 3) * 300
    return (cx - w, cy - h), (cx + w, cy - h), (cx, cy + h)


def geo_polygons_pdf(n: int = 25) -> pd.DataFrame:
    """Triangles in *centidegree* coordinates, as WKB, plus exotic rows:
    one polygon-with-hole, one multipolygon, one collection
    (FIXTURES.md §3; gpkg.jl:550 heterogeneous collections)."""
    rows = []
    for pid in range(n):
        a, b, c = triangle_vertices(pid)
        g = W.polygon([a, b, c, a])
        rows.append((pid, "triangle", W.encode_wkb(g)))
    # polygon with hole
    hole_poly = W.polygon(
        [(0, 0), (4000, 0), (4000, 4000), (0, 4000), (0, 0)],
        holes=[[(1000, 1000), (3000, 1000), (3000, 3000), (1000, 3000), (1000, 1000)]],
    )
    rows.append((n, "holed", W.encode_wkb(hole_poly)))
    # multipolygon
    mp = W.multipolygon([
        W.polygon([(5000, 5000), (6000, 5000), (5500, 6000), (5000, 5000)]),
        W.polygon([(7000, 5000), (8000, 5000), (7500, 6000), (7000, 5000)]),
    ])
    rows.append((n + 1, "multi", W.encode_wkb(mp)))
    # heterogeneous collection
    coll = W.Geom(W.GEOMETRYCOLLECTION, 2, np.empty((0, 2)), geoms=[
        W.point(100.0, 100.0),
        W.polygon([(9000, 9000), (9500, 9000), (9250, 9500), (9000, 9000)]),
    ])
    rows.append((n + 2, "collection", W.encode_wkb(coll)))
    return pd.DataFrame(rows, columns=["poly_id", "kind", "geometry"])
