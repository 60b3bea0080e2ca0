"""Distributed spatial joins: point-in-polygon and bbox range join.

Two-phase plan (SURVEY.md §4):

1. **coarse** — polygons are tiled to integer cells (``cover_bbox_cells``,
   pure explode), points get their cell id (map-only); the spatial predicate
   becomes a plain ``cell_id`` equi-join.  ``point_in_polygon_join``
   broadcasts the tile table, so the point side is never shuffled;
   ``salted_point_in_polygon_join`` is the shuffle path for polygon tables
   too large or too skewed to broadcast.
2. **exact refine** — boundary-inclusive containment, either as pure int64
   column arithmetic (convex rings, no Python at all) or as an
   Arrow-batched numpy kernel over WKB for general polygons.

Skew: web-scale geotags are massively skewed (cities ≫ oceans).  Beyond
AQE's skew-join splitting, ``salt_hot_cells`` implements explicit salting
(BASELINE.json:14): per-cell counts pick a salt factor, the polygon side is
replicated per salt value, the point side draws a deterministic salt from
its id — so one hot cell fans out over ``n_salt`` reduce tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoio_jl_spark.operators.cells import assign_cells, cover_bbox_cells


def tile_polygons(polygons: DataFrame, res: int,
                  minx: str = "minx", miny: str = "miny",
                  maxx: str = "maxx", maxy: str = "maxy") -> DataFrame:
    """Polygon side of the coarse join: one row per covering cell."""
    return cover_bbox_cells(polygons, minx, miny, maxx, maxy, res)


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 3,
    px: str = "lon_i",
    py: str = "lat_i",
    wkb_col: str | None = "geometry",
    refine=None,
) -> DataFrame:
    """Coarse broadcast cell equi-join + exact refine.

    ``polygons`` must carry bbox columns (minx/miny/maxx/maxy) and either a
    WKB ``wkb_col`` (general path, numpy kernel) or a caller-supplied
    ``refine(joined) -> DataFrame`` (e.g. the convex sign-test used by the
    oracle-checked triangle queries).  Returns the joined candidates after
    the exact predicate; one output row per (point, polygon) pair.
    """
    tiled = tile_polygons(polygons, res)
    pts = assign_cells(points, px, py, res)
    joined = pts.join(F.broadcast(tiled), "cell_id")
    if refine is not None:
        return refine(joined)
    return refine_with_wkb(joined, px, py, wkb_col)


def refine_with_wkb(joined: DataFrame, px: str, py: str,
                    wkb_col: str = "geometry") -> DataFrame:
    """Exact containment via the numpy ray-casting kernel, batched per
    Arrow batch and grouped by polygon so each WKB decodes once per batch."""
    import pandas as pd  # noqa: F401

    from geoio_jl_spark.functions import wkb as W
    from geoio_jl_spark.functions.geomkernels import points_in_geom
    from geoio_jl_spark.shipping import ensure_pyfiles

    ensure_pyfiles(joined.sparkSession)
    schema = joined.schema

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            keep = pd.Series(False, index=pdf.index)
            for blob, grp in pdf.groupby(wkb_col, sort=False):
                g = W.decode_wkb(bytes(blob))
                mask = points_in_geom(grp[px].values.astype("float64"),
                                      grp[py].values.astype("float64"), g)
                keep.loc[grp.index] = mask
            yield pdf[keep.values]

    return joined.mapInPandas(gen, schema=schema)


def bbox_range_join(points: DataFrame, boxes: DataFrame, res: int = 3,
                    px: str = "lon_i", py: str = "lat_i") -> DataFrame:
    """Point-in-bbox theta join executed as cell equi-join + filter —
    avoids the nested-loop blowup of a raw range predicate (SURVEY.md §2.4)."""
    tiled = tile_polygons(boxes, res)
    pts = assign_cells(points, px, py, res)
    return pts.join(tiled, "cell_id").filter(
        (F.col(px) >= F.col("minx")) & (F.col(px) <= F.col("maxx"))
        & (F.col(py) >= F.col("miny")) & (F.col(py) <= F.col("maxy"))
    )


# ---------------------------------------------------------------------------
# Explicit hot-cell salting
# ---------------------------------------------------------------------------

def hot_cell_stats(points_with_cells: DataFrame, threshold: int) -> DataFrame:
    """Per-cell counts → salt factor for cells above ``threshold``.

    n_salt grows with the overflow ratio, capped at 64."""
    return (
        points_with_cells.groupBy("cell_id").count()
        .filter(F.col("count") > threshold)
        .select(
            "cell_id",
            F.least(F.ceil(F.col("count") / threshold), F.lit(64))
            .cast("int").alias("n_salt"),
        )
    )


def salted_point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 3,
    px: str = "lon_i",
    py: str = "lat_i",
    point_id: str = "doc_id",
    wkb_col: str | None = "geometry",
    hot_threshold: int = 100_000,
    refine=None,
) -> DataFrame:
    """Point-in-polygon join with explicit skew handling.

    Points: ``salt = pmod(hash(point_id), n_salt(cell))`` (0 for cold
    cells).  Polygon tiles: replicated once per salt value via
    ``explode(sequence(0, n_salt-1))``.  The join key becomes
    (cell_id, salt), splitting each hot cell across n_salt tasks.
    """
    pts = assign_cells(points, px, py, res)
    stats = hot_cell_stats(pts, hot_threshold)  # small: one row per hot cell
    pts_salted = (
        pts.join(F.broadcast(stats), "cell_id", "left")
        .withColumn("n_salt", F.coalesce(F.col("n_salt"), F.lit(1)))
        .withColumn("salt", F.pmod(F.hash(F.col(point_id)), F.col("n_salt")))
        .drop("n_salt")
    )
    tiled = tile_polygons(polygons, res)
    tiled_salted = (
        tiled.join(F.broadcast(stats), "cell_id", "left")
        .withColumn("n_salt", F.coalesce(F.col("n_salt"), F.lit(1)))
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.col("n_salt") - 1)))
        .drop("n_salt")
    )
    joined = pts_salted.join(tiled_salted, ["cell_id", "salt"]).drop("salt")
    if refine is not None:
        return refine(joined)
    return refine_with_wkb(joined, px, py, wkb_col)
