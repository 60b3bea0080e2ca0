"""Tile-pyramid rollup — multi-zoom tile aggregation (the map-tiling /
hypertable-rollup pattern: web maps and OLAP cubes serve every zoom
level from pre-aggregated tiles).

Extends the engine's single-level ``raster_to_vector_tiles`` (oracle
``grid_tiles``) up the zoom hierarchy.  Scale shape: one lazy plan.  The
corpus is scanned and shuffled ONCE, at the finest zoom (map-side
combined count); the small base-tile table is then exploded once per
zoom step k and re-aggregated at ``(tx >> k, ty >> k)``, so the points
are never re-scanned.  Exactness: ``floor(x/a) >> k == floor(x/(a·2^k))``
for non-negative coordinates, so the rollup equals aggregating the raw
points at each zoom directly (the oracle's form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tile_pyramid(points: DataFrame, x_col: str, y_col: str,
                 max_zoom: int, min_zoom: int = 0,
                 base_tile: int = 64,
                 weight_col: str | None = None) -> DataFrame:
    """→ (zoom, tx, ty, n) for every zoom in [min_zoom, max_zoom];
    tile size at zoom z is ``base_tile * 2**(max_zoom - z)`` coordinate
    units.  Coordinates must be non-negative.  ``weight_col`` sums a
    weight per row instead of counting rows — pre-aggregated inputs
    (e.g. the streaming tile store's folded partials) roll up through
    the same machinery."""
    if not (0 <= min_zoom <= max_zoom):
        raise ValueError(f"bad zoom range [{min_zoom}, {max_zoom}]")
    ts = F.lit(base_tile)
    base_agg = (F.count("*") if weight_col is None
                else F.sum(weight_col)).alias("n")
    base = (points
            .select(F.floor(F.col(x_col) / ts).alias("tx"),
                    F.floor(F.col(y_col) / ts).alias("ty"),
                    *([weight_col] if weight_col else []))
            .groupBy("tx", "ty")
            .agg(base_agg))
    return (base
            .select("tx", "ty", "n", F.explode(
                F.sequence(F.lit(0), F.lit(max_zoom - min_zoom))).alias("k"))
            .groupBy((F.lit(max_zoom) - F.col("k")).alias("zoom"),
                     F.expr("shiftright(tx, k)").alias("tx"),
                     F.expr("shiftright(ty, k)").alias("ty"))
            .agg(F.sum("n").alias("n")))
