"""Distributed PageRank — the iterative graph-algorithm family
(domain-authority scoring for web corpora: rank domains/hosts by link
structure to weight quality sampling).

No reference counterpart (GeoIO.jl has no graph axis); joins
connected-components (operators/components.py) on the engine's graph
side.  Scale shape: the EDGE table is the big thing and is touched once
per iteration by an equi-join on ``src`` (shuffle on the edge key,
AQE-coalesced); the RANK table is |nodes| — orders of magnitude smaller
— and is the only thing that changes, localCheckpointed every
``CHECKPOINT_EVERY`` rounds (bounded lineage, components.py
discipline).  No collect in the loop; the single driver scalar is
|nodes| (metadata-scale, same contract as the IVF seeds).

Determinism / oracle-exactness: ranks are FIXED-POINT int64
(``scale`` = 10^12).  Every division is ``floor(int / int-as-double)``
— the module-wide identical-IEEE pattern (operands < 2^53) — and every
sum is an int64 sum of non-negative terms bounded by ``scale`` × d
(< 2^53), so aggregation order cannot change the result and the DuckDB
oracle (same rounds unrolled in SQL) is bit-identical.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10 ** 12
# pagerank materializes the ranks every this many rounds
CHECKPOINT_EVERY = 2


def _floor_div(num, den):
    """floor(num / den) with den cast to double — identical IEEE in
    Spark and DuckDB for operands < 2**53."""
    return F.floor(num / den.cast("double")).cast("bigint")


def pagerank(edges: DataFrame, iters: int = 5,
             src_col: str = "src", dst_col: str = "dst",
             damping_pct: int = 85) -> DataFrame:
    """(src, dst) edge table -> (node, r) fixed-point ranks after
    ``iters`` synchronous rounds.

    r0 = floor(SCALE / n); each round:
      contrib(u->v) = floor(r(u) / outdeg(u))
      r'(v) = floor((100-d) * r0 / 100) + floor(d * Σ contrib / 100)

    Nodes with no in-edges keep the teleport term (left join +
    coalesce).  Dangling nodes (no out-edges) contribute nothing —
    the plain PageRank-with-teleport convention, mirrored exactly by
    the oracle."""
    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst")).distinct()
    nodes = (e.select("src").unionByName(
        e.select(F.col("dst").alias("src")))
        .distinct().select(F.col("src").alias("node")))
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    e = e.join(deg, "src").localCheckpoint()
    nodes = nodes.localCheckpoint()
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank: empty graph")
    r0 = int(math.floor(SCALE / float(n)))
    tele = int(math.floor((100 - damping_pct) * r0 / 100.0))
    ranks = nodes.select("node", F.lit(r0).cast("bigint").alias("r"))
    for it in range(iters):
        contrib = (e.join(ranks, e["src"] == ranks["node"])
                   .select(F.col("dst").alias("node"),
                           _floor_div(F.col("r"), F.col("deg"))
                           .alias("c")))
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (nodes.join(summed, "node", "left")
                 .select("node",
                         (F.lit(tele)
                          + _floor_div(F.lit(damping_pct)
                                       * F.coalesce(F.col("s"), F.lit(0)),
                                       F.lit(100)))
                         .cast("bigint").alias("r")))
        if (it + 1) % CHECKPOINT_EVERY == 0 and it + 1 < iters:
            ranks = ranks.localCheckpoint()
    return ranks
