"""Distributed connected components over dedup edge lists.

The keep/drop decision after LSH dedup needs *components*, not edges:
bucket chains (doc A shares a band-bucket with B, B with C) must collapse
into one cluster with one keeper.  This is the alternating
large-star / small-star algorithm (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14) — converges in O(log n) rounds, and
every round is a plain groupBy-min + equi-join, so a 10M-node template
cluster costs the same as 10M independent rows: there is no
``collect_list`` anywhere, giant stars stay distributed, and Catalyst
plans each round with map-side partial aggregation.

Reference anchor: GeoIO.jl has no graph operator (its dedup story ends at
the R-tree / unique-vertex level, src/extra/gpkg.jl:411-448); this is an
engine addition mandated by the training-data-pipeline brief
(SURVEY.md §2.7 — MinHash-LSH dedup needs component contraction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetrize(e: DataFrame) -> DataFrame:
    # No .distinct() here (r8): duplicate edges cannot change a
    # groupBy-min, and both star steps end in their own .distinct(), so
    # the per-round edge set is identical — dropping it removes two
    # full-edge shuffles per iteration (guide §2.4).
    return e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: attach all neighbors v > u to m = min(N(u) ∪ u).
    Input symmetric; output directed (larger → smaller)."""
    m = (e.groupBy("u").agg(F.min("v").alias("mv"))
         .select("u", F.least("mv", F.col("u")).alias("m")))
    return (e.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """For each node u: attach u and all neighbors v < u to the minimum
    of that set. Input symmetric; output directed (larger → smaller)."""
    d = e.filter(F.col("v") < F.col("u"))
    m = d.groupBy("u").agg(F.min("v").alias("m"))  # m < u by construction
    out1 = (d.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v")))
    out2 = m.select("u", F.col("m").alias("v"))
    return out1.union(out2).distinct()


def connected_components(edges: DataFrame, src: str = "rep",
                         dst: str = "member",
                         max_iter: int = 50) -> DataFrame:
    """→ (node, component) for every node in ``edges``; component is the
    minimum node id of its connected component (so over
    ``minhash_star_edges`` output the component id IS the keeper doc).

    Each round materializes via ``localCheckpoint`` (plan truncation —
    iterative algorithms otherwise grow the logical plan exponentially).
    Convergence (r8): stop when the edge set is FLAT — no destination
    (component rep) also appears as a source.  A flat edge set is a
    fixpoint of the round map (the fixpoints of alternating
    large-star/small-star are exactly the star decompositions, Kiveris
    et al. §3; verified: both star steps map a flat e to itself), so
    this terminates one full round earlier than the old
    two-identical-signatures rule, replacing a whole
    symmetrize→star→star pass with one semi-join probe.
    """
    e = (edges.select(F.col(src).cast("bigint").alias("u"),
                      F.col(dst).cast("bigint").alias("v"))
         .filter(F.col("u") != F.col("v"))
         .distinct())
    # checkpoint the input once: each round references e through several
    # branches (symmetrize unions e with itself), which would otherwise
    # recompute the upstream edge pipeline (e.g. the whole MinHash-LSH
    # bucketing) once per branch; take(1) below materializes it
    e = e.localCheckpoint(eager=False)
    if not e.take(1):
        return e.select(F.col("u").alias("node"),
                        F.col("v").alias("component"))
    for _ in range(max_iter):
        # lazy checkpoint FIRST so the flatness probe's two join sides
        # read the materialized blocks instead of re-running the round
        e = (_small_star(_symmetrize(_large_star(_symmetrize(e))))
             .localCheckpoint(eager=False))
        # the probe is the ONE action per round — it materializes the
        # checkpoint as a side effect
        chained = (e.alias("a").join(e.alias("b"),
                                     F.col("a.v") == F.col("b.u"),
                                     "left_semi"))
        if not chained.take(1):
            break
    else:
        raise RuntimeError(f"connected_components: no convergence in "
                           f"{max_iter} rounds")
    # fixpoint: e is (node → component-min) for every non-root node
    roots = (e.select(F.col("v").alias("u"), F.col("v").alias("v"))
             .distinct())
    return (e.union(roots).distinct()
            .select(F.col("u").alias("node"), F.col("v").alias("component")))


def dedup_keepers(docs: DataFrame, components: DataFrame,
                  id_col: str = "doc_id") -> DataFrame:
    """Append (component, keep) to the document table: keep=true for the
    component minimum and for docs in no component (unique docs).

    A plain left join: components usually hold only near-dup members (a
    small fraction of docs), and AQE's runtime size check broadcasts
    them then; a doc-sized component table (boilerplate-heavy corpora)
    stays a shuffled join instead of a broadcast that would OOM the
    executors.  Building the plan launches no job."""
    return (docs.join(components.withColumnRenamed("node", id_col),
                      id_col, "left")
            .withColumn("keep", F.col("component").isNull()
                        | (F.col("component") == F.col(id_col))))
