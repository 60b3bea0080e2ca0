"""Connected components (large-star/small-star) vs a driver-side
union-find reference, including the planted multi-bucket chain the LSH
dedup pipeline produces (transitive clusters must merge)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geoio_jl_spark.operators.components import (
    connected_components, dedup_keepers)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: every node → min of component
    comp = {}
    for x in list(parent):
        r = find(x)
        comp.setdefault(r, []).append(x)
    out = {}
    for r, members in comp.items():
        m = min(members)
        for x in members:
            out[x] = m
    return out


def _check(spark, edges):
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["rep", "member"]))
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    assert got == _union_find(edges)


def test_chain_merges_transitively(spark):
    """A 1-2, 2-3, 3-4 bucket chain (each from a different LSH band)
    must collapse into ONE component rooted at 1."""
    _check(spark, [(1, 2), (2, 3), (3, 4)])


def test_multi_bucket_chain_clusters(spark):
    """Planted: two clusters built from overlapping buckets + a far
    singleton pair; star edges as minhash_star_edges would emit them."""
    edges = [
        (10, 11), (10, 12),          # bucket A star
        (12, 13), (13, 14),          # bucket B chains into A via 12
        (50, 51), (51, 52), (50, 52),  # second cluster, redundant edges
        (90, 91),
    ]
    _check(spark, edges)
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["rep", "member"]))
    comp = connected_components(df)
    sizes = (comp.groupBy("component").count()
             .orderBy("component").collect())
    assert [(r["component"], r["count"]) for r in sizes] == [
        (10, 5), (50, 3), (90, 2)]


def test_long_path_converges_in_log_rounds(spark):
    """A 200-node path is the worst case for label propagation
    (diameter 200); star contraction must still converge (O(log n))."""
    edges = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["rep", "member"]))
    got = {r["node"]: r["component"]
           for r in connected_components(df, max_iter=12).collect()}
    assert got == {i: 0 for i in range(201)}


def test_random_graph_matches_union_find(spark):
    rng = np.random.default_rng(11)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 300, (250, 2))
             if a != b]
    _check(spark, edges)


def test_empty_edges(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"rep": [], "member": []}), "rep long, member long")
    out = connected_components(df)
    assert out.count() == 0 and out.columns == ["node", "component"]


def test_dedup_keepers(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 5], "text": list("abcde")}))
    edges = spark.createDataFrame(
        pd.DataFrame({"rep": [1, 2], "member": [2, 3]}))
    comp = connected_components(edges)
    out = {r["doc_id"]: (r["component"], r["keep"])
           for r in dedup_keepers(docs, comp).collect()}
    assert out == {1: (1, True), 2: (1, False), 3: (1, False),
                   4: (None, True), 5: (None, True)}


def test_dedup_keepers_launches_no_job_before_an_action(spark):
    """Building the keeper join runs no Spark job (no eager count of the
    component table), and the rows are the component minimum kept."""
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(20), "text": ["t"] * 20}))
    edges = spark.createDataFrame(
        pd.DataFrame({"rep": [0] * 19, "member": range(1, 20)}))
    comp = connected_components(edges)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("keepers-plan-build", "dedup_keepers plan build")
    try:
        out = dedup_keepers(docs, comp)
        assert tracker.getJobIdsForGroup("keepers-plan-build") == []
        rows = sorted(map(tuple, out.collect()))
        assert tracker.getJobIdsForGroup("keepers-plan-build") != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows == [(i, "t", 0, i == 0) for i in range(20)]
