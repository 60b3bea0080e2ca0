"""Quality-model scoring kernel (round 5): hashed-bigram linear model."""

import math

import numpy as np

from geoio_jl_spark.functions import quality as Q


def test_score_matches_pure_python(spark):
    """Differential: independent Python reimplementation of the model."""
    import hashlib
    import pandas as pd
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["the quick brown fox", "the the the", "single"]}))
    got = {r["doc_id"]: r["quality"]
           for r in Q.hashed_bigram_score(docs).collect()}
    W = Q.quality_weights()

    def h(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % len(W)

    for did, text in [(1, "the quick brown fox"), (2, "the the the"),
                      (3, "single")]:
        t = text.split()
        bgs = [f"{a} {b}" for a, b in zip(t, t[1:])]
        if bgs:
            z = Q.QUALITY_BIAS + sum(W[h(g)] for g in bgs) / len(bgs)
        else:
            z = Q.QUALITY_BIAS
        assert abs(got[did] - round(1 / (1 + math.exp(-z)), 6)) <= 1e-6


def test_score_no_python_crossing(spark, sf_dir):
    """The scoring plan must stay JVM-side: no Arrow/Batch Python eval
    nodes, no shuffle exchanges — a pure projection over the scan."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = Q.hashed_bigram_score(docs.select("doc_id", "text"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
    assert "Exchange" not in plan, plan
