"""As-of join semantics: backward inclusive, per-key, inner/left modes."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geoio_jl_spark.operators.asof import asof_join


def _dfs(spark):
    left = spark.createDataFrame(pd.DataFrame({
        "lid": [1, 2, 3, 4],
        "k": [1, 1, 1, 2],
        "t": [5, 10, 20, 7],
    }))
    right = spark.createDataFrame(pd.DataFrame({
        "k": [1, 1, 2],
        "t": [10, 15, 99],
        "v": ["a", "b", "c"],
    }))
    return left, right


def test_backward_inclusive(spark):
    left, right = _dfs(spark)
    out = {r["lid"]: (r["asof_v"], r["asof_ts"])
           for r in asof_join(left, right, on="k", ts="t").collect()}
    assert 1 not in out          # t=5: no prior right row (inner)
    assert out[2] == ("a", 10)   # t=10: inclusive match at equal ts
    assert out[3] == ("b", 15)   # t=20: latest prior
    assert 4 not in out          # k=2 right row is in the future


def test_left_mode_keeps_unmatched(spark):
    left, right = _dfs(spark)
    out = {r["lid"]: r["asof_v"]
           for r in asof_join(left, right, on="k", ts="t", how="left").collect()}
    assert out[1] is None and out[4] is None and out[3] == "b"
    assert len(out) == 4


# the same long offsets as numbers, as microsecond timestamps and as days
TS_TYPES = {
    "long": lambda c: c,
    "timestamp": F.timestamp_micros,
    "date": lambda c: F.date_add(F.lit("1970-01-01").cast("date"),
                                 c.cast("int")),
}


@pytest.mark.parametrize("ts_type", list(TS_TYPES))
def test_hot_key_bucketed_path_equals_plain(spark, ts_type):
    """Planted hot user (one key dominating the table): forcing the
    time-bucketed skew path must reproduce the single-window result
    exactly — including carry-ins across empty buckets and inclusive
    equal-ts matches at bucket boundaries — for every ts column type
    the bucketing maps to numbers."""
    import numpy as np
    rng = np.random.default_rng(3)
    n_hot = 4000
    left = pd.DataFrame({
        "lid": range(n_hot + 40),
        "k": [7] * n_hot + [1, 2] * 20,
        "t": np.concatenate([
            rng.integers(0, 100_000, n_hot),
            rng.integers(0, 1000, 40)]),
    })
    # right side: sparse — long stretches of buckets with no right rows
    right = pd.DataFrame({
        "k": [7] * 25 + [1] * 5,
        "t": np.concatenate([
            rng.integers(0, 30_000, 25),     # all in early buckets
            rng.integers(0, 1000, 5)]),
        "v": [f"p{i}" for i in range(30)],
    })
    # unique ts per key on the right (matches events-table property;
    # equal-ts right rows are order-ambiguous in ANY asof engine)
    right = right.drop_duplicates(subset=["k", "t"])
    ldf, rdf = (spark.createDataFrame(d).withColumn(
        "t", TS_TYPES[ts_type](F.col("t"))) for d in (left, right))
    assert dict(ldf.dtypes)["t"] == ("bigint" if ts_type == "long"
                                     else ts_type)
    for how in ("inner", "left"):
        plain = asof_join(ldf, rdf, on="k", ts="t", how=how,
                          hot_threshold=None)
        bucketed = asof_join(ldf, rdf, on="k", ts="t", how=how,
                             hot_threshold=100, n_buckets=16)
        a = sorted(map(tuple, plain.collect()))
        b = sorted(map(tuple, bucketed.collect()))
        assert a == b, how
    # plan evidence: the carry-forward window is partitioned by
    # (key, bucket), not the bare key — bounded task size per hot key
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "_bkt" in plan


def test_hot_key_boundary_equal_ts(spark):
    """Right row at the exact bucket-boundary ts must match inclusively
    from the same and later buckets."""
    left = spark.createDataFrame(pd.DataFrame({
        "lid": range(200), "k": [5] * 200, "t": list(range(200))}))
    right = spark.createDataFrame(pd.DataFrame({
        "k": [5, 5], "t": [0, 100], "v": ["first", "mid"]}))
    plain = asof_join(left, right, on="k", ts="t", hot_threshold=None)
    bucketed = asof_join(left, right, on="k", ts="t",
                         hot_threshold=10, n_buckets=8)
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, bucketed.collect()))
    got = {r["lid"]: r["asof_v"] for r in bucketed.collect()}
    assert got[100] == "mid" and got[99] == "first" and got[0] == "first"
