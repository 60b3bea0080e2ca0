"""Decontamination (eval n-gram overlap) + deterministic mixing sampler."""

import pytest

from pyspark.sql import functions as F

from geoio_jl_spark.operators.decontaminate import decontaminate, eval_ngrams
from geoio_jl_spark.operators.mixer import weighted_sample


@pytest.fixture(scope="module")
def corpus(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "pack my box with five dozen liquor jugs")],
        ["doc_id", "text"])
    docs = spark.createDataFrame(
        [(0, "he saw the quick brown fox jumps far away"),   # 8-gram? no: 4-gram hit
         (1, "totally unrelated words in this sentence here"),
         (2, "pack my box with something else entirely today"),
         (3, "short text")],
        ["doc_id", "text"])
    return docs, bench


def test_eval_ngrams_distinct(corpus):
    _, bench = corpus
    grams = eval_ngrams(bench, 4).collect()
    vals = {r["gram"] for r in grams}
    assert "the quick brown fox" in vals
    assert "pack my box with" in vals
    assert len(vals) == len(grams)          # distinct


def test_planted_overlap_flagged(corpus):
    docs, bench = corpus
    out = {r["doc_id"]: r for r in decontaminate(docs, bench, n=4).collect()}
    assert out[0]["contaminated"] == 1
    assert out[0]["n_overlap"] == 2         # "the quick brown fox", "quick brown fox jumps"
    assert out[1]["contaminated"] == 0
    assert out[2]["n_overlap"] == 1         # "pack my box with"
    assert out[3]["contaminated"] == 0      # < n tokens: no grams
    assert len(out) == 4                    # every input doc present


def test_eval_side_broadcast(corpus):
    """The eval gram set must reach the join as a broadcast — the
    training corpus must not shuffle its grams."""
    docs, bench = corpus
    plan = (decontaminate(docs, bench, n=4)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


# ---------------------------------------------------------------------------
# mixer


def test_weight_one_keeps_all(spark):
    df = spark.range(1000).select(F.col("id").alias("doc_id"),
                                  F.lit("a").alias("source"))
    assert weighted_sample(df, {"a": 1.0}).count() == 1000


def test_weight_zero_drops_all(spark):
    df = spark.range(1000).select(F.col("id").alias("doc_id"),
                                  F.lit("a").alias("source"))
    assert weighted_sample(df, {"a": 0.0}).count() == 0


def test_rate_approximates_weight(spark):
    df = spark.range(20000).select(F.col("id").alias("doc_id"),
                                   F.lit("a").alias("source"))
    kept = weighted_sample(df, {"a": 0.5}).count()
    assert abs(kept / 20000 - 0.5) < 0.02


def test_deterministic_under_repartition(spark):
    df = spark.range(5000).select(F.col("id").alias("doc_id"),
                                  (F.col("id") % 3).cast("string")
                                  .alias("source"))
    w = {"0": 0.3, "1": 0.7, "2": 1.0}
    a = sorted(r["doc_id"] for r in weighted_sample(df, w).collect())
    b = sorted(r["doc_id"] for r in
               weighted_sample(df.repartition(17), w).collect())
    assert a == b


def test_unlisted_stratum_uses_default(spark):
    df = spark.range(100).select(F.col("id").alias("doc_id"),
                                 F.lit("other").alias("source"))
    assert weighted_sample(df, {"a": 0.0}).count() == 100      # default 1.0
    assert weighted_sample(df, {"a": 0.5}, default=0.0).count() == 0


def test_mixer_plan_has_no_shuffle(spark):
    """weighted_sample must stay a pure mapper: no Exchange in the plan."""
    df = spark.range(100).select(F.col("id").alias("doc_id"),
                                 F.lit("a").alias("source"))
    plan = (weighted_sample(df, {"a": 0.5})
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_mixer_negative_keys_respect_weights(spark):
    """xxhash64-style ids are negative for half of all rows — the
    uniform must stay in [0, 2^32) so weights still bind (review
    finding: a signed % kept every negative-id row at any weight)."""
    df = spark.range(4000).select(
        F.xxhash64(F.col("id").cast("string")).alias("doc_id"),
        F.lit("a").alias("source"))
    assert df.filter(F.col("doc_id") < 0).count() > 1000  # mixed signs
    assert weighted_sample(df, {"a": 0.0}).count() == 0
    kept = weighted_sample(df, {"a": 0.5}).count()
    assert abs(kept / 4000 - 0.5) < 0.05


def test_mixer_rejects_non_integral_key(spark):
    df = spark.range(5).select(F.col("id").cast("string").alias("doc_id"),
                               F.lit("a").alias("source"))
    with pytest.raises(ValueError, match="integral"):
        weighted_sample(df, {"a": 0.5})


def test_mixer_dataframe_weights_match_dict(spark):
    """(source, weight) DataFrame weights keep the bit-identical row set
    the dict path keeps (both floor weight*2^32 to the same threshold),
    via a broadcast join — the 100-TB shape (VERDICT r5 item 6)."""
    df = spark.range(6000).select(F.col("id").alias("doc_id"),
                                  (F.col("id") % 3).cast("string")
                                  .alias("source"))
    w = {"0": 0.3, "1": 1.0 / 3, "2": 1.0}
    wdf = spark.createDataFrame(list(w.items()), "source string, weight double")
    a = sorted(r["doc_id"] for r in weighted_sample(df, w).collect())
    b = sorted(r["doc_id"] for r in weighted_sample(df, wdf).collect())
    assert a == b and len(a) > 0
    out = weighted_sample(df, wdf)
    assert out.columns == df.columns            # no weight column leaks
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan          # never a shuffle join


def test_mixer_dataframe_weights_default_for_missing(spark):
    df = spark.range(100).select(F.col("id").alias("doc_id"),
                                 F.lit("other").alias("source"))
    wdf = spark.createDataFrame([("a", 0.0)], "source string, weight double")
    assert weighted_sample(df, wdf).count() == 100         # default 1.0
    assert weighted_sample(df, wdf, default=0.0).count() == 0


def test_mixer_dataframe_weights_bad_columns_raise(spark):
    df = spark.range(5).select(F.col("id").alias("doc_id"),
                               F.lit("a").alias("source"))
    wdf = spark.createDataFrame([("a", 0.5)], "src string, w double")
    with pytest.raises(ValueError, match="weight"):
        weighted_sample(df, wdf)
