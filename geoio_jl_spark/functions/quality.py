"""Quality-classifier scoring kernel (round 5) — a hashed-bigram
linear model, the fastText-supervised analog every web-text pipeline
runs to score documents before filtering.

score(doc) = sigmoid(bias + mean over bigrams g of W[h(g) mod B])

Everything is JVM-side expression work: tokens → bigram array → one
``aggregate`` fold that looks each bigram's bucket weight up in a
LITERAL weight array (shipped with the plan exactly like a broadcast
small model) — ZERO shuffle, zero Python crossing, scoring is a pure
projection that scales embarrassingly at 100 TB.

The bigram hash is the dialect-portable md5-substring hash of
operators/dedup.py, so the DuckDB oracle replays the identical model
bit-for-bit (the fold sum matches
Spark's ``aggregate`` left fold exactly; the final sigmoid is rounded
to 6 decimals to absorb libm exp ulp differences).

No reference counterpart (LLM-pipeline axis of the brief); the
plan-shape model is the fused extraction kernel discipline in
functions/textkernels.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoio_jl_spark import dialect as D

QUALITY_BUCKETS = 256
QUALITY_BIAS = -0.2


def quality_weights(buckets: int = QUALITY_BUCKETS) -> list[float]:
    """Deterministic pseudo-random weights in [-1, 1] — a stand-in for
    trained model weights; real deployments pass their own vector."""
    return [((i * 2654435761) % 2001) / 1000.0 - 1.0
            for i in range(buckets)]


def hashed_bigram_score(docs: DataFrame, weights: list[float] | None = None,
                        bias: float = QUALITY_BIAS, text_col: str = "text",
                        id_col: str = "doc_id",
                        out: str = "quality") -> DataFrame:
    """→ docs + ``out`` column (rounded sigmoid score)."""
    if weights is None:
        weights = quality_weights()
    b = len(weights)
    h = f"pmod({D.md5_int60('g', 'spark')}, {b})"
    toks = D.tokens_sql(text_col, "spark")
    # explicit empty-array guard: Spark's sequence(1, 0) DESCENDS
    # ([1, 0]) and ANSI element_at then throws on index 0 for docs
    # with fewer than 2 tokens
    bigrams = (
        "CASE WHEN size(_qtoks) < 2 THEN CAST(array() AS array<string>) "
        "ELSE transform(sequence(1, size(_qtoks) - 1), "
        "i -> concat_ws(' ', element_at(_qtoks, i), "
        "element_at(_qtoks, i + 1))) END"
    )
    fold = (
        "aggregate(_qbg, CAST(0.0 AS DOUBLE), "
        f"(acc, g) -> acc + element_at(_qw, CAST({h} AS INT) + 1))"
    )
    score = (
        f"CASE WHEN size(_qbg) = 0 THEN round(1.0 / (1.0 + exp(-({bias!r}))), 6) "
        f"ELSE round(1.0 / (1.0 + exp(-({bias!r} + {fold} / size(_qbg)))), 6) "
        "END"
    )
    return (docs
            .withColumn("_qw", F.lit([float(w) for w in weights]))
            .withColumn("_qtoks", F.expr(toks))
            .withColumn("_qbg", F.expr(bigrams))
            .withColumn(out, F.expr(score))
            .drop("_qw", "_qtoks", "_qbg"))


def score_sql_duckdb(weights: list[float] | None = None,
                     bias: float = QUALITY_BIAS,
                     text_col: str = "text") -> str:
    """The identical model as a DuckDB scalar expression (oracle side)."""
    if weights is None:
        weights = quality_weights()
    b = len(weights)
    warr = "[" + ", ".join(repr(float(w)) for w in weights) + "]"
    toks = D.tokens_sql(text_col, "duckdb")
    bg = (
        f"list_transform(generate_series(1, greatest(len({toks}) - 1, 0)), "
        f"i -> concat({toks}[i], ' ', {toks}[i + 1]))"
    )
    h = f"({D.md5_int60('g', 'duckdb')} % {b})"
    fold = (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({bg}, g -> ({warr})[CAST({h} AS INT) + 1])), "
        "(acc, x) -> acc + x)"
    )
    return (
        f"CASE WHEN len({bg}) = 0 "
        f"THEN round(1.0 / (1.0 + exp(-({bias!r}))), 6) "
        f"ELSE round(1.0 / (1.0 + exp(-({bias!r} + {fold} / len({bg})))), 6) "
        "END"
    )
