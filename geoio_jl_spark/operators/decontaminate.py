"""Benchmark decontamination — flag training documents that share token
n-grams with an evaluation set (the GPT-3/PaLM/Llama report methodology:
a doc is contaminated when any n-gram of the eval corpus appears in it).

No reference counterpart (LLM-pipeline axis of the brief).  Scale shape:
the eval side is orders of magnitude smaller than the training corpus,
so its distinct n-gram set is built once and BROADCAST — the training
side stays a scan → explode → broadcast-hash-semi-join → per-doc partial
count, with no all-to-all shuffle of corpus n-grams.  The join is on
the n-gram strings themselves, so the flag is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoio_jl_spark.operators.dedup import shingles_from_tokens


def eval_ngrams(bench: DataFrame, n: int,
                text_col: str = "text") -> DataFrame:
    """Distinct token n-grams of the (small) evaluation corpus."""
    return (bench
            .select(F.split(F.col(text_col), " ").alias("_toks"))
            .select(F.explode(F.expr(shingles_from_tokens("_toks", n)))
                    .alias("gram"))
            .distinct())


def decontaminate(docs: DataFrame, bench: DataFrame, n: int = 8,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """→ (id, n_overlap, contaminated): distinct eval n-grams found in
    each training doc, and a 0/1 flag."""
    grams = eval_ngrams(bench, n, text_col)
    exploded = (docs
                .select(F.col(id_col),
                        F.split(F.col(text_col), " ").alias("_toks"))
                .select(F.col(id_col),
                        F.explode(F.expr(shingles_from_tokens("_toks", n)))
                        .alias("gram")))
    hits = (exploded.join(F.broadcast(grams), "gram")
            .groupBy(id_col)
            .agg(F.count_distinct("gram").alias("n_overlap")))
    return (docs.select(id_col)
            .join(hits, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce("n_overlap", F.lit(0)).cast("int")
                 .alias("n_overlap"))
            .withColumn("contaminated",
                        (F.col("n_overlap") > 0).cast("int")))
