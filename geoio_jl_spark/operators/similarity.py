"""Similarity search over embedding columns (array<float>).

- ``cosine_topk`` (in queries.py): broadcast cross join + window — exact,
  oracle-checked, fine for small query sets.
- ``cosine_topk_partial``: the 100-TB shape — broadcast query matrix,
  numpy matmul local top-k per partition (map-side combine), merge the
  P×Q×k survivors with one tiny shuffle. Same results as the window plan.
- ``lsh_signature_sql`` / ``ann_candidate_pairs``: random-hyperplane LSH.
  The hyperplanes are integer-lattice vectors derived by formula, so the
  signature is reproducible in ANSI SQL (DuckDB oracle) — sign bits of
  left-fold dot products are bit-exact across engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoio_jl_spark.operators.knn import _local_topk, _rank_topk
from geoio_jl_spark.shipping import ensure_pyfiles

N_PLANES = 16
DIM = 64


def plane_vector(j: int, dim: int = DIM) -> np.ndarray:
    """Deterministic integer hyperplane ((j+1)*97 + i*31) % 19 - 9."""
    i = np.arange(1, dim + 1, dtype=np.int64)
    return (((j + 1) * 97 + i * 31) % 19 - 9).astype(np.float64)


def _dot_plane_sql(emb: str, j: int, dialect: str) -> str:
    if dialect == "spark":
        return (
            f"aggregate(zip_with({emb}, transform(sequence(1, {DIM}), "
            f"i -> CAST((({j + 1} * 97 + i * 31) % 19) - 9 AS DOUBLE)), "
            f"(x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + x)"
        )
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {DIM}), "
        f"i -> CAST({emb}[i] AS DOUBLE) * CAST((({j + 1} * 97 + i * 31) % 19) - 9 AS DOUBLE))), "
        f"(acc, x) -> acc + x)"
    )


def lsh_signature_sql(emb: str, dialect: str, n_planes: int = N_PLANES) -> str:
    """16-bit signature: bit j set iff dot(e, plane_j) >= 0."""
    terms = [
        f"(CASE WHEN {_dot_plane_sql(emb, j, dialect)} >= 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(n_planes)
    ]
    return "(" + " + ".join(terms) + ")"


# the one fold dot: left-fold double arithmetic, bit-identical to the
# DuckDB oracle's list_reduce (``{a}``/``{b}`` are array column names)
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
)


def ann_candidate_pairs(emb_df: DataFrame, id_col: str = "vec_id",
                        emb_col: str = "embedding",
                        max_bucket: int | None = None) -> DataFrame:
    """Bucket embeddings by LSH signature; candidate pairs share a bucket
    → (id_a, id_b, cos) with the exact fold cosine.

    Signature (16 fold-dots) and squared norm are computed ONCE per
    vector into a lazily checkpointed table; the ``sig`` self-join
    carries the vectors, so the cross dot is the only per-pair fold.
    Hint-free: at 100 TB the embeddings relation never fits a
    broadcast, AQE may pick one at runtime when a side is small.

    ``max_bucket`` applies the same stop-list rule as the shingle DF cap:
    a bucket of n members emits n² pair rows, so signatures holding more
    than max_bucket vectors (degenerate regions: zero vectors, template
    embeddings) are excluded via broadcast anti-join before the self-join.
    Documented recall trade — oversized buckets carry near-zero
    discriminative value at web scale."""
    sig = (emb_df.select(
        id_col, emb_col,
        F.expr(lsh_signature_sql(emb_col, "spark")).alias("sig"),
        F.expr(_DOT.format(a=emb_col, b=emb_col)).alias("_n2"))
        .localCheckpoint(eager=False))
    if max_bucket is not None:
        hot = (sig.groupBy("sig").agg(F.count("*").alias("n"))
               .filter(F.col("n") > max_bucket).select("sig"))
        sig = sig.join(F.broadcast(hot), "sig", "left_anti")
    a = sig.select(F.col(id_col).alias("id_a"), F.col(emb_col).alias("e_a"),
                   "sig", F.col("_n2").alias("_na"))
    b = sig.select(F.col(id_col).alias("id_b"), F.col(emb_col).alias("e_b"),
                   "sig", F.col("_n2").alias("_nb"))
    dot = F.expr(_DOT.format(a="e_a", b="e_b"))
    return (
        a.join(b, "sig")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", dot / (F.sqrt("_na") * F.sqrt("_nb")))
        .select("id_a", "id_b", "cos")
    )


def ivf_index(emb_df: DataFrame, k_centroids: int = 16, n_iter: int = 2,
              id_col: str = "vec_id", emb_col: str = "embedding"):
    """IVF index: Lloyd iterations executed distributed (mapInPandas
    partial sums per partition, tiny driver-side combine), then cluster
    assignment column.  Deterministic: centroids init from the lowest ids.

    Returns (assigned_df with `ivf_cluster`, centroids ndarray (K, dim)).
    """
    spark = emb_df.sparkSession
    ensure_pyfiles(spark)
    first = emb_df.orderBy(id_col).limit(k_centroids).collect()
    centroids = np.array([r[emb_col] for r in first], dtype=np.float64)

    for _ in range(n_iter):
        bc = spark.sparkContext.broadcast(centroids)

        def partial_sums(batches):
            c = bc.value
            sums = np.zeros_like(c)
            counts = np.zeros(len(c), dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.array(pdf[emb_col].tolist(), dtype=np.float64)
                d2 = ((mat[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
                assign = d2.argmin(axis=1)
                for ci in range(len(c)):
                    m = assign == ci
                    if m.any():
                        sums[ci] += mat[m].sum(axis=0)
                        counts[ci] += int(m.sum())
            rows = [(ci, counts[ci], sums[ci].tolist())
                    for ci in range(len(c))]
            yield pd.DataFrame(rows, columns=["c", "n", "s"])

        parts = emb_df.select(emb_col).mapInPandas(
            partial_sums, schema="c int, n long, s array<double>").collect()
        sums = np.zeros_like(centroids)
        counts = np.zeros(len(centroids), dtype=np.int64)
        for r in parts:
            sums[r["c"]] += np.array(r["s"])
            counts[r["c"]] += r["n"]
        nonzero = counts > 0
        centroids[nonzero] = sums[nonzero] / counts[nonzero, None]

    bc = spark.sparkContext.broadcast(centroids)

    def assign(batches):
        c = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(ivf_cluster=pd.Series(dtype="int32"))
                continue
            mat = np.array(pdf[emb_col].tolist(), dtype=np.float64)
            d2 = ((mat[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            yield pdf.assign(ivf_cluster=d2.argmin(axis=1).astype("int32"))

    from pyspark.sql import types as T
    # NB: StructType.add mutates in place — build a fresh StructType so the
    # input DataFrame's cached schema isn't poisoned
    schema = T.StructType(list(emb_df.schema.fields)
                          + [T.StructField("ivf_cluster", T.IntegerType())])
    assigned = emb_df.mapInPandas(assign, schema=schema)
    return assigned, centroids


def ivf_search(assigned: DataFrame, centroids: np.ndarray,
               query_df: DataFrame, k: int, n_probe: int = 4,
               id_col: str = "vec_id", emb_col: str = "embedding",
               qid_col: str = "query_id", qemb_col: str = "qe") -> DataFrame:
    """Probe the n_probe nearest centroids per query, brute-force cosine
    within those clusters only (partition pruning for vectors: the scan
    touches ~n_probe/K of the data).

    ONE pass for the whole query batch: the query matrix + a per-query
    probe mask broadcast, the scan filters to the union of probed
    clusters, and each Arrow batch scores every query against only its
    own clusters' rows (mask on the cluster column) — no per-query
    driver loop / per-query Spark job."""
    return _cosine_topk(assigned, query_df, k, id_col, emb_col, qid_col,
                        qemb_col, centroids=centroids, n_probe=n_probe)


def _cosine_topk(emb_df: DataFrame, query_df: DataFrame, k: int,
                 id_col: str, emb_col: str, qid_col: str, qemb_col: str,
                 centroids: np.ndarray | None = None,
                 n_probe: int = 0) -> DataFrame:
    """The one cosine kernel: broadcast the normalised query matrix,
    score each Arrow batch with one matmul, fold it through
    ``knn._local_topk`` on the negated cosine and merge the P×Q×k
    survivors with ``knn._rank_topk``.  A query never matches its own id.
    With ``centroids`` (IVF) each query also sees only the rows of its
    ``n_probe`` nearest clusters, and the scan keeps only their union."""
    spark = emb_df.sparkSession
    ensure_pyfiles(spark)
    qrows = query_df.select(qid_col, qemb_col).collect()
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    q_mat = np.array([r[1] for r in qrows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    cols = [id_col, emb_col]
    probed = None
    if centroids is not None:
        d2 = ((centroids[None, :, :] - q_mat[:, None, :]) ** 2).sum(axis=2)
        # (Q, K) mask: row q marks the n_probe clusters query q probes
        probed = np.zeros(d2.shape, dtype=bool)
        np.put_along_axis(probed, np.argsort(d2, axis=1)[:, :n_probe], True,
                          axis=1)
        emb_df = emb_df.filter(F.col("ivf_cluster").isin(
            np.flatnonzero(probed.any(axis=0)).tolist()))
        cols.append("ivf_cluster")
    bq = spark.sparkContext.broadcast((q_ids, q_norm, probed))

    def local_topk(batches):
        ids, qn, pr = bq.value
        best: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            e_ids = pdf[id_col].values.astype(np.int64)
            mat = np.array(pdf[emb_col].tolist(), dtype=np.float64)
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            keep = e_ids[None, :] != ids[:, None]
            if pr is not None:
                keep &= pr[:, pdf["ivf_cluster"].values.astype(np.int64)]
            _local_topk(best, ids, -(qn @ mat.T), e_ids, k, keep)
        out = [(q, vid, -negcos) for q, (negs, vids) in best.items()
               for negcos, vid in zip(negs.tolist(), vids.tolist())]
        yield pd.DataFrame(out, columns=[qid_col, id_col, "cos"])

    partial = emb_df.select(*cols).mapInPandas(
        local_topk, schema=f"{qid_col} long, {id_col} long, cos double")
    return _rank_topk(partial, qid_col, "cos", id_col, k, descending=True)


def write_ivf_index(assigned: DataFrame, centroids: np.ndarray,
                    path: str) -> None:
    """Persist the IVF index partitioned BY CLUSTER: probing n_probe of
    K clusters then touches n_probe/K of the files (Spark partition
    pruning on the `ivf_cluster=...` directories) — the disk layout that
    makes ivf_search's cluster filter a scan-level prune at 100 TB.
    Centroids ride along as a small JSON sidecar."""
    import json
    import os
    assigned.write.mode("overwrite").partitionBy("ivf_cluster").parquet(path)
    with open(os.path.join(path, "_ivf_centroids.json"), "w") as f:
        json.dump(centroids.tolist(), f)


def read_ivf_index(spark, path: str):
    import json
    import os
    with open(os.path.join(path, "_ivf_centroids.json")) as f:
        centroids = np.array(json.load(f), dtype=np.float64)
    return spark.read.parquet(path), centroids


def cosine_topk_partial(emb_df: DataFrame, query_df: DataFrame, k: int,
                        id_col: str = "vec_id", emb_col: str = "embedding",
                        qid_col: str = "query_id",
                        qemb_col: str = "qe") -> DataFrame:
    """Map-side local top-k cosine via numpy matmul, then global merge."""
    return _cosine_topk(emb_df, query_df, k, id_col, emb_col, qid_col,
                        qemb_col)
