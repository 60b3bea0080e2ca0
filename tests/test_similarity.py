"""Similarity search: partial top-k equals the exact window plan; LSH
buckets behave like LSH (full recall on near-identical vectors)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geoio_jl_spark.operators import similarity as S


@pytest.fixture(scope="module")
def emb_df(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_partial_topk_matches_window(spark, emb_df):
    queries = emb_df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    got = S.cosine_topk_partial(emb_df.repartition(5), queries, k=5)
    rows = {(r["query_id"], r["rank"]): r["vec_id"] for r in got.collect()}
    # exact reference: numpy brute force
    pdf = emb_df.toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].values
    matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for q in range(8):
        qv = matn[ids == q][0]
        sims = matn @ qv
        order = sorted(zip(-sims, ids), key=lambda t: (t[0], t[1]))
        expect = [vid for negs, vid in order if vid != q][:5]
        for rank, vid in enumerate(expect, 1):
            assert rows[(q, rank)] == vid, f"q={q} rank={rank}"


@pytest.mark.parametrize("parts", [1, 3, 8])
@pytest.mark.parametrize("plan", ["cosine_topk_partial", "ivf_search"])
def test_topk_keeps_kth_tie_set(spark, plan, parts):
    """40 identical vectors (ids 1..40) tie for the query's best cosine,
    k=5: the exact and the IVF plan must return ids 1..5 at every
    partition count, the same as a brute-force (cos desc, id asc) rank."""
    rng = np.random.default_rng(5)
    tied = np.eye(8)[0] * 2.0  # normalises to e1: every tied cos is exactly 1.0
    vecs = [tied] * 40 + list(rng.normal(size=(20, 8)))
    ids = list(range(1, 41)) + list(range(41, 61))
    pdf = pd.DataFrame({"vec_id": ids, "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf.iloc[::-1]).repartition(parts)
    q = spark.createDataFrame(pd.DataFrame(
        {"query_id": [0], "qe": [tied.tolist()]}))
    mat = np.array(vecs) / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = mat @ (tied / np.linalg.norm(tied))
    brute = [ids[j] for j in np.lexsort((ids, -cos))[:5]]
    assert brute == [1, 2, 3, 4, 5]
    if plan == "ivf_search":
        assigned, centroids = S.ivf_index(emb, k_centroids=1, n_iter=1)
        got = S.ivf_search(assigned, centroids, q, k=5)
    else:
        got = S.cosine_topk_partial(emb, q, k=5)
    rows = sorted((r["rank"], r["vec_id"]) for r in got.collect())
    assert rows == [(r, vid) for r, vid in enumerate(brute, 1)]


def test_ann_recall_on_near_duplicates(spark):
    # planted near-identical vectors must share an LSH bucket
    rng = np.random.RandomState(3)
    base = rng.randn(20, S.DIM).astype(np.float32)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v.tolist()))
        rows.append((100 + i, (v + 1e-4 * rng.randn(S.DIM).astype(np.float32)).tolist()))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    pairs = {(r["id_a"], r["id_b"]) for r in S.ann_candidate_pairs(df).collect()}
    found = sum((i, 100 + i) in pairs for i in range(20))
    assert found >= 18  # near-dups collide except measure-zero sign flips


def test_ivf_search_recall(spark, emb_df):
    from pyspark.sql import functions as F
    assigned, centroids = S.ivf_index(emb_df, k_centroids=8, n_iter=2)
    assert assigned.filter(F.col("ivf_cluster").isNull()).count() == 0
    assert centroids.shape == (8, S.DIM)
    queries = emb_df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    exact = S.cosine_topk_partial(emb_df, queries, k=5)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    # full probe = exact
    full = S.ivf_search(assigned, centroids, queries, k=5, n_probe=8)
    full_sets = {}
    for r in full.collect():
        full_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert full_sets == exact_sets
    # partial probe: decent recall on random data
    part = S.ivf_search(assigned, centroids, queries, k=5, n_probe=4)
    hits = sum(len({r["vec_id"] for r in part.collect()
                    if r["query_id"] == q} & exact_sets[q])
               for q in exact_sets)
    assert hits >= 0.4 * 25  # recall@5 >= 40% with half the probes


def test_plane_vectors_integer_lattice():
    v = S.plane_vector(0)
    assert v.shape == (S.DIM,)
    assert v.min() >= -9 and v.max() <= 9
    assert not np.array_equal(S.plane_vector(0), S.plane_vector(1))


def test_ivf_persisted_layout_prunes_partitions(spark, tmp_path):
    """write_ivf_index partitions by cluster; a probe filter must reach
    the scan as a PartitionFilter (directory pruning), not a row filter."""
    import numpy as np

    from geoio_jl_spark.operators import similarity as S

    rng = np.random.default_rng(11)
    emb = [(int(i), rng.normal(size=8).tolist()) for i in range(200)]
    df = spark.createDataFrame(emb, ["vec_id", "embedding"])
    assigned, cents = S.ivf_index(df, k_centroids=4, n_iter=1)
    path = str(tmp_path / "ivf")
    S.write_ivf_index(assigned, cents, path)
    back, cents2 = S.read_ivf_index(spark, path)
    np.testing.assert_allclose(cents, cents2)
    probed = back.filter("ivf_cluster IN (0, 1)")
    plan = probed._jdf.queryExecution().executedPlan().toString()
    scan_line = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    # the cluster predicate must reach the scan as a PartitionFilter
    # (directory pruning), leaving no data filter behind
    assert "PartitionFilters: [ivf_cluster" in scan_line
    assert "IN(0,1)" in scan_line.replace(" ", "")
    # search over the persisted layout matches search over the live frame
    q = spark.createDataFrame(
        [(int(i), rng.normal(size=8).tolist()) for i in range(3)],
        ["query_id", "qe"])
    # cos differs in the last ulp across partition layouts (matmul
    # batch composition) — compare ids exactly, scores to 1e-9
    def norm(rows):
        return sorted((r["query_id"], r["vec_id"], round(r["cos"], 9),
                       r["rank"]) for r in rows)
    a = norm(S.ivf_search(assigned, cents, q, k=5).collect())
    b = norm(S.ivf_search(back, cents2, q, k=5).collect())
    assert a == b


def test_embedding_near_dup_plan_no_broadcast(spark, sf_dir):
    """VERDICT r6 item 4: the vector-fetch joins in q_embedding_near_dup
    must NOT broadcast the embeddings relation — at 100 TB it never fits.
    The candidate pairs and both vector fetches go through shuffle joins
    (AQE may still pick broadcast at runtime when a side is genuinely
    small; this asserts the *logical* plan carries no broadcast hint)."""
    from geoio_jl_spark.queries import q_embedding_near_dup
    df = q_embedding_near_dup(spark, sf_dir)
    # no explicit broadcast hint anywhere in the optimized logical plan
    # (a hint survives optimization as `...Hint=(strategy=broadcast)`)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in optimized
    assert "ResolvedHint" not in optimized
    assert df.count() > 0  # still produces the candidate set
