"""Differential test vs DuckDB — the in-repo replica of the driver gate
(SURVEY.md §5 pattern 3). Runs a fast subset at sf0.001; the full set runs
via tools/parity_check.py."""

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from geoio_jl_spark import queries as Q

FAST = [
    "pip_count", "pip_pairs_salted", "knn_join", "bbox_range_join",
    "extent", "cell_counts", "valid_counts", "invalid_rows", "centroid",
    "grid_tiles", "token_stats", "fingerprint", "cosine_topk",
    "events_window",
    # round-6 additions (fast at sf0.001)
    "geohash_cells", "focal_mean", "pagerank", "bm25_score",
    # the two MinHash-LSH operators (DuckDB oracles ~4 s and ~1.5 s here)
    "minhash_lsh", "minhash_star_edges",
    # the two scale-path kNN plans, checked against knn_join's SQL_KNN
    "knn_join_partial", "knn_join_pruned",
    # the near-dup operators (parity ~3.5 s, ~14 s with warm-up, ~7.5 s)
    "ngram_jaccard", "ngram_jaccard_capped", "image_neardup",
    # the two time-bucketed operators (session_rollup runs real users hot;
    # the asof carry-in is checked by the hot-path test below)
    "asof_join", "session_rollup",
    # the registry builders that call their operator (dedup's simhash,
    # bpe's encode; bpe_encode ~9 s here)
    "simhash", "bpe_encode",
    # ... and similarity's near-dup / IVF, decontaminate, the pyramid
    "embedding_near_dup", "semantic_dedup", "ivf_topk", "decontaminate",
    "tile_pyramid",
]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        "|".join(repr(r[i]) if isinstance(r[i], float) else str(r[i]) for i in order)
        for r in rows
    )


@pytest.mark.parametrize("name", FAST)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    fn, sql = Q.registry()[name]
    sdf = fn(spark, sf_dir)
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(sql)
    dcols = [c.lower() for c in rel.columns]
    drows = rel.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    assert _multiset(scols, srows) == _multiset(dcols, drows)


def _over_cap_names():
    names = list(Q.registry())
    return names[50:]


@pytest.mark.parametrize("name", _over_cap_names())
def test_rotated_out_query_matches_oracle(spark, sf_dir, duck, name):
    """Every entry past the driver's 50-query window stays gated here on
    every pytest run (ADVICE r6: rotation must not leave rotated-out
    queries checked by nothing but history)."""
    fn, sql = Q.registry()[name]
    if sql is None:
        pytest.skip("no SQL oracle (rows-only query)")
    sdf = fn(spark, sf_dir)
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(sql)
    dcols = [c.lower() for c in rel.columns]
    drows = rel.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    assert _multiset(scols, srows) == _multiset(dcols, drows)


@pytest.mark.parametrize("name", ["webmercator", "mercator3395"])
def test_mercator_equator_keeps_sign_of_zero(spark, tmp_path, name):
    """Doc 16413500 sits on the equator (lat_i 8500): Mercator y is a
    tiny negative value before rounding, so DuckDB returns -0.0; the
    Spark side must give the same float repr, not +0.0."""
    pq.write_table(pa.table({
        "doc_id": pa.array([16413500], pa.int64()),
        "text": ["equator"], "lang": ["en"], "source": ["test"],
        "n_chars": pa.array([7], pa.int64())}), tmp_path / "documents.parquet")
    fn, sql = Q.registry()[name]
    got = [tuple(map(repr, r)) for r in fn(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{tmp_path}/documents.parquet'")
    want = [tuple(map(repr, r)) for r in con.sql(sql).fetchall()]
    assert want[0][2] == "-0.0"  # the case this test pins is present
    assert got == want


def test_asof_join_hot_path_matches_oracle(spark, sf_dir, duck):
    """The registry ``asof_join`` runs at the default threshold, where no
    sf user is hot.  At ``hot_threshold=20`` real users (up to 32 click +
    purchase rows at sf0.001) are split into time buckets, so the same
    DuckDB ASOF oracle checks the carry-in across bucket boundaries."""
    from pyspark.sql import functions as F

    from geoio_jl_spark.operators.asof import asof_join, hot_key_buckets
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.floor(F.col("value") * 1000000).cast("bigint")
        .alias("purchase_value_e6"))
    both = clicks.select("user_id", "ts").unionByName(
        purchases.select("user_id", "ts"))
    assert hot_key_buckets(both, "user_id", "ts", 20, 32).filter(
        F.col("_bkt") > 0).limit(1).count() == 1  # the carry-in runs
    sdf = asof_join(clicks, purchases, on="user_id", ts="ts",
                    right_cols=["purchase_value_e6"], hot_threshold=20
                    ).select(
        "event_id", "user_id",
        F.col("asof_purchase_value_e6").alias("purchase_value_e6"),
        F.unix_micros(F.col("asof_ts").cast("timestamp"))
        .alias("purchase_ts_us"))
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(Q.SQL_ASOF_JOIN)
    dcols = [c.lower() for c in rel.columns]
    drows = rel.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    assert _multiset(scols, srows) == _multiset(dcols, drows)
