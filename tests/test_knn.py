"""kNN join: the scalable map-side-partial plan must equal the window plan."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geoio_jl_spark import dialect as D
from geoio_jl_spark.operators import knn as KNN


def _points(spark, n=3000):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.expr(D.LON_I.format(id="id")).alias("lon_i"),
        F.expr(D.LAT_I.format(id="id")).alias("lat_i"),
    )


def _queries(spark):
    return spark.createDataFrame(pd.DataFrame({
        "query_id": range(12),
        "qx": [(q * 1117) % 33000 + 1500 for q in range(12)],
        "qy": [(q * 2339) % 14000 + 1500 for q in range(12)],
    }))


def test_partial_equals_window(spark):
    pts = _points(spark).repartition(6)  # force multiple partitions
    qs = _queries(spark)
    a = KNN.knn_join_window(pts, qs, k=7).collect()
    b = KNN.knn_join_partial(pts, qs, k=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_k_larger_than_points(spark):
    pts = _points(spark, n=3)
    qs = _queries(spark).limit(2)
    out = KNN.knn_join_window(pts, qs, k=10).collect()
    assert len(out) == 6  # 2 queries x 3 points
    out2 = KNN.knn_join_partial(pts, qs, k=10).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_tie_break_deterministic(spark):
    # two points equidistant from the query: lower doc_id wins rank
    pts = spark.createDataFrame(pd.DataFrame({
        "doc_id": [10, 20, 30], "lon_i": [0, 200, 500], "lat_i": [100, 100, 100],
    }))
    qs = spark.createDataFrame(pd.DataFrame({
        "query_id": [0], "qx": [100], "qy": [100],
    }))
    rows = {r["rank"]: r["doc_id"]
            for r in KNN.knn_join_window(pts, qs, k=2).collect()}
    assert rows == {1: 10, 2: 20}


@pytest.mark.parametrize("parts", [1, 3, 8])
def test_partial_keeps_kth_tie_set(spark, parts):
    """40 points tied at one distance from the query, k=5: the map-side
    selection must keep the whole tie set so the (dist2, doc_id) merge
    returns ids 1..5 at every partition count, like the window plan —
    behind the pruned probe's scan filter too."""
    pts = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(40, 0, -1)) + list(range(41, 61)),
        "lon_i": [100] * 40 + [900] * 20, "lat_i": [100] * 60,
    })).repartition(parts)
    qs = spark.createDataFrame(pd.DataFrame(
        {"query_id": [0], "qx": [100], "qy": [101]}))
    expect = [(0, i, 1, i) for i in range(1, 6)]
    window = sorted(map(tuple, KNN.knn_join_window(pts, qs, k=5).collect()))
    partial = sorted(map(tuple, KNN.knn_join_partial(pts, qs, k=5).collect()))
    pruned = sorted(map(tuple, KNN.knn_join_pruned(pts, qs, k=5).collect()))
    assert window == expect
    assert partial == expect
    assert pruned == expect


def test_empty_query_batch(spark):
    pts = _points(spark, n=100)
    qs = _queries(spark).filter("query_id < 0")
    for fn in (KNN.knn_join_partial, KNN.knn_join_pruned):
        out = fn(pts, qs, k=3)
        assert out.count() == 0
        assert out.columns == ["query_id", "doc_id", "dist2", "rank"]


def test_pruned_equals_window(spark):
    """Ring-pruned probe (neighbor_cells expansion + rect pushdown) must
    return exactly the window plan's rows, including ties."""
    pts = _points(spark).repartition(6)
    qs = _queries(spark)
    a = KNN.knn_join_window(pts, qs, k=7).collect()
    b = KNN.knn_join_pruned(pts, qs, k=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pruned_query_outside_extent(spark):
    """Query far outside the data extent: rings must keep expanding (cap
    at the occupied bounding box) and still return the true k nearest."""
    pts = _points(spark, n=400)
    qs = spark.createDataFrame(pd.DataFrame({
        "query_id": [0, 1], "qx": [90000, 0], "qy": [90000, 0]}))
    a = KNN.knn_join_window(pts, qs, k=5).collect()
    b = KNN.knn_join_pruned(pts, qs, k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pruned_k_larger_than_points(spark):
    pts = _points(spark, n=3)
    qs = _queries(spark).limit(2)
    a = KNN.knn_join_window(pts, qs, k=10).collect()
    b = KNN.knn_join_pruned(pts, qs, k=10).collect()
    assert len(b) == 6 and sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pruned_empty_points(spark):
    pts = _points(spark, n=1).filter("doc_id < 0")
    out = KNN.knn_join_pruned(pts, _queries(spark), k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "doc_id", "dist2", "rank"]


def test_pruned_dense_cluster_ring_zero(spark):
    """All k neighbors in the query's own cell: rectangle stays one-ring
    sized — the candidate count must be far below |points|."""
    import numpy as np
    rng = np.random.default_rng(7)
    # dense blob at (5000, 5000) + uniform background
    blob = pd.DataFrame({
        "doc_id": range(500),
        "lon_i": rng.integers(4900, 5100, 500),
        "lat_i": rng.integers(4900, 5100, 500)})
    bg = pd.DataFrame({
        "doc_id": range(500, 3500),
        "lon_i": rng.integers(0, 36000, 3000),
        "lat_i": rng.integers(0, 17000, 3000)})
    pts = spark.createDataFrame(pd.concat([blob, bg]))
    qs = spark.createDataFrame(pd.DataFrame(
        {"query_id": [0], "qx": [5000], "qy": [5000]}))
    a = KNN.knn_join_window(pts, qs, k=5).collect()
    b = KNN.knn_join_pruned(pts, qs, k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # the global rect covers <= (2*2*400)^2 coords ≈ tiny vs full extent
    from geoio_jl_spark.operators.knn import _query_rects, collect_cell_stats
    stats = collect_cell_stats(pts, 3)
    (x_lo, x_hi, y_lo, y_hi), = _query_rects(
        [(0, 5000, 5000)], stats, 5, 400)
    assert x_hi - x_lo <= 4 * 400  # ring 0 far corner < 2 cells each way


def test_pruned_scan_is_file_pruned(spark, tmp_path):
    """Plan + footer evidence (SURVEY §2.4 / R-tree parity gpkg.jl:411-448):
    on a Z-order-clustered layout, the pruned kNN's range conjunct reaches
    the parquet scan as PushedFilters, and only a small subset of files'
    (lon_i, lat_i) footer ranges overlap the query rectangles."""
    import glob

    import pyarrow.parquet as pq

    from geoio_jl_spark.operators.knn import _query_rects, collect_cell_stats
    from geoio_jl_spark.operators.zorder import write_spatially_clustered

    pts = _points(spark, n=200_000)
    path = str(tmp_path / "clustered_pts")
    write_spatially_clustered(pts, path, "lon_i", "lat_i", n_files=16)
    stored = spark.read.parquet(path)
    qs = spark.createDataFrame(pd.DataFrame(
        {"query_id": [0], "qx": [5000], "qy": [5000]}))  # one local probe
    out = KNN.knn_join_pruned(stored, qs, k=5)
    # 1) exact rows vs the full-scan plan
    ref = KNN.knn_join_window(stored, qs, k=5).collect()
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, ref))
    # 2) the range conjunct is pushed into the scan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    # (the plan string truncates long filter lists; lon bounds suffice)
    assert "GreaterThanOrEqual(lon_i" in plan and "LessThanOrEqual(lon_i" in plan
    # 3) footer stats: few files overlap the rectangle on the clustered
    # layout (the scan skips the rest)
    stats = collect_cell_stats(stored, 3)
    (x_lo, x_hi, y_lo, y_hi), = _query_rects(
        [(0, 5000, 5000)], stats, 5, 400)
    overlapping = 0
    files = glob.glob(path + "/*.parquet")
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = {md.schema.column(c).name: c for c in range(len(md.schema))}
        fx_lo = min(md.row_group(g).column(names["lon_i"]).statistics.min
                    for g in range(md.num_row_groups))
        fx_hi = max(md.row_group(g).column(names["lon_i"]).statistics.max
                    for g in range(md.num_row_groups))
        fy_lo = min(md.row_group(g).column(names["lat_i"]).statistics.min
                    for g in range(md.num_row_groups))
        fy_hi = max(md.row_group(g).column(names["lat_i"]).statistics.max
                    for g in range(md.num_row_groups))
        if fx_lo <= x_hi and fx_hi >= x_lo and fy_lo <= y_hi and fy_hi >= y_lo:
            overlapping += 1
    assert len(files) >= 12
    assert overlapping <= max(2, len(files) // 4), (overlapping, len(files))


def test_pruned_dispersed_batches_or_pushdown(spark, tmp_path):
    """Two antipodal query clusters (r3 VERDICT #2): the OR-of-boxes
    pushdown must keep file pruning alive — a single global bounding box
    would cover the whole extent and read every file.  Asserts (1) exact
    rows, (2) an Or filter reaches the scan, (3) footer stats show files
    between the clusters are skipped."""
    import glob

    import pyarrow.parquet as pq

    from geoio_jl_spark.operators.knn import (_merge_rects, _query_rects,
                                              collect_cell_stats)
    from geoio_jl_spark.operators.zorder import write_spatially_clustered

    pts = _points(spark, n=200_000)
    path = str(tmp_path / "clustered_disp")
    write_spatially_clustered(pts, path, "lon_i", "lat_i", n_files=16)
    stored = spark.read.parquet(path)
    # clusters at opposite corners of the extent
    qs = spark.createDataFrame(pd.DataFrame({
        "query_id": [0, 1, 2, 3],
        "qx": [1200, 1450, 34500, 34800],
        "qy": [1100, 1300, 16200, 16400]}))
    stats = collect_cell_stats(stored, 3)
    out = KNN.knn_join_pruned(stored, qs, k=5, cell_stats=stats)
    ref = KNN.knn_join_window(stored, qs, k=5).collect()
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, ref))
    # the scan filter is a disjunction, not one global conjunct
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "Or(" in plan
    # merged boxes: exactly two (one per cluster), covering a tiny
    # fraction of the extent each
    rects = _query_rects(
        [(r["query_id"], r["qx"], r["qy"]) for r in qs.collect()],
        stats, 5, 400)
    boxes = _merge_rects(rects, 32)
    assert len(boxes) == 2
    # footer evidence: files overlapping ANY box << all files, and
    # strictly fewer than the single-global-rect union would touch
    def n_overlapping(rlist):
        n = 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = {md.schema.column(c).name: c
                     for c in range(len(md.schema))}

            def rng(col):
                lo = min(md.row_group(g).column(names[col]).statistics.min
                         for g in range(md.num_row_groups))
                hi = max(md.row_group(g).column(names[col]).statistics.max
                         for g in range(md.num_row_groups))
                return lo, hi
            fx_lo, fx_hi = rng("lon_i")
            fy_lo, fy_hi = rng("lat_i")
            if any(fx_lo <= xh and fx_hi >= xl
                   and fy_lo <= yh and fy_hi >= yl
                   for (xl, xh, yl, yh) in rlist):
                n += 1
        return n

    files = glob.glob(path + "/*.parquet")
    union_box = (min(b[0] for b in boxes), max(b[1] for b in boxes),
                 min(b[2] for b in boxes), max(b[3] for b in boxes))
    assert n_overlapping([union_box]) == len(files)  # global rect: no pruning
    assert n_overlapping(boxes) <= max(4, len(files) // 3)


def test_pruned_plan_is_filtered_partial_scan(spark, tmp_path):
    """The pruned probe is the partial plan behind a scan filter: the
    OR-of-boxes reaches the parquet scan as PushedFilters, the top-k is
    the same MapInPandas + rank Window, and no rectangle table is
    broadcast or range-joined."""
    path = str(tmp_path / "pts")
    _points(spark).write.parquet(path)
    stored = spark.read.parquet(path)
    qs = spark.createDataFrame(pd.DataFrame({
        "query_id": [0, 1], "qx": [1200, 34800], "qy": [1100, 16400]}))
    pruned = KNN.knn_join_pruned(stored, qs, k=5)
    partial = KNN.knn_join_partial(stored, qs, k=5)
    assert (sorted(map(tuple, pruned.collect()))
            == sorted(map(tuple, partial.collect())))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    partial_plan = partial._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [Or(" in plan, plan
    for node in ("MapInPandas", "Window"):
        assert node in plan and node in partial_plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastExchange" not in plan, plan


def test_merge_rects_cap_and_fixpoint():
    from geoio_jl_spark.operators.knn import _merge_rects
    # overlapping chain collapses to one box
    chain = [(0, 10, 0, 10), (5, 15, 5, 15), (14, 20, 14, 20)]
    assert _merge_rects(chain, 32) == [(0, 20, 0, 20)]
    # disjoint boxes stay separate under a generous cap
    far = [(0, 1, 0, 1), (100, 101, 0, 1), (0, 1, 100, 101)]
    assert sorted(_merge_rects(far, 32)) == sorted(far)
    # cap forces greedy min-waste merging down to the budget
    capped = _merge_rects(far, 2)
    assert len(capped) == 2
    # coverage only grows: every input box lies inside some output box
    for (xl, xh, yl, yh) in far:
        assert any(bxl <= xl and xh <= bxh and byl <= yl and yh <= byh
                   for (bxl, bxh, byl, byh) in capped)


def test_pruned_with_precollected_stats_dict(spark):
    """The amortized path (stats dict, zero per-call actions) returns
    identical rows to the per-call DataFrame path."""
    from geoio_jl_spark.operators.knn import collect_cell_stats
    pts = _points(spark)
    qs = _queries(spark)
    stats = collect_cell_stats(pts, 3)
    a = KNN.knn_join_pruned(pts, qs, k=7, cell_stats=stats).collect()
    b = KNN.knn_join_pruned(pts, qs, k=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_merge_rects_large_batch_fast():
    """r5: planning for a dispersed 10^4-query batch must stay
    sub-second on the driver (the r4 greedy pass was O(n^3)) and the
    coarsened boxes must still cover every input rectangle."""
    import random
    import time

    from geoio_jl_spark.operators.knn import _merge_rects
    rng = random.Random(42)
    boxes = []
    for _ in range(10_000):
        x = rng.randrange(-1_800_000, 1_800_000)
        y = rng.randrange(-850_000, 850_000)
        boxes.append((x, x + rng.randrange(100, 5000),
                      y, y + rng.randrange(100, 5000)))
    t0 = time.time()
    out = _merge_rects(boxes, 32)
    dt = time.time() - t0
    assert dt < 1.0, f"planning took {dt:.2f}s"
    assert len(out) <= 32
    for (xl, xh, yl, yh) in boxes:
        assert any(oxl <= xl and xh <= oxh and oyl <= yl and yh <= oyh
                   for (oxl, oxh, oyl, oyh) in out), (xl, xh, yl, yh)


def test_merge_rects_clustered_stays_tight():
    """Two antipodal clusters must NOT collapse into one world box
    while the budget allows two."""
    from geoio_jl_spark.operators.knn import _merge_rects
    west = [(-1_700_000 + i * 10, -1_699_000 + i * 10,
             -100 + i, 900 + i) for i in range(50)]
    east = [(1_600_000 + i * 10, 1_601_000 + i * 10,
             40_000 + i, 41_000 + i) for i in range(50)]
    out = _merge_rects(west + east, 8)
    assert 2 <= len(out) <= 8
    # no output box spans both hemispheres
    assert all(not (xl < -1_000_000 and xh > 1_000_000)
               for (xl, xh, yl, yh) in out)
