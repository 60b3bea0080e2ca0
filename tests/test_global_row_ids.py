"""r8: dense-id assignment in mesh sources must not use a
single-partition global Window (VERDICT r7 item 5).  Pins

* global_row_ids == row_number() OVER (ORDER BY ...) at several
  partition counts (the equivalence the sources rely on), and
* the STL read's vertex plan carries no unpartitioned WindowExec
  ("Window" with an empty partition spec prints as
  'Window [...], [x ASC ...]' with no PartitionBy — assert the warning
  trigger, a Window whose partitionBy is empty, is gone entirely, the
  per-partition offsets included).
"""

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from geoio_jl_spark.operators.packing import global_row_ids
from tests.test_packing import unpartitioned_windows


def test_matches_global_row_number(spark):
    rows = [(float(x), float(x % 7)) for x in np.random.RandomState(7)
            .permutation(500)]
    df = spark.createDataFrame(rows, "x double, y double")
    want = {(r["x"], r["y"]): r["rid"] for r in df.withColumn(
        "rid", F.row_number().over(Window.orderBy("x", "y"))).collect()}
    for parts in (1, 3, 8):
        got = {(r["x"], r["y"]): r["rid"]
               for r in global_row_ids(df.repartition(parts), ["x", "y"],
                                       out="rid").collect()}
        assert got == want


def test_stl_read_no_global_window(spark, tmp_path):
    from geoio_jl_spark.sources import stl

    tris = np.array(
        [[[0, 0, 0], [1, 0, 0], [0, 1, 0]],
         [[1, 0, 0], [1, 1, 0], [0, 1, 0]]], dtype=np.float64)
    path = str(tmp_path / "two.stl")
    import pandas as pd
    from pyspark.sql import SparkSession  # noqa: F401
    # write via the module's own writer for a valid file
    vids = [[1, 2, 3], [2, 4, 3]]
    verts = spark.createDataFrame(
        [(1, 0.0, 0.0, 0.0), (2, 1.0, 0.0, 0.0), (3, 0.0, 1.0, 0.0),
         (4, 1.0, 1.0, 0.0)], "vid int, x double, y double, z double")
    elems = spark.createDataFrame(
        [(i + 1, v) for i, v in enumerate(vids)],
        "eid int, vids array<int>")
    stl.write(verts, elems, path, binary=True)

    v2, e2 = stl.read(spark, path)
    plan = v2._jdf.queryExecution().executedPlan().toString()
    # the ROW-DATA window (row_number over the vertex set) must be
    # partitioned by the range-partition id — never a global sort of
    # every vertex into one task — and no other window is unpartitioned
    for line in plan.splitlines():
        if "row_number() windowspecdefinition(" in line:
            assert "__pid" in line, line
    assert unpartitioned_windows(plan) == []
    # ids still dense and ordered by (x, y, z)
    got = sorted((r["x"], r["y"], r["z"], r["vid"]) for r in v2.collect())
    assert [g[3] for g in got] == [1, 2, 3, 4]
