"""Run the flagship pipeline once at a given core count; print one JSON line.

The pipeline is ``jobs/flagship_job.geotag_points`` + ``polygon_counts``;
``pipeline`` only feeds them a pages table and the 25 nation triangles.

Usage: python tools/scaling_probe.py <cores> <pages_parquet> [trials]
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geoio_jl_spark.queries import nation_triangles
from geoio_jl_spark.session import get_spark
from jobs.flagship_job import geotag_points, polygon_counts


def pipeline(spark, path):
    # TPC-H's nation table holds the keys 0..24 at every scale factor, so
    # the 25 triangles need no input table
    nation = spark.range(25).withColumnRenamed("id", "n_nationkey")
    return polygon_counts(geotag_points(spark.read.parquet(path)),
                          nation_triangles(nation))


def main():
    cores = int(sys.argv[1])
    path = sys.argv[2]
    trials = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    # Executor sizing for pandas-UDF-heavy stages: every task runs a JVM
    # thread AND a Python worker concurrently (the Arrow batches
    # pipeline), so a slot should budget 2 CPUs — exactly what
    # spark.task.cpus=2 declares on a real cluster.  Measured on the
    # 16M-doc flagship at a pinned 32-CPU budget: task.cpus=2 18.65s vs
    # task.cpus=1 36.83s (2x — 32 JVM threads + 32 Python workers on 32
    # CPUs thrash); neutral at 8 CPUs (39.2 vs 37.8s) and below.
    task_cpus = int(os.environ.get("GEOIO_TASK_CPUS", "1"))
    spark = get_spark(
        f"scaling{cores}", cores=cores, driver_memory="24g",
        shuffle_partitions=max(cores // task_cpus, 8),
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.task.cpus": str(task_cpus),
                    "spark.sql.execution.arrow.maxRecordsPerBatch": "50000"})
    n_docs = spark.read.parquet(path).count()
    pipeline(spark, path).collect()  # warm
    times = []
    for _ in range(trials):
        t0 = time.time()
        pipeline(spark, path).collect()
        times.append(round(time.time() - t0, 2))
    spark.stop()
    print(json.dumps({"cores": cores, "n_docs": n_docs, "times": times,
                      "best_sec": min(times),
                      "docs_per_sec": round(n_docs / min(times), 1)}))


if __name__ == "__main__":
    main()
