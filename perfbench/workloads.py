"""The benchmark's workloads.  Each is a closed loop with one client: the
next call starts when the previous one has returned.

A workload function takes a :class:`Ctx`, sets up its inputs, warms the
session, measures for ``ctx.seconds`` and returns two dicts of
``name -> value``: the end-to-end metrics and the per-layer metrics it
measures itself.  Per-layer metrics that come from the event log are
added by ``run.py`` once the session has stopped.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

from pyspark.sql import functions as F

import inputs
from geoio_jl_spark import dialect as D
from geoio_jl_spark import queries as Q
from geoio_jl_spark.functions.textkernels import extract_page
from geoio_jl_spark.operators import sjoin as SJ
from geoio_jl_spark.operators.cells import assign_cells
from geoio_jl_spark.plans import store
from geoio_jl_spark.sources import warc
from jobs.ingest_job import extract_pages

# Input sizes per scale.  "full" is what the benchmark measures; "smoke"
# runs every code path in seconds.
SIZES = {
    "full": {"pages": 100_000, "epochs": 4, "segments": 4,
             "per_segment": 2_000, "setup_reps": 3, "warmup_passes": 3,
             "prefix_reps": 3},
    "smoke": {"pages": 2_000, "epochs": 2, "segments": 2,
              "per_segment": 1_000, "setup_reps": 2, "warmup_passes": 1,
              "prefix_reps": 1},
}

T0 = time.perf_counter()


class Ctx:
    """One workload run: session, scratch directory, seed, time budget,
    and the tally of attempted and failed operations."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 trace: bool, scale: str, name: str):
        self.spark, self.work, self.seed = spark, work, seed
        self.seconds, self.trace, self.name = seconds, trace, name
        self.size = SIZES[scale]
        self.attempted = 0
        self.failed = 0
        self.op_wall = 0.0   # wall seconds spent inside measured ops
        self.n_ops = 0

    @contextmanager
    def group(self, label: str):
        """Tag the jobs of the enclosed calls with the job group
        ``<workload>:<label>`` (traced runs only; the untraced run sets
        nothing).  The enclosing group is restored on exit."""
        if not self.trace:
            yield
            return
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", f"{self.name}:{label}")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    def mark(self, phase: str) -> None:
        """Progress line on stderr: seconds since the process started."""
        print(f"[{time.perf_counter() - T0:7.2f}s] {self.name}: {phase}",
              file=sys.stderr, flush=True)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {self.name}: {what}", file=sys.stderr)

    def attempt(self, what: str, fn, *args):
        """Run one operation; an exception counts as a failed operation
        and returns None instead of ending the run."""
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - counted, reported, run goes on
            self.attempted += 1
            self.failed += 1
            print(f"operation raised: {self.name}: {what}", file=sys.stderr)
            traceback.print_exc()
            return None

    def timed_op(self, fn, *args):
        """A measured operation: (seconds, result), tagged ``op``."""
        with self.group("op"):
            dt, out = _timed_pair(fn, *args)
        self.op_wall += dt
        self.n_ops += 1
        return dt, out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_pair(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


def _timed(fn, *args) -> float:
    return _timed_pair(fn, *args)[0]


def _setup(ctx: Ctx, make) -> tuple[float, object]:
    """Run ``make(dir)`` ``setup_reps`` times into fresh directories; keep
    the last result, delete the others, return (median seconds, result)."""
    times, result, prev = [], None, None
    for r in range(ctx.size["setup_reps"]):
        d = os.path.join(ctx.work, f"input{r}")
        t0 = time.perf_counter()
        result = make(d)
        times.append(time.perf_counter() - t0)
        if prev:
            shutil.rmtree(prev, ignore_errors=True)
        prev = d
    return statistics.median(times), result


# ---------------------------------------------------------------------------
# flagship_geotag
# ---------------------------------------------------------------------------

def flagship_plan(spark, pages_path: str, tables_dir: str,
                  upto: str = "result"):
    """The flagship pipeline of ``tools/scaling_probe.pipeline`` (scan →
    ``extract_page`` → ``assign_cells`` → salted broadcast cell join →
    point-in-triangle refine → per-polygon aggregate), built fresh and cut
    after stage ``upto`` so each layer can be timed into a noop sink.
    ``upto="mismatches"`` is the text identity check instead.  Rebuilt
    here because that function reads its polygons from a fixed test-data
    path, not from the benchmark's generated ``nation`` table."""
    pages = spark.read.parquet(pages_path)
    if upto == "mismatches":
        return (pages.select(extract_page("html").alias("p"), "text")
                .filter(~F.col("p.text").eqNullSafe(F.col("text"))))
    scan = pages.select("url", "html")
    if upto == "scan":
        return scan
    pts = scan.select("url", extract_page("html").alias("p")).select(
        ((F.col("p.lon") + 180.0) * 100).cast("bigint").alias("lon_i"),
        ((F.col("p.lat") + 85.0) * 100).cast("bigint").alias("lat_i"),
        F.xxhash64("url").alias("doc_id"),
        F.length("p.text").alias("text_len"))
    if upto == "extract":
        return pts
    cells = assign_cells(pts, res=3).withColumn(
        "salt", F.pmod(F.hash("doc_id"), F.lit(16)))
    if upto == "cells":
        return cells
    tiled_salted = SJ.tile_polygons(Q._triangles(spark, tables_dir), 3) \
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(15))))
    candidates = cells.join(F.broadcast(tiled_salted), ["cell_id", "salt"])
    if upto == "candidates":
        return candidates
    return (candidates
            .filter(F.expr(D.point_in_triangle_sql("lon_i", "lat_i")))
            .groupBy("poly_id")
            .agg(F.count("*").alias("n"), F.sum("text_len").alias("tc")))


def flagship_geotag(ctx: Ctx) -> tuple[dict, dict]:
    n = ctx.size["pages"]
    tables = os.path.join(ctx.work, "tables")
    inputs.write_nation(tables)

    def make(d):
        pages = inputs.make_pages(ctx.seed, 2, n)
        inputs.write_pages(pages, f"{d}/pages.parquet")
        return inputs.flagship_oracle(pages)

    setup_s, oracle = _setup(ctx, make)
    ctx.mark(f"set up in {setup_s:.2f}s (median)")
    pages_path = os.path.join(
        ctx.work, f"input{ctx.size['setup_reps'] - 1}", "pages.parquet")

    def run_pass():
        # a fresh plan each pass: re-collecting one DataFrame would reuse
        # its finished adaptive query stages instead of recomputing
        result = flagship_plan(ctx.spark, pages_path, tables)
        return {r["poly_id"]: (r["n"], r["tc"]) for r in result.collect()}

    def check_pass(got) -> None:
        if got is not None:
            ctx.check(got == oracle, "per-polygon (n, tc) differs from oracle")

    with ctx.group("check"):
        t0 = time.perf_counter()
        mism = ctx.attempt("text identity", lambda: flagship_plan(
            ctx.spark, pages_path, tables, "mismatches").count())
        ctx.mark(f"identity in {time.perf_counter() - t0:.2f}s")
    if mism is not None:
        ctx.check(mism == 0, f"{mism} extracted texts differ")
    with ctx.group("warmup"):   # JIT keeps speeding passes up for a few
        for _ in range(ctx.size["warmup_passes"]):
            t0 = time.perf_counter()
            check_pass(ctx.attempt("warm-up pass", run_pass))
            ctx.mark(f"warm-up pass in {time.perf_counter() - t0:.2f}s")

    ctx.mark("warmed up")
    times = []
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or len(times) < 3:
        r = ctx.attempt("pass", ctx.timed_op, run_pass)
        if r is None:
            break
        times.append(r[0])
        check_pass(r[1])
    e2e = {"setup_s": setup_s,
           "items_per_s": n * len(times) / sum(times) if times else 0.0,
           "op_s_p50": statistics.median(times) if times else 0.0}
    ctx.mark(f"measured {ctx.n_ops} passes: "
             + " ".join(f"{t:.2f}" for t in times))
    layers = {}
    if ctx.trace:
        layers = _flagship_layers(ctx, pages_path, tables, oracle, times,
                                  mism)
    return e2e, layers


def _flagship_layers(ctx, pages_path, tables, oracle, times, mism) -> dict:
    """Prefix deltas into a noop sink, interleaved and repeated; the
    candidate pair count of the cell equi-join before the refine."""
    stages = ["scan", "extract", "cells", "result"]
    t = {s: [] for s in stages}
    collect = []

    def plan(stage):
        return flagship_plan(ctx.spark, pages_path, tables, stage)

    for _ in range(ctx.size["prefix_reps"]):
        for s in stages:
            with ctx.group(f"prefix.{s}"):
                t[s].append(_timed(_noop, plan(s)))
        with ctx.group("prefix.collect"):
            collect.append(_timed(plan("result").collect))
    med = {s: statistics.median(v) for s, v in t.items()}
    with ctx.group("prefix.candidates"):
        candidates = plan("candidates").count()
    matches = sum(n for n, _ in oracle.values())
    return {
        "textkernels.extract_s": med["extract"] - med["scan"],
        "textkernels.text_mismatches": float(mism if mism is not None else -1),
        "cells.assign_s": med["cells"] - med["extract"],
        "sjoin.join_s": med["result"] - med["cells"],
        "sjoin.candidate_pairs": float(candidates),
        "sjoin.refine_hit_ratio": matches / candidates if candidates else 0.0,
        "queries.collect_s": statistics.median(collect) - med["result"],
        "queries.result_rows": float(len(oracle)),
        "trace.op_s_p50": statistics.median(times) if times else 0.0,
    }


# ---------------------------------------------------------------------------
# warc_ingest
# ---------------------------------------------------------------------------

def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def _ingest_cycle(ctx: Ctx, plan: dict, store_dir: str, timed: bool,
                  epochs: int | None = None) -> dict | None:
    """Ingest the first ``epochs`` epochs (default all), compact, resolve;
    check the CDC counts and the resolved (url, text) map against the
    plan.  The epoch ingests are the measured operations; compaction and
    resolve are timed on their own.  Returns None if a call raised."""
    spark = ctx.spark
    epochs = epochs or len(plan["dirs"])
    final = plan["state"][epochs - 1]
    out = {"epoch_s": [], "written": 0}
    run = ctx.timed_op if timed else _timed_pair
    for e, (d, want) in enumerate(zip(plan["dirs"][:epochs],
                                      plan["expected"]), 1):
        r = ctx.attempt(f"ingest epoch {e}", run, store.ingest, spark,
                        store_dir, extract_pages(spark, d), e)
        if r is None:
            return None
        got = {k: r[1][k] for k in ("inserted", "updated")}
        ctx.check(got == want, f"epoch {e} CDC counts {got} != {want}")
        out["epoch_s"].append(r[0])
        out["written"] += got["inserted"] + got["updated"]
    out["delta_bytes"] = _du(store_dir)
    with ctx.group("compact"):
        r = ctx.attempt("compact", _timed_pair, store.compact, spark,
                        store_dir)
    if r is None:
        return None
    out["compact_s"] = r[0]
    ctx.check(r[1].get("compacted") is True, "compaction did not run")
    with ctx.group("resolve"):
        r = ctx.attempt("resolve", _timed_pair, lambda: store.resolve(
            spark, store_dir).select("url", "text").collect())
    if r is None:
        return None
    out["resolve_s"], rows = r
    got = {row["url"]: row["text"] for row in rows}
    out["rows"] = len(rows)
    out["mismatches"] = sum(got.get(u) != t for u, t in final.items())
    ctx.check(len(rows) == len(final) and out["mismatches"] == 0,
              "resolved store differs from the planted pages")
    return out


def warc_ingest(ctx: Ctx) -> tuple[dict, dict]:
    sz = ctx.size

    def make(d):
        return inputs.write_crawl(ctx.seed, d, sz["epochs"], sz["segments"],
                                  sz["per_segment"], new_share=0.25,
                                  changed_share=0.1)

    setup_s, plan = _setup(ctx, make)
    ctx.mark(f"set up in {setup_s:.2f}s (median)")
    # warm-up: an untimed cycle of all but the last epoch (which runs
    # the same code as the one before it) into a throwaway store.  The
    # JIT keeps warming: the second measured cycle ran 13% faster than
    # the first on average after a two-epoch warm-up, 8% after this one.
    with ctx.group("warmup"):
        w = _ingest_cycle(ctx, plan, os.path.join(ctx.work, "warm_store"),
                          False, epochs=max(1, sz["epochs"] - 1))
    if w:
        ctx.mark("warm-up epochs "
                 + " ".join(f"{t:.2f}" for t in w["epoch_s"])
                 + f"; compaction {w['compact_s']:.2f}"
                 + f"; resolve {w['resolve_s']:.2f}")

    ctx.mark("warmed up")
    cycles, store_dir, cycle_s = [], None, 0.0
    t_end = time.perf_counter() + ctx.seconds
    # a cycle takes seconds, so start one only if at least half of it
    # fits the window: the measured span stays within half a cycle of
    # --seconds instead of overrunning it by up to a whole cycle
    while not cycles or time.perf_counter() + cycle_s / 2 < t_end:
        if store_dir:
            shutil.rmtree(store_dir, ignore_errors=True)
        store_dir = os.path.join(ctx.work, f"store{len(cycles)}")
        t0 = time.perf_counter()
        c = _ingest_cycle(ctx, plan, store_dir, True)
        if c is None:
            break
        cycle_s = time.perf_counter() - t0
        cycles.append(c)
        ctx.mark(f"cycle {len(cycles)} in {cycle_s:.2f}s")
    epoch_s = [t for c in cycles for t in c["epoch_s"]]
    compact_s = [c["compact_s"] for c in cycles]
    busy = sum(epoch_s) + sum(compact_s)
    e2e = {"setup_s": setup_s,
           "items_per_s": sum(plan["records"]) * len(cycles) / busy
           if busy else 0.0,
           "op_s_p50": statistics.median(epoch_s) if epoch_s else 0.0}
    ctx.mark(f"measured {len(epoch_s)} epochs: "
             + " ".join(f"{t:.2f}" for t in epoch_s)
             + "; compactions: " + " ".join(f"{t:.2f}" for t in compact_s))
    layers = {}
    if ctx.trace and cycles:
        layers = _warc_layers(ctx, plan, store_dir, cycles)
    return e2e, layers


def _warc_layers(ctx, plan, store_dir, cycles) -> dict:
    """Prefix timings per epoch (``warc.read``, then ``extract_pages``,
    into noop), resolve into noop, and the store's byte and row ratios
    from the last cycle."""
    spark = ctx.spark
    read_s, extract_s = [], []
    for d in plan["dirs"]:
        with ctx.group("prefix.read"):
            read_s.append(_timed(_noop, warc.read(spark, d)))
        with ctx.group("prefix.extract"):
            extract_s.append(_timed(_noop, extract_pages(spark, d)))
    with ctx.group("prefix.resolve_noop"):
        resolve_noop = _timed(_noop, store.resolve(spark, store_dir)
                              .select("url", "text"))
    last = cycles[-1]
    base_bytes = _du(store_dir)
    text_bytes = sum(len(t.encode("utf-8"))
                     for t in plan["state"][-1].values())
    offered = sum(plan["records"])
    n_epochs = len(plan["dirs"])
    resolve_s = statistics.median(c["resolve_s"] for c in cycles)
    epoch_s = statistics.median(t for c in cycles for t in c["epoch_s"])
    return {
        "textkernels.extract_s": (sum(extract_s) - sum(read_s)) / n_epochs,
        "textkernels.text_mismatches": float(last["mismatches"]),
        "warc.read_s": sum(read_s) / n_epochs,
        "warc.records_per_s": offered / sum(read_s),
        "warc.decompressed_bytes": float(sum(plan["raw_bytes"]) / n_epochs),
        "store.ingest_s": epoch_s,
        "store.delta_rows_ratio": last["written"] / offered,
        "store.bytes_written": float(last["delta_bytes"] + base_bytes),
        "store.compact_s": statistics.median(c["compact_s"] for c in cycles),
        "store.resolve_s": resolve_s,
        "store.bytes_per_user_byte": base_bytes / text_bytes,
        "queries.collect_s": resolve_s - resolve_noop,
        "queries.result_rows": float(last["rows"]),
        "trace.op_s_p50": epoch_s,
    }


WORKLOADS = {
    "flagship_geotag": flagship_geotag,
    "warc_ingest": warc_ingest,
}
