"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the repository root.  One workload per invocation, one Spark
session on ``local[<cpus / 2>]``; the last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a separate
traced run (event log on, every call in a named job group).  ``--smoke``
runs every workload at a tiny scale, traced, and fails unless every named
metric is emitted and every output check passes.

Every file the run writes goes under ``.perfbench_work/`` in the
repository root and is removed on exit.  See ``perfbench/README.md`` for
what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# per-operation event-log totals -> layer metric
_FROM_LOG = {
    "python_run_s": "textkernels.python_run_s",
    "bytes_to_python": "textkernels.bytes_to_python",
    "scan_s": "spark.scan_s",
    "shuffle_write_bytes": "spark.shuffle_write_bytes",
    "shuffle_read_bytes": "spark.shuffle_read_bytes",
    "spill_bytes": "spark.spill_bytes",
    "executor_cpu_s": "spark.executor_cpu_s",
    "gc_s": "spark.gc_s",
}


def declared_metrics() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in bench[key]}
                 for key in ("end_to_end", "per_layer"))


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc.  Each process counts
    its proportional share (PSS), so pages that forked Python workers
    share with their parent are not counted once per worker."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_pss() -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                    for line in fh:
                        if line.startswith(b"Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_pss())
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def start_session(work: str, trace: bool):
    """One local session sized to this machine; every scratch path it
    uses lives under ``work``."""
    from geoio_jl_spark import shipping
    from geoio_jl_spark.session import get_spark

    # One task slot per two CPUs: a task running a Python UDF keeps two
    # processes busy, the JVM task thread and its Python worker, so
    # local[<cpus>] would run twice as many busy threads as CPUs.  On a
    # 4-CPU machine local[2] and local[4] gave the same throughput on both
    # workloads, and local[4] measured the scheduler as well.
    slots = max(1, len(os.sched_getaffinity(0)) // 2)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap, touched in full at start: otherwise G1 grows
        # and touches it by a different amount from run to run, and peak
        # RSS swings with it (by 25% between two runs of one seed)
        "spark.driver.extraJavaOptions":
            "-Dio.netty.tryReflectionSetAccessible=true -Xms2g"
            " -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=slots, driver_memory="2g",
                      extra_conf=conf)
    start_s = time.perf_counter() - t0
    # Workers import the package from PYTHONPATH (set in main), so the
    # package's own --py-files helper, which zips into /tmp, is not needed.
    setattr(spark.sparkContext, shipping._FLAG, True)
    return spark, start_s


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, then the JVM it runs in (it exits when its stdin
    closes), and wait until every process below this one has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def log_layers(work: str, name: str, ctx) -> dict:
    """Per-operation layer metrics folded from the stopped session's
    event log, for the job group ``<name>:op``.  Python worker start-up is
    summed over the whole run instead: reused workers start only once."""
    import eventlog

    folded = eventlog.fold(os.path.join(work, "eventlog"))
    tot = eventlog.total(folded, f"{name}:op")
    n = max(ctx.n_ops, 1)
    out = {layer: tot.get(key, 0.0) / n for key, layer in _FROM_LOG.items()}
    out["textkernels.python_start_s"] = eventlog.total(
        folded, f"{name}:").get("python_start_s", 0.0)
    out["queries.jobs"] = tot.get("jobs", 0.0) / n
    out["queries.stages"] = tot.get("stages", 0.0) / n
    out["queries.driver_s"] = (ctx.op_wall - tot.get("job_busy_s", 0.0)) / n
    return out


def run_workloads(names: list[str], seed: int, seconds: float, trace: bool,
                  scale: str, work: str) -> list[tuple]:
    """Run each named workload in one session; return, per workload,
    (ctx, end-to-end metrics, per-layer metrics)."""
    import workloads

    spark, start_s = start_session(work, trace)
    results = []
    try:
        for name in names:
            ctx = workloads.Ctx(spark, os.path.join(work, name), seed,
                                seconds, trace, scale, name)
            os.makedirs(ctx.work)
            t_setup = start_s if not results else 0.0
            e2e, layers = workloads.WORKLOADS[name](ctx)
            e2e["setup_s"] += t_setup
            layers["session.start_s"] = start_s
            results.append((ctx, e2e, layers))
    finally:
        stop_session(spark)
    if trace:
        for ctx, _, layers in results:
            layers.update(log_layers(work, ctx.name, ctx))
    return results


def metrics_json(values: dict, units: dict) -> dict:
    """Every declared metric; one a workload does not measure reads 0."""
    return {k: {"value": float(values.get(k, 0.0)), "unit": u}
            for k, u in units.items()}


def smoke(work: str) -> int:
    """All workloads at the smoke scale, traced: every metric and workload
    named in BENCHMARK.json must be measured and every check must pass."""
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e_units, layer_units = declared_metrics()
    ok = {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    results = run_workloads(list(workloads.WORKLOADS), 1, 1.0, True,
                            "smoke", work)
    emitted = set()
    for ctx, e2e, layers in results:
        missing = set(e2e_units) - set(e2e) - {"peak_rss_mb"}
        print(f"{ctx.name}: attempted {ctx.attempted} failed {ctx.failed} "
              f"end-to-end metrics missing {sorted(missing)}")
        ok = ok and not missing and ctx.failed == 0 and ctx.attempted > 0
        emitted |= set(layers)
    if set(layer_units) - emitted:
        print(f"no workload measures {sorted(set(layer_units) - emitted)}")
        ok = False
    print(json.dumps({"smoke_ok": ok}))
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    import workloads   # fails here, before any output, without the package

    if not args.smoke and args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    parent = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(parent, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=parent)
    os.makedirs(os.path.join(work, "tmp"))
    # Python, the JVM launcher and the Python workers all inherit these
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}")
    # Spark prefers this variable to spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sampler = RssSampler()
    sampler.start()
    try:
        if args.smoke:
            return smoke(work)
        ((ctx, e2e, layers),) = run_workloads(
            [args.workload], args.seed, args.seconds, bool(args.trace),
            "full", work)
    finally:
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:
            pass
    e2e["peak_rss_mb"] = sampler.peak_bytes / 2**20
    e2e_units, layer_units = declared_metrics()
    metrics = (metrics_json(layers, layer_units) if args.trace
               else metrics_json(e2e, e2e_units))
    print(json.dumps({"correct": ctx.failed == 0,
                      "attempted": ctx.attempted,
                      "failed": ctx.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
