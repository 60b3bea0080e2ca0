"""Log-structured corpus store (plans/store.py): CDC upsert, merge-on-
read resolve, compaction, idempotence."""

import os

import pytest
from pyspark.sql import functions as F

from geoio_jl_spark.plans import store as S


def _df(spark, rows):
    return spark.createDataFrame(rows, ["url", "text"])


def _resolved_dict(spark, d):
    return {r["url"]: r["text"]
            for r in S.resolve(spark, d).select("url", "text").collect()}


def test_two_epoch_upsert_and_resolve(spark, tmp_path):
    d = str(tmp_path / "store")
    r1 = S.ingest(spark, d, _df(spark, [
        ("u1", "alpha"), ("u2", "beta"), ("u3", "gamma")]), epoch=1)
    assert (r1["inserted"], r1["updated"]) == (3, 0)
    r2 = S.ingest(spark, d, _df(spark, [
        ("u2", "beta"),            # unchanged -> no delta row
        ("u3", "gamma-v2"),        # changed  -> update
        ("u4", "delta"),           # new      -> insert
    ]), epoch=2)
    assert (r2["inserted"], r2["updated"]) == (1, 1)
    assert _resolved_dict(spark, d) == {
        "u1": "alpha", "u2": "beta", "u3": "gamma-v2", "u4": "delta"}


def test_delta_contains_only_changes(spark, tmp_path):
    d = str(tmp_path / "store")
    S.ingest(spark, d, _df(spark, [("u1", "a"), ("u2", "b")]), epoch=1)
    S.ingest(spark, d, _df(spark, [("u1", "a"), ("u2", "B")]), epoch=2)
    log = S.changes(spark, d, since_epoch=1)
    rows = {(r["url"], r["op"]) for r in log.collect()}
    assert rows == {("u2", "update")}          # u1 wrote zero bytes
    prev = log.collect()[0]
    assert prev["prev_hash"] is not None       # CDC carries old hash


def test_epoch_idempotence(spark, tmp_path):
    d = str(tmp_path / "store")
    S.ingest(spark, d, _df(spark, [("u1", "a")]), epoch=1)
    again = S.ingest(spark, d, _df(spark, [("u1", "DIFFERENT")]), epoch=1)
    assert again["skipped"]
    assert _resolved_dict(spark, d) == {"u1": "a"}   # retry is a no-op


def test_epoch_must_advance(spark, tmp_path):
    d = str(tmp_path / "store")
    S.ingest(spark, d, _df(spark, [("u1", "a")]), epoch=5)
    with pytest.raises(ValueError, match="not after"):
        S.ingest(spark, d, _df(spark, [("u2", "b")]), epoch=3)


def test_in_batch_duplicate_keys_collapse(spark, tmp_path):
    d = str(tmp_path / "store")
    r = S.ingest(spark, d, _df(spark, [
        ("u1", "x"), ("u1", "y"), ("u2", "z")]), epoch=1)
    assert r["inserted"] == 2
    got = _resolved_dict(spark, d)
    assert set(got) == {"u1", "u2"}
    assert got["u1"] in ("x", "y")             # deterministic winner
    # determinism: same batch again under a fresh store -> same winner
    d2 = str(tmp_path / "store2")
    S.ingest(spark, d2, _df(spark, [
        ("u1", "x"), ("u1", "y"), ("u2", "z")]), epoch=1)
    assert _resolved_dict(spark, d2)["u1"] == got["u1"]


def test_compaction_preserves_resolve_and_continues(spark, tmp_path):
    d = str(tmp_path / "store")
    S.ingest(spark, d, _df(spark, [("u1", "a"), ("u2", "b")]), epoch=1)
    S.ingest(spark, d, _df(spark, [("u2", "B"), ("u3", "c")]), epoch=2)
    before = _resolved_dict(spark, d)
    out = S.compact(spark, d)
    assert out["compacted"] and out["base_epoch"] == 2
    assert _resolved_dict(spark, d) == before
    man = S.read_manifest(d)
    assert man["epochs"] == []
    # ingestion continues after compaction
    S.ingest(spark, d, _df(spark, [("u1", "A2"), ("u4", "d")]), epoch=3)
    after = _resolved_dict(spark, d)
    assert after == {"u1": "A2", "u2": "B", "u3": "c", "u4": "d"}
    # CDC log after compaction only has the new tail
    log = {(r["url"], r["op"]) for r in S.changes(spark, d).collect()}
    assert log == {("u1", "update"), ("u4", "insert")}


def test_resolve_plan_uses_partial_aggregate_not_window(spark, tmp_path):
    d = str(tmp_path / "store")
    S.ingest(spark, d, _df(spark, [("u%d" % i, "t%d" % i)
                                   for i in range(50)]), epoch=1)
    S.ingest(spark, d, _df(spark, [("u1", "new")]), epoch=2)
    plan = (S.resolve(spark, d)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan
    assert "Aggregate" in plan                 # max_by groupBy path


def test_changes_raises_after_compaction(spark, tmp_path):
    d = str(tmp_path / "store")
    S.ingest(spark, d, _df(spark, [("u1", "a")]), epoch=1)
    S.compact(spark, d)
    with pytest.raises(ValueError, match="compaction folds"):
        S.changes(spark, d)


def test_multi_content_cols_change_detection(spark, tmp_path):
    d = str(tmp_path / "store")
    df1 = spark.createDataFrame([("u1", "t", "en")],
                                ["url", "text", "lang"])
    df2 = spark.createDataFrame([("u1", "t", "de")],
                                ["url", "text", "lang"])
    S.ingest(spark, d, df1, epoch=1, content_cols=("text", "lang"))
    r = S.ingest(spark, d, df2, epoch=2, content_cols=("text", "lang"))
    assert r["updated"] == 1                   # lang change detected
    got = {x["url"]: x["lang"]
           for x in S.resolve(spark, d).select("url", "lang").collect()}
    assert got == {"u1": "de"}

def test_compact_crash_between_renames_recovers(spark, tmp_path):
    """Simulate a crash after base -> base_old but before base_new ->
    base: reads fall back to the retired base, and re-running compact
    restores + refolds."""
    import os

    d = str(tmp_path / "store")
    S.ingest(spark, d, _df(spark, [("u1", "a"), ("u2", "b")]), epoch=1)
    S.compact(spark, d)                         # gives us a base
    S.ingest(spark, d, _df(spark, [("u2", "B")]), epoch=2)
    os.rename(os.path.join(d, "base"), os.path.join(d, "base_old"))
    # mid-crash read: old base via fallback + the live delta
    assert _resolved_dict(spark, d) == {"u1": "a", "u2": "B"}
    out = S.compact(spark, d)                   # recovery + refold
    assert out["compacted"] and out["base_epoch"] == 2
    assert _resolved_dict(spark, d) == {"u1": "a", "u2": "B"}
    assert os.path.exists(os.path.join(d, "base"))
    assert not os.path.exists(os.path.join(d, "base_old"))


def test_compact_crash_before_manifest_is_consistent(spark, tmp_path):
    """Simulate a crash after the new base went live but before the
    manifest flipped: stale deltas re-apply onto the folded base —
    max_by is idempotent, so the view is unchanged."""
    import os
    import shutil

    d = str(tmp_path / "store")
    S.ingest(spark, d, _df(spark, [("u1", "a"), ("u2", "b")]), epoch=1)
    S.ingest(spark, d, _df(spark, [("u2", "B"), ("u3", "c")]), epoch=2)
    man_before = S.read_manifest(d)
    expect = _resolved_dict(spark, d)
    # hand-build the mid-crash state: folded base live, manifest stale
    resolved = S.resolve(spark, d)
    resolved.write.mode("overwrite").parquet(os.path.join(d, "base"))
    assert S.read_manifest(d) == man_before     # manifest never flipped
    assert _resolved_dict(spark, d) == expect   # deltas re-apply, same
    out = S.compact(spark, d)                   # and compact completes
    assert out["compacted"]
    assert _resolved_dict(spark, d) == expect


def test_resolve_raises_on_missing_base(spark, tmp_path):
    import shutil

    d = str(tmp_path / "store")
    S.ingest(spark, d, _df(spark, [("u1", "a")]), epoch=1)
    S.compact(spark, d)
    shutil.rmtree(f"{d}/base")
    with pytest.raises(ValueError, match="no\\s+base"):
        S.resolve(spark, d).collect()


def test_time_travel_as_of_epoch(spark, tmp_path):
    d = str(tmp_path / "store")
    S.ingest(spark, d, _df(spark, [("u1", "a"), ("u2", "b")]), epoch=1)
    S.ingest(spark, d, _df(spark, [("u2", "B"), ("u3", "c")]), epoch=2)
    S.ingest(spark, d, _df(spark, [("u1", "A3")]), epoch=3)
    def at(e):
        return {r["url"]: r["text"] for r in
                S.resolve(spark, d, as_of_epoch=e)
                .select("url", "text").collect()}
    assert at(1) == {"u1": "a", "u2": "b"}
    assert at(2) == {"u1": "a", "u2": "B", "u3": "c"}
    assert at(3) == {"u1": "A3", "u2": "B", "u3": "c"}
    # compaction folds history: pre-base epochs become unreachable
    S.compact(spark, d)
    with pytest.raises(ValueError, match="folded"):
        S.resolve(spark, d, as_of_epoch=1)
    assert at(3) == {"u1": "A3", "u2": "B", "u3": "c"}


def test_store_stats_view(spark, tmp_path):
    d = str(tmp_path / "store")
    S.ingest(spark, d, _df(spark, [("u1", "a")]), epoch=1)
    S.ingest(spark, d, _df(spark, [("u1", "A"), ("u2", "b")]), epoch=2)
    rows = {r["epoch"]: r for r in S.stats(spark, d).collect()}
    assert rows[1]["inserted"] == 1 and rows[1]["updated"] == 0
    assert rows[2]["inserted"] == 1 and rows[2]["updated"] == 1
    assert not rows[1]["compacted"]
    S.compact(spark, d)
    rows = {r["epoch"]: r for r in S.stats(spark, d).collect()}
    assert rows[2]["compacted"]


def test_schema_drift_raises_before_writing(spark, tmp_path):
    """A batch with a column the store does not have raises, writes no
    delta, leaves the manifest as it was, and the store stays readable."""
    import os

    d = str(tmp_path / "store")
    S.ingest(spark, d, _df(spark, [("u1", "a"), ("u2", "b")]), epoch=1)
    S.ingest(spark, d, _df(spark, [("u2", "B")]), epoch=2)
    man = S.read_manifest(d)
    drifted = spark.createDataFrame([("u3", "c", "en")],
                                    ["url", "text", "lang"])
    with pytest.raises(ValueError, match="do not match"):
        S.ingest(spark, d, drifted, epoch=3)
    assert not os.path.exists(os.path.join(d, "delta", "epoch=3"))
    assert S.read_manifest(d) == man
    assert _resolved_dict(spark, d) == {"u1": "a", "u2": "B"}


def test_every_epoch_writes_one_column_order(spark, tmp_path):
    d = str(tmp_path / "store")
    S.ingest(spark, d, _df(spark, [("u1", "a")]), epoch=1)
    # same columns, other order: accepted and written in the store's order
    S.ingest(spark, d, spark.createDataFrame([("b", "u2")], ["text", "url"]),
             epoch=2)
    cols = [spark.read.parquet(f"{d}/delta/epoch={e}").columns
            for e in (1, 2)]
    assert cols[0] == cols[1] == [
        "url", "text", "content_hash", "op", "prev_hash", "epoch"]
    assert _resolved_dict(spark, d) == {"u1": "a", "u2": "b"}


def test_store_without_manifest_schema_still_reads(spark, tmp_path):
    """A manifest written before the schema was recorded is read with
    an inferred schema, and the next ingest records it."""
    import json

    d = str(tmp_path / "store")
    S.ingest(spark, d, _df(spark, [("u1", "a"), ("u2", "b")]), epoch=1)
    man = S.read_manifest(d)
    del man["schema"]
    with open(f"{d}/manifest.json", "w") as fh:
        json.dump(man, fh)
    assert _resolved_dict(spark, d) == {"u1": "a", "u2": "b"}
    r = S.ingest(spark, d, _df(spark, [("u2", "B")]), epoch=2)
    assert (r["inserted"], r["updated"]) == (0, 1)
    assert "schema" in S.read_manifest(d)
    assert _resolved_dict(spark, d) == {"u1": "a", "u2": "B"}


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_fixed_cost_job_counts(spark, tmp_path):
    """Spark jobs per store call: an ingest into a store with three
    delta epochs runs 6 (two shuffle map stages, one join build, the
    delta write, and a map + result stage for the count read-back), a
    compaction 2 (one shuffle, one write) — no schema-inference jobs.
    Reading each directory with an inferred schema ran 10 and 6."""
    d = str(tmp_path / "store")

    def batch(e):
        return _df(spark, [(f"u{i}", f"t{i}.{e if i % 3 == 0 else 0}")
                           for i in range(200 * e)])

    for e in (1, 2, 3):
        S.ingest(spark, d, batch(e), epoch=e)
    ingest_jobs = _jobs(spark, "store_ingest_jobs",
                        lambda: S.ingest(spark, d, batch(4), epoch=4))
    compact_jobs = _jobs(spark, "store_compact_jobs",
                         lambda: S.compact(spark, d))
    assert ingest_jobs <= 6 and compact_jobs <= 2, (ingest_jobs,
                                                    compact_jobs)


def test_cdc_lookup_reads_only_key_hash_epoch(spark, tmp_path):
    """The change-detection lookup never reads the page columns."""
    import re

    d = str(tmp_path / "store")
    pages = spark.createDataFrame(
        [("u1", "<p>a</p>", "a"), ("u2", "<p>b</p>", "b")],
        ["url", "html", "text"])
    S.ingest(spark, d, pages, epoch=1)
    S.ingest(spark, d, pages.limit(1), epoch=2)
    plan = (S._current_hashes(spark, d, "url")
            ._jdf.queryExecution().executedPlan().toString())
    schemas = re.findall(r"ReadSchema: (struct<[^>]*>)", plan)
    assert schemas == ["struct<url:string,content_hash:bigint,epoch:int>"]


def test_store_resolve_registers_tempdir_cleanup(spark, tmp_path,
                                                 monkeypatch):
    """The registry's store_resolve builder keeps its scratch store until
    the process exits, then removes it: it registers an atexit rmtree
    for exactly the directory it created."""
    import atexit
    import shutil
    import tempfile

    from geoio_jl_spark import queries as Q

    made, registered = [], []
    real_mkdtemp = tempfile.mkdtemp

    def mkdtemp(prefix=None):
        made.append(real_mkdtemp(prefix=prefix, dir=str(tmp_path)))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    monkeypatch.setattr(atexit, "register",
                        lambda fn, *a, **kw: registered.append((fn, a, kw)))
    docs = spark.createDataFrame(
        [(i, f"doc {i}", "en") for i in range(30)], ["doc_id", "text", "lang"])
    monkeypatch.setattr(Q, "_read", lambda spark, sf_dir, table: docs)
    out = Q.q_store_resolve(spark, "unused")
    assert out.count() == 30
    assert len(made) == 1
    assert registered == [(shutil.rmtree, (made[0],),
                           {"ignore_errors": True})]
    fn, a, kw = registered[0]
    fn(*a, **kw)
    assert not os.path.exists(made[0])
