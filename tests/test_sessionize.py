"""Custom stateful streaming operator: sessionization via
applyInPandasWithState, checked against a pandas reference."""

import pandas as pd
from pyspark.sql import functions as F

from geoio_jl_spark.streaming.pipeline import sessionize

GAP_S = 1800


def _reference_sessions(pdf: pd.DataFrame):
    """All sessions per user (incl. the trailing open one)."""
    out = []
    for user, grp in pdf.groupby("user_id"):
        ts = sorted(int(t.value // 1000) for t in pd.to_datetime(grp["ts"]))
        cur = None
        for us in ts:
            if cur is None:
                cur = [us, us, 1]
            elif us - cur[1] > GAP_S * 1_000_000:
                out.append((user, *cur))
                cur = [us, us, 1]
            else:
                cur = [cur[0], us, cur[2] + 1]
        if cur is not None:
            out.append((user, *cur, "open"))
    return out


def test_sessionize_matches_reference(spark, sf_dir, tmp_path):
    import os
    src = f"{sf_dir}/events.parquet"
    d = tmp_path / "events_dir"
    d.mkdir()
    os.symlink(src, d / "events.parquet")
    schema = spark.read.parquet(str(d)).schema
    stream = spark.readStream.schema(schema).parquet(str(d))
    # single-batch replay: no later batch fires the timeout, so the
    # default use_timeout=True would stall availableNow for minutes
    out = sessionize(stream, gap_seconds=GAP_S, use_timeout=False)
    q = (
        out.writeStream.format("memory").queryName("sessions")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)
    got = {(r["user_id"], r["session_start_us"], r["session_end_us"],
            r["n_events"])
           for r in spark.sql("SELECT * FROM sessions").collect()}

    pdf = spark.read.parquet(src).toPandas()
    all_sessions = _reference_sessions(pdf)
    closed = set()
    trailing = set()
    for row in all_sessions:
        if len(row) == 5 and row[4] == "open":
            trailing.add((row[0], row[1], row[2], row[3]))
        else:
            closed.add(tuple(row[:4]))
    # one availableNow batch: every closed session is emitted; trailing
    # (still-open) sessions stay in state awaiting the timeout
    assert got == closed
    assert len(trailing) > 0  # sanity: state actually holds something


def test_batch_session_rollup_matches_streaming(spark, sf_dir, tmp_path):
    """The oracle-checked batch sessionization (q_session_rollup) and
    the stateful streaming operator must carve identical sessions:
    closed streaming sessions ∪ trailing open state == batch sessions."""
    from geoio_jl_spark import queries as Q
    from geoio_jl_spark.streaming.pipeline import sessionize

    batch = {(r["user_id"], r["start_us"], r["end_us"], r["n_events"])
             for r in Q.q_session_rollup(spark, sf_dir).collect()}

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "ev_stream")
    ev.coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema(ev.schema).parquet(src)
              .withColumn("ts", F.col("ts").cast("timestamp")))
    out = sessionize(stream, use_timeout=False)
    q = (out.writeStream.format("memory").queryName("sess_batch_parity")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.awaitTermination(180)
    closed = {(r["user_id"], r["session_start_us"], r["session_end_us"],
               r["n_events"])
              for r in spark.sql(
                  "SELECT * FROM sess_batch_parity").collect()}
    # trailing sessions stay in state at end-of-stream; every closed
    # streaming session must be a batch session, and the remainder must
    # be exactly one trailing (last) session per user
    assert closed <= batch
    remaining = batch - closed
    per_user = {}
    for u, s, e, n in remaining:
        per_user.setdefault(u, []).append((s, e, n))
    assert all(len(v) == 1 for v in per_user.values())
    # and each user's remaining session is their LAST batch session
    last_by_user = {}
    for u, s, e, n in batch:
        if u not in last_by_user or s > last_by_user[u][0]:
            last_by_user[u] = (s, e, n)
    for u, v in per_user.items():
        assert v[0] == last_by_user[u]


# ---------------------------------------------------------------------------
# Skew-safe batch sessionization (operators/sessionize.py): the hot path
# (time buckets + carry-in + renumbering) must label events identically
# to the single-window form.
# ---------------------------------------------------------------------------

GAP_US = GAP_S * 1_000_000


def _events(spark, sf_dir):
    return (spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("user_id", "event_id",
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    .alias("ts_us")))


def test_skew_path_labels_match_plain(spark, sf_dir):
    """Force EVERY user through the hot path (threshold 0): per-event
    sess_id must be byte-identical to the single-window labels."""
    from geoio_jl_spark.operators.sessionize import sessionize_events
    ev = _events(spark, sf_dir)
    plain = sessionize_events(ev, GAP_US, hot_threshold=None)
    hot = sessionize_events(ev, GAP_US, hot_threshold=0, n_buckets=7)
    key = ["user_id", "event_id", "ts_us", "sess_id"]
    a = sorted(tuple(r) for r in plain.select(*key).collect())
    b = sorted(tuple(r) for r in hot.select(*key).collect())
    assert a == b and len(a) > 0


def test_planted_hot_user_bounded_tasks(spark):
    """A planted 10⁶-event bot user: (1) rollup identical to the plain
    window, (2) the operator's own buckets split the bot's events over
    the adaptive bucket count — no single (user, bucket) task sees more
    than ~2/nb of the timeline, (3) sessions genuinely span bucket
    boundaries (carry-in exercised)."""
    import math

    from geoio_jl_spark.operators.asof import hot_key_buckets
    from geoio_jl_spark.operators.sessionize import (session_rollup,
                                                     sessionize_events)
    n_hot, n_buckets, threshold = 1_000_000, 32, 100_000
    # bot: 1e6 events, mostly 1s apart with a >gap break every 97k
    # events; plus 20 cold users with sparse timelines
    bot = spark.range(n_hot).select(
        F.lit(9999).alias("user_id"), F.col("id").alias("event_id"),
        (F.col("id") * 1_000_000
         + (F.col("id") / 97_000).cast("long") * F.lit(2 * GAP_US))
        .alias("ts_us"))
    cold = spark.range(n_hot, n_hot + 200).select(
        (F.col("id") % 20).alias("user_id"), F.col("id").alias("event_id"),
        (F.col("id") * 37 * GAP_US % (4 * 10 ** 12)).alias("ts_us"))
    ev = bot.unionByName(cold)
    got = session_rollup(ev, GAP_US, hot_threshold=threshold,
                         n_buckets=n_buckets)
    ref = session_rollup(ev, GAP_US, hot_threshold=None)
    a = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in ref.collect())
    assert a == b
    # bucket occupancy of the operator's own bucketing: the bot gets
    # the adaptive count and its timeline is spread evenly over it
    nb = min(n_buckets, math.ceil(n_hot / threshold))
    occ = (hot_key_buckets(ev, "user_id", "ts_us", threshold, n_buckets)
           .filter("user_id = 9999").groupBy("_bkt").count().collect())
    assert len(occ) == nb == 10
    assert max(r["count"] for r in occ) <= 2 * n_hot // nb
    # carry-in exercised: with breaks every 97k events and ~100k-event
    # buckets, most buckets CONTINUE the previous bucket's session
    labels = sessionize_events(ev.filter("user_id = 9999"), GAP_US,
                               hot_threshold=threshold, n_buckets=n_buckets)
    n_sessions = labels.agg(F.countDistinct("sess_id")).first()[0]
    assert n_sessions == 11  # 1e6 / 97k breaks + 1


def test_skew_path_edge_cases(spark):
    """Single-event users, duplicate timestamps (tiebreak ordering), a
    one-session user spanning every bucket (all n_new=0 after the
    first), a hot user whose events share one timestamp (span 1: one
    bucket) and an empty input — exact label parity with the plain
    window at 1, 3 and 8 shuffle partitions."""
    import pandas as pd
    from geoio_jl_spark.operators.asof import hot_key_buckets
    from geoio_jl_spark.operators.sessionize import sessionize_events
    rows = []
    rows.append((1, 0, 5 * GAP_US))                     # singleton
    rows += [(2, i, 10 * GAP_US + (i // 3)) for i in range(12)]  # dup ts
    rows += [(3, i, i * (GAP_US // 2)) for i in range(40)]  # one session
    rows += [(4, i, i * 2 * GAP_US) for i in range(15)]  # all new
    rows += [(5, i, 7 * GAP_US) for i in range(30)]     # one timestamp
    ev = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "event_id", "ts_us"]))
    key = ["user_id", "event_id", "ts_us", "sess_id"]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in (1, 3, 8):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            plain = sessionize_events(ev, GAP_US, hot_threshold=None)
            hot = sessionize_events(ev, GAP_US, hot_threshold=0,
                                    n_buckets=8)
            assert (sorted(map(tuple, plain.select(*key).collect()))
                    == sorted(map(tuple, hot.select(*key).collect()))), parts
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # user 3: one session despite spanning all 8 buckets
    assert hot.filter("user_id = 3").agg(
        F.countDistinct("sess_id")).first()[0] == 1
    # user 5: hot, but a span of 1 puts every event in bucket 0
    b5 = hot_key_buckets(ev.filter("user_id = 5"), "user_id", "ts_us", 0, 8)
    assert {(r["_hot"], r["_bkt"]) for r in b5.collect()} == {(True, 0)}
    assert {r["sess_id"] for r in hot.filter("user_id = 5").collect()} == {1}
    # empty input: no rows, same columns
    empty = sessionize_events(ev.limit(0), GAP_US, hot_threshold=0,
                              n_buckets=8)
    assert empty.columns == [*ev.columns, "sess_id"]
    assert empty.collect() == []


# ---------------------------------------------------------------------------
# Streaming skew path: sessionize_sharded (state keyed by user × time
# shard) + stitch_partial_sessions == the batch sessions.
# ---------------------------------------------------------------------------


def test_sharded_streaming_sessionize_differential(spark, tmp_path):
    import numpy as np
    from geoio_jl_spark.operators.sessionize import session_rollup
    from geoio_jl_spark.streaming.pipeline import (sessionize_sharded,
                                                   stitch_partial_sessions)
    shard_s = 2 * GAP_S
    shard_us = shard_s * 1_000_000
    rng = np.random.default_rng(7)
    rows = []
    eid = 0
    # hot user 99: 4000 events in bursts crossing shard boundaries
    t = 0
    for _ in range(4000):
        t += int(rng.integers(1, GAP_US // 6))
        if rng.random() < 0.03:
            t += int(GAP_US * 1.1)  # break that can land intra-shard
        rows.append((99, eid, t)); eid += 1
    # cold users: sparse
    for u in range(5):
        t = int(rng.integers(0, GAP_US))
        for _ in range(30):
            t += int(rng.integers(1, 4 * GAP_US))
            rows.append((u, eid, t)); eid += 1
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "ts_us"])
    ev = spark.createDataFrame(pdf)

    src = str(tmp_path / "ev_sharded")
    (ev.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
       .coalesce(1).write.parquet(src))
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = sessionize_sharded(stream, gap_seconds=GAP_S,
                             shard_seconds=shard_s, use_timeout=False)
    q = (out.writeStream.format("memory").queryName("sharded_sessions")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck_sh")).start())
    q.awaitTermination(180)
    closed = {tuple(r) for r in spark.sql(
        "SELECT user_id, shard, session_start_us, session_end_us, n_events"
        " FROM sharded_sessions").collect()}

    # pandas reference: partial sessions per (user, shard)
    partials = []
    pdf["shard"] = pdf["ts_us"] // shard_us
    for (u, sh), grp in pdf.groupby(["user_id", "shard"]):
        cur = None
        for us in sorted(grp["ts_us"]):
            if cur is None:
                cur = [us, us, 1]
            elif us - cur[1] > GAP_US:
                partials.append((u, sh, *cur))
                cur = [us, us, 1]
            else:
                cur = [cur[0], us, cur[2] + 1]
        partials.append((u, sh, *cur, "open"))
    all_partials = {p[:5] for p in partials}
    trailing = {p[:5] for p in partials if len(p) == 6}
    # one availableNow batch: exactly the non-trailing partials close
    assert closed == all_partials - trailing
    assert len(closed) > 20  # the hot user produced real shard volume

    # stitching ALL partials (closed + trailing, i.e. what a timeout
    # flush would emit) reproduces the batch sessions exactly
    pall = spark.createDataFrame(
        pd.DataFrame(sorted(all_partials),
                     columns=["user_id", "shard", "session_start_us",
                              "session_end_us", "n_events"]))
    stitched = stitch_partial_sessions(pall, gap_seconds=GAP_S)
    batch = session_rollup(ev, GAP_US, hot_threshold=1000, n_buckets=8)
    a = sorted((r["user_id"], r["session_start_us"],
                r["session_end_us"], r["n_events"])
               for r in stitched.collect())
    b = sorted((r["user_id"], r["start_us"], r["end_us"], r["n_events"])
               for r in batch.collect())
    assert a == b
    # skew evidence: the hot user's state fans out across many shard keys
    hot_shards = {sh for (u, sh, *_) in all_partials if u == 99}
    assert len(hot_shards) > 10
