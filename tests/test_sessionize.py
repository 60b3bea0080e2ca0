"""Sessionization: the streaming ``sessionize`` (native session_window
partials per user × time shard) + ``stitch_partial_sessions`` and the
skew-safe batch operator, each checked against one pandas gap-rule
reference and against each other."""

import pandas as pd
from pyspark.sql import functions as F

from geoio_jl_spark.streaming.pipeline import (sessionize,
                                               stitch_partial_sessions)

GAP_S = 1800
GAP_US = GAP_S * 1_000_000
SHARD_US = 2 * GAP_US  # sessionize's time-shard width


def _reference_sessions(pdf: pd.DataFrame, keys: list[str]) -> set:
    """Gap sessions per ``keys`` group of ``pdf`` (``keys`` + ``ts_us``
    columns): {(*key, start_us, end_us, n_events)}, open ones included.
    Two events at most ``GAP_US`` apart share a session."""
    out = set()
    for key, grp in pdf.groupby(keys):
        key = tuple(int(k) for k in (key if isinstance(key, tuple)
                                     else (key,)))
        cur = None
        for us in sorted(int(t) for t in grp["ts_us"]):
            if cur is not None and us - cur[1] <= GAP_US:
                cur = (cur[0], us, cur[2] + 1)
            else:
                if cur is not None:
                    out.add((*key, *cur))
                cur = (us, us, 1)
        out.add((*key, *cur))
    return out


def _stream_partials(spark, src: str, tmp_path, name: str,
                     user_col: str = "user_id"):
    """``sessionize`` over a parquet file stream of ``src`` in complete
    mode: every partial, still-open ones included."""
    schema = spark.read.parquet(src).schema
    # parquet timestamps infer as TimestampNTZ; session_window and
    # unix_micros need TimestampType
    stream = (spark.readStream.schema(schema).parquet(src)
              .withColumn("ts", F.col("ts").cast("timestamp")))
    q = (sessionize(stream, gap_seconds=GAP_S, user_col=user_col)
         .writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
         .start())
    assert q.awaitTermination(180)
    return spark.table(name)


def _ts_us(spark, src: str, user_col: str = "user_id") -> pd.DataFrame:
    """(user_col, ts_us, shard) of ``src`` for the pandas reference."""
    pdf = (spark.read.parquet(src)
           .select(user_col, F.unix_micros(F.col("ts").cast("timestamp"))
                   .alias("ts_us")).toPandas())
    pdf["shard"] = pdf["ts_us"] // SHARD_US
    return pdf


def _rows(df, *cols) -> list:
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _sf_events_dir(sf_dir, tmp_path) -> str:
    import os
    d = tmp_path / "events_dir"
    d.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


_PARTIAL = ["shard", "session_start_us", "session_end_us", "n_events"]
_SESSION = ["session_start_us", "session_end_us", "n_events"]


def test_sessionize_matches_reference(spark, sf_dir, tmp_path):
    src = _sf_events_dir(sf_dir, tmp_path)
    partials = _stream_partials(spark, src, tmp_path, "sessions")
    pdf = _ts_us(spark, src)
    assert (set(_rows(partials, "user_id", *_PARTIAL))
            == _reference_sessions(pdf, ["user_id", "shard"]))
    stitched = stitch_partial_sessions(partials, gap_seconds=GAP_S)
    got = _rows(stitched, "user_id", *_SESSION)
    assert got == sorted(_reference_sessions(pdf, ["user_id"]))
    assert len(got) > len(pdf["user_id"].unique())  # real session breaks


def test_batch_session_rollup_matches_streaming(spark, sf_dir, tmp_path):
    """The oracle-checked batch sessionization (q_session_rollup) and
    the streaming sessionizer carve identical sessions, row for row."""
    from geoio_jl_spark import queries as Q

    src = _sf_events_dir(sf_dir, tmp_path)
    partials = _stream_partials(spark, src, tmp_path, "sess_batch_parity")
    stitched = stitch_partial_sessions(partials, gap_seconds=GAP_S)
    batch = Q.q_session_rollup(spark, sf_dir)
    assert (_rows(stitched, "user_id", *_SESSION)
            == _rows(batch, "user_id", "start_us", "end_us", "n_events"))


def test_sessionize_user_col_roundtrip(spark, tmp_path):
    """A key not named user_id survives sessionize → stitch."""
    import numpy as np
    rng = np.random.default_rng(3)
    us = np.cumsum(rng.integers(1, GAP_US // 2, 300))
    us[::40] += 3 * GAP_US  # some real breaks
    src = str(tmp_path / "uid_src")
    (spark.createDataFrame(pd.DataFrame(
        {"uid": rng.integers(0, 4, 300), "ts_us": us}))
     .withColumn("ts", F.timestamp_micros("ts_us")).drop("ts_us")
     .coalesce(1).write.parquet(src))
    partials = _stream_partials(spark, src, tmp_path, "uid_sessions",
                                user_col="uid")
    stitched = stitch_partial_sessions(partials, gap_seconds=GAP_S,
                                       user_col="uid")
    assert (_rows(stitched, "uid", *_SESSION)
            == sorted(_reference_sessions(_ts_us(spark, src, "uid"),
                                          ["uid"])))


def test_sessionize_gap_boundary(spark, tmp_path):
    """Events exactly the gap apart share a session; one microsecond
    more splits them."""
    src = str(tmp_path / "gap_src")
    rows = [(1, 0), (1, GAP_US), (2, 0), (2, GAP_US + 1)]
    (spark.createDataFrame(rows, "user_id long, ts_us long")
     .withColumn("ts", F.timestamp_micros("ts_us")).drop("ts_us")
     .coalesce(1).write.parquet(src))
    partials = _stream_partials(spark, src, tmp_path, "gap_sessions")
    got = _rows(stitch_partial_sessions(partials, gap_seconds=GAP_S),
                "user_id", *_SESSION)
    assert got == [(1, 0, GAP_US, 2), (2, 0, 0, 1),
                   (2, GAP_US + 1, GAP_US + 1, 1)]


# ---------------------------------------------------------------------------
# Skew-safe batch sessionization (operators/sessionize.py): the hot path
# (time buckets + carry-in + renumbering) must label events identically
# to the single-window form.
# ---------------------------------------------------------------------------


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
# Streaming skew path: a hot user's partials fan out over time shards
# and stitch back into the batch sessions.
# ---------------------------------------------------------------------------


def test_sharded_streaming_sessionize_differential(spark, tmp_path):
    import numpy as np
    from geoio_jl_spark.operators.sessionize import session_rollup
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
    partials = _stream_partials(spark, src, tmp_path, "sharded_sessions")
    got = _rows(partials, "user_id", *_PARTIAL)
    pdf["shard"] = pdf["ts_us"] // SHARD_US
    assert set(got) == _reference_sessions(pdf, ["user_id", "shard"])
    # skew evidence: the hot user's state fans out across many shard keys
    assert len({sh for (u, sh, *_) in got if u == 99}) > 10

    stitched = stitch_partial_sessions(partials, gap_seconds=GAP_S)
    batch = session_rollup(ev, GAP_US, hot_threshold=1000, n_buckets=8)
    assert (_rows(stitched, "user_id", *_SESSION)
            == _rows(batch, "user_id", "start_us", "end_us", "n_events"))
