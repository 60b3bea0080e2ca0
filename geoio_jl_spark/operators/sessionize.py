"""Gap-based sessionization, skew-safe (SURVEY.md §2.8 engine addition).

A session window partitioned by the bare user key serializes one hot key
(a bot with 10⁷ events) into a single task.  The as-of join's
``hot_key_buckets`` (operators/asof.py) splits every user with more than
``hot_threshold`` events into time-range buckets (0 for everyone else),
and one plan serves all users:

- a window partitioned by (user, bucket) numbers sessions locally — each
  bucket's first event starts a local session — bounded task size;
- one (``_first``, ``_last``, ``_n``) summary per hot bucket (≤ n_buckets
  rows per hot user) decides whether the bucket's first event really
  starts a session (``fn``: more than one gap after the earlier buckets'
  last event, or no earlier bucket) and the offset that renumbers the
  local ids into the exact global numbering, joined back by broadcast
  as a fix-up: ``sess_id = _local + coalesce(_off, 0)``.

Every user gets the same (user, sess_id) labels as the single-window
form: sess_id is the running count of session starts in (ts, tiebreak)
order, so the driver oracle (a plain SQL window) checks the bucketed
plan whenever any user crosses the threshold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geoio_jl_spark.operators.asof import hot_key_buckets


def _flag(prev_ts: Column, ts: Column, gap_us: int) -> Column:
    gap = ts - prev_ts
    return F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)


def sessionize_events(ev: DataFrame, gap_us: int,
                      user_col: str = "user_id", ts_col: str = "ts_us",
                      tiebreak_col: str = "event_id",
                      hot_threshold: int | None = 1_000_000,
                      n_buckets: int = 32) -> DataFrame:
    """Per-event session labels: input columns + ``sess_id`` (1-based
    running count of session starts per user, ordered by
    (ts, tiebreak)).  ``hot_threshold=None`` keeps every user in one
    bucket."""
    cols = ev.columns
    b = hot_key_buckets(ev, user_col, ts_col, hot_threshold, n_buckets)
    wkb = (Window.partitionBy(user_col, "_bkt")
           .orderBy(F.col(ts_col).asc(), F.col(tiebreak_col).asc()))
    local = b.withColumn(
        "_local",
        F.sum(_flag(F.lag(ts_col).over(wkb), F.col(ts_col), gap_us))
        .over(wkb.rowsBetween(Window.unboundedPreceding, 0)))
    # _off(b) = Σ_{b' < b} (_n − 1 + fn) − 1 + fn: a bucket adds its local
    # sessions, minus its first one unless that first event starts one
    wb = (Window.partitionBy(user_col).orderBy(F.col("_bkt").asc())
          .rowsBetween(Window.unboundedPreceding, -1))
    fix = (local.filter(F.col("_hot"))
           .groupBy(user_col, "_bkt")
           .agg(F.min(ts_col).alias("_first"), F.max(ts_col).alias("_last"),
                F.max("_local").alias("_n"))
           .withColumn("_fn", _flag(F.max("_last").over(wb),
                                    F.col("_first"), gap_us))
           .withColumn("_off",
                       F.coalesce(F.sum(F.col("_n") - 1 + F.col("_fn"))
                                  .over(wb), F.lit(0))
                       - 1 + F.col("_fn"))
           .select(user_col, "_bkt", "_off"))
    return (local.join(F.broadcast(fix), [user_col, "_bkt"], "left")
            .withColumn("sess_id",
                        (F.col("_local") + F.coalesce("_off", F.lit(0)))
                        .cast("bigint"))
            .select(*cols, "sess_id"))


def session_rollup(ev: DataFrame, gap_us: int,
                   user_col: str = "user_id", ts_col: str = "ts_us",
                   tiebreak_col: str = "event_id",
                   hot_threshold: int | None = 1_000_000,
                   n_buckets: int = 32) -> DataFrame:
    """(user, sess_id, n_events, start_us, end_us) — sessions can span
    buckets; the final group-by stitches them because sess_ids are
    already globally renumbered."""
    sess = sessionize_events(ev, gap_us, user_col, ts_col, tiebreak_col,
                             hot_threshold, n_buckets)
    return (sess.groupBy(user_col, "sess_id")
            .agg(F.count("*").alias("n_events"),
                 F.min(ts_col).alias("start_us"),
                 F.max(ts_col).alias("end_us")))
