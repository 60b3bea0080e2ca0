"""As-of join — for each left row, the most recent right row with
``right.ts <= left.ts`` within a partition key (the classic event-stream
enrichment the reference lacks; SURVEY.md §2.4 engine additions).

From-scratch Spark implementation: tag + union both sides, sort within the
key partition by (ts, right-first), carry the last non-null right payload
forward with a window ``last(..., ignorenulls)`` — one shuffle on the key,
no range-join blowup.  Differentially tested against DuckDB's *native*
``ASOF JOIN`` in the oracle gate.

Skew: a window partitioned by the bare key serializes one hot key (a bot
user with 10⁷ events) into a single task.  ``hot_key_buckets`` (shared
with operators/sessionize.py) splits each key with more than
``hot_threshold`` rows into time-range buckets, so the carry-forward
window runs partitioned by (key, bucket).  A bucket's first rows cannot
see right rows of earlier buckets; one small aggregate per hot bucket
(its last right payload) and a running last over earlier buckets give
each bucket's carry-in, joined back by broadcast as a fix-up:
``_match = coalesce(_match, _cin)`` — bounded task size, identical rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hot_key_buckets(df: DataFrame, key: str, ts: str,
                    hot_threshold: int | None,
                    n_buckets: int) -> DataFrame:
    """``df`` + ``_bkt`` (time-range bucket within the key, 0 for every
    key that is not hot) + ``_hot`` (the key has more than
    ``hot_threshold`` rows; ``None`` makes no key hot).

    A hot key with n rows gets ``min(n_buckets, ceil(n / hot_threshold))``
    buckets, so a key just over the threshold gets 2 instead of always
    ``n_buckets``.  Buckets are monotone in ``ts`` (numeric, timestamp or
    date), so equal timestamps share a bucket and every row of bucket b
    is earlier than every row of bucket b + 1."""
    if hot_threshold is None:
        return df.withColumn("_bkt", F.lit(0)).withColumn(
            "_hot", F.lit(False))
    stats = (df.groupBy(key)
             .agg(F.count("*").alias("_n"),
                  F.min(ts).alias("_tmin"), F.max(ts).alias("_tmax"))
             .filter(F.col("_n") > hot_threshold))
    ts_type = dict(df.dtypes)[ts]

    def _num(c: Column) -> Column:
        if "timestamp" in ts_type:  # incl. timestamp_ntz (no double cast)
            return F.unix_micros(c.cast("timestamp")).cast("double")
        if ts_type == "date":
            return F.datediff(c, F.lit("1970-01-01")).cast("double")
        return c.cast("double")

    nb = F.least(F.lit(n_buckets),
                 F.ceil(F.col("_n") / F.lit(max(hot_threshold, 1)))
                 .cast("int"))
    # double math only picks the split point; ordering inside a bucket
    # still uses the exact ts column
    span = _num(F.col("_tmax")) - _num(F.col("_tmin")) + F.lit(1.0)
    frac = (_num(F.col(ts)) - _num(F.col("_tmin"))) / span
    # least() skips nulls, so cold keys are set to 0 explicitly
    return (df.join(F.broadcast(stats), key, "left")
            .withColumn("_hot", F.col("_n").isNotNull())
            .withColumn("_bkt", F.when(
                F.col("_hot"),
                F.least(F.floor(frac * nb).cast("int"), nb - F.lit(1)))
                .otherwise(F.lit(0)))
            .drop("_n", "_tmin", "_tmax"))


def asof_join(left: DataFrame, right: DataFrame, on: str, ts: str,
              right_cols: list[str] | None = None,
              how: str = "inner",
              hot_threshold: int | None = 1_000_000,
              n_buckets: int = 32) -> DataFrame:
    """Backward (inclusive) as-of join.

    Result: all left columns + the matched right payload columns (renamed
    ``asof_<col>``). ``how='inner'`` drops left rows with no prior right
    row (DuckDB ASOF semantics); ``'left'`` keeps them with nulls.
    ``hot_threshold``: keys with more combined rows than this are split
    into time buckets (``hot_key_buckets``; ``None`` keeps every key in
    one bucket)."""
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, ts)]
    payload = F.struct(*[F.col(c) for c in right_cols],
                       F.col(ts).alias("_asof_ts"))
    r = right.select(
        F.col(on), F.col(ts), F.lit(1).alias("_is_right"),
        payload.alias("_payload"))
    l = left.withColumn("_is_right", F.lit(0)).withColumn(
        "_payload", F.lit(None).cast(r.schema["_payload"].dataType))
    lcols = [c for c in left.columns]
    l2 = l.select(on, ts, "_is_right", "_payload",
                  F.struct(*[F.col(c) for c in lcols]).alias("_lrow"))
    r2 = r.select(on, ts, "_is_right", "_payload",
                  F.lit(None).cast(l2.schema["_lrow"].dataType).alias("_lrow"))
    u = hot_key_buckets(l2.unionByName(r2), on, ts, hot_threshold,
                        n_buckets)

    # right rows sort before left rows at equal ts → inclusive <=
    w = (Window.partitionBy(on, "_bkt")
         .orderBy(F.col(ts).asc(), F.col("_is_right").desc())
         .rowsBetween(Window.unboundedPreceding, 0))
    carried = u.withColumn(
        "_match", F.last("_payload", ignorenulls=True).over(w))
    # carry-in per hot bucket = last right payload of STRICTLY earlier
    # buckets; ≤ n_buckets rows per hot key
    wb = (Window.partitionBy(on).orderBy(F.col("_bkt").asc())
          .rowsBetween(Window.unboundedPreceding, -1))
    carry = (u.filter(F.col("_hot"))
             .groupBy(on, "_bkt")
             .agg(F.max_by("_payload", F.when(F.col("_is_right") == 1,
                                              F.col(ts))).alias("_blast"))
             .withColumn("_cin", F.last("_blast", ignorenulls=True).over(wb))
             .filter(F.col("_cin").isNotNull())
             .select(on, "_bkt", "_cin"))
    out = (carried.filter(F.col("_is_right") == 0)
           .join(F.broadcast(carry), [on, "_bkt"], "left")
           .withColumn("_match", F.coalesce("_match", "_cin")))
    if how == "inner":
        out = out.filter(F.col("_match").isNotNull())
    cols = [F.col(f"_lrow.{c}").alias(c) for c in lcols]
    cols += [F.col(f"_match.{c}").alias(f"asof_{c}") for c in right_cols]
    cols.append(F.col("_match._asof_ts").alias("asof_ts"))
    return out.select(*cols)
