"""Log-structured corpus store — incremental crawl ingestion with
CDC/upsert semantics (the merge-on-read design Iceberg v2 / Hudi use,
re-expressed on plain parquet because this sandbox ships no lake-format
jars; the north rule's "Iceberg metadata tables" role).

Layout under ``store_dir``:

    base/                 compacted rows (one per key), epoch <= base_epoch
    delta/epoch=N/        per-ingest NEW + CHANGED rows only (CDC log)
    manifest.json         {base_epoch, epochs: [...], counts per epoch,
                           schema}

Scale shape, deliberately NOT copy-on-write: an ingest writes ONLY its
delta (O(changed rows)) — the 100-TB base is never rewritten per crawl
batch.  The first ingest records the table schema in the manifest, and
every later batch must match it (a drifted batch raises before it
writes).  Every read — ``resolve``, ``compact``, ``changes`` and the
count read-back in ``ingest`` — is ONE parquet scan over the base and
delta directories with that schema: no footer (schema-inference) jobs,
one ``FileScan`` instead of a union chain.  Readers resolve the latest
row per key with ONE partial-aggregable ``max_by(struct(...), epoch)``
groupBy (no window, no sort); ``compact`` folds deltas into a new base
when the delta tail grows.  Change detection hashes content with
``xxhash64`` and classifies the incoming batch by a single key join
against the latest ``content_hash`` per key, a lookup that reads only
``(key, content_hash, epoch)`` — the page columns are never read or
shuffled for it.  AQE picks the join strategy.

Idempotence: an epoch already in the manifest is skipped (re-submitting
a failed/duplicated ingest is a no-op), so the job is safely retryable —
the same contract as plans/checkpoint.py stages.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_OP_INSERT, _OP_UPDATE = "insert", "update"


def _manifest_path(store_dir: str) -> str:
    return os.path.join(store_dir, "manifest.json")


def read_manifest(store_dir: str) -> dict:
    p = _manifest_path(store_dir)
    if not os.path.exists(p):
        return {"base_epoch": None, "epochs": [], "counts": {}}
    with open(p) as fh:
        return json.load(fh)


def _write_manifest(store_dir: str, man: dict) -> None:
    os.makedirs(store_dir, exist_ok=True)
    tmp = _manifest_path(store_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(man, fh, indent=1)
    os.replace(tmp, _manifest_path(store_dir))


def _delta_dir(store_dir: str, epoch: int) -> str:
    return os.path.join(store_dir, "delta", f"epoch={epoch}")


def _base_dir(store_dir: str) -> str:
    """The committed base, surviving a compaction crash: prefer
    ``base``; fall back to ``base_old`` (a crash between compact's two
    renames leaves only the retired copy).  NEVER silently skip a
    missing base — that would resolve to delta-only rows and read as
    silent data loss."""
    base = os.path.join(store_dir, "base")
    if os.path.exists(base):
        return base
    old = os.path.join(store_dir, "base_old")
    if os.path.exists(old):
        return old
    raise ValueError(
        f"store at {store_dir} declares a base epoch but has no "
        "base/ or base_old/ directory (corrupt or mid-crash state)")


def _scan(spark: SparkSession, man: dict,
          paths: list[str]) -> DataFrame:
    """One parquet scan of ``paths`` with the manifest's schema.  A
    manifest without one was written before the schema was recorded;
    its files are read with an inferred schema instead."""
    reader = spark.read
    if "schema" in man:
        reader = reader.schema(T.StructType.fromJson(man["schema"]))
    return reader.parquet(*paths)


def _live(spark: SparkSession, store_dir: str,
          as_of_epoch: int | None = None) -> DataFrame:
    """Base + every delta after it (up to ``as_of_epoch``), as one
    scan.  Raises on an empty store and on history folded by
    compaction."""
    man = read_manifest(store_dir)
    if as_of_epoch is not None and man["base_epoch"] is not None \
            and as_of_epoch < man["base_epoch"]:
        raise ValueError(
            f"epoch {as_of_epoch} predates the compacted base "
            f"({man['base_epoch']}); that history has been folded")
    paths = []
    if man["base_epoch"] is not None:
        paths.append(_base_dir(store_dir))
    for e in man["epochs"]:
        if as_of_epoch is not None and e > as_of_epoch:
            continue
        if man["base_epoch"] is None or e > man["base_epoch"]:
            paths.append(_delta_dir(store_dir, e))
    if not paths:
        raise ValueError(f"empty store at {store_dir}")
    return _scan(spark, man, paths)


def resolve(spark: SparkSession, store_dir: str,
            key_col: str = "url",
            as_of_epoch: int | None = None) -> DataFrame:
    """Latest row per key across base + all deltas.

    One ``max_by(struct(cols), epoch)`` aggregation: partial-aggregable
    (map-side combine), no global sort, no window — the merge-on-read
    required at every read, priced as a single shuffle on the key.

    ``as_of_epoch`` gives TIME TRAVEL: the view as of that ingest epoch
    (delta directories after it are left out of the scan).  Raises once
    compaction has folded the requested history into a newer base —
    archive the CDC tail downstream if older snapshots must stay
    reachable."""
    allrows = _live(spark, store_dir, as_of_epoch)
    payload = [c for c in allrows.columns if c != key_col]
    picked = (allrows
              .groupBy(key_col)
              .agg(F.max_by(F.struct(*payload), F.col("epoch"))
                   .alias("_r")))
    return picked.select(key_col, *[F.col(f"_r.{c}").alias(c)
                                    for c in payload])


def _current_hashes(spark: SparkSession, store_dir: str,
                    key_col: str) -> DataFrame:
    """``(key, prev_hash)``: the latest ``content_hash`` per key — the
    CDC lookup, projected to the three columns it needs before the
    ``max_by`` so the page columns are neither read nor shuffled."""
    return (_live(spark, store_dir)
            .select(key_col, "content_hash", "epoch")
            .groupBy(key_col)
            .agg(F.max_by("content_hash", "epoch").alias("prev_hash")))


def _columns(schema: T.StructType) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in schema.fields}


def ingest(spark: SparkSession, store_dir: str, incoming: DataFrame,
           epoch: int, key_col: str = "url",
           content_cols: tuple[str, ...] = ("text",)) -> dict:
    """Upsert one crawl batch; returns the CDC counts.

    Writes ONLY new + changed rows (with ``op`` = insert/update and the
    replaced row's ``prev_hash``) to ``delta/epoch=N``; unchanged keys
    produce no bytes.  Duplicate keys inside the batch collapse to one
    deterministic winner (max content hash) before the diff.  A second
    call with an already-ingested epoch is a no-op.  A batch whose
    columns or types differ from the store's raises ``ValueError``
    before anything is written."""
    man = read_manifest(store_dir)
    if epoch in man["epochs"]:
        return {"epoch": epoch, "skipped": True,
                **man["counts"].get(str(epoch), {})}
    if man["epochs"] and epoch <= max(man["epochs"]):
        raise ValueError(
            f"epoch {epoch} not after last ingested {max(man['epochs'])}")
    inc = (incoming
           .withColumn("content_hash",
                       F.xxhash64(*[F.col(c) for c in content_cols])))
    # collapse in-batch duplicates deterministically
    payload = [c for c in inc.columns if c != key_col]
    inc = (inc.groupBy(key_col)
           .agg(F.max_by(F.struct(*payload), F.col("content_hash"))
                .alias("_r"))
           .select(key_col, *[F.col(f"_r.{c}").alias(c) for c in payload]))
    empty_store = not man["epochs"] and man["base_epoch"] is None
    if empty_store:
        delta = inc.withColumn("prev_hash", F.lit(None).cast("bigint"))
    else:
        delta = (inc.join(_current_hashes(spark, store_dir, key_col),
                          key_col, "left")
                 .filter(F.col("prev_hash").isNull()
                         | (F.col("prev_hash") != F.col("content_hash"))))
    delta = delta.select(
        key_col, *payload,
        F.when(F.col("prev_hash").isNull(), F.lit(_OP_INSERT))
         .otherwise(F.lit(_OP_UPDATE)).alias("op"),
        "prev_hash",
        F.lit(epoch).cast("int").alias("epoch"))
    if "schema" in man:
        want = T.StructType.fromJson(man["schema"])
        if _columns(delta.schema) != _columns(want):
            raise ValueError(
                f"batch columns {_columns(delta.schema)} do not match "
                f"the store's {_columns(want)}")
        delta = delta.select(*want.fieldNames())
    else:
        # nullable, as every column reads back from parquet
        man["schema"] = T.StructType(
            [T.StructField(f.name, f.dataType) for f in delta.schema]
        ).jsonValue()
    out = _delta_dir(store_dir, epoch)
    delta.write.mode("overwrite").parquet(out)
    # harvest counts from what was actually written (restart-safe)
    written = _scan(spark, man, [out])
    counts = {r["op"]: r["n"] for r in
              written.groupBy("op").agg(F.count("*").alias("n")).collect()}
    stats = {"inserted": int(counts.get(_OP_INSERT, 0)),
             "updated": int(counts.get(_OP_UPDATE, 0)),
             "ts": time.time()}
    man["epochs"].append(epoch)
    man["counts"][str(epoch)] = stats
    _write_manifest(store_dir, man)
    return {"epoch": epoch, "skipped": False, **stats}


def compact(spark: SparkSession, store_dir: str,
            key_col: str = "url") -> dict:
    """Fold base + deltas into a new base (one resolve + one write);
    the delta tail resets.  Run when the tail makes resolve's scan
    wide — the classic merge-on-read maintenance trade."""
    import shutil
    base = os.path.join(store_dir, "base")
    base_old = os.path.join(store_dir, "base_old")
    # recover a crash between the two renames of a previous compact:
    # restore the retired base before folding again
    if not os.path.exists(base) and os.path.exists(base_old):
        os.rename(base_old, base)
    man = read_manifest(store_dir)
    if not man["epochs"]:
        return {"compacted": False}
    resolved = resolve(spark, store_dir, key_col)
    new_base_epoch = max(man["epochs"])
    tmp = os.path.join(store_dir, "base_new")
    resolved.write.mode("overwrite").parquet(tmp)
    # commit order (each step leaves a recoverable state):
    #   1. base -> base_old            (reader falls back to base_old)
    #   2. base_new -> base            (new base live, manifest stale:
    #                                   resolve re-reads deltas on top of
    #                                   the folded base — max_by per key
    #                                   is idempotent, same answer)
    #   3. manifest flips              (epochs emptied atomically)
    #   4. base_old + deltas removed   (garbage; ignored either way)
    if os.path.exists(base_old):
        shutil.rmtree(base_old)
    if os.path.exists(base):
        os.rename(base, base_old)
    os.rename(tmp, base)
    man["base_epoch"] = new_base_epoch
    old_epochs = man["epochs"]
    man["epochs"] = []
    _write_manifest(store_dir, man)
    if os.path.exists(base_old):
        shutil.rmtree(base_old)
    for e in old_epochs:
        d = _delta_dir(store_dir, e)
        if os.path.exists(d):
            shutil.rmtree(d)
    return {"compacted": True, "base_epoch": new_base_epoch}


def changes(spark: SparkSession, store_dir: str,
            since_epoch: int | None = None) -> DataFrame:
    """The CDC log: every insert/update row with op + prev_hash, readable
    per epoch range (the feed a downstream index/trainer tails).  Raises
    once the epochs have been compacted away (the log is the delta
    tail; archive it downstream before compacting if you need history)."""
    man = read_manifest(store_dir)
    epochs = [e for e in man["epochs"]
              if since_epoch is None or e > since_epoch]
    if not epochs:
        raise ValueError(
            f"no delta epochs after {since_epoch} in {store_dir} "
            "(compaction folds the CDC tail into the base)")
    return _scan(spark, man, [_delta_dir(store_dir, e) for e in epochs])


def stats(spark: SparkSession, store_dir: str) -> DataFrame:
    """Manifest as a DataFrame: one row per ingest epoch with its CDC
    counts — the per-run metrics table the north rule's lineage story
    reads (pairs with plans/checkpoint.py's per-stage metrics)."""
    man = read_manifest(store_dir)
    rows = [(int(e),
             int(man["counts"].get(str(e), {}).get("inserted", 0)),
             int(man["counts"].get(str(e), {}).get("updated", 0)),
             float(man["counts"].get(str(e), {}).get("ts", 0.0)),
             e <= (man["base_epoch"] or -1))
            for e in sorted({*man["epochs"],
                             *map(int, man["counts"].keys())})]
    return spark.createDataFrame(
        rows, "epoch int, inserted bigint, updated bigint, "
              "ts double, compacted boolean")
