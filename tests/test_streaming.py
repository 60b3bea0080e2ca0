"""Structured Streaming parity: streaming results must equal the batch
operator on the same input (availableNow file-source → memory sink)."""

import pandas as pd
from pyspark.sql import functions as F

from geoio_jl_spark import dialect as D
from geoio_jl_spark.streaming.pipeline import stream_assign_cells, windowed_event_counts


def _as_dir(src: str, tmp_path, name: str) -> str:
    """File-stream sources need a directory; symlink the parquet file in."""
    import os
    d = tmp_path / name
    d.mkdir()
    os.symlink(src, d / os.path.basename(src))
    return str(d)


def test_windowed_counts_match_batch(spark, sf_dir, tmp_path):
    events_path = _as_dir(f"{sf_dir}/events.parquet", tmp_path, "events_dir")
    schema = spark.read.parquet(events_path).schema
    # parquet timestamps infer as TimestampNTZ; watermarks need TimestampType
    stream = spark.readStream.schema(schema).parquet(events_path) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = windowed_event_counts(stream)
    q = (
        out.writeStream.format("memory").queryName("win_counts")
        .outputMode("complete").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM win_counts").collect()
    batch = (
        spark.read.parquet(events_path)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.floor(F.col("value") * 1000000).cast("bigint"))
             .alias("value_sum_e6"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "value_sum_e6")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))


def test_stream_assign_cells_stateless(spark, sf_dir, tmp_path):
    docs_path = _as_dir(f"{sf_dir}/documents.parquet", tmp_path, "docs_dir")
    schema = spark.read.parquet(docs_path).schema
    stream = (
        spark.readStream.schema(schema).parquet(docs_path)
        .withColumn("lon_i", F.expr(D.LON_I.format(id="doc_id")))
        .withColumn("lat_i", F.expr(D.LAT_I.format(id="doc_id")))
    )
    celled = stream_assign_cells(stream, res=3)
    q = (
        celled.select("doc_id", "cell_id").writeStream.format("memory")
        .queryName("celled").outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.awaitTermination(120)
    got = {(r["doc_id"], r["cell_id"])
           for r in spark.sql("SELECT * FROM celled").collect()}
    batch = {
        (r["doc_id"], r["cell_id"])
        for r in spark.read.parquet(docs_path)
        .withColumn("lon_i", F.expr(D.LON_I.format(id="doc_id")))
        .withColumn("lat_i", F.expr(D.LAT_I.format(id="doc_id")))
        .withColumn("cell_id", F.expr(D.cell_id_sql("lon_i", "lat_i", 3)))
        .select("doc_id", "cell_id").collect()
    }
    assert got == batch


def test_stream_exact_dedup_first_wins(spark, tmp_path):
    """Streaming dedup passes each distinct text once and keeps state
    bounded by the watermark (dropDuplicatesWithinWatermark)."""
    import os

    from geoio_jl_spark.streaming.pipeline import stream_exact_dedup

    src = tmp_path / "docs_dir"
    src.mkdir()
    pdf = pd.DataFrame({
        "doc_id": range(8),
        "ts": pd.to_datetime([f"2024-01-01 10:0{i % 4}:00" for i in range(8)]),
        "text": ["alpha", "beta", "alpha", "gamma",
                 "beta", "alpha", "delta", "gamma"],
    })
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src / "p"))
    files = [os.path.join(str(src / "p"), f)
             for f in os.listdir(str(src / "p")) if f.endswith(".parquet")]
    schema = spark.read.parquet(*files).schema
    stream = spark.readStream.schema(schema).parquet(str(src / "p")) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = stream_exact_dedup(stream)
    q = (out.writeStream.format("memory").queryName("dedup_stream")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
         .start())
    q.awaitTermination(120)
    got = spark.sql("SELECT text FROM dedup_stream").collect()
    assert sorted(r["text"] for r in got) == ["alpha", "beta", "delta", "gamma"]


def test_stream_url_dedup_canonical_variants_collapse(spark, tmp_path):
    """Streaming URL dedup: case/utm/fragment/port variants of one page
    collapse to a single output row; distinct pages all pass."""
    import os

    from geoio_jl_spark.streaming.pipeline import stream_url_dedup

    src = tmp_path / "urls_dir"
    src.mkdir()
    pdf = pd.DataFrame({
        "doc_id": range(6),
        "ts": pd.to_datetime([f"2024-01-01 10:0{i}:00" for i in range(6)]),
        "url": [
            "https://www.a.com/p?id=1",
            "HTTPS://WWW.A.COM:443/p?utm_source=x&id=1#frag",  # same page
            "https://a.com/p/?id=1",                           # same page
            "https://a.com/p?id=2",                            # different
            "https://b.org/q",
            "https://B.ORG/q#top",                             # dup of b
        ],
    })
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src / "p"))
    schema = spark.read.parquet(str(src / "p")).schema
    stream = spark.readStream.schema(schema).parquet(str(src / "p")) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = stream_url_dedup(stream)
    q = (out.writeStream.format("memory").queryName("url_stream")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_url"))
         .start())
    q.awaitTermination(120)
    got = spark.sql("SELECT canon_url FROM url_stream").collect()
    assert sorted(r["canon_url"] for r in got) == [
        "https://a.com/p?id=1", "https://a.com/p?id=2", "https://b.org/q"]


def test_sessionize_append_evicts_on_watermark(spark, tmp_path):
    """Append mode: a session is emitted, and its state freed, only once
    the event-time watermark passes its last event plus the gap.  Two
    files, one per micro-batch: the first file's sessions stay in state
    until the second file moves the watermark past them."""
    import os

    from geoio_jl_spark.streaming.pipeline import sessionize

    gap_us = 1800 * 1_000_000
    src = tmp_path / "sess_src"
    src.mkdir()
    files = [[(1, 0), (1, 60_000_000), (1, 120_000_000), (2, 1_000_000)],
             [(1, 10 * gap_us), (2, 10 * gap_us + 5)]]
    for i, rows in enumerate(files):
        path = src / f"part{i}.parquet"
        pd.DataFrame({"user_id": [u for u, _ in rows],
                      "ts": pd.to_datetime([t for _, t in rows], unit="us",
                                           utc=True)}
                     ).to_parquet(path, coerce_timestamps="us")
        os.utime(path, (1_000_000 + i, 1_000_000 + i))  # file order
    schema = spark.read.parquet(str(src)).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src))
              .withWatermark("ts", "0 seconds"))
    emitted = {}

    def collect(df, batch_id):
        emitted[batch_id] = sorted(
            tuple(r) for r in df.select(
                "user_id", "session_start_us", "session_end_us",
                "n_events").collect())

    q = (sessionize(stream).writeStream.foreachBatch(collect)
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck_sess")).start())
    assert q.awaitTermination(180)
    first_file = [(1, 0, 120_000_000, 3), (2, 1_000_000, 1_000_000, 1)]
    assert emitted[0] == [] and emitted[1] == []
    assert sorted(r for rows in emitted.values() for r in rows) == first_file
    # the second file's sessions stay open: no later event passes them
    state = [p["stateOperators"][0]["numRowsTotal"]
             for p in q.recentProgress]
    assert max(state) == 4 and state[-1] == 2


def test_stream_pii_and_decontaminate_compose(spark, sf_dir, tmp_path):
    """Round-5 webtext kernels in a streaming query.  PII redaction is
    stateless (runs directly in append mode); decontamination carries a
    per-doc aggregation, so it applies per micro-batch through
    foreachBatch — the repo's established pattern for batch operators
    with aggregations (each doc's grams live in one row, so per-batch
    application equals the batch result)."""
    from geoio_jl_spark.operators.decontaminate import decontaminate
    from geoio_jl_spark.operators.pii import redact_pii

    docs_path = _as_dir(f"{sf_dir}/documents.parquet", tmp_path, "docs_dir")
    batch_docs = spark.read.parquet(docs_path)
    bench = batch_docs.filter(F.col("doc_id") % 7 == 0)

    def compose(df):
        red = redact_pii(df).select("doc_id", "clean_text", "n_emails")
        return red.join(decontaminate(df, bench, n=4), "doc_id")

    got_rows = []

    def sink(bdf, _epoch):
        got_rows.extend(map(tuple, compose(bdf).collect()))

    stream = spark.readStream.schema(batch_docs.schema).parquet(docs_path)
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_pd"))
        .start()
    )
    q.awaitTermination(120)
    want = sorted(map(tuple, compose(batch_docs).collect()))
    assert sorted(got_rows) == want and len(want) > 0


def test_stream_minhash_dedup_incremental(spark, tmp_path):
    """Cross-batch near-dup dedup with a persistent LSH signature store:
    the first batch claims its buckets; a later batch's near-dup of an
    already-kept doc is dropped, fresh docs and within-batch first-wins
    survive."""
    from geoio_jl_spark.streaming.pipeline import stream_minhash_dedup

    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "kept")
    store = str(tmp_path / "sigstore")
    schema = "doc_id long, text string"

    t1 = "spark shuffle scan sort join batch stream row data agg merge"
    t2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa mu"
    t3 = "one two three four five six seven eight nine ten eleven twelve"

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (stream_minhash_dedup(stream, out, store)
             .trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / "ckpt_mh"))
             .start())
        q.awaitTermination(120)

    import pyarrow as pa
    import pyarrow.parquet as pq

    def add_file(name, rows):
        pq.write_table(pa.table({"doc_id": pa.array([r[0] for r in rows],
                                                    pa.int64()),
                                 "text": [r[1] for r in rows]}),
                       str(src / name))

    add_file("f1.parquet", [(1, t1), (2, t2)])
    run_once()
    kept1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept1 == {1, 2}

    # batch 2: doc 4 duplicates doc 1 (cross-batch), docs 5/6 duplicate
    # each other (within-batch, min id wins), doc 7 fresh... doc 3 fresh
    add_file("f2.parquet", [(4, t1), (5, t3), (6, t3)])
    run_once()
    kept2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept2 == {1, 2, 5}
    # the store holds buckets only for kept docs
    n_store = spark.read.parquet(store).count()
    assert n_store > 0


def test_stream_tile_counts_rollup(spark, tmp_path):
    """Streaming tile store: epoch partials fold into the same pyramid
    a batch pass over the union computes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geoio_jl_spark.operators.pyramid import tile_pyramid
    from geoio_jl_spark.streaming.pipeline import (rollup_tiles,
                                                   stream_tile_counts)

    src = tmp_path / "pts"
    src.mkdir()
    store = str(tmp_path / "tiles")

    def add_file(name, ids):
        pq.write_table(pa.table({
            "lon_i": pa.array([(i * 48271) % 3600 for i in ids],
                              pa.int64()),
            "lat_i": pa.array([(i * 69621) % 1700 for i in ids],
                              pa.int64())}), str(src / name))

    def run_once():
        stream = spark.readStream.schema("lon_i long, lat_i long") \
            .parquet(str(src))
        q = (stream_tile_counts(stream, store, base_tile=32)
             .trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / "ckpt_tc"))
             .start())
        q.awaitTermination(120)

    add_file("f1.parquet", range(0, 400))
    run_once()
    add_file("f2.parquet", range(400, 1000))
    run_once()

    got = {(r["zoom"], r["tx"], r["ty"]): r["n"]
           for r in rollup_tiles(spark, store, max_zoom=4).collect()}
    pts = spark.range(1000).select(
        ((F.col("id") * 48271) % 3600).alias("lon_i"),
        ((F.col("id") * 69621) % 1700).alias("lat_i"))
    # batch pyramid over the union, adjusted to the same finest tiling
    want = {(r["zoom"], r["tx"], r["ty"]): r["n"]
            for r in tile_pyramid(pts, "lon_i", "lat_i", max_zoom=4,
                                  base_tile=32).collect()}
    assert got == want
    # epochs are immutable partials: two epochs present in the store
    assert (spark.read.parquet(store).select("epoch").distinct()
            .count() == 2)


def test_stream_minhash_dedup_retry_idempotent_and_short_docs(spark, tmp_path):
    """(a) Replaying the same input through a FRESH checkpoint (the
    at-least-once retry shape: same epoch ids, store already populated)
    must leave the kept set unchanged — the epoch-keyed overwrite plus
    own-epoch exclusion make the retry rewrite, not drop, its batch.
    (b) Docs too short to shingle pass through."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geoio_jl_spark.streaming.pipeline import stream_minhash_dedup

    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "kept")
    store = str(tmp_path / "sigstore")
    t1 = "spark shuffle scan sort join batch stream row data agg merge"
    pq.write_table(pa.table({
        "doc_id": pa.array([1, 2, 3], pa.int64()),
        "text": [t1, t1 + " extra", "tiny doc"]}),
        str(src / "f1.parquet"))

    def run(ckpt):
        stream = spark.readStream.schema("doc_id long, text string") \
            .parquet(str(src))
        q = (stream_minhash_dedup(stream, out, store)
             .trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / ckpt))
             .start())
        q.awaitTermination(120)

    run("c1")
    first = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert 3 in first                      # short doc passes through
    assert 1 in first and 2 not in first   # near-dup loses to min id
    run("c2")                              # full replay = retry shape
    second = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert second == first


def test_stitch_merges_nested_partials(spark):
    """A late-reopened shard can emit a partial NESTED inside an
    earlier, longer one — the running-max comparison must keep the
    session whole where a lag() comparison would split it."""
    from geoio_jl_spark.streaming.pipeline import stitch_partial_sessions

    rows = [(1, 0, 10_000_000_000, 5),          # [0s, 10000s]
            (1, 5_000_000_000, 5_000_000_000, 1),   # nested [5000s]
            (1, 11_500_000_000, 11_600_000_000, 2)]  # 1500s after 10000s
    df = spark.createDataFrame(
        rows, "user_id long, session_start_us long, "
              "session_end_us long, n_events long")
    got = stitch_partial_sessions(df, gap_seconds=1800).collect()
    assert len(got) == 1
    assert got[0]["session_start_us"] == 0
    assert got[0]["session_end_us"] == 11_600_000_000
    assert got[0]["n_events"] == 8


def test_stream_ingest_upserts_store(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1) upsert into the corpus
    store; re-crawled-unchanged urls write no delta rows, a changed url
    updates, resolve equals the batch ground truth."""
    import os

    from geoio_jl_spark.plans import store as S
    from geoio_jl_spark.streaming.pipeline import stream_ingest

    src = tmp_path / "crawl"
    src.mkdir()
    b1 = pd.DataFrame({"url": ["u1", "u2", "u3"],
                       "text": ["a", "b", "c"]})
    b2 = pd.DataFrame({"url": ["u2", "u3", "u4"],
                       "text": ["b", "C2", "d"]})
    spark.createDataFrame(b1).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(b2).coalesce(1).write.parquet(str(src / "f2"))
    # the file source orders batches by modification time: pin mtimes so
    # f1 strictly precedes f2 (same-second writes would tie)
    import time as _t
    now = _t.time()
    for d, ts in (("f1", now - 60), ("f2", now)):
        for f in os.listdir(str(src / d)):
            os.utime(os.path.join(str(src / d), f), (ts, ts))
    schema = spark.read.parquet(str(src / "f1")).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src) + "/*"))
    st = str(tmp_path / "store")
    q = (stream_ingest(stream, st,
                       checkpoint=str(tmp_path / "ckpt_ingest"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    man = S.read_manifest(st)
    assert len(man["epochs"]) == 2
    total_inserted = sum(c["inserted"] for c in man["counts"].values())
    total_updated = sum(c["updated"] for c in man["counts"].values())
    assert total_inserted == 4                 # u1 u2 u3 u4 once each
    assert total_updated == 1                  # u3 changed
    got = {r["url"]: r["text"]
           for r in S.resolve(spark, st).select("url", "text").collect()}
    assert got == {"u1": "a", "u2": "b", "u3": "C2", "u4": "d"}
