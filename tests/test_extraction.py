"""html→text extraction: byte-identical per url (BASELINE.json input_hint),
golden-hash pinned."""

import hashlib

from pyspark.sql import functions as F

from geoio_jl_spark.datagen import doc_text, webpages
from geoio_jl_spark.functions.textkernels import EXTRACT_VERSION, html_to_text

# golden pin: sha256 of doc_text(i) for canary ids — if datagen or the
# kernel drifts, these fail loudly (FIXTURES.md §7)
GOLDEN = {
    0: "doc0",
    1: "doc1",
    17: "doc17",
}


def test_extraction_byte_identity(spark):
    pages = webpages(spark, 500)
    bad = (
        pages.withColumn("extracted", html_to_text("html"))
        .filter(
            F.col("extracted").isNull() | (F.col("extracted") != F.col("text"))
        )
        .count()
    )
    assert bad == 0


def test_extraction_handles_escapes(spark):
    # vocab contains 'x&y' and 'p<q' — the escape/unescape round trip
    texts = [doc_text(i) for i in range(200)]
    assert any("x&y" in t for t in texts)
    assert any("p<q" in t for t in texts)


def test_golden_hashes(spark):
    # pin the extraction output of canary docs end-to-end through Spark
    pages = webpages(spark, 32).withColumn("extracted", html_to_text("html"))
    rows = {r["url"]: r["extracted"] for r in pages.collect()}
    for i in (0, 1, 17):
        url = f"https://example{i}.test/p/{i}"
        expect = doc_text(i)
        assert rows[url] == expect
        assert hashlib.sha256(rows[url].encode()).hexdigest() == \
            hashlib.sha256(expect.encode()).hexdigest()


def test_version_pinned():
    assert EXTRACT_VERSION == "1.0.0"


def test_fused_extract_page_matches_separate_kernels(spark):
    from geoio_jl_spark.functions.textkernels import (
        extract_page, geotag_lat, geotag_lon,
    )
    # page 7 loses its geo.position tag: both parses must give null lat/lon
    untagged = F.regexp_replace(F.col("html").cast("string"),
                                "geo.position", "description").cast("binary")
    pages = webpages(spark, 1000).withColumn(
        "html", F.when(F.col("url").endswith("/p/7"), untagged)
        .otherwise(F.col("html"))).persist()
    fused = pages.select(
        "url", extract_page("html").alias("p")
    ).select("url", F.col("p.text").alias("text"),
             F.col("p.lat").alias("lat"), F.col("p.lon").alias("lon"))
    sep = pages.select(
        "url", html_to_text("html").alias("text"),
        geotag_lat(F.col("html").cast("string")).alias("lat"),
        geotag_lon(F.col("html").cast("string")).alias("lon"))
    assert fused.exceptAll(sep).count() == 0
    assert sep.exceptAll(fused).count() == 0
    assert fused.filter(F.col("lat").isNull() & F.col("lon").isNull()) \
        .count() == 1
    # negative coordinates survive (regression: marker-length off-by-one)
    neg = fused.filter(F.col("lat") < 0).count()
    assert neg > 0


def test_rolling_fingerprint(spark):
    from geoio_jl_spark.functions.textkernels import rolling_fingerprint
    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame({
        "text": ["hello world", "hello world", "hello worle", None]}))
    fps = [r["fp"] for r in
           df.select(rolling_fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]          # identical text -> identical fingerprint
    assert fps[0] != fps[2]          # one-char change -> different
    assert fps[3] is None
    # reference value computed independently
    MOD, BASE, h = (1 << 61) - 1, 257, 0
    for b in b"hello world":
        h = (h * BASE + b) % MOD
    assert fps[0] == h


def test_determinism_across_partitionings(spark):
    a = webpages(spark, 300, partitions=2).select("url", "text").collect()
    b = webpages(spark, 300, partitions=7).select("url", "text").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
