"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Each entry exercises an operator from SURVEY.md §2 over the driver's
read-only parquet tables.  Geo columns are *derived* from integer ids with
the shared formulas in ``dialect`` (the DuckDB oracle only sees the ten
pre-registered views), so every comparison is exact:

- integer arithmetic end-to-end for coordinates / cells / distances,
- identical-order IEEE double ops where doubles are unavoidable,
- ``floor(x * 1e6)`` bigints for summed doubles (order-independent).

Column names are aliased identically on both sides (driver hashes sort
columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geoio_jl_spark import dialect as D
from geoio_jl_spark.operators import knn as KNN
from geoio_jl_spark.operators import sjoin as SJ

LON = D.LON_I.format(id="doc_id")
LAT = D.LAT_I.format(id="doc_id")
LON_SKEW = D.LON_I_SKEW.format(id="doc_id")
LAT_SKEW = D.LAT_I_SKEW.format(id="doc_id")


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs_points(spark, sf_dir, skew: bool = False) -> DataFrame:
    lon, lat = (LON_SKEW, LAT_SKEW) if skew else (LON, LAT)
    return (
        _read(spark, sf_dir, "documents")
        .select("doc_id", F.expr(lon).alias("lon_i"), F.expr(lat).alias("lat_i"))
    )


def _triangles(spark, sf_dir) -> DataFrame:
    """Polygon side derived from nation (dialect.TRIANGLES_SQL) + bbox."""
    return nation_triangles(_read(spark, sf_dir, "nation"))


def nation_triangles(nation: DataFrame) -> DataFrame:
    """One triangle per ``n_nationkey`` (dialect.TRIANGLES_SQL) + bbox."""
    t = nation.select(
        F.col("n_nationkey").cast("bigint").alias("poly_id"),
        F.expr(f"{D.TRI_CX} - {D.TRI_W}").cast("bigint").alias("ax"),
        F.expr(f"{D.TRI_CY} - {D.TRI_H}").cast("bigint").alias("ay"),
        F.expr(f"{D.TRI_CX} + {D.TRI_W}").cast("bigint").alias("bx"),
        F.expr(f"{D.TRI_CY} - {D.TRI_H}").cast("bigint").alias("by"),
        F.expr(D.TRI_CX).cast("bigint").alias("cx"),
        F.expr(f"{D.TRI_CY} + {D.TRI_H}").cast("bigint").alias("cy"),
    )
    return t.select(
        "*",
        F.least("ax", "bx", "cx").alias("minx"),
        F.least("ay", "by", "cy").alias("miny"),
        F.greatest("ax", "bx", "cx").alias("maxx"),
        F.greatest("ay", "by", "cy").alias("maxy"),
    )


_PIT = D.point_in_triangle_sql("lon_i", "lat_i")

_ORACLE_DOCS = f"SELECT doc_id, {LON} AS lon_i, {LAT} AS lat_i FROM documents"
_ORACLE_DOCS_SKEW = (
    f"SELECT doc_id, {LON_SKEW} AS lon_i, {LAT_SKEW} AS lat_i FROM documents"
)
_ORACLE_TRI = (
    D.TRIANGLES_SQL
    + ""  # bbox columns appended below
)
_ORACLE_TRI_BBOX = (
    "SELECT *, least(ax, bx, cx) AS minx, least(ay, by, cy) AS miny, "
    "greatest(ax, bx, cx) AS maxx, greatest(ay, by, cy) AS maxy "
    f"FROM ({D.TRIANGLES_SQL})"
)


def _sign_test_refine(joined: DataFrame) -> DataFrame:
    """Exact refine as pure int64 column arithmetic (no Python)."""
    return joined.filter(F.expr(_PIT))


# ---------------------------------------------------------------------------
# Q: flagship point-in-polygon count (coarse cell equi-join + exact refine)
# ---------------------------------------------------------------------------

def q_pip_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _docs_points(spark, sf_dir)
    polys = _triangles(spark, sf_dir)
    pairs = SJ.point_in_polygon_join(
        pts, polys, res=3, wkb_col=None, refine=_sign_test_refine,
    )
    return (
        pairs.groupBy("poly_id").agg(F.count("*").alias("n_docs"))
        .select("poly_id", "n_docs")
    )


SQL_PIP_COUNT = f"""
WITH d AS ({_ORACLE_DOCS}), t AS ({D.TRIANGLES_SQL})
SELECT poly_id, count(*) AS n_docs
FROM d JOIN t ON {D.point_in_triangle_sql('d.lon_i', 'd.lat_i')}
GROUP BY poly_id
"""


# ---------------------------------------------------------------------------
# Q: skewed pairs through the explicitly salted join (BASELINE.json:14)
# ---------------------------------------------------------------------------

def q_pip_pairs_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _docs_points(spark, sf_dir, skew=True)
    polys = _triangles(spark, sf_dir)
    pairs = SJ.salted_point_in_polygon_join(
        pts, polys, res=3, point_id="doc_id", wkb_col=None,
        hot_threshold=20, refine=_sign_test_refine,
    )
    return pairs.select("doc_id", "poly_id")


SQL_PIP_PAIRS_SALTED = f"""
WITH d AS ({_ORACLE_DOCS_SKEW}), t AS ({D.TRIANGLES_SQL})
SELECT doc_id, poly_id
FROM d JOIN t ON {D.point_in_triangle_sql('d.lon_i', 'd.lat_i')}
"""


# ---------------------------------------------------------------------------
# Q: kNN join (nation centers → 5 nearest docs)
# ---------------------------------------------------------------------------

def _query_points(spark, sf_dir) -> DataFrame:
    return _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("query_id"),
        F.expr(D.TRI_CX).cast("bigint").alias("qx"),
        F.expr(D.TRI_CY).cast("bigint").alias("qy"),
    )


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return KNN.knn_join_window(
        _docs_points(spark, sf_dir), _query_points(spark, sf_dir), k=5
    )


def q_knn_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as q_knn via the map-side-partial physical plan — the
    oracle check doubles as plan-equivalence evidence."""
    return KNN.knn_join_partial(
        _docs_points(spark, sf_dir), _query_points(spark, sf_dir), k=5
    )


_KNN_STATS_CACHE: dict = {}


def _layout_fingerprint(sf_dir: str, table: str) -> tuple:
    """Parquet layout snapshot id: sorted (name, mtime_ns, size) of the
    table's files.  Keying the stats memo on this (r5 ADVICE fix) makes
    an in-process rewrite of the table invalidate the cached cell stats
    instead of silently planning rectangles against a stale layout."""
    import os as _os
    path = _os.path.join(sf_dir, f"{table}.parquet")
    if _os.path.isdir(path):
        names = sorted(_os.listdir(path))
        return tuple((n, _os.stat(_os.path.join(path, n)).st_mtime_ns,
                      _os.stat(_os.path.join(path, n)).st_size)
                     for n in names if not n.startswith((".", "_")))
    st = _os.stat(path)
    return ((path, st.st_mtime_ns, st.st_size),)


def q_knn_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result via the scan-pruned probe: cell-count stats →
    neighbor_cells ring expansion → per-query rectangles pushed into the
    scan as an OR-of-boxes (the reference's R-tree probe role,
    gpkg.jl:411-448) in front of the map-side top-k.  The stats dict is
    computed once per layout and memoized keyed on a file-level layout
    fingerprint — the compute-once-per-layout contract; repeated query
    batches (and the bench) pay zero extra Spark actions for it, while a
    rewritten table gets fresh stats.  Only layout stats are cached; the
    query batch is collected once per call (a cheap 25-row collect)."""
    key = (_layout_fingerprint(sf_dir, "documents"), 3)
    if key not in _KNN_STATS_CACHE:
        _KNN_STATS_CACHE.clear()   # one layout per table path at a time
        _KNN_STATS_CACHE[key] = KNN.collect_cell_stats(
            _docs_points(spark, sf_dir), res=3)
    return KNN.knn_join_pruned(
        _docs_points(spark, sf_dir), _query_points(spark, sf_dir), k=5,
        cell_stats=_KNN_STATS_CACHE[key]
    )


SQL_KNN = f"""
WITH d AS ({_ORACLE_DOCS}),
q AS (SELECT n_nationkey AS query_id, {D.TRI_CX} AS qx, {D.TRI_CY} AS qy FROM nation),
c AS (
  SELECT q.query_id, d.doc_id,
         (d.lon_i - q.qx) * (d.lon_i - q.qx) + (d.lat_i - q.qy) * (d.lat_i - q.qy) AS dist2
  FROM d CROSS JOIN q
), r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist2 ASC, doc_id ASC) AS rank
  FROM c
)
SELECT query_id, doc_id, dist2, rank FROM r WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Q: bbox range join (point-in-bbox via cell equi-join)
# ---------------------------------------------------------------------------

def q_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _docs_points(spark, sf_dir)
    boxes = _triangles(spark, sf_dir).select("poly_id", "minx", "miny", "maxx", "maxy")
    pairs = SJ.bbox_range_join(pts, boxes, res=3)
    return pairs.groupBy("poly_id").agg(F.count("*").alias("n_in_bbox"))


SQL_BBOX_JOIN = f"""
WITH d AS ({_ORACLE_DOCS}), t AS ({_ORACLE_TRI_BBOX})
SELECT poly_id, count(*) AS n_in_bbox
FROM d JOIN t ON d.lon_i >= t.minx AND d.lon_i <= t.maxx
             AND d.lat_i >= t.miny AND d.lat_i <= t.maxy
GROUP BY poly_id
"""


# ---------------------------------------------------------------------------
# Q: extent aggregation (A1, gpkg.jl:522-534) + per-cell doc counts (tiling)
# ---------------------------------------------------------------------------

def q_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs_points(spark, sf_dir).agg(
        F.min("lon_i").alias("minx"), F.min("lat_i").alias("miny"),
        F.max("lon_i").alias("maxx"), F.max("lat_i").alias("maxy"),
        F.count("*").alias("n_rows"),
    )


SQL_EXTENT = f"""
SELECT min(lon_i) AS minx, min(lat_i) AS miny,
       max(lon_i) AS maxx, max(lat_i) AS maxy, count(*) AS n_rows
FROM ({_ORACLE_DOCS})
"""


def q_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cid = D.cell_id_sql("lon_i", "lat_i", 3)
    return (
        _docs_points(spark, sf_dir)
        .select(F.expr(cid).alias("cell_id"))
        .groupBy("cell_id").agg(F.count("*").alias("n_docs"))
    )


SQL_CELL_COUNTS = f"""
SELECT {D.cell_id_sql('lon_i', 'lat_i', 3)} AS cell_id, count(*) AS n_docs
FROM ({_ORACLE_DOCS})
GROUP BY 1
"""


def q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton key per document (operators/zorder.py clustering key) —
    the exact shift/mask interleave reproduced in both dialects. i/j are
    the centidegree coords folded to 16 bits."""
    z = D.zorder_sql("(lon_i % 65536)", "(lat_i % 65536)", "spark")
    return (_docs_points(spark, sf_dir)
            .select("doc_id", F.expr(z).alias("zorder")))


def _sql_zorder_cells() -> str:
    z = D.zorder_sql("(lon_i % 65536)", "(lat_i % 65536)", "duckdb")
    return f"SELECT doc_id, {z} AS zorder FROM ({_ORACLE_DOCS})"


# ---------------------------------------------------------------------------
# Q: missing-geometry filter / anti-filter (P3/P4, gis.jl:76-88,
#    loadvalues rows=:invalid load.jl:206-210) — NULLs planted by formula
# ---------------------------------------------------------------------------

_LON_NULLABLE = f"(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE {LON} END)"


def q_valid_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").withColumn(
        "lon_i", F.expr(_LON_NULLABLE)
    )
    return (
        docs.filter(F.col("lon_i").isNotNull())
        .groupBy("lang").agg(F.count("*").alias("n_valid"))
    )


SQL_VALID_COUNTS = f"""
SELECT lang, count(*) AS n_valid
FROM (SELECT lang, {_LON_NULLABLE} AS lon_i FROM documents)
WHERE lon_i IS NOT NULL GROUP BY lang
"""


def q_invalid_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").withColumn(
        "lon_i", F.expr(_LON_NULLABLE)
    )
    return docs.filter(F.col("lon_i").isNull()).select("doc_id", "lang")


SQL_INVALID_ROWS = f"""
SELECT doc_id, lang
FROM (SELECT doc_id, lang, {_LON_NULLABLE} AS lon_i FROM documents)
WHERE lon_i IS NULL
"""


# ---------------------------------------------------------------------------
# Q: centroid (F17, csv.jl:40) — exact integer vertex sums + double mean
# ---------------------------------------------------------------------------

def q_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _triangles(spark, sf_dir)
    return t.select(
        "poly_id",
        (F.col("ax") + F.col("bx") + F.col("cx")).alias("sx"),
        (F.col("ay") + F.col("by") + F.col("cy")).alias("sy"),
        ((F.col("ax") + F.col("bx") + F.col("cx")) / F.lit(3.0)).alias("centroid_x"),
        ((F.col("ay") + F.col("by") + F.col("cy")) / F.lit(3.0)).alias("centroid_y"),
    )


SQL_CENTROID = f"""
SELECT poly_id, ax + bx + cx AS sx, ay + by + cy AS sy,
       (ax + bx + cx) / 3.0 AS centroid_x, (ay + by + cy) / 3.0 AS centroid_y
FROM ({D.TRIANGLES_SQL})
"""


# ---------------------------------------------------------------------------
# Q: raster→vector tile assignment — implicit grid (spark.range, §1.3)
#    joined to polygon bboxes by overlap
# ---------------------------------------------------------------------------

_NTX, _NTY, _TILE = 72, 34, 500  # 72x34 tiles of 500 centidegrees


def q_grid_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.raster import raster_to_vector_tiles
    grid = spark.range(_NTX * _NTY).select(
        F.col("id").alias("tile_id"),
        (F.col("id") % _NTX * _TILE).alias("tx0"),
        (F.floor(F.col("id") / F.lit(float(_NTX))).cast("bigint") * _TILE).alias("ty0"),
    )
    boxes = _triangles(spark, sf_dir).select("poly_id", "minx", "miny", "maxx", "maxy")
    return (raster_to_vector_tiles(grid, boxes, _TILE, _TILE, x="tx0", y="ty0")
            .select("tile_id", "poly_id"))


SQL_GRID_TILES = f"""
WITH g AS (
  SELECT range AS tile_id, (range % {_NTX}) * {_TILE} AS tx0,
         CAST(floor(range / {_NTX}.0) AS BIGINT) * {_TILE} AS ty0
  FROM range({_NTX * _NTY})
), t AS ({_ORACLE_TRI_BBOX})
SELECT tile_id, poly_id
FROM g JOIN t ON g.tx0 <= t.maxx AND g.tx0 + {_TILE} > t.minx
             AND g.ty0 <= t.maxy AND g.ty0 + {_TILE} > t.miny
"""


# ---------------------------------------------------------------------------
# Q: text analysis over documents — token stats, lang-id, quality,
#    fingerprints (training-data-pipeline ops)
# ---------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    toks = F.expr(D.tokens_sql("text", "spark"))
    return (
        docs.select("lang", F.size(toks).alias("n_tok"), F.length("text").alias("n_chr"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_chr").alias("total_chars"),
            F.min("n_tok").alias("min_tokens"),
            F.max("n_tok").alias("max_tokens"),
        )
    )


SQL_TOKEN_STATS = f"""
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(sum(n_chr) AS BIGINT) AS total_chars,
       min(n_tok) AS min_tokens, max(n_tok) AS max_tokens
FROM (SELECT lang, len({D.tokens_sql('text', 'duckdb')}) AS n_tok,
             length(text) AS n_chr FROM documents)
GROUP BY lang
"""


_LANG_ORDER = ["en", "de", "fr", "es", "pt"]


def _langid_body(dialect_name: str, table: str) -> str:
    """Stopword-hit language heuristic: per-language scores, argmax with
    deterministic tie-break (list order), 'und' when all-zero."""
    from geoio_jl_spark.functions.textkernels import STOPWORDS
    toks = D.tokens_sql("text", dialect_name)
    fn = "size" if dialect_name == "spark" else "len"
    flt = "filter" if dialect_name == "spark" else "list_filter"
    score_cols = ", ".join(
        f"{fn}({flt}({toks}, x -> x IN ("
        + ", ".join(f"'{w}'" for w in STOPWORDS[lg])
        + f"))) AS s_{lg}"
        for lg in _LANG_ORDER
    )
    greatest = "greatest(" + ", ".join(f"s_{lg}" for lg in _LANG_ORDER) + ")"
    best = " ".join(f"WHEN s_{lg} = m THEN '{lg}'" for lg in _LANG_ORDER)
    return f"""
        SELECT lang, pred_lang, count(*) AS n
        FROM (
          SELECT lang, CASE WHEN m = 0 THEN 'und' {best} END AS pred_lang
          FROM (SELECT *, {greatest} AS m FROM
                 (SELECT lang, {score_cols} FROM {table}) scored) withm
        ) labeled GROUP BY lang, pred_lang
    """


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_docs_langid")
    return spark.sql(_langid_body("spark", "_docs_langid"))


def _sql_langid_confusion() -> str:
    return _langid_body("duckdb", "documents")


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.functions.textkernels import (quality_columns,
                                                      tokens_col)
    docs = _read(spark, sf_dir, "documents")
    # materialize the token array once (projection), then derive the 4
    # token-based features from the column — tokenizer runs 1× per row
    toked = docs.select("doc_id", "text",
                        tokens_col(F.col("text")).alias("_toks"))
    cols = quality_columns(F.col("text"), toks=F.col("_toks"))
    return toked.select(
        "doc_id", *(c.alias(n) for n, c in cols.items())
    )


SQL_QUALITY = f"""
SELECT doc_id,
  len(toks) AS n_tokens,
  length(text)::BIGINT AS n_chars,
  (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::BIGINT AS n_punct,
  CAST(list_reduce(list_prepend(0, list_transform(toks, x -> length(x)::BIGINT)), (a, b) -> a + b) AS DOUBLE)
    / CAST(greatest(len(toks), 1) AS DOUBLE) AS avg_word_len,
  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is','to'))) AS DOUBLE)
    / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio
FROM (SELECT doc_id, text, {D.tokens_sql('text', 'duckdb')} AS toks FROM documents)
"""


# Gopher-style quality gates (Rae et al. 2021 §A1.1 public rules):
# token-count window, mean-word-length window, symbol ratio, minimum
# stopword presence. The exact thresholds are the public paper's.
_GOPHER = ("n_tokens BETWEEN 50 AND 100000 "
           "AND avg_word_len BETWEEN 3 AND 10 "
           "AND n_punct <= 0.2 * n_chars "
           "AND stopword_ratio >= 0.01")


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality filter: survivors of the Gopher rules with
    their stats — composition of the quality columns + one codegen'd
    predicate (no Python, no shuffle; runs at scan speed)."""
    return q_quality(spark, sf_dir).filter(_GOPHER) \
        .select("doc_id", "n_tokens", "avg_word_len", "stopword_ratio")


SQL_GOPHER_FILTER = (
    f"SELECT doc_id, n_tokens, avg_word_len, stopword_ratio "
    f"FROM ({SQL_QUALITY}) q WHERE {_GOPHER}"
)


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.expr(D.md5_int60("text", "spark")).alias("fp")
    )


SQL_FINGERPRINT = (
    f"SELECT doc_id, {D.md5_int60('text', 'duckdb')} AS fp FROM documents"
)


# ---------------------------------------------------------------------------
# Q: deduplication family
# ---------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_doc_id"))
    )


SQL_EXACT_DEDUP = """
SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""


def _shingles_duckdb() -> str:
    toks = D.tokens_sql("text", "duckdb")
    return (
        f"list_transform(generate_series(1, greatest(len({toks}) - 2, 0)), "
        f"i -> concat({toks}[i], ' ', {toks}[i + 1], ' ', {toks}[i + 2]))"
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures + LSH banding → candidate pairs.

    shingle → md5-int hash → 16 universal-hash mins → 4 bands of 4 →
    pairs sharing any band signature (operators/dedup.py
    minhash_lsh_pairs, columns renamed to doc_a/doc_b)."""
    from geoio_jl_spark.operators.dedup import minhash_lsh_pairs
    docs = _read(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))


def _sql_minhash_bands() -> str:
    """The oracles' shared ``sh``/``sig``/``bands`` CTEs (shingle hash,
    signature, one row per band), as an open WITH clause."""
    nr = len(D.MINHASH_SEEDS) // D.MINHASH_BANDS
    mins = ", ".join(
        f"min(({a} * h + {b}) % {D.MINHASH_P}) AS mh{j}"
        for j, (a, b) in enumerate(D.MINHASH_SEEDS)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat_ws('_', {cols}) AS sig FROM sig".format(
            b=b, cols=", ".join(f"mh{b * nr + r}" for r in range(nr))
        )
        for b in range(D.MINHASH_BANDS)
    )
    return f"""WITH sh AS (
  SELECT doc_id, {D.md5_int60('s.sh', 'duckdb')} % {D.MINHASH_P} AS h
  FROM (SELECT doc_id, unnest({_shingles_duckdb()}) AS sh FROM documents) s
), sig AS (
  SELECT doc_id, {mins} FROM sh GROUP BY doc_id
), bands AS ({band_selects})"""


def _sql_minhash_lsh() -> str:
    return f"""
{_sql_minhash_bands()}
SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
FROM bands l JOIN bands r ON l.band = r.band AND l.sig = r.sig
WHERE l.doc_id < r.doc_id
"""


def q_minhash_star_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster contraction (see operators/dedup.py
    minhash_star_edges): (rep=min id, member) per LSH bucket — linear
    output per bucket vs the quadratic pair join; components equal."""
    from geoio_jl_spark.operators.dedup import minhash_star_edges
    docs = _read(spark, sf_dir, "documents")
    return minhash_star_edges(docs)


def _sql_minhash_star_edges() -> str:
    return f"""
{_sql_minhash_bands()},
star AS (
  SELECT min(doc_id) OVER (PARTITION BY band, sig) AS rep, doc_id AS member
  FROM bands
)
SELECT DISTINCT rep, member FROM star WHERE member != rep
"""


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters: connected components (large-star/small-star,
    operators/components.py) over the minhash star edges — the keep/drop
    contraction every LSH dedup pipeline needs. component = min doc_id."""
    from geoio_jl_spark.operators.components import connected_components
    from geoio_jl_spark.operators.dedup import minhash_star_edges
    docs = _read(spark, sf_dir, "documents")
    return connected_components(minhash_star_edges(docs))


def _sql_connected_components() -> str:
    """Oracle: transitive closure by recursive reachability, component =
    min reachable node (exponentially slower than star contraction but
    exact at sf0.01)."""
    return f"""
WITH RECURSIVE star AS ({_sql_minhash_star_edges()}),
sym AS (
  SELECT rep AS u, member AS v FROM star
  UNION
  SELECT member AS u, rep AS v FROM star
),
reach(node, r) AS (
  SELECT DISTINCT u, u FROM sym
  UNION
  SELECT reach.node, sym.v FROM reach JOIN sym ON sym.u = reach.r
)
SELECT node, min(r) AS component FROM reach GROUP BY node
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup: distinct-shingle inverted index →
    pairs sharing >= 2 shingles, with exact intersection / union sizes.
    Same single-upstream bucket-list plan as the capped variant
    (operators/dedup.py), just without the DF cap."""
    from geoio_jl_spark.operators.dedup import ngram_jaccard_pairs
    docs = _read(spark, sf_dir, "documents")
    return (ngram_jaccard_pairs(docs, max_df=None)
            .withColumnRenamed("id_a", "doc_a")
            .withColumnRenamed("id_b", "doc_b"))


def _sql_ngram_jaccard() -> str:
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, sh
  FROM (SELECT doc_id, unnest({_shingles_duckdb()}) AS sh FROM documents)
), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS inter
  FROM sh l JOIN sh r ON l.sh = r.sh AND l.doc_id < r.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT doc_a, doc_b, inter, sa.n_sh + sb.n_sh - inter AS uni
FROM pairs JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
"""


NGRAM_MAX_DF = 20  # stop-shingle threshold for the capped (scale) variant


def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard with the stop-shingle DF cap — the 100-TB-safe
    plan: a shingle present in n documents emits n² candidate pairs, so
    skewed boilerplate shingles are dropped (DF > NGRAM_MAX_DF) before
    the self-join; the hot list is small → broadcast anti-join. Both
    inter and union are over the capped shingle sets (exact Jaccard of
    the filtered feature space; same cap applied in the DuckDB oracle)."""
    from geoio_jl_spark.operators.dedup import ngram_jaccard_pairs
    docs = _read(spark, sf_dir, "documents")
    return (ngram_jaccard_pairs(docs, max_df=NGRAM_MAX_DF)
            .withColumnRenamed("id_a", "doc_a")
            .withColumnRenamed("id_b", "doc_b"))


def _sql_ngram_jaccard_capped() -> str:
    return f"""
WITH sh0 AS (
  SELECT DISTINCT doc_id, sh
  FROM (SELECT doc_id, unnest({_shingles_duckdb()}) AS sh FROM documents)
), hot AS (
  SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > {NGRAM_MAX_DF}
), sh AS (
  SELECT * FROM sh0 WHERE sh NOT IN (SELECT sh FROM hot)
), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS inter
  FROM sh l JOIN sh r ON l.sh = r.sh AND l.doc_id < r.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT doc_a, doc_b, inter, sa.n_sh + sb.n_sh - inter AS uni
FROM pairs JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over token hashes (exact bit arithmetic both
    engines), one groupBy(doc_id) with 32 conditional sums — see
    ``dedup.simhash_signatures``."""
    from geoio_jl_spark.operators.dedup import simhash_signatures
    return simhash_signatures(_read(spark, sf_dir, "documents"))


def _sql_simhash() -> str:
    toks = D.tokens_sql("text", "duckdb")
    h = D.md5_int60("tok", "duckdb")
    return f"""
WITH tk AS (
  SELECT doc_id, unnest({toks}) AS tok FROM documents
), hh AS (SELECT doc_id, {h} AS h FROM tk),
bits AS (
  SELECT doc_id, bit,
         CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END AS w
  FROM hh, (SELECT unnest(generate_series(0, 31)) AS bit)
), votes AS (SELECT doc_id, bit, sum(w) AS v FROM bits GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Q: similarity search — brute-force cosine top-k over embeddings
#    (left-fold double arithmetic: bit-identical across engines)
# ---------------------------------------------------------------------------

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.similarity import _DOT
    emb = _read(spark, sf_dir, "embeddings")
    # r8: both norm folds hoisted OUT of the |emb| × |queries| cross
    # product — the candidate-side norm runs once per vector (not once
    # per (query, vector)) and the query-side norm once per query row
    # before the broadcast; only the cross dot stays per-pair.  Same
    # doubles, same cos (identical fold expression, evaluated earlier).
    scored = emb.withColumn(
        "_na", F.expr(_DOT.format(a="embedding", b="embedding")))
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qe"))
               .withColumn("_nb", F.expr(_DOT.format(a="qe", b="qe"))))
    cand = scored.join(F.broadcast(queries),
                       F.col("vec_id") != F.col("query_id"))
    dot = F.expr(_DOT.format(a="embedding", b="qe"))
    return KNN._rank_topk(
        cand.withColumn("cos", dot / (F.sqrt("_na") * F.sqrt("_nb"))),
        "query_id", "cos", "vec_id", 5, descending=True)


def _sql_cosine_topk() -> str:
    dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(generate_series(1, len({a})), "
        "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (acc, x) -> acc + x)"
    )
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
c AS (
  SELECT q.query_id, e.vec_id,
         {dot.format(a='e.embedding', b='q.qe')}
         / (sqrt({dot.format(a='e.embedding', b='e.embedding')})
            * sqrt({dot.format(a='q.qe', b='q.qe')})) AS cos
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id
), r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM c
)
SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Q: events tumbling-window aggregation (batch form; streaming variant in
#    geoio_jl_spark/streaming)
# ---------------------------------------------------------------------------

def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    bucket = F.floor(F.unix_timestamp("ts") / 300).cast("bigint")
    return (
        ev.withColumn("bucket", bucket)
        .groupBy("bucket", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 1000000).cast("bigint")).alias("value_sum_e6"),
        )
    )


SQL_EVENTS_WINDOW = """
SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS value_sum_e6
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Q: LSH-ANN signatures (hyperplane sign bits — bit-exact fold arithmetic)
# ---------------------------------------------------------------------------

def q_ann_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.similarity import lsh_signature_sql
    emb = _read(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.expr(lsh_signature_sql("embedding", "spark")).alias("sig"))


def _sql_ann_signature() -> str:
    from geoio_jl_spark.operators.similarity import lsh_signature_sql
    return (f"SELECT vec_id, {lsh_signature_sql('embedding', 'duckdb')} AS sig "
            f"FROM embeddings")


# ---------------------------------------------------------------------------
# Q: distinct-vertex dedup (A4 / J3 — STL vertex dedup shape,
#    stl.jl:16-21): unique lattice points with multiplicity + keeper id
# ---------------------------------------------------------------------------

def q_vertex_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _docs_points(spark, sf_dir)
    return (
        pts.groupBy("lon_i", "lat_i")
        .agg(F.count("*").alias("multiplicity"),
             F.min("doc_id").alias("vertex_id"))
    )


SQL_VERTEX_DEDUP = f"""
SELECT lon_i, lat_i, count(*) AS multiplicity, min(doc_id) AS vertex_id
FROM ({_ORACLE_DOCS}) GROUP BY lon_i, lat_i
"""


# ---------------------------------------------------------------------------
# Q: layer selection (W2/P8 — LIMIT/OFFSET on ordered metadata,
#    gpkg.jl:94)
# ---------------------------------------------------------------------------

def q_layer_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _read(spark, sf_dir, "nation")
    return (
        nation.orderBy("n_nationkey")
        .offset(5).limit(3)
        .select("n_nationkey", "n_name")
    )


SQL_LAYER_SELECT = """
SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey LIMIT 3 OFFSET 5
"""


# ---------------------------------------------------------------------------
# Q: reprojection (F15/F16) — lon/lat → Web Mercator, JVM codegen trig;
#    rounded to 4 decimals (JVM vs DuckDB libm may differ in the last ulp)
# ---------------------------------------------------------------------------

def _round4(c):
    """``round(c, 4)`` with DuckDB's sign of zero: Spark rounds through
    ``BigDecimal``, which turns a tiny negative value (Mercator y at the
    equator is ~-1e-9) into +0.0 where DuckDB's float round gives -0.0;
    a zero result takes the sign of the unrounded value instead."""
    r = F.round(c, 4)
    return F.when(r == 0, c * 0.0).otherwise(r)


def q_webmercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.functions.crs import lonlat_to_webmercator_cols
    pts = _docs_points(spark, sf_dir).select(
        "doc_id",
        (F.col("lon_i") / 100.0 - 180.0).alias("lon"),
        (F.col("lat_i") / 100.0 - 85.0).alias("lat"),
    )
    x, y = lonlat_to_webmercator_cols(F.col("lon"), F.col("lat"))
    return pts.select(
        "doc_id", _round4(x).alias("merc_x"), _round4(y).alias("merc_y"))


SQL_WEBMERCATOR = f"""
SELECT doc_id,
  round(6378137.0 * radians(lon), 4) AS merc_x,
  round(6378137.0 * ln(tan(pi() / 4.0 + radians(
    least(greatest(lat, -89.9999), 89.9999)) / 2)), 4) AS merc_y
FROM (SELECT doc_id, lon_i / 100.0 - 180.0 AS lon, lat_i / 100.0 - 85.0 AS lat
      FROM ({_ORACLE_DOCS}))
"""


_E_WGS84 = 0.0818191908426215  # sqrt(e2), e2 = f(2-f), f = 1/298.257223563


def q_mercator3395(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ellipsoidal Mercator (EPSG:3395, F15) as pure JVM column math —
    the conformal-latitude term written as (e/2)·ln((1−e·sinφ)/(1+e·sinφ))
    so both engines evaluate the identical ln/tan/sin compositions (no
    pow), mm-rounded like the webmercator oracle."""
    pts = _docs_points(spark, sf_dir).select(
        "doc_id",
        (F.col("lon_i") / 100.0 - 180.0).alias("lon"),
        (F.col("lat_i") / 100.0 - 85.0).alias("lat"),
    )
    lat_c = F.least(F.greatest(F.col("lat"), F.lit(-89.9999)), F.lit(89.9999))
    es = F.lit(_E_WGS84) * F.sin(F.radians(lat_c))
    x = F.lit(6378137.0) * F.radians(F.col("lon"))
    y = F.lit(6378137.0) * (
        F.log(F.tan(F.lit(0.7853981633974483) + F.radians(lat_c) / 2))
        + F.lit(_E_WGS84 / 2.0) * F.log((F.lit(1.0) - es) / (F.lit(1.0) + es)))
    return pts.select("doc_id", _round4(x).alias("merc_x"),
                      _round4(y).alias("merc_y"))


SQL_MERCATOR3395 = f"""
SELECT doc_id,
  round(6378137.0 * radians(lon), 4) AS merc_x,
  round(6378137.0 * (ln(tan(pi() / 4.0 + radians(lat_c) / 2))
        + {_E_WGS84 / 2.0} * ln((1.0 - {_E_WGS84} * sin(radians(lat_c)))
                               / (1.0 + {_E_WGS84} * sin(radians(lat_c))))),
        4) AS merc_y
FROM (SELECT doc_id, lon, least(greatest(lat, -89.9999), 89.9999) AS lat_c
      FROM (SELECT doc_id, lon_i / 100.0 - 180.0 AS lon,
                   lat_i / 100.0 - 85.0 AS lat FROM ({_ORACLE_DOCS})))
"""


# ---------------------------------------------------------------------------
# Q: as-of join (from-scratch window plan vs DuckDB's native ASOF JOIN)
# ---------------------------------------------------------------------------

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.asof import asof_join
    ev = _read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.floor(F.col("value") * 1000000).cast("bigint")
        .alias("purchase_value_e6"))
    joined = asof_join(clicks, purchases, on="user_id", ts="ts",
                       right_cols=["purchase_value_e6"])
    return joined.select(
        "event_id", "user_id",
        F.col("asof_purchase_value_e6").alias("purchase_value_e6"),
        F.unix_micros(F.col("asof_ts").cast("timestamp"))
        .alias("purchase_ts_us"))


SQL_ASOF_JOIN = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts, CAST(floor(value * 1000000) AS BIGINT) AS purchase_value_e6
  FROM events WHERE event_type = 'purchase'
)
SELECT c.event_id, c.user_id, p.purchase_value_e6,
       epoch_us(p.ts) AS purchase_ts_us
FROM clicks c ASOF JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


# ---------------------------------------------------------------------------
# Q: hierarchical rollup over events (grouping-set machinery)
# ---------------------------------------------------------------------------

def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("hour_bucket"),
        F.floor(F.col("value") * 1000000).cast("bigint").alias("v_e6"))
    return (
        ev.rollup("event_type", "hour_bucket")
        .agg(F.count("*").alias("n"), F.sum("v_e6").alias("v_sum_e6"))
    )


SQL_EVENTS_ROLLUP = """
SELECT event_type, hour_bucket, count(*) AS n,
       CAST(sum(v_e6) AS BIGINT) AS v_sum_e6
FROM (SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
             CAST(floor(value * 1000000) AS BIGINT) AS v_e6 FROM events)
GROUP BY ROLLUP (event_type, hour_bucket)
"""


# ---------------------------------------------------------------------------
# Q: BPE-ish regex token counting (second tokenizer family)
# ---------------------------------------------------------------------------

# Spark SQL string literals eat one level of backslash; DuckDB's do not.
_BPE_RE_SPARK = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]"
_BPE_RE_DUCK = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{_BPE_RE_SPARK}', 0)"))
        .cast("bigint").alias("n_bpe_tokens"))


SQL_BPE_TOKENS = (
    f"SELECT doc_id, CAST(len(regexp_extract_all(text, '{_BPE_RE_DUCK}')) AS BIGINT)"
    " AS n_bpe_tokens FROM documents"
)


# ---------------------------------------------------------------------------
# Q: embedding-cosine near-dup (LSH candidates + exact fold-cosine filter)
# ---------------------------------------------------------------------------

def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.similarity import ann_candidate_pairs
    return (ann_candidate_pairs(_read(spark, sf_dir, "embeddings"))
            .filter(F.col("cos") >= 0.25))


def _sql_embedding_near_dup() -> str:
    from geoio_jl_spark.operators.similarity import lsh_signature_sql
    dot = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
           "list_transform(generate_series(1, len({a})), "
           "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (acc, x) -> acc + x)")
    sig = lsh_signature_sql("embedding", "duckdb")
    return f"""
WITH s AS (SELECT vec_id, embedding, {sig} AS sig FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {dot.format(a='a.embedding', b='b.embedding')}
       / (sqrt({dot.format(a='a.embedding', b='a.embedding')})
          * sqrt({dot.format(a='b.embedding', b='b.embedding')})) AS cos
FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id
WHERE {dot.format(a='a.embedding', b='b.embedding')}
      / (sqrt({dot.format(a='a.embedding', b='a.embedding')})
         * sqrt({dot.format(a='b.embedding', b='b.embedding')})) >= 0.25
"""


# ---------------------------------------------------------------------------
# Q: URL canonicalization + URL-level dedup (the first dedup pass of a
# Common-Crawl pipeline; one SQL expression rendered for both engines)
# ---------------------------------------------------------------------------

def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.functions import urls as U
    docs = _read(spark, sf_dir, "documents")
    d = docs.select("doc_id",
                    F.expr(U.raw_url_sql("doc_id", "spark")).alias("url"))
    d = d.select("doc_id", "url",
                 F.expr(U.canonical_url_sql("url", "spark")).alias("canon_url"),
                 F.expr(U.host_sql("url", "spark")).alias("host"))
    return d.withColumn("domain", F.expr(U.domain_sql("host", "spark")))


def _sql_url_base() -> str:
    from geoio_jl_spark.functions import urls as U
    raw = U.raw_url_sql("doc_id", "duckdb")
    canon = U.canonical_url_sql("url", "duckdb")
    host = U.host_sql("url", "duckdb")
    return (f"WITH u AS (SELECT doc_id, {raw} AS url FROM documents), "
            f"h AS (SELECT doc_id, url, {canon} AS canon_url, "
            f"{host} AS host FROM u)")


def _sql_url_canonical() -> str:
    from geoio_jl_spark.functions import urls as U
    return (f"{_sql_url_base()} SELECT doc_id, url, canon_url, host, "
            f"{U.domain_sql('host', 'duckdb')} AS domain FROM h")


def q_url_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup: canonical-form groups with >1 members (keeper =
    min doc_id) — exact groupBy, no content hashing needed."""
    return (q_url_canonical(spark, sf_dir)
            .groupBy("canon_url")
            .agg(F.count("*").alias("n_copies"),
                 F.min("doc_id").alias("keep_id"))
            .filter(F.col("n_copies") > 1))


def _sql_url_dup_groups() -> str:
    return (f"{_sql_url_base()} "
            "SELECT canon_url, count(*) AS n_copies, min(doc_id) AS keep_id "
            "FROM h GROUP BY canon_url HAVING count(*) > 1")


# ---------------------------------------------------------------------------
# Q: Gopher repetition signals (Rae et al. 2021 §A1.1 repetition rules,
# adapted to line-less synthetic text: word- and 3-gram-level repetition)
# ---------------------------------------------------------------------------

def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.dedup import shingles_from_tokens
    docs = _read(spark, sf_dir, "documents")
    # r8 note: a kind-tagged single-explode rewrite (one scan, one
    # groupBy, no join) was measured SLOWER at the 10x proxy scale
    # (9.6s vs 6.9s) — the per-term struct-wrapping transform costs more
    # than the second scan it saves — so the two-branch shape stays.
    toked = docs.select(
        "doc_id", F.expr(D.tokens_sql("text", "spark")).alias("toks"))
    words = toked.select("doc_id", F.explode("toks").alias("w"))
    wstats = (words.groupBy("doc_id", "w").count()
              .groupBy("doc_id")
              .agg(F.max("count").alias("top_w"),
                   F.sum("count").alias("n_w")))
    tris = toked.select("doc_id", F.explode(
        F.expr(shingles_from_tokens("toks", 3))).alias("g"))
    tstats = (tris.groupBy("doc_id", "g").count()
              .groupBy("doc_id")
              .agg(F.sum("count").alias("n_g"),
                   F.count("*").alias("d_g")))
    out = (wstats.join(tstats, "doc_id", "left")
           .select(
               "doc_id",
               (F.col("top_w").cast("double")
                / F.col("n_w").cast("double")).alias("top_word_frac"),
               F.coalesce(
                   (F.col("n_g") - F.col("d_g")).cast("double")
                   / F.col("n_g").cast("double"),
                   F.lit(0.0)).alias("dup_trigram_frac")))
    return out.withColumn(
        "repetition_ok",
        ((F.col("top_word_frac") <= 0.2)
         & (F.col("dup_trigram_frac") <= 0.3)).cast("int"))


def _sql_gopher_repetition() -> str:
    toks = D.tokens_sql("text", "duckdb")
    return f"""
WITH toked AS (SELECT doc_id, {toks} AS toks FROM documents),
w AS (SELECT doc_id, unnest(toks) AS w FROM toked),
wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
ws AS (SELECT doc_id, max(c) AS top_w, sum(c) AS n_w FROM wc GROUP BY 1),
g AS (SELECT doc_id, unnest({_shingles_duckdb()}) AS g FROM documents),
gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
gs AS (SELECT doc_id, sum(c) AS n_g, count(*) AS d_g FROM gc GROUP BY 1),
j AS (
  SELECT ws.doc_id,
         CAST(top_w AS DOUBLE) / CAST(n_w AS DOUBLE) AS top_word_frac,
         coalesce(CAST(n_g - d_g AS DOUBLE) / CAST(n_g AS DOUBLE), 0.0)
           AS dup_trigram_frac
  FROM ws LEFT JOIN gs ON ws.doc_id = gs.doc_id
)
SELECT doc_id, top_word_frac, dup_trigram_frac,
       CAST(top_word_frac <= 0.2 AND dup_trigram_frac <= 0.3 AS INT)
         AS repetition_ok
FROM j
"""


# ---------------------------------------------------------------------------
# Q: semantic dedup — embedding near-dup edges → connected components →
# keeper per cluster (the SemDeDup-shaped composition: LSH buckets bound
# the candidate set, star contraction bounds the output, components give
# the keep/drop decision)
# ---------------------------------------------------------------------------

def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.components import (connected_components,
                                                     dedup_keepers)
    edges = (q_embedding_near_dup(spark, sf_dir)
             .select(F.col("id_a").alias("rep"),
                     F.col("id_b").alias("member")))
    comp = connected_components(edges)
    emb = _read(spark, sf_dir, "embeddings").select("vec_id")
    out = dedup_keepers(emb, comp, id_col="vec_id")
    return out.select(
        "vec_id",
        F.coalesce("component", F.col("vec_id")).alias("cluster"),
        F.col("keep").cast("int").alias("keep"))


def _sql_semantic_dedup() -> str:
    return f"""
WITH RECURSIVE nd AS ({_sql_embedding_near_dup()}),
sym AS (
  SELECT id_a AS u, id_b AS v FROM nd
  UNION
  SELECT id_b AS u, id_a AS v FROM nd
),
reach(node, r) AS (
  SELECT DISTINCT u, u FROM sym
  UNION
  SELECT reach.node, sym.v FROM reach JOIN sym ON sym.u = reach.r
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
SELECT e.vec_id,
       coalesce(c.component, e.vec_id) AS cluster,
       CAST(c.component IS NULL OR c.component = e.vec_id AS INT) AS keep
FROM embeddings e LEFT JOIN comp c ON c.node = e.vec_id
"""


# ---------------------------------------------------------------------------
# Q: batch sessionization (gap-based session windows) — the batch twin
# of streaming/pipeline.sessionize (native session_window), routed
# through the skew-safe operator (operators/sessionize.py: hot users
# split into time buckets, renumbered by a per-bucket fix-up join).
# hot_threshold=50 puts real sf users into buckets, so the plain-SQL
# oracle verifies the bucket renumbering end-to-end.
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 1800 * 1_000_000  # 30 min


def q_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.sessionize import session_rollup
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
    return session_rollup(ev, _SESSION_GAP_US, hot_threshold=50)


def _sql_session_rollup() -> str:
    return f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
),
flagged AS (
  SELECT user_id, event_id, ts_us,
    CASE WHEN lag(ts_us) OVER w IS NULL
           OR ts_us - lag(ts_us) OVER w > {_SESSION_GAP_US}
         THEN 1 ELSE 0 END AS new_sess
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
sess AS (
  SELECT user_id, ts_us,
    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS sess_id
  FROM flagged
)
SELECT user_id, sess_id, count(*) AS n_events,
       min(ts_us) AS start_us, max(ts_us) AS end_us
FROM sess GROUP BY user_id, sess_id
"""


# ---------------------------------------------------------------------------
# Q: IVF ANN top-k — now FULLY oracle-checked (r3 VERDICT #4): the
# deterministic index build (centroids init from the 8 lowest vec_ids,
# two Lloyd iterations) is unrolled in the DuckDB oracle as plain SQL
# (assign = argmin L2², recompute means, repeat), then probe the 3
# nearest centroids per query and brute-force cosine within them.  The
# emitted cos is recomputed through the bit-stable Spark fold
# (aggregate(zip_with(...)) == DuckDB list_reduce) so the value hash
# matches; the numpy kernel only SELECTS and RANKS the candidates.
# ---------------------------------------------------------------------------

def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.similarity import _DOT, ivf_index, ivf_search
    emb = _read(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_index(emb, k_centroids=8, n_iter=2)
    queries = (emb.orderBy("vec_id").limit(5)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qe")))
    # k margin (8 > final 5): the emitted rank is recomputed from the
    # FOLD cosine below (r5 ADVICE fix) — reusing the numpy-derived
    # rank could order a last-ulp tie differently from the oracle's
    # fold ranking; the margin keeps the numpy top-k truncation
    # boundary far from the final cut
    res = ivf_search(assigned, centroids, queries, k=8, n_probe=3)
    # hash-stable cos: re-derive through the JVM fold over the raw
    # vectors (the numpy value preselected candidates; the fold value
    # is what both engines reproduce bit-for-bit, and it now also
    # drives the emitted rank)
    dot = F.expr(_DOT.format(a="embedding", b="qe"))
    na = F.expr(_DOT.format(a="embedding", b="embedding"))
    nb = F.expr(_DOT.format(a="qe", b="qe"))
    cand = (res.drop("cos", "rank")
            .join(emb.select("vec_id", "embedding"), "vec_id")
            .join(F.broadcast(queries), "query_id")
            .withColumn("cos", dot / (F.sqrt(na) * F.sqrt(nb))))
    return KNN._rank_topk(cand, "query_id", "cos", "vec_id", 5,
                          descending=True)


def _sql_ivf_topk() -> str:
    dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(generate_series(1, len({a})), "
        "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        "(acc, x) -> acc + x)"
    )
    l2 = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(generate_series(1, 64), "
        "i -> (CAST({a}[i] AS DOUBLE) - {b}[i]) "
        "* (CAST({a}[i] AS DOUBLE) - {b}[i]))), "
        "(acc, x) -> acc + x)"
    )

    def assign(cent: str, tag: str) -> str:
        return f"""
d{tag} AS (
  SELECT e.vec_id, c.ci, {l2.format(a='e.embedding', b='c.ce')} AS d2
  FROM e CROSS JOIN {cent} c
),
a{tag} AS (
  SELECT vec_id, ci FROM (
    SELECT vec_id, ci,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2 ASC, ci ASC) AS rn
    FROM d{tag}) WHERE rn = 1
)"""

    def means(a: str, prev: str, out: str) -> str:
        return f"""
m{out} AS (
  SELECT ci, list(s ORDER BY j) AS ce FROM (
    SELECT {a}.ci, g.j,
           sum(CAST(e.embedding[g.j] AS DOUBLE)) / count(*) AS s
    FROM {a} JOIN e USING (vec_id)
    CROSS JOIN generate_series(1, 64) g(j)
    GROUP BY {a}.ci, g.j
  ) GROUP BY ci
),
c{out} AS (
  SELECT {prev}.ci, coalesce(m{out}.ce, {prev}.ce) AS ce
  FROM {prev} LEFT JOIN m{out} USING (ci)
)"""

    return f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
  FROM e ORDER BY vec_id LIMIT 8
),{assign('c0', '1')},{means('a1', 'c0', '1')},{assign('c1', '2')},{means('a2', 'c1', '2')},{assign('c2', 'f')},
q AS (SELECT vec_id AS query_id, embedding AS qe
      FROM e ORDER BY vec_id LIMIT 5),
qd AS (
  SELECT q.query_id, c.ci, {l2.format(a='q.qe', b='c.ce')} AS d2
  FROM q CROSS JOIN c2 c
),
probes AS (
  SELECT query_id, ci FROM (
    SELECT query_id, ci,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY d2 ASC, ci ASC) AS rn
    FROM qd) WHERE rn <= 3
),
cand AS (
  SELECT q.query_id, e.vec_id,
         {dot.format(a='e.embedding', b='q.qe')}
         / (sqrt({dot.format(a='e.embedding', b='e.embedding')})
            * sqrt({dot.format(a='q.qe', b='q.qe')})) AS cos
  FROM q
  JOIN probes p ON p.query_id = q.query_id
  JOIN af ON af.ci = p.ci
  JOIN e ON e.vec_id = af.vec_id AND e.vec_id != q.query_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, vec_id ASC) AS rank
  FROM cand
)
SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Q: Lambert-93 (LCC 2SP on GRS80, the French national grid) — extends
# oracle-checked reprojection to the conic family. Cone constants are
# computed ONCE in Python and embedded as identical literals; per-row
# math is the same ln/exp/tan composition in both engines (no pow),
# mm-rounded like the Mercator oracles.
# ---------------------------------------------------------------------------

_L93 = dict(e=0.08181919104281579, n=0.7256077650532695,
            aF=11754255.426096004, rho0=6055612.049875985,
            lon0=3.0, fe=700000.0, fn=6600000.0)


def q_lambert93(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _L93
    pts = _docs_points(spark, sf_dir).select(
        "doc_id",
        (F.col("lon_i") / 100.0 - 180.0).alias("lon"),
        (F.col("lat_i") / 100.0 - 85.0).alias("lat"),
    )
    lat_c = F.least(F.greatest(F.col("lat"), F.lit(-89.9999)),
                    F.lit(89.9999))
    phi2 = F.radians(lat_c) / 2
    es = F.lit(c["e"]) * F.sin(F.radians(lat_c))
    t = (F.tan(F.lit(0.7853981633974483) - phi2)
         * F.exp(F.lit(c["e"] / 2.0)
                 * F.log((F.lit(1.0) + es) / (F.lit(1.0) - es))))
    rho = F.lit(c["aF"]) * F.exp(F.lit(c["n"]) * F.log(t))
    theta = F.lit(c["n"]) * (F.radians(F.col("lon"))
                             - F.lit(float(np.radians(c["lon0"]))))
    x = F.lit(c["fe"]) + rho * F.sin(theta)
    y = F.lit(c["fn"]) + F.lit(c["rho0"]) - rho * F.cos(theta)
    return pts.select("doc_id", F.round(x, 4).alias("lcc_x"),
                      F.round(y, 4).alias("lcc_y"))


def _sql_lambert93() -> str:
    c = _L93
    lam0 = float(np.radians(c["lon0"]))
    return f"""
SELECT doc_id,
  round({c['fe']!r} + rho * sin(theta), 4) AS lcc_x,
  round({c['fn']!r} + {c['rho0']!r} - rho * cos(theta), 4) AS lcc_y
FROM (
  SELECT doc_id,
    {c['aF']!r} * exp({c['n']!r} * ln(
      tan(0.7853981633974483 - radians(lat_c) / 2)
      * exp({c['e'] / 2.0!r} * ln((1.0 + {c['e']!r} * sin(radians(lat_c)))
                                  / (1.0 - {c['e']!r} * sin(radians(lat_c)))))
    )) AS rho,
    {c['n']!r} * (radians(lon) - {lam0!r}) AS theta
  FROM (
    SELECT doc_id, lon_i / 100.0 - 180.0 AS lon,
           least(greatest(lat_i / 100.0 - 85.0, -89.9999), 89.9999) AS lat_c
    FROM ({_ORACLE_DOCS})
  )
)
"""


# ---------------------------------------------------------------------------
# Q: chunk-level exact dedup stats (round 4) — the C4/RefinedWeb-style
# "spans duplicated across documents" pass: consecutive 3-token windows
# per doc, count instances occurring in >= 2 distinct docs.  Pure
# relational plan (explode → chunk groupBy → join back → per-doc agg);
# integer outputs → hash-stable.
# ---------------------------------------------------------------------------

def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.dedup import chunk_dup_stats
    return chunk_dup_stats(_read(spark, sf_dir, "documents"), chunk_len=3)


# ---------------------------------------------------------------------------
# Q: corpus vocabulary top-k (round 4) — the frequency-table /
# vocab-building pass every tokenizer training run starts with: explode
# tokens (map-side combine keeps the shuffle at |vocab|, not |tokens|),
# global counts, top 50 with deterministic (count desc, token asc)
# tiebreak.  At 100 TB the shuffle carries one row per distinct token
# per partition; the final top-k is a tiny single-partition sort.
# ---------------------------------------------------------------------------

def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token"))
    counts = (toks.filter(F.col("token") != "")
              .groupBy("token").agg(F.count("*").alias("n")))
    # orderBy+limit executes as TakeOrderedAndProject — distributed
    # per-partition top-k then a 50-row driver merge, never a global
    # single-partition sort over |vocab| (which is 10^8+ at web scale);
    # the rank window then runs over 50 rows only
    top = counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(50)
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return (top.withColumn("rank", F.row_number().over(w))
            .select("token", "n", "rank"))


_SQL_VOCAB_TOPK = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (
  SELECT token, count(*) AS n FROM toks WHERE token <> '' GROUP BY token
),
r AS (
  SELECT token, n,
         row_number() OVER (ORDER BY n DESC, token ASC) AS rank
  FROM counts
)
SELECT token, n, rank FROM r WHERE rank <= 50
"""


_SQL_CHUNK_DEDUP = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
ch AS (
  SELECT doc_id, array_to_string(t[i*3+1 : i*3+3], ' ') AS chunk
  FROM toks,
       unnest(generate_series(0, CAST(floor(len(t)/3) AS BIGINT) - 1))
       AS g(i)
),
dfreq AS (SELECT chunk, count(DISTINCT doc_id) AS df FROM ch GROUP BY chunk),
per AS (
  SELECT ch.doc_id, count(*) AS n_chunks,
         sum(CASE WHEN dfreq.df >= 2 THEN 1 ELSE 0 END) AS dup_chunks
  FROM ch JOIN dfreq USING (chunk) GROUP BY ch.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(per.n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(coalesce(per.dup_chunks, 0) AS BIGINT) AS dup_chunks
FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
"""


# ---------------------------------------------------------------------------
# Q: chunk-level span REMOVAL (round 5) — the cleaning half of
# chunk_dedup: emit each document's text with cross-document duplicated
# 3-token chunks dropped (ragged tail kept).  String output,
# hash-stable because both engines reassemble with identical
# order-by-position concatenation.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Q: quality-model score (round 5) — hashed-bigram linear classifier
# (fastText analog) as a zero-shuffle projection: literal weight array
# + one JVM `aggregate` fold per row; the DuckDB oracle replays the
# identical model through the bit-stable left fold.
# ---------------------------------------------------------------------------

def q_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.functions.quality import hashed_bigram_score
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return (hashed_bigram_score(docs)
            .select("doc_id", F.col("quality").alias("quality")))


def _sql_quality_model() -> str:
    from geoio_jl_spark.functions.quality import score_sql_duckdb
    return f"SELECT doc_id, {score_sql_duckdb()} AS quality FROM documents"


# ---------------------------------------------------------------------------
# Q: image near-dup (round 5) — dHash + Hamming-bucket join over REAL
# PNG bytes: each doc_id mints a deterministic 9×8 grayscale PNG with
# the engine's own codec (fixed-size 8-doc pixel clusters so pair volume
# scales linearly with the corpus + a 1-pixel per-doc
# perturbation, ≤2 dHash bits), the operator decodes/hashes/joins, and
# the DuckDB oracle replays the pixel arithmetic and bit comparisons
# in pure SQL — so the oracle checks the hash+join math while the
# Spark path additionally exercises encode_png→decode_png byte-exact.
# ---------------------------------------------------------------------------

def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.multimodal import (image_neardup_pairs,
                                                     synthetic_cluster_pngs)
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    imgs = synthetic_cluster_pngs(docs)
    return image_neardup_pairs(imgs, max_hamming=7)


_SQL_IMAGE_NEARDUP = """
WITH px AS (
  SELECT doc_id, j, i,
         least(((doc_id // 8) * 97 + i + 9 * j + 1)
               * ((doc_id // 8) * 89 + i * 7 + j * 3 + 7) % 251
               + CASE WHEN i = doc_id % 9 AND j = doc_id % 8
                      THEN 50 ELSE 0 END, 255) AS p
  FROM documents,
       unnest(generate_series(0, 7)) AS a(j),
       unnest(generate_series(0, 8)) AS b(i)
),
bits AS (
  SELECT l.doc_id, l.j, l.i, CASE WHEN r.p > l.p THEN 1 ELSE 0 END AS bit
  FROM px l JOIN px r ON r.doc_id = l.doc_id AND r.j = l.j AND r.i = l.i + 1
  WHERE l.i < 8
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS ham
  FROM bits a
  JOIN bits b ON a.j = b.j AND a.i = b.i AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(ham AS INT) AS hamming
FROM pairs WHERE ham <= 7
"""


_MODIS_R = 6371007.181  # MODIS authalic sphere radius (SR-ORG:6974)


def q_sinusoidal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproject doc points onto the MODIS Sinusoidal grid (round 5) —
    the spherical Sanson-Flamsteed closed form (functions/crs.sinusoidal
    with the e=0 MODIS sphere): x = R·Δλ·cosφ, y = R·φ.  Pure column
    arithmetic (whole-stage codegen); mm rounding for the cross-engine
    hash (the lambert93 pattern)."""
    pts = _docs_points(spark, sf_dir).select(
        "doc_id",
        (F.col("lon_i") / 100.0 - 180.0).alias("lon"),
        (F.col("lat_i") / 100.0 - 85.0).alias("lat"),
    )
    x = F.lit(_MODIS_R) * F.radians(F.col("lon")) * F.cos(F.radians(F.col("lat")))
    y = F.lit(_MODIS_R) * F.radians(F.col("lat"))
    return pts.select("doc_id", F.round(x, 4).alias("sinu_x"),
                      F.round(y, 4).alias("sinu_y"))


_SQL_SINUSOIDAL = f"""
SELECT doc_id,
       round({_MODIS_R!r} * radians(lon) * cos(radians(lat)), 4) AS sinu_x,
       round({_MODIS_R!r} * radians(lat), 4) AS sinu_y
FROM (
  SELECT doc_id, lon_i / 100.0 - 180.0 AS lon, lat_i / 100.0 - 85.0 AS lat
  FROM ({_ORACLE_DOCS})
)
"""


def q_chunk_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.dedup import remove_dup_chunks
    return remove_dup_chunks(_read(spark, sf_dir, "documents"), chunk_len=3)


_SQL_CHUNK_REMOVED = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS t,
         CAST(floor(len(string_split(text, ' ')) / 3) AS BIGINT) AS n
  FROM documents
),
ch AS (
  SELECT doc_id, i, array_to_string(t[i*3+1 : i*3+3], ' ') AS chunk
  FROM base, unnest(generate_series(0, n - 1)) AS g(i)
),
dfreq AS (
  SELECT chunk FROM ch GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2
),
dup AS (SELECT ch.doc_id, ch.i FROM ch JOIN dfreq USING (chunk)),
kept AS (
  SELECT ch.doc_id, string_agg(ch.chunk, ' ' ORDER BY ch.i) AS body
  FROM ch LEFT JOIN dup ON dup.doc_id = ch.doc_id AND dup.i = ch.i
  WHERE dup.i IS NULL
  GROUP BY ch.doc_id
),
rem AS (SELECT doc_id, count(*) AS removed FROM dup GROUP BY doc_id)
SELECT b.doc_id,
       concat_ws(' ', nullif(k.body, ''),
                 nullif(array_to_string(t[n*3+1 : len(t)], ' '), ''))
         AS clean_text,
       CAST(coalesce(rem.removed, 0) AS INT) AS removed_chunks
FROM base b
LEFT JOIN kept k ON k.doc_id = b.doc_id
LEFT JOIN rem ON rem.doc_id = b.doc_id
"""


# ---------------------------------------------------------------------------
# Q: RD New (Oblique Stereographic on Bessel, the Dutch national grid)
# — extends oracle-checked reprojection to the round-4 oblique family.
# Conformal-sphere constants are computed ONCE in Python (same code
# path as functions/crs.oblique_stereographic) and embedded as
# identical literals; per-row math is the same exp/ln/trig composition
# in both engines (no pow), 0.1mm-rounded.  Input filtered to a Europe
# box: the double stereographic blows up toward the antipode (B → 0),
# where rounding can no longer absorb last-ulp libm differences.
# ---------------------------------------------------------------------------


def _rd_consts() -> dict:
    import math
    a, inv_f = 6377397.155, 299.1528128  # Bessel 1841
    f = 1.0 / inv_f
    e2 = f * (2 - f)
    e = math.sqrt(e2)
    lat0 = 52.15616055555555
    p0 = math.radians(lat0)
    rho0 = a * (1 - e2) / (1 - e2 * math.sin(p0) ** 2) ** 1.5
    nu0 = a / math.sqrt(1 - e2 * math.sin(p0) ** 2)
    R = math.sqrt(rho0 * nu0)
    n = math.sqrt(1 + e2 * math.cos(p0) ** 4 / (1 - e2))
    S1 = (1 + math.sin(p0)) / (1 - math.sin(p0))
    S2 = (1 - e * math.sin(p0)) / (1 + e * math.sin(p0))
    w1 = (S1 * S2 ** e) ** n
    sx0t = (w1 - 1) / (w1 + 1)
    c = ((n + math.sin(p0)) * (1 - sx0t)) / ((n - math.sin(p0)) * (1 + sx0t))
    w2 = c * w1
    sx0 = (w2 - 1) / (w2 + 1)
    return dict(e=e, n=n, c=c, tworkk=2.0 * R * 0.9999079,
                sx0=sx0, cx0=math.sqrt(1 - sx0 * sx0),
                l0=math.radians(5.38763888888889),
                fe=155000.0, fn=463000.0)


_RD = _rd_consts()


def q_rd_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _RD
    pts = _docs_points(spark, sf_dir).select(
        "doc_id",
        (F.col("lon_i") / 100.0 - 180.0).alias("lon"),
        (F.col("lat_i") / 100.0 - 85.0).alias("lat"),
    ).filter("lon >= -10.0 AND lon <= 30.0 AND lat >= 35.0 AND lat <= 65.0")
    phi = F.radians(F.col("lat"))
    sp = F.sin(phi)
    es = F.lit(c["e"]) * sp
    L = F.lit(c["n"]) * (F.radians(F.col("lon")) - F.lit(c["l0"]))
    w = F.lit(c["c"]) * F.exp(F.lit(c["n"]) * F.log(
        (F.lit(1.0) + sp) / (F.lit(1.0) - sp)
        * F.exp(F.lit(c["e"])
                * F.log((F.lit(1.0) - es) / (F.lit(1.0) + es)))))
    sx = (w - F.lit(1.0)) / (w + F.lit(1.0))
    cx = F.sqrt(F.lit(1.0) - sx * sx)
    B = (F.lit(1.0) + sx * F.lit(c["sx0"])
         + cx * F.lit(c["cx0"]) * F.cos(L))
    E = F.lit(c["fe"]) + F.lit(c["tworkk"]) * cx * F.sin(L) / B
    N = (F.lit(c["fn"]) + F.lit(c["tworkk"])
         * (sx * F.lit(c["cx0"]) - cx * F.lit(c["sx0"]) * F.cos(L)) / B)
    return pts.select("doc_id", F.round(E, 4).alias("rd_x"),
                      F.round(N, 4).alias("rd_y"))


def _sql_rd_new() -> str:
    c = _RD
    return f"""
SELECT doc_id,
  round({c['fe']!r} + {c['tworkk']!r} * cx * sin(L) / B, 4) AS rd_x,
  round({c['fn']!r} + {c['tworkk']!r}
        * (sx * {c['cx0']!r} - cx * {c['sx0']!r} * cos(L)) / B, 4) AS rd_y
FROM (
  SELECT doc_id, sx, cx, L,
         1.0 + sx * {c['sx0']!r} + cx * {c['cx0']!r} * cos(L) AS B
  FROM (
    SELECT doc_id, sx, sqrt(1.0 - sx * sx) AS cx, L
    FROM (
      SELECT doc_id, (w - 1.0) / (w + 1.0) AS sx, L
      FROM (
        SELECT doc_id,
          {c['c']!r} * exp({c['n']!r} * ln(
            (1.0 + sin(radians(lat))) / (1.0 - sin(radians(lat)))
            * exp({c['e']!r} * ln((1.0 - {c['e']!r} * sin(radians(lat)))
                                  / (1.0 + {c['e']!r} * sin(radians(lat)))))
          )) AS w,
          {c['n']!r} * (radians(lon) - {c['l0']!r}) AS L
        FROM (
          SELECT doc_id, lon_i / 100.0 - 180.0 AS lon,
                 lat_i / 100.0 - 85.0 AS lat
          FROM ({_ORACLE_DOCS})
        )
        WHERE lon >= -10.0 AND lon <= 30.0 AND lat >= 35.0 AND lat <= 65.0
      )
    )
  )
)
"""


# ---------------------------------------------------------------------------
# Q: raster warp (web-mercator → lon/lat inverse-mapping reprojection).
# Both engines derive the same implicit grids (no input table — rasters
# are generated, the engine's §1.3 model); window corners are computed
# ONCE here in Python and embedded as identical literals so the only
# cross-engine arithmetic is the shared closed form. Integer outputs
# only (indices + looked-up value) → hash-stable.
# ---------------------------------------------------------------------------

_WARP_R = 6378137.0
_WARP_SRC = dict(nx=12, ny=10, x0=-5.0, y0=40.0)  # 1° lon/lat cells


def _warp_dst_literals():
    import math
    x0 = _WARP_R * math.radians(_WARP_SRC["x0"])
    y0 = _WARP_R * math.log(math.tan(math.pi / 4 + math.radians(_WARP_SRC["y0"]) / 2))
    x1 = _WARP_R * math.radians(10.0)
    y1 = _WARP_R * math.log(math.tan(math.pi / 4 + math.radians(53.0) / 2))
    nx, ny = 15, 13
    return x0, y0, (x1 - x0) / nx, (y1 - y0) / ny, nx, ny


def q_raster_warp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.raster import (GridSpec, grid_cells,
                                                 warp_to_crs)
    s = _WARP_SRC
    src_spec = GridSpec(nx=s["nx"], ny=s["ny"], A=((1.0, 0.0), (0.0, 1.0)),
                        b=(s["x0"], s["y0"]), crs="EPSG:4326")
    x0, y0, ax, ay, nx, ny = _warp_dst_literals()
    dst_spec = GridSpec(nx=nx, ny=ny, A=((ax, 0.0), (0.0, ay)),
                        b=(x0, y0), crs="EPSG:3857")
    src = grid_cells(spark, src_spec).withColumn(
        "v", (F.col("i") * 1000 + F.col("j")).cast("bigint"))
    out = warp_to_crs(src, src_spec, dst_spec, ["v"])
    return out.select(
        "i", "j",
        F.when(F.col("mask") == 1, F.col("v").cast("bigint")).alias("v"),
        F.col("mask").cast("int").alias("mask"))


def _sql_raster_warp() -> str:
    s = _WARP_SRC
    x0, y0, ax, ay, nx, ny = _warp_dst_literals()
    return f"""
WITH d AS (
  SELECT g % {nx} AS i, CAST(floor(g / {nx}.0) AS BIGINT) AS j
  FROM generate_series(0, {nx * ny - 1}) AS t(g)
),
pt AS (
  SELECT i, j, {ax!r} * i + {x0!r} AS x, {ay!r} * j + {y0!r} AS y FROM d
),
inv AS (
  SELECT i, j, degrees(x / {_WARP_R!r}) AS lon,
         degrees(atan(exp(y / {_WARP_R!r})) * 2 - pi() / 2) AS lat
  FROM pt
),
idx AS (
  SELECT i, j,
         CAST(round(lon - ({s['x0']!r})) AS BIGINT) AS si,
         CAST(round(lat - ({s['y0']!r})) AS BIGINT) AS sj
  FROM inv
)
SELECT i, j,
       CASE WHEN si BETWEEN 0 AND {s['nx'] - 1}
             AND sj BETWEEN 0 AND {s['ny'] - 1}
            THEN si * 1000 + sj END AS v,
       CAST(si BETWEEN 0 AND {s['nx'] - 1}
            AND sj BETWEEN 0 AND {s['ny'] - 1} AS INT) AS mask
FROM idx
"""


# ---------------------------------------------------------------------------
# Q: PII redaction (C4/Dolma-style scrubbing).  The synthetic corpus
# contains no PII, so both engines plant identical deterministic
# doc_id-derived spans first (every 3rd doc an email, 5th a phone, 7th
# an IPv4) — the regex kernel then redacts real matches.  Patterns live
# in operators/pii.py and are written in the Java-regex ∩ RE2 subset so
# the byte-identical pattern runs on both engines.
# ---------------------------------------------------------------------------


def _planted_pii(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    ids = did.cast("string")
    extra = F.concat_ws(
        " ",
        F.when(did % 3 == 0, F.concat(
            F.lit("user"), ids, F.lit("@mail.example.com"))),
        F.when(did % 5 == 0, F.concat(
            F.lit("+1 555 010 "),
            F.lpad((did % 10000).cast("string"), 4, "0"))),
        F.when(did % 7 == 0, F.concat(
            F.lit("10."), (did % 200).cast("string"), F.lit(".0."),
            (did % 250 + 1).cast("string"))),
        # Luhn-VALID card (redacted) and Luhn-INVALID digit run (kept):
        # the oracle replays the checksum, not just the regex shape
        F.when(did % 11 == 0, F.lit("card 4532015112830366 ok")),
        F.when(did % 13 == 0, F.lit("num 1234567890123456 junk")),
    )
    return docs.select(
        "doc_id", F.concat("text", F.lit(" "), extra).alias("text"))


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.pii import redact_pii
    docs = _planted_pii(_read(spark, sf_dir, "documents"))
    return redact_pii(docs).select(
        "doc_id", "clean_text", "n_emails", "n_phones", "n_ips", "n_cards")


def _sql_pii_redact() -> str:
    from geoio_jl_spark.operators.pii import (EMAIL_RE, IPV4_RE, PHONE_RE,
                                              card_count_sql,
                                              card_redact_sql)
    regex_red = (f"regexp_replace(regexp_replace(regexp_replace(t, "
                 f"'{EMAIL_RE}', '<EMAIL>', 'g'), "
                 f"'{PHONE_RE}', '<PHONE>', 'g'), "
                 f"'{IPV4_RE}', '<IP>', 'g')")
    return f"""
WITH planted AS (
  SELECT doc_id,
         concat(text, ' ', concat_ws(' ',
           CASE WHEN doc_id % 3 = 0 THEN
             concat('user', CAST(doc_id AS VARCHAR), '@mail.example.com')
           END,
           CASE WHEN doc_id % 5 = 0 THEN
             concat('+1 555 010 ',
                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
           END,
           CASE WHEN doc_id % 7 = 0 THEN
             concat('10.', CAST(doc_id % 200 AS VARCHAR), '.0.',
                    CAST(doc_id % 250 + 1 AS VARCHAR))
           END,
           CASE WHEN doc_id % 11 = 0 THEN 'card 4532015112830366 ok' END,
           CASE WHEN doc_id % 13 = 0 THEN 'num 1234567890123456 junk' END
           )) AS t
  FROM documents)
SELECT doc_id,
       {card_redact_sql(regex_red, 'duckdb')} AS clean_text,
       CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all(t, '{IPV4_RE}')) AS INT) AS n_ips,
       {card_count_sql('t', 'duckdb')} AS n_cards
FROM planted
"""


# ---------------------------------------------------------------------------
# Q: benchmark decontamination — docs sharing any 4-gram with the eval
# split (doc_id % 97 == 0) are flagged; n_overlap counts distinct shared
# grams.  The eval gram set is broadcast (operators/decontaminate.py).
# ---------------------------------------------------------------------------


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.decontaminate import decontaminate
    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, bench, n=4)


_SQL_DECONTAMINATE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
bench AS (
  SELECT DISTINCT array_to_string(t[i+1 : i+4], ' ') AS gram
  FROM toks, unnest(generate_series(0, len(t) - 4)) AS s(i)
  WHERE doc_id % 97 = 0
),
train AS (
  SELECT doc_id, array_to_string(t[i+1 : i+4], ' ') AS gram
  FROM toks, unnest(generate_series(0, len(t) - 4)) AS s(i)
),
hits AS (
  SELECT doc_id, count(DISTINCT train.gram) AS n
  FROM train JOIN bench USING (gram)
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n, 0) AS INT) AS n_overlap,
       CAST(coalesce(h.n, 0) > 0 AS INT) AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
"""


# ---------------------------------------------------------------------------
# Q: deterministic data mixing — per-source weighted subsample with a
# Knuth-hash uniform (operators/mixer.py), weights 1/(1 + idx%4) per
# source.  Both engines evaluate the identical int64 arithmetic, so the
# kept set is exact, not statistical.
# ---------------------------------------------------------------------------


def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.mixer import weighted_sample
    docs = _read(spark, sf_dir, "documents")
    # weights as a DataFrame broadcast-joined by the mixer — the whole
    # weight derivation stays distributed (VERDICT r5 item 6: the old
    # distinct().collect() built a driver dict; at 100 TB the weights
    # table is a join input, not driver state)
    wdf = (docs.select("source").distinct()
           .withColumn("weight",
                       F.lit(1.0) / (F.lit(1) +
                                     F.substring("source", 4, 10)
                                     .cast("int") % 4)))
    return (weighted_sample(docs, wdf)
            .groupBy("source")
            .agg(F.count("*").cast("int").alias("kept")))


_SQL_MIX_SAMPLE = """
SELECT source, CAST(count(*) AS INT) AS kept
FROM documents
WHERE ((((doc_id % 2147483648) + 2147483648) % 2147483648)
       * 2654435761) % 4294967296 <
      CAST(floor(4294967296 / (1 + CAST(substr(source, 4) AS INT) % 4))
           AS BIGINT)
GROUP BY source
"""


# ---------------------------------------------------------------------------
# Q: sequence packing (operators/packing.py) — concat-and-chunk layout
# of the corpus into 2048-token training sequences.  The Spark side is
# the two-phase distributed prefix sum (range shuffle + tiny offset
# broadcast — never a single-partition global window); the oracle is
# the plain SQL running total it must equal.
# ---------------------------------------------------------------------------

_PACK_LEN = 2048


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.packing import pack_sequences
    docs = _read(spark, sf_dir, "documents")
    toks = F.expr(D.tokens_sql("text", "spark"))
    d = docs.select("doc_id", F.size(toks).alias("n_tokens"))
    return pack_sequences(d, _PACK_LEN)


_SQL_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id,
         len({D.tokens_sql('text', 'duckdb')}) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS off
  FROM t
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       CAST(off AS BIGINT) AS offset,
       CAST(off // {_PACK_LEN} AS INT) AS seq_start,
       -- floor(), not //: DuckDB's // truncates toward zero, so a
       -- zero-token doc at offset 0 gives (0-1)//N = 0 while Spark's
       -- floor gives -1 — which is the documented seq_end < seq_start
       -- contract for empty docs (ADVICE r6)
       CAST(floor((off + n_tokens - 1) / {_PACK_LEN}.0) AS INT) AS seq_end,
       CAST(CASE WHEN n_tokens > 0
                 THEN floor((off + n_tokens - 1) / {_PACK_LEN}.0)
                      - off // {_PACK_LEN} + 1
                 ELSE 0 END AS INT) AS n_seqs
FROM c
"""


# ---------------------------------------------------------------------------
# Q: BM25 relevance scoring (search ranking over the corpus) — exact
# cross-engine FP parity: per-(doc, term) stats are integers, idf/len
# normalization are the identical-IEEE double ops (ln/division, the
# webmercator precedent), and the final score is a FIXED-ORDER sum of
# the per-term columns (conditional max per term, never a float
# aggregation whose order could differ).
# ---------------------------------------------------------------------------

_BM25_TERMS = ("data", "query", "spark")
_BM25_K1, _BM25_B = 1.2, 0.75


def q_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    toks = F.expr(D.tokens_sql("text", "spark"))
    def _tf(term):
        # single-arg lambda: a 2-arg one would be read as (elem, index)
        return F.size(F.filter("_t", lambda x: x == F.lit(term)))

    base = docs.select("doc_id", toks.alias("_t")).select(
        "doc_id", F.size("_t").cast("bigint").alias("dl"),
        *[_tf(t).cast("bigint").alias(f"tf_{i}")
          for i, t in enumerate(_BM25_TERMS)])
    # Two passes over the scan (stats pass + scoring pass) instead of a
    # localCheckpoint of the per-doc base: localCheckpoint pins shuffle
    # blocks to executor-volatile storage, so an executor loss on a real
    # cluster kills the query mid-run (VERDICT r6 item 7).  The base is a
    # pure projection of the source scan — recomputing it is lineage-safe
    # at any scale, and the stats pass collects exactly one row.
    agg = base.agg(
        F.count("*").alias("n"), F.sum("dl").alias("sl"),
        *[F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0))
          .alias(f"df_{i}") for i in range(len(_BM25_TERMS))]).collect()[0]
    n, avgdl = int(agg["n"]), float(agg["sl"]) / float(agg["n"])
    import math
    k1, b = _BM25_K1, _BM25_B
    score = F.lit(0.0)
    for i in range(len(_BM25_TERMS)):
        idf = math.log((n - int(agg[f"df_{i}"]) + 0.5)
                       / (int(agg[f"df_{i}"]) + 0.5) + 1.0)
        tf = F.col(f"tf_{i}").cast("double")
        part = (F.lit(idf) * tf * (k1 + 1)
                / (tf + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))))
        score = score + part
    return (base.select("doc_id", score.alias("bm25"))
            .filter(F.col("bm25") > 0))


def _sql_bm25_score() -> str:
    toks = D.tokens_sql("text", "duckdb")
    tf_cols = ", ".join(
        f"CAST(len(list_filter(t, x -> x = '{t}')) AS BIGINT) AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS))
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(_BM25_TERMS)))
    k1, b = _BM25_K1, _BM25_B
    parts = " + ".join(
        f"""(ln((a.n - a.df_{i} + 0.5) / (a.df_{i} + 0.5) + 1.0)
   * CAST(tf_{i} AS DOUBLE) * ({k1} + 1)
   / (CAST(tf_{i} AS DOUBLE)
      + {k1} * (1 - {b} + {b} * dl / (CAST(a.sl AS DOUBLE)
                                      / CAST(a.n AS DOUBLE)))))"""
        for i in range(len(_BM25_TERMS)))
    return f"""WITH base AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, {tf_cols}
  FROM (SELECT doc_id, {toks} AS t FROM documents)),
a AS (SELECT count(*) AS n, SUM(dl) AS sl, {df_cols} FROM base)
SELECT doc_id, (0.0 + {parts}) AS bm25
FROM base, a
WHERE ({parts}) > 0"""


# ---------------------------------------------------------------------------
# Q: PageRank over the part<->supplier bipartite graph (operators/
# graph.py) — 5 synchronous rounds in fixed-point int64; the oracle
# unrolls the identical rounds (the bpe_merges pattern), every division
# is the floor(int / int-as-double) identical-IEEE form and every sum
# an order-independent int64 sum, so ranks are bit-identical.
# ---------------------------------------------------------------------------

_PR_ITERS = 5


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.graph import pagerank
    li = _read(spark, sf_dir, "lineitem")
    fwd = li.select((F.col("l_partkey") * 2).alias("src"),
                    (F.col("l_suppkey") * 2 + 1).alias("dst"))
    edges = fwd.unionByName(
        li.select((F.col("l_suppkey") * 2 + 1).alias("src"),
                  (F.col("l_partkey") * 2).alias("dst")))
    return pagerank(edges, iters=_PR_ITERS)


def _sql_pagerank(iters: int = _PR_ITERS) -> str:
    head = """WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem
    UNION ALL
    SELECT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst FROM lineitem)),
nodes AS (SELECT DISTINCT src AS node FROM e
          UNION SELECT DISTINCT dst AS node FROM e),
b AS (SELECT CAST(floor(1000000000000 / CAST(count(*) AS DOUBLE))
              AS BIGINT) AS r0,
             CAST(floor(15 * floor(1000000000000
                                   / CAST(count(*) AS DOUBLE)) / 100.0)
              AS BIGINT) AS tele
      FROM nodes),
ed AS (SELECT e.src, e.dst, d.deg
       FROM e JOIN (SELECT src, count(*) AS deg FROM e GROUP BY 1) d
       USING (src)),
r0t AS (SELECT node, (SELECT r0 FROM b) AS r FROM nodes)"""
    parts = [head]
    prev = "r0t"
    for k in range(1, iters + 1):
        parts.append(f""",
r{k} AS (
  SELECT n.node,
         (SELECT tele FROM b)
         + CAST(floor(85 * COALESCE(s.s, 0) / 100.0) AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT ed.dst AS node,
           SUM(CAST(floor(r.r / CAST(ed.deg AS DOUBLE)) AS BIGINT)) AS s
    FROM ed JOIN {prev} r ON ed.src = r.node GROUP BY 1) s
  USING (node))""")
        prev = f"r{k}"
    parts.append(f"\nSELECT node, r FROM r{iters}")
    return "".join(parts)


# ---------------------------------------------------------------------------
# Q: focal mean over the doc-density grid (operators/raster.focal_stats)
# — 3x3 map algebra as a scatter stencil; the oracle mirrors the exact
# scatter (cross join with the 9 offsets, group by target, HAVING 9),
# so interior-only semantics and the avg/min/max values match exactly
# (sum of 9 bigints < 2^53 -> avg is the same IEEE division).
# ---------------------------------------------------------------------------

# centidegrees per cell -> 18 x 9 grid.  Coarse enough that sf0.01's 500
# docs fully surround interior cells (112 interior rows at sf0.01; the
# r6 value 1000.0 produced a 36x17 grid whose sf0.01 driver row was
# vacuously green at 0 rows — VERDICT r6 item 3).
_FOCAL_EDGE = 2000.0


def q_focal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.raster import focal_stats
    pts = _docs_points(spark, sf_dir)
    cells = (pts
             .select(F.floor(F.col("lon_i") / _FOCAL_EDGE)
                     .cast("bigint").alias("i"),
                     F.floor(F.col("lat_i") / _FOCAL_EDGE)
                     .cast("bigint").alias("j"))
             .groupBy("i", "j")
             .agg(F.count("*").alias("v")))
    return (focal_stats(cells, v_col="v")
            .select("i", "j", "focal_mean",
                    F.col("focal_min").cast("bigint").alias("focal_min"),
                    F.col("focal_max").cast("bigint").alias("focal_max")))


def _sql_focal_mean() -> str:
    return f"""WITH c AS (
  SELECT CAST(floor(({LON}) / {_FOCAL_EDGE}) AS BIGINT) AS i,
         CAST(floor(({LAT}) / {_FOCAL_EDGE}) AS BIGINT) AS j,
         count(*) AS v
  FROM documents GROUP BY 1, 2),
s AS (
  SELECT c.i - dx.d AS ti, c.j - dy.d AS tj, c.v
  FROM c, (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d))
SELECT ti AS i, tj AS j, avg(v) AS focal_mean,
       CAST(min(v) AS BIGINT) AS focal_min,
       CAST(max(v) AS BIGINT) AS focal_max
FROM s GROUP BY 1, 2 HAVING count(*) = 9"""


# ---------------------------------------------------------------------------
# Q: geohash cells (dialect.geohash_sql) — classic base-32 interleaved-bit
# cell key over the doc lattice; bin indices are exact integer arithmetic
# (power-of-two divisions are IEEE-exact), so Spark and DuckDB agree
# bit-for-bit.  The aggregate is the cell-occupancy histogram a tile
# server or a geo-shard planner would build.
# ---------------------------------------------------------------------------

_GEOHASH_P = 6


def q_geohash_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _docs_points(spark, sf_dir)
    lon_idx, lat_idx, _, _ = D.geohash_idx_sql("lon_i", "lat_i", _GEOHASH_P)
    gh = D.geohash_sql("lon_idx", "lat_idx", _GEOHASH_P)
    return (pts
            .withColumn("lon_idx", F.expr(lon_idx))
            .withColumn("lat_idx", F.expr(lat_idx))
            .select(F.expr(gh).alias("gh"))
            .groupBy("gh")
            .agg(F.count("*").cast("bigint").alias("n")))


def _sql_geohash_cells() -> str:
    lon_idx, lat_idx, _, _ = D.geohash_idx_sql(LON, LAT, _GEOHASH_P)
    gh = D.geohash_sql("lon_idx", "lat_idx", _GEOHASH_P)
    return f"""WITH pts AS (
  SELECT {lon_idx} AS lon_idx, {lat_idx} AS lat_idx FROM documents)
SELECT {gh} AS gh, CAST(count(*) AS BIGINT) AS n
FROM pts GROUP BY 1"""


# ---------------------------------------------------------------------------
# Q: BPE tokenizer training (operators/bpe.py) — 8 merge rounds over the
# word-count table; the oracle unrolls the identical rounds in SQL (the
# ivf_topk pattern: deterministic iteration, same count-desc / pair-asc
# tie-break, same 6-pass replace kernel), so the learned merge list is
# bit-identical across engines.
# ---------------------------------------------------------------------------

_BPE_MERGES = 8


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.bpe import train_bpe
    docs = _read(spark, sf_dir, "documents")
    merges = train_bpe(docs, _BPE_MERGES)
    rows = [(i + 1, p, c) for i, (p, c) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "merge_idx int, pair string, pair_count bigint")


def _sql_bpe_cte_chain(n: int = _BPE_MERGES, passes: int = 6) -> str:
    """Shared WITH-chain for the BPE oracles: learn ``n`` merges over the
    (word, cnt) table and apply EVERY learned merge, so ``w{n}`` is the
    fully-tokenized vocabulary (carrying ``word`` for the encode join)
    and ``b0..b{n-1}`` are the learned merges."""
    parts = ["""WITH w0 AS (
  SELECT word,
         array_to_string(
           [substring(word, x, 1) for x in
            generate_series(1, length(word))], ' ') || ' </w>' AS sym,
         cnt
  FROM (SELECT word, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE word <> '' GROUP BY word))"""]
    for r in range(n):
        parts.append(f""",
p{r} AS (
  SELECT t[i+1] || ' ' || t[i+2] AS pair, sum(cnt) AS c
  FROM (SELECT string_split(sym, ' ') AS t, cnt FROM w{r}),
       unnest(generate_series(0, len(t) - 2)) AS g(i)
  GROUP BY 1
),
b{r} AS (SELECT pair, c FROM p{r} ORDER BY c DESC, pair ASC LIMIT 1)""")
        expr = "' ' || sym || ' '"
        for _ in range(passes):
            expr = (f"replace({expr}, ' ' || b.pair || ' ', "
                    "' ' || replace(b.pair, ' ', '') || ' ')")
        parts.append(f""",
w{r + 1} AS (SELECT word, trim({expr}) AS sym, cnt FROM w{r}, b{r} b)""")
    return "".join(parts)


def _sql_bpe_merges(n: int = _BPE_MERGES, passes: int = 6) -> str:
    sel = "\nUNION ALL\n".join(
        f"SELECT {r + 1} AS merge_idx, pair, CAST(c AS BIGINT) AS pair_count"
        f" FROM b{r}" for r in range(n))
    return _sql_bpe_cte_chain(n, passes) + "\n" + sel


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 8 merges, then ENCODE the corpus with them (operators/
    bpe.encode_bpe): merges apply to the distinct-word table only, the
    per-word token count broadcast-joins back to the exploded corpus,
    one per-doc aggregation — the 100-TB tokenization shape."""
    from geoio_jl_spark.operators.bpe import encode_bpe, train_bpe
    docs = _read(spark, sf_dir, "documents")
    merges = train_bpe(docs, _BPE_MERGES)
    return encode_bpe(docs, merges)


def _sql_bpe_encode(n: int = _BPE_MERGES, passes: int = 6) -> str:
    return _sql_bpe_cte_chain(n, passes) + f"""
SELECT d.doc_id,
       CAST(sum(len(string_split(v.sym, ' '))) AS BIGINT) AS n_bpe_sym
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents) d
JOIN w{n} v USING (word)
GROUP BY d.doc_id"""


# ---------------------------------------------------------------------------
# Q: tile-pyramid rollup (operators/pyramid.py) — doc points aggregated
# into tiles at zooms 6..0 (hierarchical 4:1 rollup after ONE corpus
# shuffle).  The oracle aggregates the raw points at every zoom
# directly; floor-composition makes the two forms exactly equal.
# ---------------------------------------------------------------------------

_PYR_ZMAX, _PYR_BASE = 6, 64


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.pyramid import tile_pyramid
    pts = _docs_points(spark, sf_dir)
    return tile_pyramid(pts, "lon_i", "lat_i", max_zoom=_PYR_ZMAX,
                        base_tile=_PYR_BASE)


def _sql_tile_pyramid() -> str:
    sels = []
    for z in range(_PYR_ZMAX, -1, -1):
        ts = _PYR_BASE * 2 ** (_PYR_ZMAX - z)
        sels.append(
            f"SELECT {z} AS zoom, lon_i // {ts} AS tx, lat_i // {ts} AS ty,"
            f" count(*) AS n FROM pts GROUP BY 2, 3")
    body = "\nUNION ALL\n".join(sels)
    return (f"WITH pts AS (SELECT {D.LON_I.format(id='doc_id')} AS lon_i, "
            f"{D.LAT_I.format(id='doc_id')} AS lat_i FROM documents)\n"
            + body)


# ---------------------------------------------------------------------------
# Q: corpus dataset card — the per-source stats table a corpus release
# ships (docs, tokens, language spread, exact-dup rate, mean length).
# One partial-aggregated groupBy pass; the avg goes through the
# floor(x·1e6) convention (exact int sum / int count → one double
# division in both engines).
# ---------------------------------------------------------------------------


def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.groupBy("source").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.sum(F.size(toks)).cast("bigint").alias("n_tokens"),
        F.count_distinct("lang").cast("int").alias("n_langs"),
        (F.count("*") - F.count_distinct(F.md5("text"))).cast("int")
        .alias("n_dup_texts"),
        F.floor(F.avg(F.length("text")) * 1000000).cast("bigint")
        .alias("avg_chars_e6"),
    )


_SQL_CORPUS_CARD = """
SELECT source,
       CAST(count(*) AS INT) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT lang) AS INT) AS n_langs,
       CAST(count(*) - count(DISTINCT md5(text)) AS INT) AS n_dup_texts,
       CAST(floor(avg(length(text)) * 1000000) AS BIGINT) AS avg_chars_e6
FROM documents
GROUP BY source
"""


# ---------------------------------------------------------------------------
# Q: per-domain fair-share cap — the crawl-pipeline downsampler that
# keeps at most K docs per registered domain so megasites cannot
# dominate a training mix.  Deterministic: rank within domain by a
# multiplicative integer mix of doc_id (the repo's lattice precedent —
# exact in both engines; xxhash64 would be Spark-only), tie-broken by
# doc_id.  One partitioned window (never global), the textbook per-key
# top-k at any scale.
# ---------------------------------------------------------------------------

_DOMAIN_CAP = 5


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.functions import urls as U
    docs = _read(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.expr(U.raw_url_sql("doc_id", "spark")).alias("url"))
    d = d.withColumn("domain", F.expr(U.host_sql("url", "spark")))
    # deterministic pseudo-random rank: multiplicative mix of doc_id
    # (the repo's lattice-mix precedent), tie-broken by doc_id.
    # Reduced BEFORE multiplying (ADVICE r7): (a*b) % m == ((a%m)*(b%m)) % m
    # exactly, but the left form overflows int64 once doc_id > ~3.47e9 —
    # Spark (non-ANSI) would silently wrap while the oracle errors; the
    # reduced form keeps the product < 1000003 * 2654435761 < 2^62 at any
    # doc_id.  Identical values at every scale the oracle can run.
    d = d.withColumn(
        "rk", ((F.col("doc_id") % 1000003) * (2654435761 % 1000003))
        % 1000003)
    w = Window.partitionBy("domain").orderBy("rk", "doc_id")
    return (d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _DOMAIN_CAP)
            .select("doc_id", "domain",
                    F.col("rn").cast("int").alias("rank_in_domain")))


def _sql_domain_cap() -> str:
    from geoio_jl_spark.functions import urls as U
    url = U.raw_url_sql("doc_id", "duckdb")
    host = U.host_sql("url", "duckdb")
    return f"""
WITH d AS (
  SELECT doc_id, {host} AS domain,
         (doc_id * 2654435761) % 1000003 AS rk
  FROM (SELECT doc_id, {url} AS url FROM documents)
)
SELECT doc_id, domain,
       CAST(row_number() OVER (PARTITION BY domain ORDER BY rk, doc_id)
            AS INT) AS rank_in_domain
FROM d
QUALIFY rank_in_domain <= {_DOMAIN_CAP}
"""


# ---------------------------------------------------------------------------
# Q: exact per-source length median (corpus-card extension) — the
# dataset-curation sanity stat ("did source X's length distribution
# shift?") computed EXACTLY, not approx_percentile: rank lengths inside
# each source (one partitioned window — the per-key top-k shape again,
# cheap because groups are sources) and pick the lower median
# k = (n+1) div 2 by definition, identical expression in both engines
# so no percentile-semantics ambiguity exists to diverge on.
# ---------------------------------------------------------------------------

def q_source_median_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    d = docs.select("source", F.length("text").alias("len"))
    # ties in `len` make rn assignment among equal lengths arbitrary,
    # but the k-th smallest LENGTH is well-defined either way and only
    # the length is projected — so ORDER BY len alone is deterministic
    # for this output in both engines
    w = Window.partitionBy("source").orderBy("len")
    d = d.withColumn("rn", F.row_number().over(w)) \
         .withColumn("n", F.count("*").over(Window.partitionBy("source")))
    return (d.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
            .select("source",
                    F.col("len").cast("bigint").alias("median_len"),
                    F.col("n").cast("bigint").alias("n_docs")))


_SQL_SOURCE_MEDIAN_LEN = """
WITH d AS (
  SELECT source, length(text) AS len,
         row_number() OVER (PARTITION BY source ORDER BY len) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source, CAST(len AS BIGINT) AS median_len,
       CAST(n AS BIGINT) AS n_docs
FROM d WHERE rn = (n + 1) // 2
"""


# ---------------------------------------------------------------------------
# Q: bigram LM surprisal (operators/lm.py) — the CCNet/Gopher-style
# perplexity quality filter: corpus-trained add-one-smoothed bigram
# model, per-doc average surprisal.  Fixed-point per-bigram integers
# (floor(-ln(p) * 1e6) computed once per distinct bigram, identical
# IEEE ln/division on identical integers in both engines), integer
# per-doc sums — deterministic under any partitioning.
# ---------------------------------------------------------------------------

def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geoio_jl_spark.operators.lm import bigram_surprisal
    docs = _read(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.expr(D.tokens_sql("text", "spark")).alias("t"))
    return bigram_surprisal(d)


def _sql_bigram_surprisal() -> str:
    toks = D.tokens_sql("text", "duckdb")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS t FROM documents),
bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, t,
               unnest(generate_series(1, len(t) - 1)) AS i
        FROM t WHERE len(t) >= 2)),
m AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
u AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
v AS (SELECT count(DISTINCT w1) AS vocab FROM bg),
s AS (SELECT w1, w2,
             CAST(floor(-ln((c12 + 1.0) / (c1 + vocab)) * 1000000.0)
                  AS BIGINT) AS sup_e6
      FROM m JOIN u USING (w1), v)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(sup_e6) AS BIGINT) AS total_surprisal_e6,
       CAST(sum(sup_e6) AS DOUBLE) / count(*) AS avg_surprisal_e6
FROM bg JOIN s USING (w1, w2)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Q: corpus store CDC resolve (plans/store.py) — a deterministic 3-epoch
# delta chain derived from the documents table is ingested into a
# throwaway store, then read back through the merge-on-read resolve
# (one max_by(struct, epoch) aggregation — the exact read path every
# store consumer takes).  The oracle replays the same chain in closed
# form: the last epoch that touched a key wins, so resolved text /
# epoch / op are pure CASE expressions over doc_id (rev2 touches
# doc_id % 7 == 0 at epoch 1, rev3 touches doc_id % 13 == 0 at epoch 2;
# revisions append a suffix so every touch is a real content change and
# the CDC diff emits it).  VERDICT r6 item 5.
# ---------------------------------------------------------------------------

def q_store_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from geoio_jl_spark.plans import store as ST
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    # the result reads the store lazily: keep it until the process exits
    d = tempfile.mkdtemp(prefix="geoio_store_resolve_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    ST.ingest(spark, d, docs, epoch=0, key_col="doc_id")
    rev2 = (docs.filter(F.col("doc_id") % 7 == 0)
            .withColumn("text", F.concat(F.col("text"), F.lit(" [rev2]"))))
    ST.ingest(spark, d, rev2, epoch=1, key_col="doc_id")
    rev3 = (docs.filter(F.col("doc_id") % 13 == 0)
            .withColumn("text", F.concat(F.col("text"), F.lit(" [rev3]"))))
    ST.ingest(spark, d, rev3, epoch=2, key_col="doc_id")
    out = ST.resolve(spark, d, key_col="doc_id")
    return out.select("doc_id",
                      F.col("text").alias("resolved_text"),
                      F.col("epoch").cast("int").alias("epoch"),
                      "op")


_SQL_STORE_RESOLVE = """
SELECT doc_id,
       CASE WHEN doc_id % 13 = 0 THEN text || ' [rev3]'
            WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
            ELSE text END AS resolved_text,
       CAST(CASE WHEN doc_id % 13 = 0 THEN 2
                 WHEN doc_id % 7 = 0 THEN 1
                 ELSE 0 END AS INT) AS epoch,
       CASE WHEN doc_id % 13 = 0 OR doc_id % 7 = 0
            THEN 'update' ELSE 'insert' END AS op
FROM documents
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def registry() -> dict[str, tuple[Callable, str | None]]:
    return {
        "bm25_score": (q_bm25_score, _sql_bm25_score()),
        "pip_pairs_salted": (q_pip_pairs_salted, SQL_PIP_PAIRS_SALTED),
        "knn_join": (q_knn, SQL_KNN),
        "mix_sample": (q_mix_sample, _SQL_MIX_SAMPLE),
        "pack_sequences": (q_pack_sequences, _SQL_PACK_SEQUENCES),
        "bbox_range_join": (q_bbox_join, SQL_BBOX_JOIN),
        "extent": (q_extent, SQL_EXTENT),
        "cell_counts": (q_cell_counts, SQL_CELL_COUNTS),
        "zorder_cells": (q_zorder_cells, _sql_zorder_cells()),
        "valid_counts": (q_valid_counts, SQL_VALID_COUNTS),
        "geohash_cells": (q_geohash_cells, _sql_geohash_cells()),
        "centroid": (q_centroid, SQL_CENTROID),
        "grid_tiles": (q_grid_tiles, SQL_GRID_TILES),
        "token_stats": (q_token_stats, SQL_TOKEN_STATS),
        "session_rollup": (q_session_rollup, _sql_session_rollup()),
        "quality_score": (q_quality, SQL_QUALITY),
        "gopher_filter": (q_gopher_filter, SQL_GOPHER_FILTER),
        "fingerprint": (q_fingerprint, SQL_FINGERPRINT),
        "exact_dedup": (q_exact_dedup, SQL_EXACT_DEDUP),
        "minhash_lsh": (q_minhash_lsh, _sql_minhash_lsh()),
        "minhash_star_edges": (q_minhash_star_edges,
                               _sql_minhash_star_edges()),
        "connected_components": (q_connected_components,
                                 _sql_connected_components()),
        "ivf_topk": (q_ivf_topk, _sql_ivf_topk()),
        "ngram_jaccard_capped": (q_ngram_jaccard_capped,
                                 _sql_ngram_jaccard_capped()),
        "pagerank": (q_pagerank, _sql_pagerank()),
        "cosine_topk": (q_cosine_topk, _sql_cosine_topk()),
        "vocab_topk": (q_vocab_topk, _SQL_VOCAB_TOPK),
        # round-7 store_resolve took ann_signature's slot (r1-r6
        # driver-green; cosine_topk / embedding_near_dup / ivf_topk /
        # semantic_dedup keep the similarity family in-window, and
        # every over-cap entry is now gated on every pytest run —
        # tests/test_queries_oracle.py::test_rotated_out_query_matches_oracle).
        "store_resolve": (q_store_resolve, _SQL_STORE_RESOLVE),
        "vertex_dedup": (q_vertex_dedup, SQL_VERTEX_DEDUP),
        "layer_select": (q_layer_select, SQL_LAYER_SELECT),
        "webmercator": (q_webmercator, SQL_WEBMERCATOR),
        "bpe_merges": (q_bpe_merges, _sql_bpe_merges()),
        "asof_join": (q_asof_join, SQL_ASOF_JOIN),
        "events_rollup": (q_events_rollup, SQL_EVENTS_ROLLUP),
        "bpe_encode": (q_bpe_encode, _sql_bpe_encode()),
        "embedding_near_dup": (q_embedding_near_dup, _sql_embedding_near_dup()),
        "url_canonical": (q_url_canonical, _sql_url_canonical()),
        "url_dup_groups": (q_url_dup_groups, _sql_url_dup_groups()),
        "gopher_repetition": (q_gopher_repetition, _sql_gopher_repetition()),
        "semantic_dedup": (q_semantic_dedup, _sql_semantic_dedup()),
        "raster_warp": (q_raster_warp, _sql_raster_warp()),
        "tile_pyramid": (q_tile_pyramid, _sql_tile_pyramid()),
        "corpus_card": (q_corpus_card, _SQL_CORPUS_CARD),
        "focal_mean": (q_focal_mean, _sql_focal_mean()),
        "image_neardup": (q_image_neardup, _SQL_IMAGE_NEARDUP),
        "quality_model_score": (q_quality_model, _sql_quality_model()),
        "chunk_dedup": (q_chunk_dedup, _SQL_CHUNK_DEDUP),
        "chunk_removed": (q_chunk_removed, _SQL_CHUNK_REMOVED),
        "pii_redact": (q_pii_redact, _sql_pii_redact()),
        "decontaminate": (q_decontaminate, _SQL_DECONTAMINATE),
        # --- positions 51+: the driver's CORRECTNESS check caps at the
        # first 50 registry entries.  These rotated-out queries are all
        # multi-round driver-green (r1-r5) and remain covered by pytest
        # and the local parity gate (tools/parity_check.py); the slots
        # they vacated now hold mix_sample / bpe_merges / tile_pyramid /
        # corpus_card / vocab_topk / ivf_topk / session_rollup (every
        # operator family gets a driver correctness row, VERDICT r5 #1)
        # plus round-6 pack_sequences (knn_join_pruned rotated out — its
        # oracle is the same SQL_KNN as the in-window knn_join) and
        # round-6 bpe_encode (bpe_tokens rotated out — bpe_encode is the
        # strictly stronger tokenizer check: real merge application vs
        # the regex token-count heuristic).
        # round-6 bm25_score took pip_count's slot (r1-r5 driver-green;
        # pip_pairs_salted and the flagship entry() keep point-in-
        # polygon in-window).
        "pip_count": (q_pip_count, SQL_PIP_COUNT),
        # round-6 pagerank took simhash's slot (r1-r5 driver-green;
        # minhash_lsh / star-edges / ngram / exact keep the dedup
        # family in-window).
        "simhash": (q_simhash, _sql_simhash()),
        # round-6 geohash_cells took invalid_rows' slot (P4 stays
        # covered by pytest + the in-window valid_counts P3 twin);
        # round-6 focal_mean took sinusoidal's (r5-green; webmercator
        # keeps the F15 family in-window).
        "sinusoidal": (q_sinusoidal, _SQL_SINUSOIDAL),
        "invalid_rows": (q_invalid_rows, SQL_INVALID_ROWS),
        "bpe_tokens": (q_bpe_tokens, SQL_BPE_TOKENS),
        "knn_join_partial": (q_knn_partial, SQL_KNN),
        "knn_join_pruned": (q_knn_pruned, SQL_KNN),
        "langid_confusion": (q_langid_confusion, _sql_langid_confusion()),
        "ngram_jaccard": (q_ngram_jaccard, _sql_ngram_jaccard()),
        "events_window": (q_events_window, SQL_EVENTS_WINDOW),
        "mercator3395": (q_mercator3395, SQL_MERCATOR3395),
        "lambert93": (q_lambert93, _sql_lambert93()),
        "rd_new": (q_rd_new, _sql_rd_new()),
        # round-7: ann_signature rotated out (see store_resolve above)
        "ann_signature": (q_ann_signature, _sql_ann_signature()),
        # round-7 additions (over-cap; gated by the pytest oracle sweep +
        # tools/parity_check.py like every over-cap entry)
        "bigram_surprisal": (q_bigram_surprisal, _sql_bigram_surprisal()),
        "domain_cap": (q_domain_cap, _sql_domain_cap()),
        "source_median_len": (q_source_median_len, _SQL_SOURCE_MEDIAN_LEN),
    }
