"""Deduplication operators over document tables (training-data pipeline
ops; SURVEY.md §2.7 web-text payload).

All four families return DataFrames and are built from plain relational
ops (explode / groupBy / self-join) so Catalyst plans them; the hashing
arithmetic matches ``dialect`` so each has an exact DuckDB oracle (wired
in queries.py):

- exact_duplicates: md5(text) groups
- minhash_star_edges (PRIMARY dedup API): shingle → minhash → banded
  buckets → per-bucket (min-id, member) star edges — linear output per
  bucket; feed operators/components.connected_components for keep/drop
- minhash_lsh_pairs (opt-in): full per-bucket pair sets — quadratic per
  bucket; only when the downstream genuinely needs every pair
- _lsh_bands: the one signature → (id, band, sig) banding step shared by
  both MinHash operators above, the registry ``minhash_lsh`` query (via
  minhash_lsh_pairs) and streaming.pipeline.stream_minhash_dedup
- simhash_signatures: 32-bit simhash over token hashes
- ngram_jaccard_pairs: distinct-shingle inverted index → pairs with exact
  intersection/union counts; the stop-shingle DF cap is ON by default
  (max_df=DEFAULT_MAX_DF, pass None to opt out into the unbounded join)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geoio_jl_spark import dialect as D


def shingles_from_tokens(toks_col: str, n: int = 3) -> str:
    """Shingle transform over an ALREADY-materialized token array.
    (The array must be a real column: inlining the tokenizer expression
    here makes Spark re-evaluate split(text) inside the lambda for
    every position — O(tokens²) per document, measured 20× slower at
    sf0.1. Use exploded_shingles for the two-step projection.)"""
    parts = ", ".join(f"element_at({toks_col}, i + {k})" for k in range(n))
    # explicit short-doc guard: sequence(1, 0) DESCENDS in Spark
    # ([1, 0]) and ANSI element_at throws on the out-of-range indices a
    # < n-token doc would produce
    return (
        f"CASE WHEN size({toks_col}) < {n} "
        f"THEN CAST(array() AS array<string>) "
        f"ELSE transform(sequence(1, size({toks_col}) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})) END"
    )


def exploded_shingles(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, sh) rows: tokenize once per row (projection), then shingle
    over the token array column — linear in tokens."""
    return (docs
            .select(id_col, F.expr(D.tokens_sql(text_col, "spark"))
                    .alias("toks"))
            .select(id_col, F.explode(
                F.expr(shingles_from_tokens("toks", n))).alias("sh")))


def exact_duplicates(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    return (
        docs.groupBy(F.md5(text_col).alias("text_hash"))
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_copies") > 1)
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       fast_hash: bool = False) -> DataFrame:
    """``fast_hash=True`` swaps the dialect-portable md5-substring hash
    (needed for the DuckDB oracle, but it materializes a hex string per
    shingle) for JVM-native xxhash64 — ~an order of magnitude cheaper
    per shingle and the right choice at 100 TB where no cross-engine
    replay is needed. Bucket contents differ; dedup semantics (equal
    shingle sets → equal signatures) are identical."""
    if fast_hash:
        h = (F.pmod(F.xxhash64(F.col("sh")), F.lit(D.MINHASH_P))
             .cast("bigint"))
    else:
        h = F.expr(D.md5_int60("sh", "spark")) % F.lit(D.MINHASH_P)
    sh = exploded_shingles(docs, text_col, id_col).withColumn("h", h)
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(D.MINHASH_P)).alias(f"mh{j}")
        for j, (a, b) in enumerate(D.MINHASH_SEEDS)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _lsh_bands(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", fast_hash: bool = False) -> DataFrame:
    """(id, band, sig) rows: each document's minhash signature cut into
    MINHASH_BANDS bands, one row per band, ``sig`` the band's row values
    joined with "_". One posexplode over an array of band keys, not a
    per-band union that would recompute the signatures per band.
    Documents with no shingle (null text, under 3 tokens) have no
    signature and so no band row."""
    sig = minhash_signatures(docs, text_col, id_col, fast_hash)
    nr = len(D.MINHASH_SEEDS) // D.MINHASH_BANDS
    band_arr = F.array(*[
        F.concat_ws("_", *[f"mh{b * nr + r}" for r in range(nr)])
        for b in range(D.MINHASH_BANDS)
    ])
    return sig.select(id_col, F.posexplode(band_arr).alias("band", "sig"))


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Full per-bucket candidate pair sets — OPT-IN. A bucket of n docs
    emits n(n-1)/2 rows (a 10k-copy template page: 50M pairs); for
    dedup keep/drop use ``minhash_star_edges`` (n-1 rows per bucket,
    component-equivalent) + ``components.connected_components``."""
    # Single-pass bucket-list plan instead of an allb⋈allb self-join,
    # whose plan holds the signature pipeline once per side (AQE may
    # reuse the partial-aggregate shuffle at run time, but the final
    # min-aggregate and band explode still run twice).  groupBy(band,
    # sig) → sorted id list → explode i<j pairs computes signatures
    # once; pair fanout is identical to the join's output and stays
    # executor-side inside the explode.
    buckets = (_lsh_bands(docs, text_col, id_col).groupBy("band", "sig")
               .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
               .filter(F.size("ids") > 1))
    pair_sql = (
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "b -> struct(a AS id_a, b AS id_b))))"
    )
    return (buckets.select(F.explode(F.expr(pair_sql)).alias("p"))
            .select("p.id_a", "p.id_b")
            .distinct())


def minhash_star_edges(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Duplicate-cluster contraction: per (band, signature) bucket emit
    (representative = min id, member) STAR edges instead of all pairs.

    A bucket of n near-identical docs produces n-1 rows here versus
    n(n-1)/2 from the pair join — the difference between linear and
    quadratic output on boilerplate-heavy web text (a 10k-copy template
    page: 10k edges, not 50M). Connected components over these star
    edges equal components over the full pair graph, so downstream
    keep/drop decisions are unchanged."""
    w = Window.partitionBy("band", "sig")
    return (
        _lsh_bands(docs, text_col, id_col)
        .withColumn("rep", F.min(id_col).over(w))
        .filter(F.col(id_col) != F.col("rep"))
        .select("rep", F.col(id_col).alias("member"))
        .distinct()
    )


def simhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """One row per token, ONE groupBy with `bits` conditional sums —
    no bit explosion (the naive plan amplifies the shuffle ×bits), so
    partial aggregation combines map-side and the shuffle carries one
    row of 32 longs per (partition, doc)."""
    toks = D.tokens_sql(text_col, "spark")
    hashed = docs.select(
        id_col, F.explode(F.expr(toks)).alias("tok")
    ).select(id_col, F.expr(D.md5_int60("tok", "spark")).alias("h"))
    votes = [
        F.sum(F.expr(
            f"CASE WHEN (shiftright(h, {j}) & 1) = 1 THEN 1 ELSE -1 END"
        )).alias(f"v{j}")
        for j in range(bits)
    ]
    sig = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN shiftleft(CAST(1 AS BIGINT), {j}) "
        f"ELSE CAST(0 AS BIGINT) END)" for j in range(bits))
    return (hashed.groupBy(id_col).agg(*votes)
            .select(id_col, F.expr(sig).alias("simhash")))


DEFAULT_MAX_DF = 1000  # stop-shingle cap: bounds per-shingle pair fanout


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", min_inter: int = 2,
                        max_df: int | None = DEFAULT_MAX_DF) -> DataFrame:
    """Inverted-index shingle self-join. ``max_df`` applies the standard
    stop-shingle rule: shingles appearing in more than max_df documents
    are dropped BEFORE the self-join (a shingle in n docs yields n² pair
    rows — unbounded on skewed web text without the cap). The cap is ON
    by default (DEFAULT_MAX_DF); pass ``max_df=None`` to opt into the
    unbounded exact join (only safe on bounded corpora — at web scale a
    single boilerplate shingle in 10⁶ docs would emit 10¹² pairs). The
    cap becomes a plain ``size(ids) <= max_df`` filter on the grouped
    bucket row (no separate hot-list branch); intersection AND union
    are computed over the capped shingle sets, so the result is the
    exact Jaccard of the filtered feature space.

    Plan shape: one inverted-index groupBy(sh) → per-shingle sorted id
    list → explode i<=j pairs (diagonal (a,a) rows carry each doc's
    kept-shingle count through the SAME aggregate) → groupBy(id_a,
    id_b) → two windows, partitioned by id_a and by id_b, that read
    each pair's n_sh(a) and n_sh(b) off the diagonal rows.  The plan is
    one linear chain with no self-join and no ``localCheckpoint``, so
    the tokenize+shingle pipeline runs exactly once and building the
    plan launches no Spark job.  Per-shingle pair fanout is bounded by
    max_df²/2; ``collect_set`` already dedups (sh, id), so no
    ``.distinct()`` shuffle of the postings is needed; any int64 id
    takes the same path."""
    sh = exploded_shingles(docs, text_col, id_col)
    buckets = (sh.groupBy("sh")
               .agg(F.sort_array(F.collect_set(id_col)).alias("ids")))
    if max_df is not None:
        buckets = buckets.filter(F.size("ids") <= max_df)
    # i<j pairs (inter contributions) ++ diagonal (a,a) rows (each doc
    # in the bucket once → per-doc kept-shingle counts = n_sh)
    contrib_sql = (
        "concat("
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "b -> struct(a AS id_a, b AS id_b)))), "
        "transform(ids, a -> struct(a AS id_a, a AS id_b)))"
    )
    diag = F.col("id_a") == F.col("id_b")
    n_sh = F.max(F.when(diag, F.col("cnt")))
    return (
        buckets.select(F.explode(F.expr(contrib_sql)).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("cnt"))
        .filter(diag | (F.col("cnt") >= min_inter))
        .withColumn("na", n_sh.over(Window.partitionBy("id_a")))
        .withColumn("nb", n_sh.over(Window.partitionBy("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.col("cnt").alias("inter"),
                (F.col("na") + F.col("nb") - F.col("cnt")).alias("uni"))
    )


def _chunk_arr(toks_col: str, chunk_len: int):
    """Consecutive ``chunk_len``-token windows (ragged tail dropped)
    over an ALREADY-materialized token array column — linear in tokens
    (inlining the tokenizer here re-splits the text per chunk)."""
    toks = F.col(toks_col)
    n = (F.size(toks) / chunk_len).cast("int")
    return F.when(n > 0, F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(
            F.slice(toks, i * chunk_len + 1, chunk_len), " "))
    ).otherwise(F.array().cast("array<string>"))


def chunk_dup_stats(docs: DataFrame, chunk_len: int = 3,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Chunk-level (line/paragraph-analog) exact dedup stats — the
    C4/RefinedWeb-style "remove spans duplicated across documents" pass
    expressed relationally: split each doc into consecutive
    ``chunk_len``-token windows (ragged tail dropped), count how many of
    a doc's chunk INSTANCES occur in >= 2 distinct documents.

    → (id, n_chunks, dup_chunks).  Plan shape at scale: explode →
    groupBy(chunk) with map-side combine → join back on chunk → final
    groupBy(id).  A boilerplate chunk shared by 10⁶ docs makes the
    chunk join key hot — AQE skew-join splits it (the join carries only
    (chunk, df), no payload), and the final per-doc aggregate is
    uniform in |doc|.

    r8: the tokenizer is materialized as a REAL column before the chunk
    transform (an inlined ``split`` is re-evaluated inside the lambda
    for every chunk position — O(tokens²) per doc; same lesson as
    ``exploded_shingles``), and the exploded chunk table is
    localCheckpoint'd so the df-count branch and the join-back branch
    share ONE tokenize+explode pass instead of re-running it.
    """
    exploded = (docs
                .select(F.col(id_col),
                        F.split(F.col(text_col), " ").alias("_toks"))
                .select(F.col(id_col),
                        F.explode(_chunk_arr("_toks", chunk_len))
                        .alias("chunk"))
                .localCheckpoint(eager=False))
    df_counts = (exploded.groupBy("chunk")
                 .agg(F.count_distinct(id_col).alias("df")))
    per_doc = (exploded.join(df_counts, "chunk")
               .groupBy(id_col)
               .agg(F.count("*").alias("n_chunks"),
                    F.sum((F.col("df") >= 2).cast("bigint"))
                    .alias("dup_chunks")))
    # docs too short for one chunk still get a row (0, 0)
    return (docs.select(id_col)
            .join(per_doc, id_col, "left")
            .select(id_col,
                    F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
                    F.coalesce("dup_chunks", F.lit(0)).alias("dup_chunks")))


def remove_dup_chunks(docs: DataFrame, chunk_len: int = 3,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Span REMOVAL — the cleaning half of :func:`chunk_dup_stats` (the
    actual C4/RefinedWeb "remove spans duplicated across documents"
    step): drop every chunk instance whose chunk occurs in >= 2
    distinct documents, rejoin the surviving chunks in original order,
    and keep the ragged token tail (it was never part of any chunk, so
    it is never "duplicated").

    → (id, clean_text, removed_chunks).  Plan shape at scale: explode
    chunks with position → groupBy(chunk) df filter (map-side combine;
    only df>=2 chunks survive into the join, so the join input is the
    dup set, not the corpus) → per-doc sorted dup-position arrays →
    ONE join back to the docs table on id → per-row reassembly with
    pure built-ins (split / filter-with-index / slice / concat_ws —
    whole-stage codegen, no Python crossing).  Invariant (tested):
    clean tokens ⊎ removed-chunk tokens == original tokens per doc.

    r8: the tokenizer and the chunk array are materialized as REAL
    columns wherever a lambda iterates over them (an inlined ``split``
    re-runs per chunk position — O(tokens²) per doc), and the exploded
    chunk table is localCheckpoint'd so the df-count branch and the
    dup-position branch share one tokenize+explode pass.
    """
    exploded = (docs
                .select(F.col(id_col),
                        F.split(F.col(text_col), " ").alias("_toks"))
                .select(F.col(id_col),
                        F.posexplode(_chunk_arr("_toks", chunk_len))
                        .alias("pos", "chunk"))
                .localCheckpoint(eager=False))
    dup_chunks = (exploded.groupBy("chunk")
                  .agg(F.count_distinct(id_col).alias("df"))
                  .filter(F.col("df") >= 2).select("chunk"))
    dup_pos = (exploded.join(dup_chunks, "chunk")
               .groupBy(id_col)
               .agg(F.sort_array(F.collect_set("pos")).alias("dpos")))
    base = (docs.join(dup_pos, id_col, "left")
            .withColumn("dpos", F.coalesce("dpos",
                                           F.array().cast("array<int>")))
            .withColumn("_toks", F.split(F.col(text_col), " "))
            .withColumn("_chunks", _chunk_arr("_toks", chunk_len)))
    n = (F.size("_toks") / chunk_len).cast("int")
    kept_str = F.array_join(
        F.filter(F.col("_chunks"),
                 lambda c, i: ~F.array_contains("dpos", i)), " ")
    tail_str = F.array_join(
        F.slice(F.col("_toks"), n * chunk_len + 1, F.size("_toks")), " ")
    return base.select(
        F.col(id_col),
        F.concat_ws(" ", F.nullif(kept_str, F.lit("")),
                    F.nullif(tail_str, F.lit(""))).alias("clean_text"),
        F.size("dpos").alias("removed_chunks"))
