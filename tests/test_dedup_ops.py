"""Dedup operator API: planted exact and near duplicates must be found
(recall checks over a synthetic corpus)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geoio_jl_spark.datagen import doc_text
from geoio_jl_spark.operators import dedup as DD


@pytest.fixture(scope="module")
def corpus(spark):
    """400 base docs + 30 exact copies + 30 near-dups (one token changed)."""
    rows = []
    for i in range(400):
        rows.append((i, doc_text(i)))
    for k in range(30):  # exact copies
        rows.append((1000 + k, doc_text(k)))
    for k in range(30):  # near-dups: swap one middle token
        toks = doc_text(100 + k).split(" ")
        toks[len(toks) // 2] = "zzz"
        rows.append((2000 + k, " ".join(toks)))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])).persist()


def test_exact_duplicates_found(spark, corpus):
    dups = DD.exact_duplicates(corpus).collect()
    assert len(dups) == 30
    assert all(r["n_copies"] == 2 for r in dups)
    assert {r["keep_id"] for r in dups} == set(range(30))  # min id kept


def test_minhash_lsh_finds_planted_pairs(spark, corpus):
    pairs = {(r["id_a"], r["id_b"])
             for r in DD.minhash_lsh_pairs(corpus).collect()}
    exact_found = sum((k, 1000 + k) in pairs for k in range(30))
    near_found = sum((100 + k, 2000 + k) in pairs for k in range(30))
    assert exact_found == 30          # identical docs always collide
    assert near_found >= 25           # 1-token edits: high recall


def test_ngram_jaccard_ranks_planted_pairs_high(spark, corpus):
    pairs = {(r["id_a"], r["id_b"]): (r["inter"], r["uni"])
             for r in DD.ngram_jaccard_pairs(corpus).collect()}
    for k in range(30):
        inter, uni = pairs[(k, 1000 + k)]
        assert inter == uni  # exact copies: jaccard 1
    hits = 0
    for k in range(30):
        p = pairs.get((100 + k, 2000 + k))
        if p and p[0] * 2 >= p[1]:  # jaccard >= 0.5
            hits += 1
    assert hits >= 25


def test_simhash_hamming_close_for_near_dups(spark, corpus):
    sig = {r["doc_id"]: r["simhash"]
           for r in DD.simhash_signatures(corpus).collect()}
    # exact copies: identical signature
    assert all(sig[k] == sig[1000 + k] for k in range(30))
    # near dups: hamming distance <= 6 of 32 bits for most
    close = sum(
        bin(sig[100 + k] ^ sig[2000 + k]).count("1") <= 6 for k in range(30))
    assert close >= 25


def test_minhash_signatures_deterministic(spark, corpus):
    a = DD.minhash_signatures(corpus.repartition(3)).collect()
    b = DD.minhash_signatures(corpus.repartition(7)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ngram_jaccard_df_cap_bounds_hot_shingles(spark):
    """Planted hot shingle: every doc shares one boilerplate sentence.
    Uncapped, the inverted-index self-join emits ~n^2/2 pairs; with the
    stop-shingle DF cap the hot shingle is dropped and only truly
    similar pairs survive."""
    n = 60
    rows = [(i, f"common boiler plate {' '.join(f'w{i}x{j}' for j in range(8))}")
            for i in range(n)]
    # two genuinely similar docs sharing unique content
    rows.append((n, "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((n + 1, "alpha beta gamma delta epsilon zeta eta iota"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = DD.ngram_jaccard_pairs(docs, min_inter=1, max_df=None).count()
    capped = DD.ngram_jaccard_pairs(docs, min_inter=1, max_df=10)
    rows_c = capped.collect()
    assert uncapped >= n * (n - 1) / 2  # quadratic blow-up present
    assert len(rows_c) < 10             # bounded after the cap
    assert (n, n + 1) in {(r["id_a"], r["id_b"]) for r in rows_c}


def _ngram_pair_set(docs, parts, id_map=None):
    """ngram_jaccard_pairs over ``docs`` cut into ``parts`` partitions,
    as a set of (id_a, id_b, inter, uni), ids mapped through ``id_map``."""
    m = id_map.__getitem__ if id_map else int
    return {(m(r["id_a"]), m(r["id_b"]), r["inter"], r["uni"])
            for r in DD.ngram_jaccard_pairs(docs.repartition(parts)).collect()}


@pytest.mark.parametrize("parts", [1, 3, 8])
def test_ngram_jaccard_edge_ids_and_partition_counts(spark, parts):
    """One small corpus with planted near-dups, run with ids 1..n and
    with ids at the int32 boundary (2^31-1, 2^31, 2^31+1) and near 2^62
    (order-preserving, so id_a < id_b survives the mapping), at 1, 3
    and 8 partitions: every run gives the same (id_a, id_b, inter, uni)
    set once the ids are mapped back."""
    texts = [doc_text(i) for i in range(8)]
    texts.append(doc_text(2))                     # exact copy of id 3
    for k in (4, 5):                              # ids 5, 6: one token changed
        toks = doc_text(k).split(" ")
        toks[len(toks) // 2] = "zzz"
        texts.append(" ".join(toks))
    small = list(range(1, len(texts) + 1))
    big = [2**31 - 1, 2**31, 2**31 + 1] + [2**62 - 4 + j
                                          for j in range(len(texts) - 3)]
    schema = "doc_id bigint, text string"
    want = _ngram_pair_set(
        spark.createDataFrame(list(zip(small, texts)), schema), 1)
    by_pair = {r[:2]: r[2:] for r in want}
    inter, uni = by_pair[(3, 9)]
    assert inter == uni                           # exact copy: Jaccard 1
    assert (5, 10) in by_pair and (6, 11) in by_pair
    assert _ngram_pair_set(
        spark.createDataFrame(list(zip(small, texts)), schema), parts) == want
    assert _ngram_pair_set(
        spark.createDataFrame(list(zip(big, texts)), schema), parts,
        dict(zip(big, small))) == want


def test_ngram_jaccard_launches_no_job_before_an_action(spark, corpus):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("ngram-plan-build", "ngram_jaccard_pairs plan build")
    try:
        pairs = DD.ngram_jaccard_pairs(corpus)
        assert tracker.getJobIdsForGroup("ngram-plan-build") == []
        pairs.count()  # the tracker does see this group's jobs
        assert tracker.getJobIdsForGroup("ngram-plan-build") != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_minhash_star_edges_linear_output(spark, corpus):
    """Star edges: a bucket of n duplicates yields n-1 edges, not
    n(n-1)/2 pairs; components match the pair graph."""
    edges = DD.minhash_star_edges(corpus).collect()
    pairs = DD.minhash_lsh_pairs(corpus).collect()
    # same connectivity: union-find both edge sets
    def components(links, nodes):
        parent = {n: n for n in nodes}
        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a
        for a, b in links:
            parent[find(a)] = find(b)
        return {n: find(n) for n in nodes}
    nodes = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    ce = components([(r["rep"], r["member"]) for r in edges], nodes)
    cp = components([(r["id_a"], r["id_b"]) for r in pairs], nodes)
    grp = lambda c: sorted(tuple(sorted(k for k, v in c.items() if v == r))
                           for r in set(c.values()))
    assert grp(ce) == grp(cp)
    assert len(edges) <= len(pairs)


def test_minhash_empty_and_all_duplicate_inputs(spark):
    """Edge inputs: an empty table gives no pairs and no edges; N copies
    of one document form one bucket per band, so N(N-1)/2 pairs and N-1
    star edges (rep = min id), while a null-text row and a row under 3
    tokens have no shingle, hence no signature, and appear in neither."""
    schema = "doc_id bigint, text string"
    empty = spark.createDataFrame([], schema)
    assert DD.minhash_lsh_pairs(empty).count() == 0
    assert DD.minhash_star_edges(empty).count() == 0

    n = 6
    rows = [(i, doc_text(7)) for i in range(10, 10 + n)]
    rows += [(1, None), (2, "two words")]
    docs = spark.createDataFrame(rows, schema)
    pairs = {(r["id_a"], r["id_b"])
             for r in DD.minhash_lsh_pairs(docs).collect()}
    ids = range(10, 10 + n)
    assert pairs == {(a, b) for a in ids for b in ids if a < b}
    assert len(pairs) == n * (n - 1) // 2
    edges = {(r["rep"], r["member"])
             for r in DD.minhash_star_edges(docs).collect()}
    assert edges == {(10, m) for m in range(11, 10 + n)}


def test_ngram_jaccard_cap_is_default(spark):
    """Round-3 default flip: a shingle hotter than DEFAULT_MAX_DF is
    dropped without asking; max_df=None opts back into unbounded."""
    import inspect
    sig = inspect.signature(DD.ngram_jaccard_pairs)
    assert sig.parameters["max_df"].default == DD.DEFAULT_MAX_DF
    assert DD.DEFAULT_MAX_DF is not None


def test_chunk_dup_stats_hand_case(spark):
    """Chunk-level dedup on a hand-built corpus: doc 1 and 2 share one
    3-token chunk exactly; doc 3 repeats a chunk twice internally (no
    cross-doc duplicate -> not counted); doc 4 is too short for a
    chunk."""
    import pandas as pd
    from geoio_jl_spark.operators.dedup import chunk_dup_stats
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["a b c d e f",        # chunks: "a b c", "d e f"
                 "a b c x y z",        # shares "a b c" with doc 1
                 "p q r p q r",        # same chunk twice, one doc only
                 "u v"]}))             # 0 chunks
    got = {r["doc_id"]: (r["n_chunks"], r["dup_chunks"])
           for r in chunk_dup_stats(docs, chunk_len=3).collect()}
    assert got == {1: (2, 1), 2: (2, 1), 3: (2, 0), 4: (0, 0)}


def test_dedup_plans_single_upstream(spark, sf_dir):
    """r5 plan evidence (VERDICT r4 item 1b): the r4 executed plans
    computed the signature/shingle pipeline per join branch (2 parquet
    scans for minhash_lsh_pairs, 8 for ngram_jaccard_pairs — zero
    ReusedExchange, with or without AQE broadcast conversion).  The
    bucket-list rework must keep the upstream single-pass: exactly one
    FileScan for minhash and for ngram (one linear window chain, no
    branch).  The registry ``minhash_lsh`` query is held to the same
    single scan."""
    from geoio_jl_spark import queries as Q
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    for df in (DD.minhash_lsh_pairs(docs),
               Q.registry()["minhash_lsh"][0](spark, sf_dir),
               DD.ngram_jaccard_pairs(docs)):
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 1, plan


def test_remove_dup_chunks_hand_case(spark):
    import pandas as pd
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["a b c d e f g",    # "a b c" dup with doc 2; tail "g" kept
                 "a b c x y z",
                 "p q r p q r",      # internal repeat only -> not removed
                 "u v"]}))           # no chunks
    got = {r["doc_id"]: (r["clean_text"], r["removed_chunks"])
           for r in DD.remove_dup_chunks(docs, chunk_len=3).collect()}
    assert got == {1: ("d e f g", 1), 2: ("x y z", 1),
                   3: ("p q r p q r", 0), 4: ("u v", 0)}


def test_remove_dup_chunks_reconstructs(spark, sf_dir):
    """clean ⊕ removed == original token stream: an independent pure-
    Python reimplementation over the real documents table must produce
    byte-identical clean_text, and per doc the removed chunk tokens plus
    the clean tokens must reassemble the original in order."""
    from collections import defaultdict
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = {r["doc_id"]: r["text"]
            for r in docs.select("doc_id", "text").collect()}
    L = 3
    chunks_of = {}
    df = defaultdict(set)
    for did, text in rows.items():
        t = text.split(" ")
        cs = [" ".join(t[i * L:(i + 1) * L]) for i in range(len(t) // L)]
        chunks_of[did] = (t, cs)
        for c in set(cs):
            df[c].add(did)
    expect = {}
    for did, (t, cs) in chunks_of.items():
        keep = [c for c in cs if len(df[c]) < 2]
        tail = t[len(cs) * L:]
        parts = [p for p in [" ".join(keep), " ".join(tail)] if p]
        expect[did] = (" ".join(parts), sum(1 for c in cs if len(df[c]) >= 2))
    got = {r["doc_id"]: (r["clean_text"], r["removed_chunks"])
           for r in DD.remove_dup_chunks(docs, chunk_len=L).collect()}
    assert got == expect
    # reconstruction: reinsert removed chunks at their positions
    for did, (t, cs) in chunks_of.items():
        clean_toks = got[did][0].split(" ") if got[did][0] else []
        rebuilt, ci = [], 0
        for c in cs:
            if len(df[c]) >= 2:
                rebuilt.extend(c.split(" "))
            else:
                rebuilt.extend(clean_toks[ci:ci + L]); ci += L
        rebuilt.extend(clean_toks[ci:])
        assert rebuilt == t


def test_shingles_short_docs_ansi_safe(spark):
    """r5 hardening: sub-n-token docs must yield zero shingles, not an
    ANSI element_at error (sequence(1, 0) descends in Spark)."""
    import pandas as pd
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3], "text": ["one", "two words", "a b c"]}))
    rows = DD.exploded_shingles(docs, n=3).collect()
    assert {r["doc_id"] for r in rows} == {3}
