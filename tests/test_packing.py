"""Sequence packing (operators/packing.py): exact concat-and-chunk
offsets via the two-phase distributed prefix sum — results must be
independent of partition layout, and the plan must never fall back to
a single-partition global window over the corpus.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from geoio_jl_spark.operators.packing import pack_sequences, packing_stats


def _docs(spark, n=500, seed_mod=37):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 131 + 17) % seed_mod + 1).cast("int")
        .alias("n_tokens"))


def _expected(rows, max_len):
    rows = sorted(rows, key=lambda r: r["doc_id"])
    off = 0
    exp = {}
    for r in rows:
        n = r["n_tokens"]
        end = (off + n - 1) // max_len
        exp[r["doc_id"]] = (off, off // max_len, end,
                            (end - off // max_len + 1) if n > 0 else 0)
        off += n
    return exp


def test_offsets_match_serial_scan(spark):
    docs = _docs(spark)
    got = pack_sequences(docs, 64).collect()
    exp = _expected(docs.collect(), 64)
    assert len(got) == 500
    for r in got:
        off, s, e, k = exp[r["doc_id"]]
        assert (r["offset"], r["seq_start"], r["seq_end"], r["n_seqs"]) \
            == (off, s, e, k), r


def test_partition_layout_invariance(spark):
    """The prefix sum is exact no matter where the range cuts land."""
    docs = _docs(spark, 1000)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "3")
        a = sorted(map(tuple, pack_sequences(docs, 128).collect()))
        spark.conf.set(key, "11")
        b = sorted(map(tuple, pack_sequences(docs.repartition(17), 128)
                       .collect()))
    finally:
        spark.conf.set(key, old)
    assert a == b


def test_zero_token_docs_occupy_no_space(spark):
    docs = spark.createDataFrame(
        [(1, 10), (2, 0), (3, 5)], "doc_id long, n_tokens int")
    got = {r["doc_id"]: r for r in pack_sequences(docs, 8).collect()}
    assert got[2]["offset"] == 10 and got[2]["n_seqs"] == 0
    assert got[3]["offset"] == 10          # doc 2 consumed nothing


def test_boundary_crossing_spans_sequences(spark):
    docs = spark.createDataFrame(
        [(1, 6), (2, 6)], "doc_id long, n_tokens int")
    got = {r["doc_id"]: r for r in pack_sequences(docs, 8).collect()}
    assert (got[1]["seq_start"], got[1]["seq_end"], got[1]["n_seqs"]) \
        == (0, 0, 1)
    assert (got[2]["seq_start"], got[2]["seq_end"], got[2]["n_seqs"]) \
        == (0, 1, 2)                       # crosses the 8-token cut


def unpartitioned_windows(plan: str) -> list[str]:
    """Plan lines whose window spec has no PARTITION BY (its first
    argument is already a sort order) — the ones Spark warns about with
    ``WindowExec: No Partition Defined``."""
    return [line for line in plan.splitlines()
            if re.search(r"windowspecdefinition\([^,()]* (ASC|DESC)", line)]


def test_plan_has_no_global_window(spark):
    """Every Window in the executed plan must be partitioned — a global
    orderBy window would serialize the corpus through one task, and the
    per-partition totals need none either."""
    docs = _docs(spark, 200)
    plan = (pack_sequences(docs, 64)
            ._jdf.queryExecution().executedPlan().toString())
    assert "rangepartitioning" in plan.lower()
    assert "windowspecdefinition(__pid#" in plan
    assert unpartitioned_windows(plan) == []


def test_packing_stats(spark):
    docs = spark.createDataFrame(
        [(1, 6), (2, 6), (3, 4)], "doc_id long, n_tokens int")
    packed = pack_sequences(docs, 8)
    stats = {r["seq_id"]: r for r in packing_stats(packed, 8).collect()}
    assert stats[0]["docs_started"] == 2
    assert stats[0]["docs_crossing"] == 1   # doc 2 crosses into seq 1
    assert stats[1]["docs_started"] == 1


def test_max_len_validation(spark):
    with pytest.raises(ValueError, match="positive"):
        pack_sequences(_docs(spark, 10), 0)


def test_oracle_floor_semantics_zero_token_doc_at_offset_zero(spark):
    """ADVICE r6: DuckDB `//` truncates toward zero, Spark floor()
    rounds down — for a zero-token doc at offset 0 the old oracle gave
    seq_end=0 while Spark gives -1 (the documented seq_end < seq_start
    empty-doc contract).  Pin cross-engine parity on exactly that row."""
    import duckdb
    import re
    from geoio_jl_spark.operators.packing import pack_sequences
    from geoio_jl_spark.queries import _SQL_PACK_SEQUENCES, _PACK_LEN

    rows = [(0, 0), (1, 100), (2, 0), (3, _PACK_LEN * 2)]
    d = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    got = {r["doc_id"]: (r["offset"], r["seq_start"], r["seq_end"], r["n_seqs"])
           for r in pack_sequences(d, _PACK_LEN).collect()}
    assert got[0] == (0, 0, -1, 0)          # the divergence row

    con = duckdb.connect()
    con.execute("CREATE TABLE t0 (doc_id BIGINT, n_tokens INT)")
    con.executemany("INSERT INTO t0 VALUES (?, ?)", rows)
    # reuse the registered oracle, retargeted at the synthetic table:
    # swap the documents scan (incl. its tokenizer) for the raw columns
    sql = re.sub(r"SELECT doc_id,\s*\n\s*len\(.*\) AS n_tokens\s*\n\s*FROM documents",
                 "SELECT doc_id, n_tokens FROM t0", _SQL_PACK_SEQUENCES)
    assert "t0" in sql, "oracle text changed; update the regex"
    want = {r[0]: (r[2], r[3], r[4], r[5]) for r in con.execute(sql).fetchall()}
    assert got == want
