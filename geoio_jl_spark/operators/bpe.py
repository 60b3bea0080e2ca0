"""Distributed BPE tokenizer (Sennrich et al.): merge learning over the
vocabulary table, and corpus encoding with the learned merge table.

No reference counterpart (LLM-pipeline axis of the brief).  Scale shape
is the one that matters at 100 TB: the corpus is aggregated ONCE into a
(word, count) table (shuffle O(|corpus|) with map-side combine — the
classic trainer's first step), and every merge round then runs over the
VOCABULARY table only (|vocab| ~ 10^8 rows for a web corpus, ~10^6×
smaller than the corpus).  Per round: explode adjacent symbol pairs
weighted by word count → one partial-aggregated groupBy → a SINGLE-ROW
collect of the winning pair (the same accepted small-by-contract driver
round-trip as the IVF seeds / connected-components convergence checks) →
apply the merge with literal ``replace`` passes and localCheckpoint the
new vocabulary (bounded lineage, components.py discipline).

Merge application detail: one ``replace(' a b ', ' ab ')`` pass merges
left-to-right but misses occurrences that share a boundary space with a
previous match ("a b a b" → "ab a b"), so the replace is applied
``_REPLACE_PASSES`` times — occurrences halve per pass, so 6 passes
cover symbol chains up to 2^6, far beyond real word lengths.  The DuckDB
oracle unrolls the identical rounds (same pass count, same
count-desc/pair-asc tie-break), so learned merges are bit-identical.

Encoding applies a learned table with that same replace chain, once per
DISTINCT word (``tokenize_vocab``), and joins the per-word token counts
back to the corpus (``encode_bpe``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_REPLACE_PASSES = 6
END = "</w>"
# train_bpe materializes the vocabulary every this many merge rounds
CHECKPOINT_EVERY = 4
# tokenize_vocab's expression-depth limit (merges per apply); the
# driver's analyzer overflows its stack from 38 merges up
MAX_MERGES = 32


def _words(docs: DataFrame, text_col: str, *keep: str) -> DataFrame:
    """corpus → one row per non-empty space-separated word (+ ``keep``)."""
    return (docs
            .select(*keep, F.explode(F.split(F.col(text_col), " "))
                    .alias("word"))
            .filter(F.col("word") != ""))


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """corpus → (word, cnt): the one corpus-sized aggregation."""
    return _words(docs, text_col).groupBy("word").agg(
        F.count("*").alias("cnt"))


def _chars(word):
    """word → its space-joined characters plus the end-of-word marker."""
    return F.concat(F.array_join(F.split(word, ""), " "), F.lit(" " + END))


def _apply_merge(sym, a: str, b: str):
    """Merge every standalone occurrence of symbol pair (a, b)."""
    search = F.lit(f" {a} {b} ")
    repl = F.lit(f" {a}{b} ")
    out = F.concat(F.lit(" "), sym, F.lit(" "))
    for _ in range(_REPLACE_PASSES):
        out = F.replace(out, search, repl)
    return F.trim(out)


def train_bpe(docs: DataFrame, n_merges: int,
              text_col: str = "text") -> list[tuple[str, int]]:
    """Learn ``n_merges`` BPE merges → [(pair, summed count), ...].

    The vocabulary is materialized with ``localCheckpoint`` every
    ``CHECKPOINT_EVERY`` rounds rather than every round: between
    checkpoints a round's aggregation recomputes at most
    ``CHECKPOINT_EVERY × _REPLACE_PASSES`` literal string replaces over
    the vocab table — far cheaper than an extra materialization per
    round — while lineage depth stays bounded."""
    vocab = (word_counts(docs, text_col)
             .select(_chars(F.col("word")).alias("sym"), "cnt")
             .localCheckpoint())
    merges: list[tuple[str, int]] = []
    for r in range(n_merges):
        parts = F.split("sym", " ")
        # guard: sequence(0, -1) would run DESCENDING for fully-merged
        # single-symbol words
        pairs = F.when(
            F.size(parts) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(parts) - 2),
                lambda i: F.concat_ws(" ", parts[i], parts[i + 1])),
        ).otherwise(F.array().cast("array<string>"))
        best = (vocab
                .select(F.explode(pairs).alias("pair"), "cnt")
                .groupBy("pair").agg(F.sum("cnt").alias("c"))
                .orderBy(F.desc("c"), F.asc("pair"))
                .limit(1)
                .collect())
        if not best:
            break
        pair, c = best[0]["pair"], int(best[0]["c"])
        merges.append((pair, c))
        a, b = pair.split(" ")
        vocab = vocab.select(
            _apply_merge(F.col("sym"), a, b).alias("sym"), "cnt")
        if (r + 1) % CHECKPOINT_EVERY == 0:
            vocab = vocab.localCheckpoint()
    return merges


# ---------------------------------------------------------------------------
# corpus ENCODING with a trained merge table (the apply half of the
# tokenizer story; round 6)
# ---------------------------------------------------------------------------

def tokenize_vocab(words: DataFrame, merges: list[tuple[str, int] | str],
                   word_col: str = "word",
                   out_col: str = "sym") -> DataFrame:
    """(word, ...) table → + ``sym`` (space-joined BPE symbols).

    Applies the merges with the training's ``_apply_merge`` replace
    chain, so the result is bit-identical to the DuckDB oracle's
    unrolled SQL.  Meant for the DISTINCT-word table, never the corpus.
    The merge list compiles into one Catalyst expression ``len(merges)
    × _REPLACE_PASSES`` replaces deep, and analysis and codegen cost
    grow superlinearly in that depth, so tables beyond ``MAX_MERGES``
    raise a named error instead of an opaque codegen failure."""
    pairs = [(m[0] if isinstance(m, tuple) else m) for m in merges]
    if len(pairs) > MAX_MERGES:
        raise ValueError(
            f"{len(pairs)} merges would compile into a "
            f"{len(pairs) * _REPLACE_PASSES}-deep expression tree; "
            f"tokenize_vocab applies at most {MAX_MERGES}")
    col = _chars(F.col(word_col))
    for pair in pairs:
        a, b = pair.split(" ")
        col = _apply_merge(col, a, b)
    return words.withColumn(out_col, col)


def encode_bpe(docs: DataFrame, merges: list[tuple[str, int] | str],
               text_col: str = "text", id_col: str = "doc_id",
               out_col: str = "n_bpe_sym") -> DataFrame:
    """Per-document BPE token count with a trained merge table —
    the 100-TB shape: ``tokenize_vocab`` runs over the DISTINCT-word
    table only (``|vocab| ~ 10^6×`` smaller than the corpus), the
    per-word token count broadcast-joins back to the exploded corpus,
    and the per-doc aggregation is the single corpus shuffle (map-side
    combine applies)."""
    words = _words(docs, text_col).distinct()
    vocab = (tokenize_vocab(words, merges)
             .select("word",
                     F.size(F.split("sym", " ")).cast("bigint")
                     .alias("_ntok")))
    return (_words(docs, text_col, id_col).join(F.broadcast(vocab), "word")
            .groupBy(id_col)
            .agg(F.sum("_ntok").alias(out_col)))
