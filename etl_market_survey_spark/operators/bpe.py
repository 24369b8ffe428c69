"""BPE tokenizer training (beyond reference — the classic missing
piece of an LLM data stack).

Sennrich et al. (ACL 2016, arXiv:1508.07909) byte-pair encoding,
trained the way the original does: on the WORD-TYPE vocabulary weighted
by word frequency — so every per-merge job runs on |vocab| rows (tens
of thousands), not corpus tokens, no matter how big the corpus is. The
corpus-scale work is exactly one word-count aggregation.

Per merge round, all JVM-side:

- pair statistics: explode adjacent symbol pairs from each vocab entry
  (``slice``+``arrays_zip``), weight by word count, one
  map-side-combined groupBy — state is |distinct pairs|;
- winner: global argmax with (count desc, pair lexicographic) tiebreak
  — deterministic, engine-replayable;
- merge application: a left-to-right greedy fold (``F.aggregate`` with
  an array accumulator) — the exact non-overlapping merge semantics of
  the reference implementation, in whole-stage codegen, no Python;
- ``localCheckpoint`` per round (the lineage discipline of :mod:`.checkpoint`).

The merge sequence is deterministic for a given corpus; units pin it
against an independent pure-Python BPE, and q217 exact-gates the pair
statistics against SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

END = "</w>"


def word_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) frequency vocabulary — the only corpus-scale pass."""
    words = df.select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit("[A-Za-z]+|[0-9]+"), F.lit(0)
            )
        ).alias("word")
    )
    return words.groupBy("word").agg(F.count("*").alias("n"))


def _init_symbols(vocab: DataFrame) -> DataFrame:
    """Split each word into characters + the end-of-word marker."""
    syms = F.concat(
        F.filter(F.split("word", ""), lambda c: c != ""), F.array(F.lit(END))
    )
    return vocab.select("word", "n", syms.alias("syms"))


def _pair_counts(symdf: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the vocabulary."""
    pairs = symdf.filter(F.size("syms") >= 2).select(
        "n",
        F.explode(
            F.arrays_zip(
                F.expr("slice(syms, 1, size(syms) - 1)").alias("a"),
                F.expr("slice(syms, 2, size(syms) - 1)").alias("b"),
            )
        ).alias("p"),
    )
    return pairs.groupBy(
        F.col("p.a").alias("a"), F.col("p.b").alias("b")
    ).agg(F.sum("n").alias("cnt"))


def _merge_expr(a: str, b: str) -> Column:
    """Greedy left-to-right non-overlapping merge of (a, b) -> ab inside
    ``syms`` — the reference BPE semantics — as one JVM fold."""
    la, lb = F.lit(a), F.lit(b)
    return F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == la)
            & (x == lb),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(la, lb)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    min_freq: int = 2,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` BPE merges; returns (merge list in order,
    final symbolized vocabulary). Stops early when no pair reaches
    ``min_freq``."""
    symdf = _init_symbols(word_vocab(df, text_col)).localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(symdf)
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < min_freq:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        symdf = symdf.withColumn("syms", _merge_expr(a, b)).localCheckpoint(
            eager=True
        )
    return merges, symdf


def segment_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Driver-side tokenizer: apply the learned merges to one word (for
    spot checks; bulk segmentation uses the same fold column-side)."""
    syms = list(word) + [END]
    for a, b in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
    return syms


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply a trained merge table to one word — standard greedy BPE
    (Sennrich et al. 2016 apply_bpe): repeatedly merge the LOWEST-rank
    adjacent pair present (leftmost occurrence on rank ties) until no
    rule applies. One merge per iteration, which is equivalent to the
    batch formulation (merging the chosen pair's occurrences one at a
    time left-to-right visits the same states) — and is exactly the
    recurrence q263's recursive-CTE oracle replays."""
    seq = list(word)
    while True:
        best_rank = None
        best_pos = None
        for i in range(len(seq) - 1):
            r = ranks.get((seq[i], seq[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_pos = i
        if best_pos is None:
            return seq
        seq[best_pos : best_pos + 2] = [seq[best_pos] + seq[best_pos + 1]]


def bpe_encode_words(
    words: "DataFrame",
    word_col: str,
    merges: list[tuple[str, str]],
) -> "DataFrame":
    """Segment each word with the (rank-ordered) ``merges`` table.
    Output: ``(word, encoded string [pieces space-joined], n_pieces)``.
    The merge table is bounded by contract (a trained tokenizer, not
    data) and rides into the Arrow kernel closure; encoding is one map
    stage, no shuffle."""
    from collections.abc import Iterator

    import pandas as pd

    ranks = {pair: i + 1 for i, pair in enumerate(merges)}
    if len(ranks) != len(merges):
        raise ValueError("duplicate merge rules")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pieces = [
                bpe_encode_word(w, ranks) for w in pdf[word_col]
            ]
            yield pd.DataFrame(
                {
                    "word": pdf[word_col],
                    "encoded": [" ".join(p) for p in pieces],
                    "n_pieces": [len(p) for p in pieces],
                }
            )

    return words.select(F.col(word_col)).mapInPandas(
        kernel, "word string, encoded string, n_pieces int"
    )
