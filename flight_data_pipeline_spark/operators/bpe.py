"""Distributed BPE vocabulary induction (byte-pair encoding merges).

Extension scope (the reference has no tokenizer surface): the
vocabulary-training step of a BPE tokenizer (Sennrich et al., ACL'16)
expressed as pure DataFrame rounds — the algorithm every LLM data
platform runs before token counting is meaningful at scale.

Shape per merge round (mirrors the connected_components discipline):

1. count adjacent symbol pairs over the WORD-FREQUENCY table (not the
   corpus — the classic collapse: |vocab| rows carry multiplicities,
   so a 10^10-token corpus is a 10^6-row problem after one groupBy);
2. pick the most frequent pair with a deterministic tie-break
   (count desc, then pair lexicographic) as a ONE-ROW DataFrame —
   never collected: it broadcast-joins back onto the words
   (the one-row scalar-attach pattern used throughout the repo);
3. apply the merge with a greedy left-to-right array fold
   (``F.aggregate`` — codegen'd, no Python); words whose symbols
   don't contain the pair pass through unchanged;
4. localCheckpoint truncates lineage (each round references the
   previous words twice — unbroken plans would double per round).

A sentinel pair (impossible symbols, count −1) rides the top-1 union
so an exhausted corpus (no pair left with count ≥ 2) degrades to
no-op merges instead of an empty cross join annihilating the state.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from flight_data_pipeline_spark.session import local_frame

END_OF_WORD = "</w>"
_SENTINEL = "\x00"  # impossible symbol: words never contain NUL


def word_symbol_table(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus → (word, n: corpus frequency, syms: array<string>) with
    syms = characters + the end-of-word marker — BPE's working state.
    One explode + one groupBy; everything after operates on the
    vocabulary-sized table."""
    words = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word").agg(F.count("*").alias("n"))
    )
    syms = F.concat(
        F.split(F.col("word"), ""),  # characters
        F.array(F.lit(END_OF_WORD)),
    )
    return words.select("word", "n", syms.alias("syms"))


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies weighted by word multiplicity:
    (p1, p2, cnt). Map-side zip of shifted slices + explode, one
    hash aggregate."""
    zipped = F.arrays_zip(
        F.slice(F.col("syms"), 1, F.size("syms") - 1).alias("p1"),
        F.slice(F.col("syms"), 2, F.size("syms") - 1).alias("p2"),
    )
    return (
        words.where(F.size("syms") >= 2)
        .select("n", F.explode(zipped).alias("pr"))
        .groupBy(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
        .agg(F.sum("n").alias("cnt"))
    )


def _merge_fold(syms, p1, p2):
    """Greedy left-to-right merge of adjacent (p1, p2) occurrences —
    the classic BPE apply: 'a a a a' under (a,a) becomes [aa, aa]."""

    def step(acc, x):
        merged = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(F.concat(F.element_at(acc, -1), x)),
        )
        return (
            F.when((F.size(acc) > 0)
                   & (F.element_at(acc, -1) == p1) & (x == p2), merged)
            .otherwise(F.concat(acc, F.array(x)))
        )

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def bpe_learn(df: DataFrame, text_col: str, num_merges: int = 20,
              min_count: int = 2) -> DataFrame:
    """Learn ``num_merges`` BPE merges over the corpus → one row per
    executed merge: (rank, left, right, merged, pair_count), rank
    1-based in learn order. Merges whose best pair falls under
    ``min_count`` stop contributing (sentinel no-ops keep the round
    structure intact without a driver-side convergence probe).

    Each round costs two tiny jobs (words checkpoint + top-1
    checkpoint) over the vocabulary-sized state — runtime tracks the
    VOCABULARY, not the corpus, exactly like the serial algorithm,
    with the corpus-sized work confined to the single
    ``word_symbol_table`` collapse up front."""
    words = word_symbol_table(df, text_col).localCheckpoint()
    sentinel = local_frame(
        words.sparkSession, [(_SENTINEL, _SENTINEL, -1)],
        "p1 string, p2 string, cnt bigint")

    merges: list[DataFrame] = []
    for rank in range(1, num_merges + 1):
        top1 = (
            _pair_counts(words)
            .where(F.col("cnt") >= min_count)
            .unionByName(sentinel)
            .orderBy(F.desc("cnt"), "p1", "p2")
            .limit(1)
            .localCheckpoint()
        )
        merges.append(top1.select(
            F.lit(rank).alias("rank"),
            F.col("p1").alias("left"), F.col("p2").alias("right"),
            F.concat("p1", "p2").alias("merged"),
            F.col("cnt").alias("pair_count"),
        ))
        words = (
            words.crossJoin(F.broadcast(
                top1.select(F.col("p1").alias("__m1"),
                            F.col("p2").alias("__m2"))))
            .select(
                "word", "n",
                _merge_fold(F.col("syms"), F.col("__m1"), F.col("__m2"))
                .alias("syms"))
            .localCheckpoint()
        )

    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    # sentinel rounds (exhausted corpus) carry cnt = −1: drop them so
    # the returned table is exactly the executed merge sequence
    return out.where(F.col("pair_count") >= min_count)


def bpe_encode(df: DataFrame, text_col: str, merges: DataFrame) -> DataFrame:
    """Apply a learned merge table to the corpus → one row per distinct
    word: (word, n: corpus frequency, tokens: array<string>) — the
    TOKENIZE step that makes token counting real instead of a
    whitespace proxy.

    Replaying the merges in learn order, each greedily left-to-right,
    reproduces the training-time segmentation exactly (the serial
    algorithm's invariant; property-pinned in tests/test_properties.py
    against the same oracle as bpe_learn). Shape:

    - the corpus collapses to the vocabulary once (word_symbol_table —
      the same 10^10-tokens → 10^6-words reduction the learner rides);
    - the merge table (num_merges rows) aggregates to ONE array-of-
      structs row — sorted by rank inside the aggregate, attached by
      broadcast cross join, never collected to the driver;
    - the apply is a NESTED fold, all JVM codegen: outer F.aggregate
      over the merges array, inner greedy pair-merge fold over the
      symbol array. Plan size is CONSTANT in num_merges (the merge
      list is runtime data, not expression structure), so a 50k-merge
      production vocabulary compiles to the same plan as 10 merges.
    """
    words = word_symbol_table(df, text_col)
    mlist = merges.agg(
        F.array_sort(
            F.collect_list(F.struct("rank", "left", "right")))
        .alias("__merges"))
    return (
        words.crossJoin(F.broadcast(mlist))
        .select(
            "word", "n",
            F.aggregate(
                F.col("__merges"), F.col("syms"),
                lambda acc, m: _merge_fold(acc, m["left"], m["right"]),
            ).alias("tokens"))
    )
