"""Byte-pair-encoding tokenizer training on the cluster.

The engine's other token ops use a fixed BPE-ish regex; this module
LEARNS merges from the corpus — the actual tokenizer-training step of
an LLM data pipeline. Classic word-level BPE (Sennrich et al. 2016):

1. one corpus scan builds the word vocabulary with frequencies — the
   working set every later step touches is |vocab| rows, not |corpus|
   (the standard trick that makes BPE training tractable at 100 TB:
   10M distinct words, not 100 TB of text);
2. each merge round counts adjacent symbol pairs across the vocab
   (weighted by word frequency), picks the argmax pair
   (deterministic tiebreak: count desc, pair asc), and rewrites the
   vocab's symbol strings with that merge.

Distributed shape per round: one explode + map-combined groupBy over
the vocab frame, ONE collected row (the argmax — the bounded-collect
contract, num_merges rows total cross the driver), one map-only
regexp rewrite, localCheckpoint to truncate the iterative lineage
(the connected-components template).

Merge application is greedy-left, non-overlapping, exactly Java
regex's scan order with zero-width boundary lookarounds — the pure
Python reference in tests/test_bpe.py reproduces it with re.sub for
exact-equality parity. Not SQL-expressible (iterative argmax), so the
registry entry is rows-only by documented design.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from sparkprep.checkpointing import lazy_checkpoint

END_OF_WORD = "</w>"


def word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(word, n) corpus word counts — the BPE working set. One explode
    + one map-combined groupBy; at 100 TB the output is vocab-sized."""
    from sparkprep.operators.text import tokens

    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _initial_symbols(word: Column) -> Column:
    """'low' -> 'l o w </w>' (space-joined characters + end marker)."""
    return F.concat(
        F.array_join(F.split(word, ""), " "), F.lit(" " + END_OF_WORD)
    )


def _merge_pattern(a: str, b: str) -> str:
    # \Q..\E literal-quotes the symbols (tokens can contain regex
    # metachars); the zero-width lookarounds anchor on symbol
    # boundaries without consuming the neighbor's separator, so
    # adjacent matches stay visible to the same left-to-right scan
    return rf"(?<!\S)\Q{a} {b}\E(?!\S)"


def _merge_replacement(a: str, b: str) -> str:
    # regexp_replace treats \ and $ specially in the replacement
    return (a + b).replace("\\", "\\\\").replace("$", "\\$")


def bpe_train(
    vocab: DataFrame,
    num_merges: int,
    min_count: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn up to ``num_merges`` merges from a (word, n) vocabulary.

    Returns the ordered merge list as (left, right, pair_count)
    tuples; stops early when no pair reaches ``min_count``. Driver
    traffic is ONE row per round.
    """
    sym = vocab.select(
        _initial_symbols(F.col("word")).alias("sym"), F.col("n")
    )
    # the working set is vocab-sized (tiny relative to the corpus);
    # spread over the session's full shuffle width every round would pay
    # multi-stage scheduling for near-empty partitions (0.8s/round
    # measured at 32 partitions). A count-less repartition lets AQE size
    # it from its measured bytes before the cut (the loop-sizing rule in
    # operators/physical.py).
    sym = sym.repartition("sym").transform(lazy_checkpoint)
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        arr = F.split(F.col("sym"), " ")
        pairs = (
            sym.select(arr.alias("a"), "n")
            .select(
                F.explode(
                    F.expr(
                        "transform(slice(a, 1, size(a) - 1),"
                        " (x, i) -> struct(x AS s1, a[i + 1] AS s2))"
                    )
                ).alias("p"),
                "n",
            )
            .groupBy("p.s1", "p.s2")
            .agg(F.sum("n").alias("cnt"))
        )
        best = (
            pairs.orderBy(F.desc("cnt"), F.asc("s1"), F.asc("s2"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_count:
            break
        a, b, cnt = best[0]["s1"], best[0]["s2"], int(best[0]["cnt"])
        merges.append((a, b, cnt))
        sym = sym.select(
            F.regexp_replace(
                "sym", _merge_pattern(a, b), _merge_replacement(a, b)
            ).alias("sym"),
            "n",
        ).transform(lazy_checkpoint)
    return merges


def bpe_encode(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
) -> DataFrame:
    """Apply a learned merge list: one row per ``id_col`` with
    ``bpe_tokens`` (array<string>, document order) and
    ``n_bpe_tokens``. The merge chain is applied to the DISTINCT word
    vocabulary and joined back, so each word is encoded once per
    corpus, not once per occurrence — at 100 TB the regex chain runs
    over vocab-sized data and the join is a broadcast of the encoded
    vocab."""
    from sparkprep.operators.text import tokens

    vocab = df.select(
        F.explode(tokens(text_col)).alias("word")
    ).distinct()
    encoded = vocab.select(
        "word", _initial_symbols(F.col("word")).alias("sym")
    )
    for m in merges:
        a, b = m[0], m[1]
        encoded = encoded.select(
            "word",
            F.regexp_replace(
                "sym", _merge_pattern(a, b), _merge_replacement(a, b)
            ).alias("sym"),
        )
    encoded = encoded.select(
        "word", F.split(F.col("sym"), " ").alias("word_toks")
    )
    exploded = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("__pos", "word")
    )
    joined = exploded.join(F.broadcast(encoded), "word")
    return (
        joined.groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "word_toks"))
                    ),
                    lambda s: s["word_toks"],
                )
            ).alias("bpe_tokens")
        )
        .withColumn("n_bpe_tokens", F.size("bpe_tokens").cast("long"))
    )
