"""Distributed BPE (byte-pair encoding) vocabulary training.

Tokenizer training is the one corpus-scale job every pre-training
pipeline runs exactly once and every later job depends on.  The
standard trainer (Sennrich et al., the GPT-2/SentencePiece shape)
iterates: count adjacent symbol pairs across the corpus, merge the most
frequent pair everywhere, repeat.  The scalable formulation operates on
the DISTINCT-WORD table weighted by word frequency — corpus size only
matters once (the word count), after which each merge round's cost is
bounded by vocabulary size, not corpus size.

Spark-first shape: the word count is a distributed aggregation; the
merge loop is sequential (each round's argmax depends on the previous
rewrite), so, as the standard trainers do, it runs in ONE process — a
single ``mapInPandas`` task over the distinct-word table.  The trainer
is one lazy plan: building it runs no job and takes no pin.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

END_MARK = "▁"  # word-end sentinel (SentencePiece's marker)


def _symbols(word: Column) -> Column:
    """A word's initial symbols: its characters, with the end-marker
    appended to the last (the one symbolization rule, shared by the
    trainer and the segmenter)."""
    chars = F.split(word, "")
    n = F.size(chars)
    # 1-char words: slice(1, 0) is empty, element_at(-1) is the char
    return F.concat(
        F.slice(chars, 1, n - 1),
        F.array(F.concat(F.element_at(chars, -1), F.lit(END_MARK))),
    )


def _word_symbols(df: DataFrame, text_col: str) -> DataFrame:
    """(symbols: array<string>, freq: long) — one row per DISTINCT word."""
    words = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    return words.select(_symbols(F.col("w")).alias("symbols"), "freq")


def _merge_word(symbols: tuple, left: str, right: str) -> tuple:
    """``_merge_expr`` on one word: left-to-right, non-overlapping."""
    out: list[str] = []
    for s in symbols:
        if out and out[-1] == left and s == right:
            out[-1] = left + right
        else:
            out.append(s)
    return tuple(out)


def _train_merges(
    vocab: list[tuple[tuple, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """The exact k-round trainer over a (symbols, freq) word table.

    Each round recounts the frequency-weighted adjacent pairs, drops
    pairs with freq < 2 and takes the max by (freq DESC, left ASC,
    right ASC).
    Python compares strings by code point, which for valid UTF-8 is
    the same order as Spark's byte-wise string compare, so the
    tie-break agrees with the engine's ORDER BY.
    """
    merges = []
    for rank in range(n_merges):
        pairs: Counter = Counter()
        for syms, freq in vocab:
            for pair in zip(syms, syms[1:]):
                pairs[pair] += freq
        best = min(
            ((-f, p) for p, f in pairs.items() if f >= 2), default=None
        )
        if best is None:
            break
        neg_freq, (left, right) = best
        merges.append((rank, left, right, -neg_freq))
        vocab = [(_merge_word(s, left, right), f) for s, f in vocab]
    return merges


def _merge_expr(pa, pb):
    """Fold a symbol array, replacing every adjacent (pa, pb) with
    pa||pb — left-to-right, non-overlapping (after a merge the new
    symbol can immediately pair with the NEXT input, matching the
    reference implementation)."""

    def step(acc, x):
        # ANSI note: element_at(acc, -1) THROWS on an empty array, but
        # Catalyst's And short-circuits (left=false skips the right), so
        # the size(acc) > 0 guard makes this safe under the driver's
        # vanilla ANSI session — verified explicitly; keep the guard
        # FIRST in the conjunction
        can = (F.size(acc) > 0) & (F.element_at(acc, -1) == pa) & (x == pb)
        merged = F.concat(
            F.slice(acc, 1, F.size(acc) - 1), F.array(F.concat(pa, pb))
        )
        return F.when(can, merged).otherwise(F.concat(acc, F.array(x)))

    return lambda col: F.aggregate(
        col, F.array().cast("array<string>"), step
    )


def bpe_train(df: DataFrame, text_col: str, n_merges: int) -> DataFrame:
    """Learn ``n_merges`` BPE merges → (rank, left, right, freq): the
    rank-ordered merge table (the tokenizer artifact).

    The distinct-word table is counted in Spark at corpus parallelism;
    the merge loop then runs in one Python worker over that table
    (``coalesce(1).mapInPandas``), so its memory and time are bounded
    by the distinct-word count, not the corpus.  The result is lazy:
    building it runs no Spark job and takes no pin.

    Determinism: each round's winning pair is the max by (freq DESC,
    left ASC, right ASC) — the lexicographic tie-break makes the whole
    merge sequence reproducible across partitionings and engines, which
    the python-dual test pins exactly.  Training stops at the first
    round whose best pair has freq < 2 (a pair occurring once is never
    worth a merge; the reference trainer's stopping rule).
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")

    def train(batches: Iterator) -> Iterator:
        import pandas as pd

        vocab = [
            (tuple(syms), int(freq))
            for pdf in batches
            for syms, freq in zip(pdf["symbols"], pdf["freq"])
        ]
        yield pd.DataFrame(
            _train_merges(vocab, n_merges),
            columns=["rank", "left", "right", "freq"],
        )

    return _word_symbols(df, text_col).coalesce(1).mapInPandas(
        train, "rank long, left string, right string, freq long"
    )


def bpe_segment(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Apply a learned merge list to a corpus → (id, tokens:
    array<string>): the encode side, with the merge table as plain
    Python literals (the tokenizer artifact is tiny and ships with the
    job — broadcast by value into the plan, never a join).  Each merge
    is one fold over the symbol arrays; k merges chain k folds into a
    single codegen'd projection — no shuffles at all beyond the scan.
    """
    words = df.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), " ")).alias("_pos", "_w"),
    ).where(F.length("_w") > 0)
    expr = _symbols(F.col("_w"))
    for left, right in merges:
        expr = _merge_expr(F.lit(left), F.lit(right))(expr)
    return (
        words.select(id_col, "_pos", expr.alias("_toks"))
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "_toks"))
                    ),
                    lambda s: s["_toks"],
                )
            ).alias("tokens")
        )
    )
