"""Distributed BPE tokenizer training — learn byte-pair-encoding merge
rules from a corpus with Spark doing every corpus-sized step.

Reference parity note: the reference engine has no tokenizer; this is
part of the §2.11 LLM-pipeline surface (SURVEY.md) — tokenizer training
is the canonical "needs the whole corpus" preprocessing job.

The classic algorithm (Sennrich et al. 2016) runs on the WORD-FREQUENCY
relation, not raw text: the corpus is scanned ONCE to count distinct
whitespace tokens (one partial-aggregated shuffle — the only
corpus-sized step), and every merge iteration then works on the
vocabulary relation, whose size is |distinct words| regardless of
corpus bytes (~millions of rows at web scale — a small DataFrame for a
cluster). Per iteration:

- adjacent symbol pairs per word via ``arrays_zip(slice, slice)``,
  counts weighted by word frequency (map-side combined aggregate);
- the argmax pair comes back to the driver (ONE row, bounded);
- the merge applies to every word as a left-to-right greedy fold
  (``F.aggregate`` with a ``try_element_at(acc, -1)`` lookback) — the
  exact semantics of the reference implementation, including
  non-overlapping "aaa" -> ["aa", "a"];
- the vocabulary is materialized each step by
  ``operators.iterative.loop_round``, so plan lineage stays flat across
  iterations and the superseded step's blocks are freed at once (the
  graph loops' discipline).

Determinism: ties on pair count break on (pair_a, pair_b) string order,
pinned identically in the pure-Python reference implementation that the
tests compare against merge-by-merge.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_architecture_spark.operators.iterative import (
    _free_local_checkpoint,
    loop_round,
)


def _merge_fold(syms, a: str, b: str):
    """Left-to-right greedy merge of adjacent (a, b) into ``a+b``."""
    merged = F.lit(a + b)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(a)) & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def word_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt): distinct whitespace tokens with corpus counts — the
    single corpus-sized pass of BPE training."""
    return (
        df.select(
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def train_bpe(
    df: DataFrame,
    text_col: str,
    num_merges: int,
    min_pair_count: int = 2,
    freqs: DataFrame | None = None,
) -> list[dict]:
    """Learn up to ``num_merges`` BPE merge rules from ``text_col``.

    Returns a list of {rank, left, right, merged, pair_count} in merge
    order; stops early when no pair reaches ``min_pair_count``. Driver
    traffic per iteration is exactly one row (the argmax pair). Pass a
    precomputed :func:`word_frequencies` result as ``freqs`` to share
    the corpus pass with other consumers (the QA query does)."""
    words = freqs if freqs is not None else word_frequencies(df, text_col)
    vocab, _ = loop_round(words.select("cnt", F.split("word", "").alias("syms")))
    merges: list[dict] = []
    for rank in range(num_merges):
        pairs = vocab.select(
            "cnt",
            F.explode(
                F.arrays_zip(
                    F.slice("syms", 1, F.size("syms") - 1).alias("a"),
                    F.slice("syms", 2, F.size("syms") - 1).alias("b"),
                )
            ).alias("p"),
        ).filter(F.size("syms") >= 2)
        top = (
            pairs.groupBy(
                F.col("p.a").alias("a"), F.col("p.b").alias("b")
            )
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()  # one row, bounded by construction
        )
        if not top or top[0].n < min_pair_count:
            break
        a, b, n = top[0].a, top[0].b, int(top[0].n)
        merges.append(
            {
                "rank": rank,
                "left": a,
                "right": b,
                "merged": a + b,
                "pair_count": n,
            }
        )
        merged = vocab.select("cnt", _merge_fold(F.col("syms"), a, b).alias("syms"))
        vocab, _ = loop_round(merged, prev=vocab)
    _free_local_checkpoint(vocab)
    return merges


def bpe_word_tokens(word, merges: list[dict]):
    """Subword array for a single-WORD column: char split, then each
    merge rule as a fold in rank order — the per-word unit both
    :func:`apply_bpe` (per-document flatten) and the dictionary-encode
    path (encode DISTINCT words once, join back) are built from."""
    syms = F.split(word, "")
    for m in merges:
        syms = _merge_fold(syms, m["left"], m["right"])
    return syms


def apply_bpe(df: DataFrame, text_col: str, merges: list[dict]):
    """Tokenize ``text_col`` with a learned merge list: per-word char
    split, then each merge rule as a fold, in rank order — one narrow
    projection, no shuffle. Returns a Column (array of subword arrays
    flattened per document).

    Cost note (measured r14): the fold expression runs per word
    INSTANCE, so corpus-wide encoding pays |occurrences| x depth even
    though words repeat heavily (Zipf). When only per-word token
    ARITHMETIC is needed (counts, budgets), encode the DISTINCT word
    relation once with :func:`bpe_word_tokens` and join the results
    back — |vocabulary| fold evaluations instead of |occurrences|
    (the dictionary-encode path ``docs_bpe_encode_stats`` uses)."""
    words = F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), 0)
    return F.flatten(
        F.transform(words, lambda w: bpe_word_tokens(w, merges))
    )


def train_bpe_reference(
    texts: list[str] | None,
    num_merges: int,
    min_pair_count: int = 2,
    vocab: dict[str, int] | None = None,
) -> list[dict]:
    """Pure-Python reference implementation with the identical tie-break
    — the test oracle for :func:`train_bpe` (and the vocabulary-level QA
    check the registered query runs). Accepts raw ``texts`` or a
    pre-counted word-frequency ``vocab``."""
    if vocab is None:
        vocab = Counter()
        for t in texts or []:
            for w in t.split():
                vocab[w] += 1
    words = [(list(w), c) for w, c in vocab.items()]
    merges: list[dict] = []
    for rank in range(num_merges):
        counts: Counter = Counter()
        for syms, c in words:
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += c
        if not counts:
            break
        (a, b), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if n < min_pair_count:
            break
        merges.append(
            {"rank": rank, "left": a, "right": b, "merged": a + b,
             "pair_count": n}
        )
        new_words = []
        for syms, c in words:
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            new_words.append((out, c))
        words = new_words
    return merges
