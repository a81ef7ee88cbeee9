"""Distributed BPE trainer vs the pure-Python reference: merge-by-merge
equality including tie-breaks, greedy-fold semantics, and tokenizer
application."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lakehouse_architecture_spark.operators.bpe import (
    apply_bpe,
    train_bpe,
    train_bpe_reference,
)


def test_bpe_classic_example(spark):
    texts = [
        "low low low low low lower lower newest newest newest "
        "newest newest newest widest widest widest"
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = train_bpe(df, "text", 8)
    assert got == train_bpe_reference(texts, 8)
    # the classic merges are learned
    assert {m["merged"] for m in got} >= {"est", "low", "newest"}


def test_train_bpe_frees_each_merge_step(spark):
    """Each merge step's vocabulary goes through loop_round, so the
    step it supersedes leaves executor storage at once, and the last
    one is freed on return: training leaves no checkpointed RDD behind
    (in the style of test_loop_round_frees_previous_round)."""

    def stored_ids():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    texts = ["low low low lower lower newest newest widest widest"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    before = stored_ids()
    got = train_bpe(df, "text", 6)
    assert got == train_bpe_reference(texts, 6) and len(got) == 6
    assert stored_ids() - before == set()


def test_bpe_overlapping_pairs(spark):
    """aaa -> [aa, a]: non-overlapping left-to-right greedy merging."""
    texts = ["aaa aaa aaaa b"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = train_bpe(df, "text", 2)
    ref = train_bpe_reference(texts, 2)
    assert got == ref
    assert got[0]["left"] == "a" and got[0]["right"] == "a"


@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_matches_reference_on_random_corpora(spark, words):
    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "text string")
    assert train_bpe(df, "text", 5) == train_bpe_reference([text], 5)


def test_apply_bpe_roundtrip(spark):
    """Tokenizing with the learned merges: concatenating a word's
    subwords reconstructs the word, and frequent words collapse to
    single tokens."""
    from pyspark.sql import functions as F

    texts = ["the the the the cat cat sat"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    merges = train_bpe(df, "text", 4, min_pair_count=2)
    toks = df.select(apply_bpe(df, "text", merges).alias("t")).collect()[0].t
    assert "".join(toks) == texts[0].replace(" ", "")
    assert "the" in toks  # 4 merges at count>=2 fuse 't h e'
