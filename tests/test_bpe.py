"""BPE training tests: the fold merge vs a pure-Python reference
implementation (leftmost-greedy, non-overlapping, no chain-merge), full
training against a hand-computed corpus, and validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wicsmmiretl_spark.operators.bpe import bpe_train, merge_pair_expr


def _ref_merge(syms: list[str], left: str, right: str) -> list[str]:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


@pytest.mark.parametrize(
    "syms,pair",
    [
        (["a", "b", "c"], ("a", "b")),
        (["a", "a", "a"], ("a", "a")),          # odd chain: merge, then lone a
        (["a", "a", "a", "a"], ("a", "a")),     # even chain: two merges, no chaining
        (["x", "a", "b", "a", "b", "y"], ("a", "b")),
        (["a", "b", "a", "b", "a"], ("b", "a")),  # overlapping other-phase pairs
        (["q"], ("a", "b")),
        ([], ("a", "b")),
        (["ab", "c", "b", "c"], ("b", "c")),    # multi-char symbol boundary
    ],
)
def test_fold_matches_reference_merge(spark, syms, pair):
    df = spark.createDataFrame([(syms,)], "syms: array<string>")
    got = df.select(merge_pair_expr(F.col("syms"), *pair).alias("m")).collect()[0].m
    assert got == _ref_merge(syms, *pair)


def test_merged_symbol_does_not_chain(spark):
    # pair (a, aa): ["a","a","a"] -> greedy pairs on (a,aa)? positions:
    # a+aa requires symbol "aa" which doesn't exist yet -> unchanged.
    df = spark.createDataFrame([(["a", "a", "a"],)], "syms: array<string>")
    got = df.select(merge_pair_expr(F.col("syms"), "a", "aa").alias("m")).collect()[0].m
    assert got == ["a", "a", "a"]


def test_bpe_train_hand_corpus(spark):
    # Corpus: "low" x3, "lower" x1 -> char pairs weighted by word freq:
    # (l,o)=4, (o,w)=4, (w,e)=1, (e,r)=1. Tie (l,o)/(o,w) -> lexicographic
    # picks (l,o). Step 2: symbols lo,w[,e,r]: (lo,w)=4 wins.
    docs = spark.createDataFrame(
        [(1, "low low low lower")], "doc_id: bigint, text: string"
    )
    out = [tuple(r) for r in bpe_train(docs, n_merges=2, vocab_partitions=1).collect()]
    assert out == [(0, "l", "o", 4), (1, "lo", "w", 4)]


def test_bpe_train_exhaustion_raises(spark):
    docs = spark.createDataFrame([(1, "ab ab")], "doc_id: bigint, text: string")
    with pytest.raises(ValueError, match="exhausted after 1"):
        bpe_train(docs, n_merges=3, vocab_partitions=1)  # one merge fully fuses 'ab'


def test_bpe_train_validates(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id: bigint, text: string")
    with pytest.raises(ValueError, match="n_merges"):
        bpe_train(docs, n_merges=0)
    with pytest.raises(ValueError, match="vocab_partitions"):
        bpe_train(docs, vocab_partitions=0)


def test_bpe_encode_applies_merges_in_order(spark):
    from wicsmmiretl_spark.operators.bpe import bpe_encode

    docs = spark.createDataFrame([(1, "lower low")], "doc_id: bigint, text: string")
    out = bpe_encode(docs, "text", [("l", "o"), ("lo", "w")]).collect()[0].subwords
    assert out == ["low", "e", "r", "low"]


def test_bpe_encode_roundtrips_training(spark):
    from wicsmmiretl_spark.operators.bpe import bpe_encode, bpe_train

    docs = spark.createDataFrame(
        [(1, "low low low lower")], "doc_id: bigint, text: string"
    )
    merges = [(r.lhs, r.rhs) for r in bpe_train(docs, n_merges=2, vocab_partitions=1).collect()]
    out = bpe_encode(docs, "text", merges).collect()[0].subwords
    assert out == ["low", "low", "low", "low", "e", "r"]


def test_bpe_encode_validates(spark):
    from wicsmmiretl_spark.operators.bpe import bpe_encode

    docs = spark.createDataFrame([(1, "x")], "doc_id: bigint, text: string")
    with pytest.raises(ValueError, match="invalid merge"):
        bpe_encode(docs, "text", [("a", "")])
    with pytest.raises(ValueError, match="'subwords'"):
        bpe_encode(docs.withColumn("subwords", F.lit("x")), "text", [("a", "b")])


def test_bpe_encode_no_shuffle(spark):
    from wicsmmiretl_spark.operators.bpe import bpe_encode

    docs = spark.createDataFrame([(1, "ab ab")], "doc_id: bigint, text: string")
    plan = bpe_encode(docs, "text", [("a", "b")])._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


class TestHeapsFit:
    def test_natural_growth_beta_in_range(self, spark):
        import random as rnd

        from wicsmmiretl_spark.functions.text import heaps_fit

        rnd.seed(6)
        # Zipfian token draws give sublinear vocab growth: 0 < beta < 1.
        vocab = [f"w{i}" for i in range(1, 400)]
        weights = [1.0 / i for i in range(1, 400)]
        rows = [
            (d, " ".join(rnd.choices(vocab, weights=weights, k=40)))
            for d in range(1, 101)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        r = heaps_fit(df, "text", "doc_id", checkpoints=10).collect()[0]
        assert r.n_docs == 100 and r.total_tokens == 4000
        assert r.n_points == 10
        assert 0.2 < r.beta < 0.95
        assert r.r2 > 0.8

    def test_unique_string_contamination_pushes_beta_to_one(self, spark):
        from wicsmmiretl_spark.functions.text import heaps_fit

        # Every token corpus-unique → V == N at every checkpoint → beta 1.
        rows = [(d, f"u{d}a u{d}b u{d}c") for d in range(1, 51)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        r = heaps_fit(df, checkpoints=10).collect()[0]
        assert r.beta == 1.0 and r.vocab_size == r.total_tokens

    def test_closed_vocabulary_flattens(self, spark):
        from wicsmmiretl_spark.functions.text import heaps_fit

        rows = [(d, "the same three") for d in range(1, 51)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        r = heaps_fit(df, checkpoints=10).collect()[0]
        assert r.vocab_size == 3
        assert abs(r.beta) < 0.3

    def test_validates(self, spark):
        import pytest as _pytest

        from wicsmmiretl_spark.functions.text import heaps_fit

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="checkpoints"):
            heaps_fit(df, checkpoints=2)
