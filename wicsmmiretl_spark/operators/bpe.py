"""Byte-pair-encoding tokenizer training (Sennrich et al. 2016 — public
literature; engine extension beyond the reference, which consumes text but
never trains a tokenizer).

Classic BPE over word frequencies: start from character symbols, repeatedly
(1) count adjacent symbol pairs weighted by word frequency, (2) merge the
most frequent pair everywhere, left-to-right without overlap. The learned
merge table IS the tokenizer.

100 TB design, mirroring the broadcast-Lloyd k-means pattern
(operators/similarity.py): the corpus is scanned ONCE — a single
partial-aggregated groupBy builds the (word, freq) vocabulary, which is
orders of magnitude smaller than the corpus (word-form counts, not tokens)
and is the only thing the training loop ever touches. Each merge step runs
one tiny pair-count aggregate over the persisted vocabulary and collects
exactly ONE row (the winning pair) to the driver; the merge itself is a
pure higher-order ``aggregate`` fold over the symbol arrays — no explode,
no shuffle, no Python. Driver traffic per step: one (left, right, count)
triple.

Pair counting is the standard sliding window (overlapping occurrences all
count: "aaa" contains (a,a) twice); merge application is the standard
leftmost-greedy non-overlapping replace ("aaaa" → "aa","aa"), and a merged
symbol never chain-merges within the same step.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wicsmmiretl_spark.functions.text import tokens


def merge_pair_expr(syms: Column, left: str, right: str) -> Column:
    """Leftmost-greedy non-overlapping merge of adjacent (left, right)
    symbols inside one symbol array, as a single fold expression.

    The accumulator carries the emitted prefix plus one pending symbol;
    a merge emits ``left+right`` directly (bypassing pend), so a freshly
    merged symbol can never participate in another merge this pass —
    exactly the Sennrich replace semantics.
    """
    merged = F.lit(left + right)
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc: Column, x: Column) -> Column:
        out, pend = acc["out"], acc["pend"]
        is_merge = pend.isNotNull() & (pend == F.lit(left)) & (x == F.lit(right))
        flushed = F.when(pend.isNotNull(), F.concat(out, F.array(pend))).otherwise(out)
        return F.when(
            is_merge,
            F.struct(
                F.concat(out, F.array(merged)).alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
        ).otherwise(F.struct(flushed.alias("out"), x.alias("pend")))

    def finish(acc: Column) -> Column:
        return F.when(
            acc["pend"].isNotNull(), F.concat(acc["out"], F.array(acc["pend"]))
        ).otherwise(acc["out"])

    return F.aggregate(syms, init, step, finish)


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    vocab_partitions: int | None = None,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from a document corpus.

    Raises if the vocabulary exhausts its pairs before ``n_merges`` steps
    (silently returning a short table would corrupt any tokenizer built
    from it). Ties on pair count break lexicographically on (left, right),
    so training is deterministic on any partitioning and any engine.

    ``vocab_partitions`` sizes the training loop's parallelism: the
    vocabulary is usually tiny relative to the corpus (word forms, not
    tokens), and every iteration pays per-partition scheduling overhead —
    at laptop scale 2 partitions beat 32; at 100 TB with a hundred-million
    -form vocabulary, leave it at the session default.

    Job count: ONE Spark job per merge (a vocab-sized pair-count aggregate
    collecting a single winner row), the loop the SQL oracle replays
    step for step. A deep merge table is that many SEQUENTIAL jobs,
    because merge i+1's counts depend on merge i's rewrite.

    Output: step int (0-based), lhs string, rhs string, pair_count bigint.
    """
    if n_merges < 1:
        raise ValueError(f"bpe_train: n_merges must be >= 1, got {n_merges}")
    spark = docs.sparkSession
    # Lineage is truncated per step with an eager localCheckpoint (the
    # graph/k-means pattern): without it every step re-optimizes a plan
    # with one more nested fold, and Catalyst/codegen time — not data —
    # dominates by step ~5.
    cur = (
        docs.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select("w", "freq", F.expr("regexp_extract_all(w, '.', 0)").alias("syms"))
    )
    if vocab_partitions is not None:
        if vocab_partitions < 1:
            raise ValueError(f"bpe_train: vocab_partitions must be >= 1, got {vocab_partitions}")
        cur = cur.coalesce(vocab_partitions)
    cur = cur.localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    for step_i in range(n_merges):
        n = F.size("syms")
        pairs = cur.select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.slice("syms", 1, n - 1).alias("l"),
                    F.slice("syms", 2, n - 1).alias("r"),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.l").alias("lhs"), F.col("p.r").alias("rhs"))
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not top:
            raise ValueError(
                f"bpe_train: vocabulary exhausted after {step_i} merges "
                f"(requested {n_merges})"
            )
        t = top[0]
        merges.append((step_i, t.lhs, t.rhs, t.pair_count))
        if step_i < n_merges - 1:
            cur = cur.withColumn(
                "syms", merge_pair_expr(F.col("syms"), t.lhs, t.rhs)
            ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        merges, "step int, lhs string, rhs string, pair_count bigint"
    )


def bpe_encode(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    out_col: str = "subwords",
) -> DataFrame:
    """Tokenize text with a learned merge table: whitespace words → char
    symbols → each merge applied in training order → flattened subword
    array. The merge list is tiny (it IS the tokenizer), so it compiles
    straight into the plan: one ``transform`` per document whose lambda
    chains the same fold used in training — per-row, map-side, no shuffle,
    no Python. Deep merge tables (32k entries) belong in an Arrow-batched
    ``mapInPandas`` encoder instead; the chained-fold form is for the
    plan-native small-table case (codegen time grows with merge count —
    keep it to a few dozen).

    Output: input columns + ``out_col`` array<string>.
    """
    if out_col in df.columns:
        raise ValueError(f"bpe_encode: input already has a {out_col!r} column")
    for m in merges:
        if len(m) != 2 or any(not isinstance(x, str) or not x for x in m):
            raise ValueError(f"bpe_encode: invalid merge entry {m!r}")

    def encode_word(w: Column) -> Column:
        syms = F.regexp_extract_all(w, F.lit("."), F.lit(0))
        for left, right in merges:
            syms = merge_pair_expr(syms, left, right)
        return syms

    words = tokens(text_col)
    encoded = F.flatten(F.transform(words, encode_word))
    return df.withColumn(out_col, encoded)
