"""Deduplication operators (north-star: exact, MinHash+LSH, SimHash,
n-gram Jaccard).

Scale design
------------
* Exact dedup: one hash-groupBy on a 128-bit normalized fingerprint — the
  map-side partial agg collapses uniques before the shuffle.
* MinHash+LSH: per-doc signature (k md5 minima over word shingles) → band
  keys → self-join on (band, key). Only docs sharing a band bucket ever meet,
  so the join is an equi-join on a high-cardinality key — no O(n²) compare.
  At 100 TB, bucket skew (huge clusters of near-identical docs) is the risk;
  AQE skew-join handles moderate skew and `max_bucket_size` hard-caps
  pathological buckets (standard practice: a bucket of 50k identical docs
  doesn't need pairwise expansion to know it's a dup cluster).
* SimHash: 32-bit signature from hex-nibble parities of per-token md5 —
  entirely in one grouped aggregation (explode → 32 conditional sums), no
  Python. Hamming-near pairs via banded equi-join on signature quarters.
* All hashing is md5-based, so signatures are identical across engines and
  partitionings (Spark's xxhash64/murmur aren't reproducible in DuckDB).

Everything here is deterministic: re-running on a differently-partitioned
input yields byte-identical pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from wicsmmiretl_spark.functions.text import fingerprint, tokens
from wicsmmiretl_spark.operators import loopconf
from wicsmmiretl_spark.operators.graph import connected_components


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row (min id) per normalized-text fingerprint."""
    fp = df.withColumn("_fp", fingerprint(text_col))
    keep = fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return fp.join(keep, [ "_fp", id_col ], "left_semi").drop("_fp")


def _shingles_of(toks: Column, n: int) -> Column:
    """Distinct word n-gram shingles of a token-array column.

    Guarded for short docs: Spark's sequence(1, 0) produces a DESCENDING
    [1, 0], so texts with < n tokens must short-circuit to an empty array.

    ``toks`` should be a plain attribute (a materialized column), not a
    nested expression: higher-order functions are CodegenFallback
    (interpreted), so an inlined tokenizer would re-run once per element
    per lambda reference — quadratic per row.
    """
    count = F.size(toks) - (n - 1)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
        )
    )
    return F.when(count >= 1, shingles).otherwise(F.array().cast("array<string>"))


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Column-expression form of ``_shingles_of`` (tokenizer inlined).

    Convenient for one-off use; operators below use ``staged_shingles``
    instead, which materializes the token array first (see _shingles_of's
    interpreted-evaluation caveat).
    """
    return _shingles_of(tokens(text_col), n)


def staged_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, sh) with the token array materialized in its own projection.

    Two stacked Projects: text → _toks, _toks → sh. Catalyst's
    CollapseProject keeps the boundary because the non-cheap alias is
    referenced more than once downstream, so split+filter tokenization runs
    exactly once per row (measured ~40× faster than the inlined form on the
    sf0.1 documents table).
    """
    toked = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    return toked.select(F.col(id_col), _shingles_of(F.col("_toks"), n).alias("sh"))


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8, shingle_n: int = 3
) -> DataFrame:
    """Per-doc MinHash signature as a PURE PROJECTION — no explode, no
    shuffle: ``array_min`` over the per-doc shingle array yields each hash's
    minimum in place.

    Hash family: md5 digests are split into four 8-hex-char chunks, each an
    independent 32-bit-equivalent hash (hex strings compare like the integers
    they encode) — so k hashes cost ceil(k/4) md5 evaluations per shingle,
    not k. Digest d uses salt ``#d``.

    Docs with fewer than ``shingle_n`` tokens have no shingles → dropped.
    The drop is a cheap regex pre-filter on the raw text (≥n non-space
    runs), NOT a post-filter on m0: a filter on a derived column gets
    predicate-pushed through the projections, re-inlining the whole
    interpreted shingle expression at the scan. Output: id, m0..m{k-1}.

    Scale note: the old explode+groupBy shape shuffled |docs|·|shingles| rows
    per signature build; this shape shuffles nothing — LSH banding afterwards
    shuffles only bands·|docs| tiny rows.
    """
    n_digests = (num_hashes + 3) // 4

    # NB: F.transform inspects lambda arity — a second (even defaulted)
    # parameter turns it into an (element, index) lambda. Bind loop state
    # through factories instead.
    def digest_fn(d: int):
        if d == 0:
            return lambda x: F.md5(x)
        return lambda x: F.md5(F.concat(x, F.lit(f"#{d}")))

    def chunk_fn(c: int):
        return lambda h: h.substr(1 + 8 * c, 8)

    has_n_tokens = r"\S+" + r"\s+\S+" * (shingle_n - 1)
    staged = staged_shingles(
        df.filter(F.col(text_col).rlike(has_n_tokens)), id_col, text_col, shingle_n
    ).select(
        F.col(id_col),
        *[F.transform(F.col("sh"), digest_fn(d)).alias(f"_hs{d}") for d in range(n_digests)],
    )
    mins = []
    for i in range(num_hashes):
        d, c = divmod(i, 4)
        mins.append(F.array_min(F.transform(F.col(f"_hs{d}"), chunk_fn(c))).alias(f"m{i}"))
    return staged.select(F.col(id_col), *mins)


def _bands(
    sigs: DataFrame,
    id_col: str,
    out: str,
    num_hashes: int,
    bands: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """Lazily checkpointed band table (out, band_idx, band_key), one row
    per doc and band, hash-partitioned by bucket. With ``max_bucket_size``
    it also carries ``_bmin``: the bucket's min id when the bucket has more
    than ``max_bucket_size`` rows, else NULL (so also NULL for an oversized
    bucket whose ids are all NULL)."""
    rows_per_band = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(F.concat_ws("|", *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)])).alias(
                "band_key"
            ),
        )
        for b in range(bands)
    ]
    banded = (
        sigs.select(F.col(id_col).alias(out), F.explode(F.array(*band_cols)).alias("band"))
        .select(out, "band.band_idx", "band.band_key")
        .repartition("band_idx", "band_key")
    )
    if max_bucket_size is not None:
        # The repartition already clusters every bucket in one partition, so
        # the window plans no exchange of its own.
        bucket = Window.partitionBy("band_idx", "band_key")
        oversized = F.count(F.lit(1)).over(bucket) > max_bucket_size
        banded = banded.withColumn("_bmin", F.when(oversized, F.min(out).over(bucket)))
    return banded.localCheckpoint(eager=False)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become a candidate pair.

    Returns distinct (id_a, id_b, is_star) with id_a < id_b. The self-join
    is an equi-join on (band_idx, band_key) — shuffle-partitioned by bucket,
    never all-pairs.

    ``max_bucket_size`` caps pathological buckets (a corpus with 50k
    byte-identical docs puts them all in one bucket; pairwise expansion
    would emit ~1.25B rows from that single bucket). Buckets over the cap
    are STAR-expanded instead: every member pairs with the bucket's minimum
    id — O(bucket) rows, and downstream connected-components still sees one
    component. Star pairs carry ``is_star = true`` so a downstream per-pair
    exact-similarity verify can exempt them (dropping an unverified star
    edge would disconnect genuine near-dups inside the oversized bucket);
    a pair that ALSO co-occurs in a normal-sized bucket keeps
    ``is_star = false`` (it can be verified like any other candidate).
    ``None`` disables the cap (every pair ``is_star = false``).

    Plan shape: the band table costs ONE exchange,
    ``repartition(band_idx, band_key)``, which puts every bucket whole in
    one partition, so the cap's per-bucket size and min id are a window
    over it (a sort inside partitions, not a second exchange). The banded
    table (id + band cols, ~4 tiny rows/doc) is
    materialized once with a lazy ``localCheckpoint``, and every consumer —
    star filter, normal filter, both self-join sides — reads the
    materialized partitions instead of recomputing the signature pipeline
    (the expensive part: interpreted shingle HOFs + md5; measured 2-3×
    wall-clock at sf0.1). The checkpoint truncates lineage (executor loss
    forces a job retry, the trade every loop checkpoint in
    ``operators/graph.py`` makes) but is orders of magnitude smaller than
    the corpus, so it holds at 100 TB.
    """
    banded = _bands(signatures, id_col, id_col, num_hashes, bands, max_bucket_size)
    star = None
    if max_bucket_size is not None:
        # id > NULL is NULL: only members of a bucket with a min id pair up.
        star = banded.filter(F.col(id_col) > F.col("_bmin")).select(
            F.col("_bmin").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(True).alias("is_star"),
        )
        banded = banded.filter(F.col("_bmin").isNull())

    a = banded.alias("a")
    b = banded.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.lit(False).alias("is_star"),
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    # min(bool): false < true, so a pair also seen in a normal bucket stays
    # verifiable (is_star = false) even if an oversized bucket emitted it.
    return pairs.groupBy("id_a", "id_b").agg(F.min("is_star").alias("is_star"))


def jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs.

    Joins each side's shingle set (broadcast-friendly: only candidate ids),
    computes |∩|/|∪| with array intrinsics, filters by threshold. Output:
    id_a, id_b, jaccard (rounded 6dp, deterministic) — plus is_star when the
    candidate frame carries it.

    Star-expanded candidates (``is_star = true`` from ``lsh_candidate_pairs``
    bucket capping) are EXEMPT from the threshold filter: a star edge is the
    only thing connecting an oversized near-clique bucket, so dropping one
    below threshold would disconnect genuine near-dups. They are
    pre-confirmed by construction, not verified per-pair.

    Plan shape: the interpreted shingle pipeline runs ONLY for documents
    that appear in a candidate pair — the candidate frame (tiny: LSH
    survivors) is materialized once with its row count observed, its id
    set semi-joins the corpus, and shingles are computed for that reduced
    set. Without the reduction both join sides shingle the FULL corpus
    (verification cost scales with the corpus instead of with
    |candidates| — the wrong side of the LSH bargain at 100 TB). When the
    observed count says the id set fits the broadcast threshold
    (``loopconf.fits_broadcast``) the id set is broadcast, so the corpus
    is never shuffled; a candidate set too large to broadcast keeps the
    shuffle semi-join.
    """
    cand, m = loopconf.observed_checkpoint(candidates, loopconf.row_count())
    ids = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # A candidate row adds at most two ids: within one edge row's bytes.
    if loopconf.fits_broadcast(cand.sparkSession, m["n"]):
        ids = F.broadcast(ids)
    sh = staged_shingles(
        df.join(ids, id_col, "left_semi"), id_col, text_col, shingle_n
    )
    keep = F.col("jaccard") >= threshold
    if "is_star" in candidates.columns:
        keep = keep | F.col("is_star")
        out_cols = ["id_a", "id_b", "jaccard", "is_star"]
    else:
        out_cols = ["id_a", "id_b", "jaccard"]
    out = (
        cand.join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(F.col("inter").cast("double") / F.greatest(F.col("uni"), F.lit(1)).cast("double"), 6),
        )
        .filter(keep)
        .select(*out_cols)
    )
    return out


def simhash_near_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_hamming: int = 2,
) -> DataFrame:
    """Hamming-near pairs from 32-bit SimHash signatures.

    Pigeonhole banding: split the signature into 4 bytes; two signatures
    within Hamming distance ≤ 3 of each other are GUARANTEED to agree on at
    least one whole byte (pigeonhole), so candidates come
    from an equi-join on (byte_idx, byte_value) — shuffle by byte bucket,
    never all-pairs — then the exact distance check is one xor+bit_count.

    Output: id_a, id_b, hamming (distinct pairs, id_a < id_b).

    Plan shape — deliberately NO ``localCheckpoint`` here, unlike
    ``lsh_candidate_pairs``: the self-join does recompute the signature
    pipeline once per side, but that pipeline (token explode + md5 + 32
    branchless bit-sums) is fully whole-stage-codegen'd, and an A/B/C
    measurement at sf0.1 showed recompute (≈2.3 s) beats both a banded
    checkpoint (≈2.65 s) and a signature checkpoint + broadcast join-back
    (≈4.7 s) — materialization overhead exceeds one extra codegen'd pass.
    The LSH case is different because its recomputed pipeline is
    interpreted HOFs with THREE consumers. At larger scale the trade moves
    with data size on both sides equally; revisit only if the signature
    build gains an interpreted stage.
    """
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(F.col(sig_col), 8 * b).bitwiseAND(F.lit(255)).alias("band_val"),
            )
            for b in range(4)
        ]
    )
    banded = signatures.select(
        F.col(id_col), F.col(sig_col), F.explode(bands).alias("band")
    ).select(id_col, sig_col, "band.band_idx", "band.band_val")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col(f"a.{sig_col}").bitwiseXOR(F.col(f"b.{sig_col}"))).cast("long").alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


# Near-dup pairs → clusters: (id, cluster_id = smallest doc id in the
# component) for every doc in the pairs. Each partition of the pairs
# contracts itself with a union-find, then alternating-star rounds join
# what crosses partitions — O(log n) rounds for ANY component shape,
# including the chained-duplicate path graphs that defeat min-label
# propagation (operators/graph.py).
dup_clusters = connected_components


def simhash32(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash from token md5 nibble parities, as ONE grouped agg.

    Bit j = sign of Σ_tokens (±1 by parity of hex digit j of md5(token)).
    Output: id, simhash (bigint, bit 0 = most significant nibble's parity).
    Cross-engine reproducible (md5 + integer sums only).
    """
    toked = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok")).withColumn(
        "h", F.md5("tok")
    )
    # branchless ±1: half the generated code of a CASE per bit, ~2× faster
    # first-run (Janino compile) and ~20% faster steady-state
    bit_sums = [
        F.sum((F.ascii(F.substring("h", j + 1, 1)) % 2) * 2 - 1).alias(f"b{j}")
        for j in range(32)
    ]
    agged = toked.groupBy(id_col).agg(*bit_sums)
    sig = None
    for j in range(32):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        term = bit * F.lit(2 ** (31 - j)).cast("long")
        sig = term if sig is None else sig + term
    return agged.select(F.col(id_col), sig.alias("simhash"))


def jaccard_prefix_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT Jaccard self-join via prefix filtering (Chaudhuri et al. 2006
    / Bayardo AllPairs 2007 — public literature): every document pair with
    shingle Jaccard ≥ ``threshold``, with NO probabilistic miss — the
    deterministic complement to the MinHash+LSH pipeline (which trades
    recall for cost; this trades cost for a guarantee, and is the right
    tool when a compliance bar says "find ALL duplicates above t").

    Prefix-filter theorem: order every document's shingles by a GLOBAL
    canonical order (ascending corpus frequency, then value — rarest
    first); if J(A, B) ≥ t then |A∩B| ≥ ceil(t·|A|), so at least one
    common shingle must fall inside A's first |A| − ceil(t·|A|) + 1
    shingles. Candidates are therefore pairs where one side's PREFIX
    shares a shingle with the other side's FULL set — an equi-join keyed
    by shingle, never an all-pairs comparison. Higher thresholds prune
    harder (t=0.9 keeps ~10% of each doc as prefix); the rarest-first
    order makes surviving join keys low-frequency by construction.
    Verification reuses ``jaccard_pairs`` (exact array intersection over
    candidates only).

    Cost shape: one shingle-keyed frequency agg, one window per doc for
    the canonical ranks, one shingle-keyed candidate join, then
    |candidates|-bounded verification. Output: id_a, id_b, jaccard ≥ t
    (6dp).

    Scale floor — ``max_df``: exact AllPairs candidate volume legitimately
    tracks the corpus (the 10× rehearsal measures exponent 0.76 at
    default settings — that IS the guaranteed-recall price, there is no
    miss-free shortcut). When an operator at 100 TB needs a hard bound
    anyway, ``max_df`` drops candidate-join keys whose corpus document
    frequency exceeds it, capping per-key fanout at max_df·(prefix
    occurrences). This EXPLICITLY trades the no-miss guarantee: a pair
    whose every prefix-shared shingle is more common than ``max_df`` is
    missed — with rarest-first prefixes that means pairs overlapping ONLY
    in boilerplate grams, the same population the winnowing/TF-IDF bands
    already discard on purpose. Leave it None (the default, and what the
    suite's oracle-checked query runs) when the compliance bar is "find
    ALL duplicates above t"; the canonical prefix ORDER is computed from
    the unbanded frequencies either way, so banding never reshuffles
    which shingles form a prefix.

    When the band pays — measured: the semi-join that applies it costs
    ~one extra prefix-side shuffle, so on a FLAT document-frequency corpus
    (no boilerplate grams above the band) it is pure overhead — the 100×
    rehearsal slice, whose per-copy alphabet permutation makes cross-copy
    df flat by construction, measures banded ~18% SLOWER than exact at
    identical output. The knob is for real corpora with df skew
    (boilerplate headers, license blocks), where a handful of high-df
    keys otherwise fan out C(df, 2) candidates each.
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"jaccard_prefix_join: threshold must be in (0, 1], got {threshold}")
    if max_df is not None and max_df < 2:
        raise ValueError(
            f"jaccard_prefix_join: max_df must be >= 2 (a df-1 shingle can never "
            f"generate a pair), got {max_df}"
        )
    # explode_outer + post-filter (the repetition.py 45x gotcha): a plain
    # explode (or a size()>0 pre-filter) gets its implicit predicate pushed
    # below the projection, re-inlining the interpreted shingle lambda per
    # element — measured 28 s vs 3 s on the sf0.1 documents table. The
    # lazy checkpoint then pins the exploded stream for its three
    # downstream consumers (frequency agg, ranking, candidate probe).
    shs = staged_shingles(df, id_col, text_col, shingle_n)
    ex = (
        shs.select(
            F.col(id_col).alias("_id"),
            F.size("sh").alias("_n"),
            F.explode_outer("sh").alias("_s"),
        )
        .filter(F.col("_s").isNotNull())
        .localCheckpoint(eager=False)
    )
    freq = ex.groupBy("_s").agg(F.count("*").alias("_f"))
    ranked = ex.join(freq, "_s").withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("_id").orderBy(F.asc("_f"), F.asc("_s"))
        ),
    )
    prefix_len = F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")).cast("int") + 1
    prefix = ranked.filter(F.col("_rn") <= prefix_len).select(
        F.col("_id").alias("_pid"), "_s"
    )
    if max_df is not None:
        # Banding the PREFIX side alone kills every candidate routed through
        # a too-common key (the join requires the key on both sides), so one
        # semi-join bounds the fanout without touching the verification.
        prefix = prefix.join(
            freq.filter(F.col("_f") <= max_df).select("_s"), "_s", "left_semi"
        )
    full = ex.select(F.col("_id").alias("_fid"), "_s")
    cand = (
        prefix.join(full, "_s")
        .filter(F.col("_pid") != F.col("_fid"))
        .select(
            F.least("_pid", "_fid").alias("id_a"),
            F.greatest("_pid", "_fid").alias("id_b"),
        )
        .distinct()
    )
    return jaccard_pairs(df, cand, id_col, text_col, shingle_n=shingle_n, threshold=threshold)


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_cols: list[str],
    window: int = 3,
    max_dist: int | None = None,
    dist_col: str | None = None,
) -> DataFrame:
    """Sorted-neighborhood candidate generation (Hernández & Stolfo 1995
    — public literature): order records by a blocking key, slide a window
    of size ``window`` + 1 over the global order, and emit every pair
    whose ranks differ by at most ``window``. Classic record-linkage
    blocking for typo-class duplicates — two records whose normalized
    keys sort adjacently are candidates even when no exact key matches,
    at O(n·w) pairs instead of the O(n²) all-pairs join.

    Distributed shape: the global rank comes from ``sampling.stable_index``
    (range-repartition + local sort + broadcast offsets — NO
    single-partition window), and the neighborhood pairing is an
    EQUI-join: each record emits ``window`` probe rows at ranks
    idx+1 … idx+window (a bounded explode), equi-joined back on the rank.
    Both sides of that join are hash-shuffled on a dense unique integer —
    perfectly uniform keys, no skew at any scale.

    ``sort_cols`` must be a total order (include a unique tiebreak — the
    id column — as its last element). When ``max_dist`` is given, pairs
    are kept only if the Levenshtein distance between the first sort
    column's values is ≤ ``max_dist`` (the cheap in-window verifier);
    ``dist_col`` names an optional output column carrying that distance.

    Output: id_a, id_b (id of the rank-lower record first), plus
    ``dist_col`` if requested.
    """
    from wicsmmiretl_spark.operators.sampling import stable_index

    if window < 1:
        raise ValueError(f"sorted_neighborhood_pairs: window must be >= 1, got {window}")
    if id_col not in df.columns:
        raise ValueError(f"sorted_neighborhood_pairs: {id_col!r} not in {df.columns}")
    indexed = stable_index(df.select(id_col, *dict.fromkeys(sort_cols)), list(sort_cols)).select(
        F.col(id_col).alias("_id"), F.col(sort_cols[0]).alias("_key"), "idx"
    ).localCheckpoint(eager=False)
    probes = indexed.select(
        F.col("_id").alias("_id_a"),
        F.col("_key").alias("_key_a"),
        F.explode(
            F.sequence(F.col("idx") + 1, F.col("idx") + window)
        ).alias("idx"),
    )
    pairs = probes.join(indexed, "idx").select(
        F.col("_id_a").alias("id_a"),
        F.col("_id").alias("id_b"),
        F.col("_key_a"),
        F.col("_key").alias("_key_b"),
    )
    if max_dist is not None:
        d = F.levenshtein(F.col("_key_a"), F.col("_key_b"))
        pairs = pairs.filter(d <= max_dist)
        if dist_col is not None:
            pairs = pairs.withColumn(dist_col, d.cast("int"))
    out_cols = ["id_a", "id_b"] + ([dist_col] if (dist_col and max_dist is not None) else [])
    return pairs.select(*out_cols)


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    SIGMOD — public literature; the MOSS plagiarism-detector algorithm).
    Normalize the text (lowercase, strip non-alphanumerics), hash every
    character ``k``-gram, slide a window of ``window`` consecutive hashes,
    and select the minimum hash of each window (ties → rightmost
    occurrence). The guarantee that makes this the standard local
    fingerprinting scheme: any shared substring of length ≥ k + window - 1
    between two documents yields at least one IDENTICAL selected
    fingerprint in both — so overlap detection is an equi-join on the
    fingerprint hash, never a scan.

    Distributed shape: explode to one row per k-gram position (bounded by
    corpus character count, the same budget every shingling operator here
    pays), then ONE per-document window-min — partitioned by document id,
    so no global sort and no skew beyond document length. The min-with-
    rightmost-tiebreak is encoded arithmetically: ``hash · 2²⁰ +
    (2²⁰-1 - pos)`` makes a single ``min()`` pick (min hash, max pos),
    which both engines evaluate with exact bigint arithmetic. Positions
    are therefore bounded at 2²⁰-1 ≈ 1M normalized chars per document;
    longer documents are fingerprinted on their first 1M chars
    (documented truncation, not silent corruption).

    Hashes are the first 8 hex chars of md5(k-gram) — cross-engine
    reproducible like every signature in this module. Documents with
    fewer than ``window`` k-grams emit no fingerprints (no full window).

    Output: id_col, pos int (1-based position of the selected k-gram in
    the normalized text), hash bigint (32-bit range). One row per
    DISTINCT selected (position, hash) per document.
    """
    if k < 2:
        raise ValueError(f"winnowing_fingerprints: k must be >= 2, got {k}")
    if window < 1:
        raise ValueError(f"winnowing_fingerprints: window must be >= 1, got {window}")
    max_pos = (1 << 20) - 1
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    base = (
        df.select(F.col(id_col), F.substring(norm, 1, max_pos + k - 1).alias("_s"))
        .withColumn("_ng", (F.length("_s") - F.lit(k - 1)).cast("long"))
        .filter(F.col("_ng") >= window)
    )
    grams = base.select(
        id_col,
        "_ng",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("_ng"))).alias("pos"),
        "_s",
    )
    hashed = grams.select(
        id_col,
        "_ng",
        "pos",
        (
            F.conv(F.substring(F.md5(F.col("_s").substr(F.col("pos"), F.lit(k))), 1, 8), 16, 10)
            .cast("long")
            * F.lit(1 << 20)
            + (F.lit(max_pos) - F.col("pos"))
        ).alias("_comb"),
    )
    ws = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    selected = (
        hashed.withColumn("_sel", F.min("_comb").over(ws))
        .filter(F.col("pos") <= F.col("_ng") - F.lit(window - 1))
        .select(id_col, "_sel")
        .distinct()
    )
    return selected.select(
        id_col,
        (F.lit(max_pos) - (F.col("_sel") % F.lit(1 << 20))).cast("int").alias("pos"),
        ((F.col("_sel") - (F.col("_sel") % F.lit(1 << 20))) / F.lit(1 << 20))
        .cast("long")
        .alias("hash"),
    )


def winnowing_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    max_df: int = 100,
    min_shared: int = 2,
) -> DataFrame:
    """Document-overlap candidate pairs from winnowing fingerprints — the
    detection join the fingerprints exist for (the MOSS pipeline's second
    half): two documents sharing any substring of length ≥ k + window - 1
    share at least one selected fingerprint hash, so overlap detection is
    an EQUI-join on the hash, never an all-pairs comparison.

    Scale levers (same ordering discipline as the TF-IDF pair join):

    * fingerprints are first reduced to DISTINCT (doc, hash) — repeats of
      a gram within one document don't multiply join fanout;
    * a document-frequency band drops hashes selected in more than
      ``max_df`` documents BEFORE the self-join (boilerplate grams — the
      stopword equivalent — would alone fan out C(df, 2) pairs and carry
      no discrimination signal);
    * ``min_shared`` cuts singleton-hash coincidences after the grouped
      count (≥2 shared fingerprints ≈ two independent shared regions, the
      standard MOSS reporting threshold).

    Output: id_a, id_b (id_a < id_b), n_shared bigint (distinct shared
    fingerprint hashes), ordered (n_shared desc, id_a, id_b).
    """
    if max_df < 2:
        raise ValueError(f"winnowing_overlap_pairs: max_df must be >= 2, got {max_df}")
    if min_shared < 1:
        raise ValueError(
            f"winnowing_overlap_pairs: min_shared must be >= 1, got {min_shared}"
        )
    # The fingerprint pipeline (per-char k-gram explode + window min) is
    # the expensive stage and has THREE consumers below (the df band, and
    # both sides of the self-join) — pin it once, lazily, the same
    # materialize-before-fanout pattern as jaccard_prefix_join.
    fp = (
        winnowing_fingerprints(df, id_col, text_col, k=k, window=window)
        .select(F.col(id_col).alias("_id"), "hash")
        .distinct()
        .localCheckpoint(eager=False)
    )
    dfs = fp.groupBy("hash").agg(F.count("*").alias("_df")).filter(F.col("_df") <= max_df)
    banded = fp.join(dfs.select("hash"), "hash")
    a = banded.select(F.col("_id").alias("id_a"), "hash")
    b = banded.select(F.col("_id").alias("id_b"), "hash")
    return (
        a.join(b, "hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy(F.desc("n_shared"), F.asc("id_a"), F.asc("id_b"))
    )


def lsh_probe_pairs(
    probe_sigs: DataFrame,
    index_sigs: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Asymmetric LSH banding join — the PRODUCTION dedup shape: probe a
    new ingest batch against an already-signed corpus without ever
    self-joining the corpus. Same banding as ``lsh_candidate_pairs``
    (docs sharing any band bucket become candidates), but the two sides
    are distinct sets, so the equi-join is batch × corpus per bucket —
    at 100 TB the corpus side is a static signed table (signatures are
    tiny and incrementally appendable), and each daily batch pays only
    its own banding plus one bucket-keyed join.

    ``max_bucket_size`` caps pathological CORPUS buckets (boilerplate
    shingle sets shared by ~everything): an oversized bucket is
    represented by its minimum corpus id alone, so a probe doc still
    links into the cluster with ONE row instead of |bucket| rows; such
    pairs carry ``is_star = true`` so downstream exact-verify can exempt
    them (same contract as the self-join form). A pair also found via a
    normal bucket stays ``is_star = false``. The cap rides the corpus
    side's band exchange as a window (``_bands``), so it costs no
    exchange of its own.

    Output: distinct (probe_id, index_id, is_star). Probe and index id
    spaces may overlap — the columns are kept separate, no ordering is
    imposed between them. A NULL id pairs with nothing (as in
    ``lsh_candidate_pairs``), though it still counts towards its corpus
    bucket's size.
    """
    idx = _bands(index_sigs, id_col, "index_id", num_hashes, bands, max_bucket_size)
    prb = _bands(probe_sigs, id_col, "probe_id", num_hashes, bands, None)
    if max_bucket_size is not None:
        idx = idx.select(
            F.coalesce("_bmin", "index_id").alias("index_id"),
            "band_idx",
            "band_key",
            F.col("_bmin").isNotNull().alias("is_star"),
        ).distinct()
    else:
        idx = idx.withColumn("is_star", F.lit(False))
    return (
        prb.join(idx, ["band_idx", "band_key"])
        .filter(F.col("probe_id").isNotNull() & F.col("index_id").isNotNull())
        .groupBy("probe_id", "index_id")
        .agg(F.min("is_star").alias("is_star"))
    )


def semantic_dedup(
    embeddings: DataFrame,
    tau: float,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    cell_target: int | None = None,
    strategy: str = "flat",
    flat_threshold: int = 20_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023, arXiv:2303.09540 — public): cluster with k-means,
    then compare pairs only WITHIN a cluster and drop every vector that has
    a τ-similar lower-id neighbor in its cell (the deterministic min-id
    survivor variant of the paper's per-group keep-one rule; determinism is
    what lets a SQL oracle replay the decision bit-for-bit).

    Plan shape, and why it scales where naive semantic dedup can't:

    * centroids come from :func:`~wicsmmiretl_spark.operators.similarity.
      kmeans_train` — broadcast-Lloyd, k×dim driver traffic only;
    * assignment is a map-side ``array_min`` over the broadcast centroid
      array (no shuffle of payload rows — identical machinery to
      ``ivf_topk``);
    * the τ-compare is a cell-keyed self-join: pair volume is Σ C(|cell|,2),
      bounded by the largest cell, never O(n²) over the corpus. The paper's
      operating point is k large enough that cells hold ~10³-10⁴ vectors
      (k ≈ n / cell_target); at 100 TB you raise ``k``, not the join.

    ``cell_target`` makes that operating point a knob instead of caller
    arithmetic: when set, ``k`` is raised to ``max(k, ceil(n /
    cell_target))`` (one count job), so EXPECTED cell size — and with it
    the within-cell pair budget per vector — stays constant as the corpus
    grows. A fixed ``k`` over growing data drifts toward quadratic pair
    volume (the 10× rehearsal measures exponent ~1 at fixed k=8 vs ~0.5
    with cell_target pinned); fixed ``k`` remains the right call only when
    the corpus size is itself fixed, e.g. to match a replayable oracle.
    Derived-k determinism: k depends only on the input row count, so the
    decision chain stays engine-replayable.

    What ``cell_target`` does NOT bound — measured, not asserted: with
    k ∝ n the broadcast-argmax ASSIGNMENT becomes the n·k = n²/cell_target
    stage; the 100× rehearsal measures exponent ~0.8 for the whole operator
    (the 10× reading of ~0.2 was fixed costs still amortizing). Three facts
    scope that number: (1) the quadratic term is pure map-side broadcast
    compute — the shuffle stays n rows (partial-agg argmax), so it scales
    OUT horizontally: double the executors, halve the wall-clock, at any n;
    (2) the balanced operating point k ≈ √(n/2) (pass it via ``k``,
    ``isqrt`` keeps it engine-replayable) equalizes assignment n·k and
    compare n²/2k at total work ~n^1.5 — measured ~25% faster at both 1×
    and 100× with the same local exponent, the asymptote only separates
    beyond; (3) ``strategy="hierarchical"`` IS the 100 TB assignment path:
    :func:`~wicsmmiretl_spark.operators.similarity.kmeans_two_level`
    routes coarse→fine (n·√k compares per pass, O(n^1.5) total with
    k ∝ n — the IVF pattern; measured 62.0 s / exponent 0.40 at 100×
    vs flat's 203.8 s / 0.82). It changes the cell PARTITION (vectors
    route through their coarse cell), so the flat SQL oracle does not
    replay it — the graded suite query runs hierarchical against the
    two-level oracle chain (suite.py:_kmeans2_sql_cte), which replays
    every stage bit-for-bit. ``"flat"`` stays the default: at small
    corpora (below ~10× the sf0.1 testdata) the two-level fixed costs
    exceed the n·k saving.

    ``strategy="auto"`` makes that crossover a deterministic dispatch
    instead of caller judgment: pick ``"flat"`` when ``n <
    flat_threshold``, else ``"hierarchical"`` — one count job (shared
    with the ``cell_target`` derivation when both are set), an integer
    compare, engine-replayable (a SQL oracle picks the same branch from
    the same ``count(*)``). The default ``flat_threshold=20_000`` is the
    measured crossover (~10× the 2 000-row sf0.1 testdata: flat wins by
    ~3 s at 1×, hierarchical by 3.3× at 100× — BENCH_NOTES_r11), and it
    is a CONSTANT, not a derivation: the point is that both engines and
    both rounds of a rehearsal agree on the branch for a given corpus.

    Cosines are rounded to 6dp before the ≥ τ compare (the suite's
    cross-engine determinism discipline). Output: ``id_col``, ``cell``
    (int), ``keep`` (boolean) — one row per input vector; downstream the
    kept set is ``filter(keep)``.
    """
    from wicsmmiretl_spark.operators.similarity import (
        _ab,
        _argmin_cands,
        _cent_array,
        _cos6,
        _vec_rows,
        kmeans_train,
        kmeans_two_level,
    )

    if strategy not in ("flat", "hierarchical", "auto"):
        raise ValueError(
            "semantic_dedup: strategy must be 'flat', 'hierarchical' or "
            f"'auto', got {strategy!r}"
        )
    if flat_threshold < 1:
        raise ValueError(
            f"semantic_dedup: flat_threshold must be >= 1, got {flat_threshold}"
        )
    if cell_target is not None and cell_target < 2:
        raise ValueError(
            f"semantic_dedup: cell_target must be >= 2, got {cell_target}"
        )
    n: int | None = None
    if cell_target is not None or strategy == "auto":
        # Integer ceil (no float division): the oracle replays the same
        # decision with (count(*) + cell_target - 1) // cell_target, exact
        # at every n. The count job re-executes the upstream plan; callers
        # feeding a non-trivial plan (not a bare table scan) should
        # persist/localCheckpoint it before calling — the suite feeds raw
        # parquet scans, where a cache would cost more than the re-scan.
        # ONE count serves the k derivation, the auto dispatch, AND (passed
        # down as n_rows) the two-level fine-init sample threshold —
        # valid as n_rows because semantic_dedup's input contract is one
        # row per id (kmeans_two_level requires the DISTINCT-id count;
        # see its docstring, ADVICE r13).
        n = embeddings.count()
        if cell_target is not None:
            k = max(k, -(-n // cell_target))
        if strategy == "auto":
            strategy = "flat" if n < flat_threshold else "hierarchical"
    if strategy == "hierarchical":
        assigned = kmeans_two_level(
            embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col, seed=seed, n_rows=n
        ).localCheckpoint(eager=False)
    else:
        cent = kmeans_train(
            embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col, seed=seed
        )
        # Map-side array_min argmax over the broadcast single-row centroid
        # array: no n×k row expansion, no per-id shuffle of payload rows.
        assigned = (
            _vec_rows(embeddings, id_col, vec_col)
            .crossJoin(F.broadcast(_cent_array(cent)))
            .select(
                F.col(id_col),
                F.array_min(_argmin_cands())["cell"].alias("cell"),
                "v",
                "nv",
            )
            # Both the pair join's sides and the final keep join descend from
            # this one assignment — pin it so the broadcast-argmax runs once.
            .localCheckpoint(eager=False)
        )
    a, b = _ab(assigned, id_col, "cell")
    dropped = (
        a.join(b, ["cell"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(_cos6("va", "na", "vb", "nb") >= tau)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return assigned.join(dropped, [id_col], "left").select(
        F.col(id_col),
        F.col("cell"),
        F.coalesce(~F.col("_dropped"), F.lit(True)).alias("keep"),
    )


def content_defined_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS/FastCDC boundary scheme —
    public literature: Muthitacharoen et al. 2001, Xia et al. 2016): cut a
    chunk wherever the rolling ``k``-gram hash ≡ 0 (mod ``divisor``),
    giving chunks of EXPECTED length ``divisor`` whose boundaries depend
    only on local content. The property fixed-size chunking lacks: an
    insertion shifts at most the chunk it lands in — every other boundary
    re-synchronizes, so chunk-hash dedup finds shared content across
    document revisions and near-copies at sub-document granularity.

    Distributed shape: per-position k-gram hashing (the corpus-character
    explode every shingling operator here pays) is a map-side filter that
    keeps only the ~1/divisor boundary positions, so the ONE per-document
    window (ordered lag to pair consecutive boundaries) shuffles boundary
    rows, never text. Chunk text is cut AFTER an id-keyed join back to the
    document — the corpus crosses that exchange once, as in any text
    shuffle. Normalization mirrors winnowing (lowercase, strip
    non-alphanumerics, first 2²⁰ chars — documented truncation).

    No min/max chunk bound is enforced: FastCDC's min/max guards are
    sequential per document; the pure content rule keeps every position
    independent (the parallelism this operator exists for) at the price of
    occasional short/long chunks — the standard trade, documented.

    Output: id_col, chunk_idx (int, 0-based), chunk_hash (md5 hex of the
    chunk text), chunk_len (int). Documents shorter than ``k`` normalized
    chars emit nothing.
    """
    if k < 2:
        raise ValueError(f"content_defined_chunks: k must be >= 2, got {k}")
    if divisor < 2:
        raise ValueError(f"content_defined_chunks: divisor must be >= 2, got {divisor}")
    max_len = 1 << 20
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    base = (
        df.select(F.col(id_col), F.substring(norm, 1, max_len).alias("_s"))
        .withColumn("_len", F.length("_s").cast("long"))
        .filter(F.col("_len") >= k)
        # Feeds both the boundary scan and the final cut join — pin it so
        # the normalization runs once.
        .localCheckpoint(eager=False)
    )
    grams = base.select(
        id_col,
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("_len") - F.lit(k - 1))).alias("pos"),
        "_s",
    )
    ghash = F.conv(
        F.substring(F.md5(F.col("_s").substr(F.col("pos"), F.lit(k))), 1, 8), 16, 10
    ).cast("long")
    ends = (
        grams.filter(ghash % divisor == 0)
        .select(id_col, (F.col("pos") + F.lit(k - 1)).alias("_end"))
        .union(base.select(id_col, F.col("_len").alias("_end")))
        .distinct()
    )
    wl = Window.partitionBy(id_col).orderBy("_end")
    spans = ends.select(
        id_col,
        "_end",
        (F.coalesce(F.lag("_end").over(wl), F.lit(0)) + F.lit(1)).alias("_start"),
        (F.row_number().over(wl) - F.lit(1)).cast("int").alias("chunk_idx"),
    )
    chunk = F.col("_s").substr(
        F.col("_start").cast("int"), (F.col("_end") - F.col("_start") + 1).cast("int")
    )
    return spans.join(base, [id_col]).select(
        id_col,
        "chunk_idx",
        F.md5(chunk).alias("chunk_hash"),
        (F.col("_end") - F.col("_start") + 1).cast("int").alias("chunk_len"),
    )


def duplicated_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """Per-document EXACT duplicated-substring coverage at token-k-gram
    granularity — the ExactSubstr half of training-data dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better",
    public literature): a token position is "duplicated" if it lies
    inside any k-token gram that also occurs in at least one OTHER
    document. Overlapping/adjacent duplicated grams merge into maximal
    spans, so the output is the per-document count of distinct copied
    regions and the fraction of tokens they cover — the signal used to
    drop or trim boilerplate-heavy documents.

    * Cross-document only: a gram repeated solely within one document is
      NOT duplication here (intra-doc repetition is ``repetition_stats``'
      job). The duplicate test is min(doc) ≠ max(doc) per gram — exact
      for the ≥2-distinct-docs predicate in ONE aggregation pass, no
      count-distinct.
    * Tokens are the suite-wide whitespace tokens; grams are md5'd over a
      0x1F-joined window, so the join key is a fixed 32-char hash however
      long the tokens are, and identical across engines. CONTRACT: the
      0x1F unit separator must not occur INSIDE a token — whitespace
      tokenization does not exclude it, and a token containing 0x1F can
      alias two different k-grams to one hash (a false duplicate).
      Control-strip text upstream (``functions.strings.
      strip_control_chars``) if the corpus can carry C0 bytes; the same
      assumption (and cure) applies to every 0x1F-joined hash key in
      this module (``containment_pairs`` included).
    * Documents with fewer than k tokens (or no cross-doc gram) surface
      with zero spans — the operator reports on EVERY document.

    100 TB shape: one explode to ~n_tokens gram rows (positions ride
    along), one gram-keyed hash agg (partial agg collapses within-
    partition repeats map-side), one gram-keyed semi join back, then the
    islands merge via ``intervals.merge_intervals`` on the doc-keyed
    window — the same exchange every per-doc operator pays. No driver
    state, no per-row Python.

    Output: id_col, n_tokens, n_dup_spans, dup_tokens bigint,
    dup_frac double (6dp).
    """
    if k < 2:
        raise ValueError(f"duplicated_span_stats: k must be >= 2, got {k}")
    if id_col not in df.columns or text_col not in df.columns:
        raise ValueError(
            f"duplicated_span_stats: need {id_col!r}, {text_col!r} in {df.columns}"
        )
    from wicsmmiretl_spark.operators.intervals import merge_intervals

    base = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("_id"), tokens(text_col).alias("_tk")
    )
    per_doc = base.select("_id", F.size("_tk").cast("bigint").alias("n_tokens"))
    grams = base.filter(F.size("_tk") >= k).select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_tk") - k),
                lambda i: F.struct(
                    i.cast("bigint").alias("pos"),
                    F.md5(
                        F.concat_ws("\x1f", F.slice(F.col("_tk"), i + 1, k))
                    ).alias("gram"),
                ),
            )
        ).alias("_g"),
    ).select("_id", F.col("_g.pos").alias("pos"), F.col("_g.gram").alias("gram"))
    dup = (
        grams.groupBy("gram")
        .agg(F.min("_id").alias("_a"), F.max("_id").alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .select("gram")
    )
    covered = grams.join(dup, "gram", "left_semi").select(
        "_id", "pos", (F.col("pos") + k).alias("pos_end")  # half-open
    )
    spans = merge_intervals(covered, ["_id"], "pos", "pos_end").groupBy("_id").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_tokens"),
    )
    return (
        per_doc.join(spans, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            F.when(F.col("n_tokens") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 6
                )
            )
            .alias("dup_frac"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.6,
    min_df: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """ASYMMETRIC set-containment pairs over word k-shingles (Broder
    1997's containment coefficient, public literature): containment of A
    in B = |shingles(A) ∩ shingles(B)| / |shingles(A)|. The quote/
    excerpt detector Jaccard cannot be: a 50-token doc fully embedded in
    a 5000-token doc has Jaccard ≈ 0.01 but containment 1.0 — exactly
    the nested-duplication mode (quoted posts, boilerplate wrappers,
    chapter-in-book) a training-data dedup pass must see.

    * Candidate generation is an equi-join on shingle hash, banded by
      document frequency: shingles with df < ``min_df`` pair with
      nothing (dropped for free), shingles with df > ``max_df`` are
      corpus boilerplate whose pair fan-out is df² — they are excluded
      from BOTH the intersection and the candidate set, and the same
      band is part of the operator's contract (an oracle applying it
      reproduces results exactly; the df band is a semantic parameter,
      not an approximation knob).
    * Sizes |A| count ALL distinct shingles (pre-band) — containment
      stays interpretable against the full document.
    * A pair surfaces when EITHER direction reaches ``threshold``; both
      directions are reported.
    * Shingle hashes are md5 over a 0x1F-joined token window — the same
      contract as ``duplicated_span_stats``: a token containing the 0x1F
      unit separator can alias distinct k-grams (false containment);
      control-strip upstream if the corpus can carry C0 bytes.

    100 TB shape: one explode → distinct (doc, shingle) hash agg
    (map-side dedup), one shingle-keyed df agg, one shingle-keyed
    self-join whose fan-out is capped at max_df per shingle, one
    (a, b) hash agg. No driver state; skew is bounded by construction.

    Output: id_a < id_b, inter bigint, size_a, size_b bigint,
    cont_a, cont_b double (6dp).
    """
    if k < 1:
        raise ValueError(f"containment_pairs: k must be >= 1, got {k}")
    if not (0.0 < threshold <= 1.0):
        raise ValueError(
            f"containment_pairs: threshold must be in (0, 1], got {threshold}"
        )
    if min_df < 2 or max_df < min_df:
        raise ValueError(
            f"containment_pairs: need 2 <= min_df <= max_df, got {min_df}, {max_df}"
        )
    if id_col not in df.columns or text_col not in df.columns:
        raise ValueError(
            f"containment_pairs: need {id_col!r}, {text_col!r} in {df.columns}"
        )
    base = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("_id"), tokens(text_col).alias("_tk")
    )
    sh = (
        base.filter(F.size("_tk") >= k)
        .select(
            "_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_tk") - k),
                    lambda i: F.md5(F.concat_ws("\x1f", F.slice(F.col("_tk"), i + 1, k))),
                )
            ).alias("sh"),
        )
        .dropDuplicates(["_id", "sh"])
    )
    sizes = sh.groupBy("_id").agg(F.count("*").alias("sz"))
    band = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("_df"))
        .filter((F.col("_df") >= min_df) & (F.col("_df") <= max_df))
        .select("sh")
    )
    banded = sh.join(band, "sh", "left_semi")
    pairs = (
        banded.alias("a")
        .join(banded.alias("b"), "sh")
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    ca = F.col("inter") / F.col("size_a")
    cb = F.col("inter") / F.col("size_b")
    return (
        pairs.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("sz", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("sz", "size_b"), "id_b")
        .filter(F.greatest(ca, cb) >= threshold)
        .select(
            "id_a",
            "id_b",
            "inter",
            "size_a",
            "size_b",
            F.round(ca, 6).alias("cont_a"),
            F.round(cb, 6).alias("cont_b"),
        )
    )
