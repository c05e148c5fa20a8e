"""Scale rehearsal: measure how the most expensive suite queries scale from
1x (sf0.1) to a synthesized 10x slice (or 100x with
SPARK_GRAFT_REHEARSAL_COPIES=100 — the printed exponents normalize by
log(COPIES) so they are comparable across slice sizes).

The 10x slice is a union of 10 re-keyed copies of the sf0.1 tables —
no new testdata needed:

* ``events``: event_id / user_id offset per copy — rows AND key cardinality
  scale 10x (per-user density constant, the realistic growth mode).
* ``documents``: doc_id offset; the text of copy i>0 is Caesar-rotated by i
  (``translate`` over a-z/A-Z) so cross-copy texts share no shingles — the
  near-duplicate RATE stays constant instead of every doc gaining 9 exact
  twins, which would change the semantics being measured, not just the
  scale.
* ``embeddings``: vec_id offset; each copy's vectors perturbed by +i*1e-3
  per component (cost-neutral, avoids degenerate exact-duplicate geometry).
* ``lineitem`` / ``supplier``: l_suppkey / s_suppkey offset per copy — join
  key cardinality scales with rows, per-key fan-in constant.

Other tables are byte-copied unchanged. Everything is a deterministic
Catalyst expression — rerunning yields the identical slice.

Protocol (BENCH_NOTES): quiet host, warm run discarded, min of two timed
runs per query per scale. The scaling exponent is
``log(t10 / t1) / log(10)`` — 1.0 is linear, <1 is sublinear (fixed costs
amortizing), >1.1 flags a superlinear cliff to investigate.

Both timed takes are printed, not only the min, with the Spark jobs each
take ran (counted by job group). On a shared host one query's take can move
by half between launches; the job counts do not depend on host load, so a
per-query time bound is judged against the spread of the takes and the
counts together.

Usage: SPARK_GRAFT_CPUS=32 python tools/scale_rehearsal.py
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from wicsmmiretl_spark.catalog import TESTDATA_TABLES, load_table  # noqa: E402
from wicsmmiretl_spark.session import get_spark  # noqa: E402
from wicsmmiretl_spark.suite import QUERIES  # noqa: E402

# Scale multiplier for the synthesized slice. 10 is the standard 10x
# rehearsal every round's notes cite; SPARK_GRAFT_REHEARSAL_COPIES=100
# builds a genuine 100x slice (~1.7 GB at sf0.1 base) for the
# "would this survive 100x?" question to be answered by measurement
# instead of extrapolated from the 10x exponent. The exponent math below
# already normalizes by log(COPIES), so the printed exponents are
# directly comparable across slice sizes.
COPIES = int(os.environ.get("SPARK_GRAFT_REHEARSAL_COPIES", "10"))
# The affine alphabet permutation below yields 12 multipliers x 26 shifts
# = 312 distinct permutations; copy 312 would wrap back to the identity
# and silently reintroduce the exact-twin-copy degeneracy the permutation
# exists to prevent — refuse rather than corrupt the measurement.
if not 1 <= COPIES <= 312:
    raise SystemExit(
        f"SPARK_GRAFT_REHEARSAL_COPIES must be in [1, 312], got {COPIES} "
        "(312 = the number of distinct affine text permutations)"
    )
BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

REHEARSAL_QUERIES = (
    "streaming_interval_join",
    "streaming_user_state",
    "ivf_topk_trained",
    "salted_supplier_volume",
    "dedup_canonical",
    "simhash_near_pairs",
    "dedup_clusters",
    "near_dup_jaccard",
    # r7 additions. event_chain_components is the interesting one: the 10x
    # events slice adds copies (more components), NOT longer chains, so the
    # star-round count stays ~log(diameter) — expect strongly sublinear.
    "event_chain_components",
    "pq_adc_topk",
    # Session-2 r7 additions. triangles: 10 disjoint graph copies — wedge
    # volume scales with edges, not quadratically. bpe: the Caesar-rotated
    # copies give a 10x vocabulary, so the per-iteration pair agg is the
    # thing being scaled. bloom: 10x fact AND 10x dim keys — the word
    # table grows, the prune rate stays constant.
    "part_copurchase_triangles",
    "bpe_merge_table",
    "cms_heavy_tokens",
    "bloom_pruned_revenue",
    "user_activity_spans",
    # r9 additions. winnowing: per-char k-gram explode — the honest linear
    # budget, window-min per doc. auc/quantile-norm: distinct-level
    # cardinality grows 10x, the offsets-based cumsum is the thing being
    # scaled. spearman: two rank joins over 10x lineitem. transition/
    # survival: one user-keyed shuffle each, 10x users. bfs: 10 disjoint
    # chain copies — frontier rounds constant, per-round volume 10x.
    # tfidf pairs: Caesar copies give 10x vocabulary at constant df, so
    # pair volume scales with corpus, not quadratically. neighborhood:
    # stable-index range partition + rank equi-join over 10x parts.
    # calibration: the ntile global-sort window measured honestly — the
    # documented single-partition cost, expect exponent near 1 with the
    # range-partitioned two-level form as the escape hatch.
    "doc_winnowing_stats",
    "purchase_auc",
    "doc_len_quantile_norm",
    "lineitem_price_qty_spearman",
    "event_transition_matrix",
    "user_survival_curve",
    "event_chain_bfs_levels",
    "doc_tfidf_similar_pairs",
    "part_name_neighborhood_pairs",
    "purchase_calibration",
    # r9 late additions. audio: the Python/Arrow multimodal path — synth
    # applyInPandas + parse mapInPandas over 10x users. overlap join: the
    # fingerprint self-join with 10x Caesar-disjoint docs — candidate
    # volume scales with corpus, the df band holds. cms estimate: sketch
    # size is FIXED (depth x width) whatever the input — expect near-zero.
    "user_audio_features",
    "doc_overlap_pairs",
    "user_selfjoin_size_estimate",
    "bm25_ndcg",
    # Session-6 r9 additions. hits/kcore: lineitem copies share order/part
    # keys, so the DISTINCT edge set is unchanged — the exponents isolate
    # the edge-dedup stage plus the fixed iteration/peel rounds (the
    # butterfly-census precedent). sq8: embeddings scale 10x genuinely —
    # train pass + ADC scan are the measured thing. negatives: users are
    # byte-copied (constant), measures the positives-dedup + anti-join.
    # interpolate/running-distinct/theilsen: events scale 10x genuinely —
    # tick grid is calendar-bounded, the windows/rank joins carry the 10x.
    # bucketed: customer/orders byte-copied — measures the write+read
    # fixed cost of the layout itself.
    "purchase_graph_hits",
    "part_copurchase_kcore",
    "sq8_adc_topk",
    "purchase_negative_samples",
    "events_daily_interpolate",
    "user_running_distinct_types",
    "event_value_theilsen",
    "bucketed_customer_revenue",
    # fd: orders byte-copied -- measures the join+agg fixed cost. mmr:
    # embeddings scale 10x genuinely -- the corpus relevance scan is the
    # measured thing, the pool greedy is constant by construction.
    "orders_fd_report",
    "embedding_mmr_topk",
    # ppr: orders/customer byte-copied -- fixed-iteration cost on a
    # constant graph. kanonymity: one hash agg, class-count bounded.
    # temperature mix: one totals agg + threshold filter over 10x docs.
    # streaming distinct: per-key state bounded by the type domain.
    "segment_personalized_pagerank",
    "customer_kanonymity",
    "temperature_corpus_mix",
    "streaming_user_distinct",
    # link prediction: distinct-edge-bounded wedges like triangles.
    # attribution: one user-keyed band join over 10x events.
    "part_link_prediction",
    "purchase_linear_attribution",
    # golden record: one hash agg over 3x customer versions (byte-copied
    # dim -- fixed). referential subset: map filter + semi join over 10x
    # lineitem.
    "customer_golden_record",
    "orders_referential_subset",
    # bootstrap: the 64-replica explode over 10x orders is the honest
    # linear budget; the replica agg is B-group bounded.
    "orders_bootstrap_ci",
    # trimmed stats / curriculum: exact-quantile/ntile machinery over 10x
    # events/docs. hard negatives: broadcast-query scan over 10x vectors.
    # l-diversity: one hash agg, class-bounded. labeling queue: the
    # nb-family token join over the Caesar-10x corpus (vocab grows 10x).
    "events_trimmed_stats",
    "embedding_hard_negatives",
    "corpus_curriculum_stages",
    "customer_ldiversity",
    "doc_labeling_queue",
    # conformal: two moment/quantile aggs over 10x events. heaps: the
    # token first-occurrence agg over the Caesar-10x corpus (vocab 10x),
    # checkpoints fixed.
    "event_value_conformal",
    "corpus_heaps_fit",
    # grouped bootstrap: the 32-replica explode over 10x events (the
    # honest B*n map volume). centroid drift: 2*dim mean rows whatever
    # the corpus -- the partial agg absorbs the 10x.
    "events_value_ci_by_type",
    "embedding_centroid_drift",
    # rfm: one grouped agg + three ntile windows over customer-grain
    # rows. pareto: source-grain windows -- cardinality-bounded.
    "customer_rfm_segments",
    "source_pareto_report",
    # r10 additions: the remaining distributed_ntile riders — every exact
    # binning now runs the two-level range-partitioned form (range
    # exchange + broadcast offsets), so these exponents measure a
    # distributed sort stage, not the old single-partition window.
    "events_value_deciles",
    "order_feature_matrix",
    "lineitem_zonemap_pruning",
    # Grouped two-level cumsum riders: token_budget rides the per-source
    # running sum, kfold the per-stratum rank, heaps the doc-grain global
    # cumsum — all through distributed_prefix_sum, so a hot source/
    # stratum spans partitions instead of serializing into one window
    # task.
    "token_budget_mix",
    "doc_kfold_counts",
    # KS drift + packing: the grouped-grid cumulative and the per-bucket
    # packing totals both moved onto distributed_prefix_sum (group-cols
    # form) — these exponents measure the range-exchange path, and the
    # constant offset-job overhead should wash out at 10x.
    "event_type_ks_report",
    "pack_assign",
    # grouped AUC: per-slice running rank on the same machinery (the
    # theilsen rider above covers the grouped-rank form).
    "daily_purchase_auc",
    # r10 coverage completion: the remaining top-of-bench queries that had
    # only a qualitative plan audit, never a measured exponent. curation
    # v3 / semantic dedup: composed lazy plans of already-audited stages
    # (fences, exact dedup, k-means cells) over the Caesar-10x corpus.
    # pagerank/communities: fixed power/propagation iterations on the
    # DISTINCT edge set (lineitem copies share order/part keys, so edges
    # are constant — the exponents isolate edge-dedup + fixed rounds).
    # kmeans centroids/silhouette: fixed-iteration Lloyd on 10x vectors,
    # broadcast k×dim centroids; silhouette is one n×k broadcast cross.
    # image pipeline: the Arrow-batched mapInPandas multimodal path over
    # 10x synthetic fetches. hybrid fusion: two bounded top-k rank lists
    # RRF-joined. association rules: pair-agg volume bounded by the
    # per-order basket budget (the wedge family). benford: one
    # first-digit hash agg, class-bounded output.
    "corpus_curation_v3",
    "order_graph_pagerank",
    "kmeans_silhouette",
    "semantic_dedup_keep",
    "image_pipeline_stats",
    "part_copurchase_communities",
    "kmeans_centroids",
    "hybrid_rank_fusion",
    "part_association_rules",
    "lineitem_price_benford",
    # Session-3 tier-2 completion: everything still unmeasured above
    # ~1.8 s in the third canonical. incremental probe: new-batch ×
    # corpus banding. surprisal/nb/curation-v2: token scans + broadcast
    # models over the Caesar-10x corpus. span overlaps: the time-banded
    # interval self-join — the one shape here where 10x events at a
    # CONSTANT calendar span could grow per-band pair volume
    # superlinearly (that's what the measurement is for). resample:
    # calendar-bounded grid. containment/jaccard/entity resolution:
    # banded or blocked pair generation, prefix/df bounds. near-dup: the
    # DELIBERATE exact O(n^2) baseline (max_rows-guarded; LSH/IVF/
    # SemDeDup are the scale paths) — expect exponent ~2 by design.
    # shortest paths/assortativity/butterflies: disjoint graph copies,
    # edge-bounded wedge budgets. video/hll/cms: Arrow batch path and
    # fixed-size sketch folds. roc points: distinct-level offsets ranks.
    "incremental_dedup_probe",
    "bigram_surprisal_docs",
    "corpus_curation_v2",
    "view_purchase_span_overlaps",
    "events_daily_resample",
    "doc_containment_pairs",
    "events_value_outliers",
    "event_chain_shortest_paths",
    "part_copurchase_assortativity",
    "doc_lang_nb_confusion",
    "copurchase_butterflies",
    "video_frame_sample",
    "hll_distinct_users",
    "part_entity_resolution",
    "purchase_roc_points",
    "embedding_near_dup",
    "jaccard_exact_pairs",
    "streaming_cms_heavy_users",
    # Session-3 tier-3: the 1.0-1.8 s band. frequent paths / time-corr /
    # ewma: user-keyed sequence windows over 10x users. rollup / corr
    # matrix / trade volume / large-quantity / cheapest-per-part /
    # pricing: classic join+agg shapes over 10x lineitem. bm25 metrics:
    # bounded top-k lists. streaming hll/hist/psi/session/dedup: stream
    # folds with fixed or watermark-bounded state over a 10x drop dir.
    # simhash signatures / lsh pairs (hyperplane + minhash) / dup spans:
    # banded near-dup candidate generation under Caesar-disjoint copies.
    # kcenter / projection / hll intersect / ivf: broadcast-bounded
    # vector passes over 10x embeddings.
    "event_frequent_paths",
    "user_value_time_corr",
    "user_value_ewma",
    "orders_incremental_rollup",
    "lineitem_corr_matrix",
    "nation_trade_volume",
    "large_quantity_orders",
    "bm25_retrieval_metrics",
    "streaming_hll_distinct",
    "streaming_value_hist_quantiles",
    "streaming_session_window",
    "simhash_signatures",
    "hyperplane_lsh_pairs",
    "orders_dq_report",
    "streaming_dedup",
    "embedding_kcenter",
    "purchase_view_hll_intersect",
    "embedding_projection",
    "minhash_lsh_pairs",
    "doc_dup_span_stats",
    "cheapest_supplier_per_part",
    "ivf_topk",
    "pricing_summary",
    "streaming_value_psi",
    # Session-3 tier-4: the structurally interesting shapes left below
    # ~2 s — banding / pair generation / as-of & merge joins / stream
    # enrich — where a fixed-parameter drift could hide (plain scans and
    # class-bounded aggs are left unmeasured on purpose: their cost IS
    # the scan). hist quantiles / cusum / ks: offsets-based distinct-
    # level cumulatives. chunk-dedup / inverted index / pmi / fuzzy
    # match / decontaminate: banded or blocked candidate generation
    # (the inverted index carries the r8 (_id, token)-pre-dedup skew
    # fix — this measures it). pair profile: seeded pair sampling.
    # asof / last-touch / scd2: range-state and full-outer key joins.
    # cosine topk: the guarded brute-force query-scan baseline.
    "events_value_hist_quantiles",
    "purchase_last_touch",
    "streaming_static_enrich",
    "doc_chunk_dedup_stats",
    "doc_feature_vectors",
    "asof_nearest_purchase",
    "events_daily_cusum",
    "purchase_view_ks",
    "pmi_collocations_top",
    "inverted_index_band",
    "customer_scd2_merge",
    "embedding_pair_profile",
    "decontaminate_ngrams",
    "url_canonical_dedup",
    "part_name_fuzzy_match",
    "cosine_topk",
    # r12 band completion (VERDICT r11 item 5): the remaining sub-1 s
    # STRUCTURAL shapes — joins, windows, merge/CDC, banding, state —
    # where a scale surprise could still hide. Plain scans and
    # class-bounded aggs stay unmeasured on purpose: their cost IS the
    # scan (normalized_captions, quality_scores, stats matrices, melt,
    # pivot, chi2/infogain contingencies, vector means, fingerprint,
    # rollup/cube grouping sets except the representative below).
    # as-of directions + interval/theta joins: range-state band joins.
    "asof_click_purchase",
    "asof_tolerance_purchase",
    "click_purchase_interval_join",
    "events_value_bands",
    # merge/CDC family: full-outer null-safe key joins + max(struct).
    "customer_cdc_apply",
    "customer_merge_upsert",
    "customer_snapshot_diff",
    "orders_pit_attributes",
    "customer_profile_drift",
    # distributed index/rank machinery not already covered by the ntile
    # riders: stable index, exact quantiles, weighted quantiles.
    "documents_stable_index",
    "quantity_quantiles",
    "doc_char_weighted_quantiles",
    # user-keyed sequence/session windows.
    "event_funnel",
    "sessionize_events",
    "user_value_twa",
    "user_value_analytics",
    "window_rank_events",
    "window_running_sum",
    "source_capped_docs",
    "user_retention_weekly",
    "events_weekly_seasonality_error",
    # event-time grids + streaming folds not yet measured.
    "tumbling_daily",
    "sliding_hourly",
    "streaming_tumbling",
    # join-shape representatives: null-bypass routing, skew diagnostics,
    # semi/anti membership chains, broadcast top-k vote, vocab join.
    "events_null_bypass_enrich",
    "event_type_skew_profile",
    "idle_rich_customers",
    "customers_without_orders",
    "knn_classify",
    "bm25_rank",
    "mktsegment_target_encoding",
    # shuffle-volume representatives: explode+hash-agg flagship, exact
    # dedup, one grouping-set shape, composed pipelines.
    "vocab_top100",
    "dedup_exact",
    "lineitem_flag_status_cube",
    "etl_caption_pipeline",
    "corpus_curation",
)

_LOWER = "abcdefghijklmnopqrstuvwxyz"
_UPPER = _LOWER.upper()
# Multipliers coprime to 26, for the affine alphabet permutation below.
# 12 multipliers x 26 shifts = 312 distinct permutations, enough for any
# copy count this tool will ever run (100x uses 100 of them).
_COPRIMES = (1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)


def _caesar(col, i: int):
    """Per-copy alphabet permutation: affine cipher j -> (a*j + b) mod 26.

    For i < 26 this is (a=1, b=i) — byte-identical to the plain Caesar
    rotation earlier rounds' rehearsals used, so 10x exponents stay
    comparable. For i >= 26 (the 100x slice) the multiplier advances
    through the coprime list instead of the rotation degenerating to the
    identity (``_LOWER[30:]`` is empty — copies 26+ would otherwise be
    EXACT text twins of copy 0, changing the near-duplicate rate being
    measured, not just the scale). Two distinct affine maps agree on at
    most a couple of letters, so cross-copy texts still share ~no
    shingles.
    """
    if i == 0:
        return col
    a = _COPRIMES[(i // 26) % len(_COPRIMES)]
    b = i % 26
    perm = "".join(_LOWER[(a * j + b) % 26] for j in range(26))
    return F.translate(col, _LOWER + _UPPER, perm + perm.upper())


def _scale_copies(df: DataFrame, build_copy) -> DataFrame:
    out = None
    for i in range(COPIES):
        c = build_copy(df, i)
        out = c if out is None else out.unionByName(c)
    return out


def embeddings_copy(df: DataFrame, i: int) -> DataFrame:
    """Per-copy embeddings re-key + perturbation — vec_id offset 10⁹·i,
    +i·1e-3 per component so the synthesized geometry is not degenerate
    exact twins."""
    out = df.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10**9))
    if i:
        out = out.withColumn(
            "embedding",
            F.transform(F.col("embedding"), lambda x: (x + F.lit(i * 1e-3)).cast("float")),
        )
    return out


def synthesize(spark: SparkSession, out_dir: str) -> None:
    ev = load_table(spark, "events", BASE_SF)
    ev_off = 10**9

    def ev_copy(df, i):
        return df.withColumn("event_id", F.col("event_id") + F.lit(i * ev_off)).withColumn(
            "user_id", F.col("user_id") + F.lit(i * ev_off)
        )

    _scale_copies(ev, ev_copy).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    docs = load_table(spark, "documents", BASE_SF)
    d_off = 10**9

    def doc_copy(df, i):
        return df.withColumn("doc_id", F.col("doc_id") + F.lit(i * d_off)).withColumn(
            "text", _caesar(F.col("text"), i)
        )

    _scale_copies(docs, doc_copy).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )

    emb = load_table(spark, "embeddings", BASE_SF)
    _scale_copies(emb, embeddings_copy).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )

    # lineitem/orders copies offset the join keys CONSISTENTLY (suppkey,
    # orderkey, partkey all shift together), so supplier joins, the
    # order-dim Bloom prune, and the part co-purchase graph each see 10
    # disjoint re-keyed copies — 10x keys at constant per-key density, the
    # realistic growth mode for every query in the rehearsal list.
    li = load_table(spark, "lineitem", BASE_SF)
    sup = load_table(spark, "supplier", BASE_SF)
    orders = load_table(spark, "orders", BASE_SF)
    s_off, o_off, p_off = 10**7, 10**9, 10**8

    def li_copy(df, i):
        return (
            df.withColumn("l_suppkey", F.col("l_suppkey") + F.lit(i * s_off))
            .withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * o_off))
            .withColumn("l_partkey", F.col("l_partkey") + F.lit(i * p_off))
        )

    _scale_copies(li, li_copy).write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")
    _scale_copies(
        sup, lambda df, i: df.withColumn("s_suppkey", F.col("s_suppkey") + F.lit(i * s_off))
    ).write.mode("overwrite").parquet(f"{out_dir}/supplier.parquet")
    _scale_copies(
        orders, lambda df, i: df.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * o_off))
    ).write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")

    # part: key offset matches lineitem's l_partkey shift; p_name is
    # Caesar-rotated per copy so the sorted-neighborhood key space grows
    # 10x instead of every name gaining 9 exact twins (which would blow up
    # the within-window Levenshtein hit rate, changing semantics, not
    # scale).
    part = load_table(spark, "part", BASE_SF)

    def part_copy(df, i):
        return df.withColumn("p_partkey", F.col("p_partkey") + F.lit(i * p_off)).withColumn(
            "p_name", _caesar(F.col("p_name"), i)
        )

    _scale_copies(part, part_copy).write.mode("overwrite").parquet(f"{out_dir}/part.parquet")

    for name in TESTDATA_TABLES:
        src = f"{BASE_SF}/{name}.parquet"
        dst = f"{out_dir}/{name}.parquet"
        if not os.path.exists(dst) and os.path.isfile(src):
            shutil.copyfile(src, dst)


def time_query(spark: SparkSession, name: str, sf_dir: str) -> list[tuple[float, int]]:
    """``(seconds, jobs)`` of two timed build + noop-write takes after a
    warm one."""
    fn = QUERIES[name]
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    sc = spark.sparkContext
    takes = []
    for i in range(2):
        group = f"rehearsal-{name}-{sf_dir}-{i}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        finally:
            sc.setJobGroup(None, None)
        seconds = time.perf_counter() - t0
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        takes.append((seconds, len(sc.statusTracker().getJobIdsForGroup(group))))
    return takes


def _takes(takes: list[tuple[float, int]]) -> str:
    """``[s, s]s jobs=[n, n]`` — both takes of one query at one scale."""
    secs = ", ".join(f"{t:.2f}" for t, _ in takes)
    return f"[{secs}]s jobs={[n for _, n in takes]}"


def main() -> None:
    spark = get_spark("scale_rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    # SPARK_GRAFT_REHEARSAL_DIR reuses an already-synthesized slice (the
    # synthesis is deterministic, so a prior run's dir is byte-equivalent)
    # and skips both the build and the exit-time cleanup — iterating on a
    # 100x batch pays the ~2 min synthesis once instead of per launch.
    reuse = os.environ.get("SPARK_GRAFT_REHEARSAL_DIR")
    if reuse and not any(
        f.endswith(".parquet") for f in (os.listdir(reuse) if os.path.isdir(reuse) else ())
    ):
        # Named dir is empty/absent: synthesize INTO it and keep it — the
        # first run of a multi-batch session builds the slice the later
        # runs reuse.
        os.makedirs(reuse, exist_ok=True)
        print(f"synthesizing {COPIES}x slice into {reuse} ...", file=sys.stderr)
        t0 = time.perf_counter()
        synthesize(spark, reuse)
        with open(os.path.join(reuse, "COPIES"), "w") as fh:
            fh.write(f"{COPIES}\n")
        print(f"synthesized in {time.perf_counter() - t0:.1f}s", file=sys.stderr)
        out_dir = reuse
    elif reuse:
        out_dir = reuse
        # The exponent math normalizes by log(COPIES); reusing a slice
        # synthesized with a DIFFERENT copy count would silently mislabel
        # every reading. The marker file written at synthesis time makes
        # the pairing checkable.
        marker = os.path.join(out_dir, "COPIES")
        if os.path.isfile(marker):
            with open(marker) as fh:
                slice_copies = int(fh.read().strip())
            if slice_copies != COPIES:
                raise SystemExit(
                    f"slice in {out_dir} was synthesized with COPIES="
                    f"{slice_copies} but SPARK_GRAFT_REHEARSAL_COPIES="
                    f"{COPIES} — set them to match or resynthesize"
                )
        elif os.environ.get("SPARK_GRAFT_REHEARSAL_UNMARKED") == "1":
            # Explicit opt-in for genuine pre-r12 slices that predate the
            # marker — the operator is asserting the copy count matches.
            print(
                f"WARNING: {marker} missing — proceeding because "
                "SPARK_GRAFT_REHEARSAL_UNMARKED=1; exponents are wrong if "
                f"the slice was not built with COPIES={COPIES}",
                file=sys.stderr,
            )
        else:
            # Parquet present but no marker: most likely a synthesize()
            # crash left a PARTIAL slice (the marker is written only on
            # completed synthesis) — measuring against it mislabels every
            # exponent. Hard error instead of a warning (ADVICE r12);
            # delete the dir to resynthesize, or set
            # SPARK_GRAFT_REHEARSAL_UNMARKED=1 for a genuine pre-r12 slice.
            raise SystemExit(
                f"{marker} missing but parquet present in {out_dir} — "
                "likely a partial slice from an interrupted synthesis. "
                "Delete the directory to resynthesize, or set "
                "SPARK_GRAFT_REHEARSAL_UNMARKED=1 to override for a "
                "pre-marker slice."
            )
        print(f"reusing {COPIES}x slice in {out_dir}", file=sys.stderr)
    else:
        out_dir = tempfile.mkdtemp(prefix=f"wicsmmir_scale{COPIES}x_")
        print(f"synthesizing {COPIES}x slice in {out_dir} ...", file=sys.stderr)
        t0 = time.perf_counter()
        synthesize(spark, out_dir)
        with open(os.path.join(out_dir, "COPIES"), "w") as fh:
            fh.write(f"{COPIES}\n")
        print(f"synthesized in {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    selected = sys.argv[1:] or REHEARSAL_QUERIES
    unknown = [n for n in selected if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    rows = []
    for name in selected:
        # Per-query fault isolation (the bench.py lesson): one query
        # failing at the scaled slice — the exact discovery this tool
        # exists for — must be RECORDED, not abort the remaining
        # measurements.
        phase = "1x baseline"
        try:
            takes1 = time_query(spark, name, BASE_SF)
            phase = f"{COPIES}x-slice"
            takes10 = time_query(spark, name, out_dir)
        except Exception as exc:  # noqa: BLE001 — record and keep measuring
            print(
                f"{name:28s} FAILED at {phase} run: "
                f"{type(exc).__name__}: {str(exc).splitlines()[0][:160]}",
                flush=True,
            )
            continue
        t1, t10 = min(takes1)[0], min(takes10)[0]
        exp = math.log(t10 / t1) / math.log(COPIES)
        rows.append((name, t1, t10, t10 / t1, exp, _takes(takes1), _takes(takes10)))
        print(
            f"{name:28s} 1x={t1:6.2f}s {COPIES}x={t10:6.2f}s ratio={t10 / t1:5.2f} exp={exp:5.2f}"
            f"  takes 1x={_takes(takes1)} {COPIES}x={_takes(takes10)}",
            flush=True,
        )

    print(
        f"\n| query | t(1x) s | t({COPIES}x) s | ratio | exponent "
        f"| 1x takes, jobs | {COPIES}x takes, jobs |"
    )
    print("|---|---|---|---|---|---|---|")
    for name, t1, t10, ratio, exp, takes1, takes10 in rows:
        print(f"| {name} | {t1:.2f} | {t10:.2f} | {ratio:.2f} | {exp:.2f} | {takes1} | {takes10} |")
    if not reuse:
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
