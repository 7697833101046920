"""Benchmark harness.

Prints ONE JSON line:
``{"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "scaling": {local8 docs/sec, local32 docs/sec, efficiency}}``

Two parts:

1. **headline queries** at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1) on
   ``local[$SPARK_GRAFT_CPUS]`` — each fully materialized via the noop
   sink (count() would let Catalyst prune the expensive columns);
2. **scaling evidence** (north rule: >=0.8 efficiency N -> 4N executors;
   no real cluster in-sandbox): the identical extraction+correction job
   on the identical deterministic synthetic pages parquet (materialized
   once, outside the timed window) at ``local[2]`` and ``local[8]``,
   reporting docs/sec at both and
   ``efficiency = throughput(8) / (4 * throughput(2))``.

   Why 2->8 and not 8->32: this box's 32 hardware threads are 16
   physical cores with SMT — a pure-CPU calibration (multiprocessing
   burn loop) shows linear aggregate throughput from 1..8 processes but
   only ~0.75x/core beyond 16, so an 8->32 wall-clock ratio measures the
   host's SMT penalty, not the engine's scalability. 2->8 satisfies the
   driver's "N and 4N cores" instruction inside the linear region.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SCALING_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "300000"))
SCALING_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
RUN_SCALING = os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0"
# best-of-3 by default: the r3 recorded run caught two whole-slot CPU-steal
# windows (repetition_stats 14.4 s / decontamination 11.7 s vs 2.0 / 4.6 s
# quiet) that best-of-2 failed to absorb on this shared host
QUERY_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_QUERY_REPS", "3"))
SCALING_CORES = (2, 8)  # N and 4N, inside the box's linear-CPU region
PAGES_CACHE = f"/tmp/correctocr_bench_pages_{SCALING_DOCS}"

HEADLINE = [
    "ocr_correct",
    "token_counts",
    "word_freq",
    "minhash_lsh_pairs",
    "ngram_jaccard_lsh",
    "simhash",
    "simhash_near_pairs",
    "embedding_dup",
    "token_detail",
    "term_index",
    "windowed_agg",
    "context_window",
    "dictionary_build",
    "json_extract",
    "ivf_assign",
    "ann_bruteforce",
    "ann_lsh",
    "langid",
    "lang_agreement",
    "host_lang_entropy",
    "quality",
    "fingerprint",
    "unigram_lm",
    "normalize_text",
    "pii_scrub",
    "repetition_stats",
    "tfidf_top_terms",
    "decontamination",
    "contamination_fraction",
    "sample_stratified",
    "corpus_rollup",
    "link_extract",
    "outlink_profile",
    "pack_shards",
    "pack_shards_url",
    "pagerank",
    "url_canonical",
    "registered_domains",
    "dedup_exact",
    "dup_spans",
    "span_removal",
    "dedup_lines",
    "dedup_groups",
    "training_corpus",
    "join_agg",
    "stats_conditional_agg",
    "topk_per_group",
    "sessionize",
    "media_features",
    # r5: crawl-filter tier
    "gopher_rules",
    "domain_blocklist",
    "train_shuffle",
    "ngram_repetition",
    "wordlist_density",
    "ivf_search",
    "robots_directives",
    "truncate_docs",
    "lm_buckets",
    "chunk_docs",
    # r5: temporal joins + mixture balancing
    "asof_join",
    "range_join",
    "snapshot_asof",
    "snapshot_delta",
    "forward_fill",
    "crawl_freshness",
    "mix_proportions",
    # r5: web-index tier + host quota
    "host_quota",
    "surt_keys",
    "cdx_fetch_plan",
    "robots_txt_gate",
    "anchor_stats",
    "sitemap_parse",
    "feed_parse",
    "page_metadata",
    "compression_ratio",
    "bloom_gate",
    "robots_discovery",
    "wat_records",
    "hits",
    "classifier_gate",
    "gate_funnel",
    "host_graph",
    "host_reputation",
    "zipnum_blocks",
    "revisit_collapse",
    "ngram_counts",
    "frontier_schedule",
    "bigram_lm",
    "split_sentences",
    "quantize_embeddings",
    "ann_quantized",
    "host_communities",
    "zipnum_lookup",
    "train_split",
    "lsh_recall",
    "kmeans_step",
    "pack_batches",
    "skew_report",
    "script_profile",
    "canonical_chains",
    "extraction_eval",
    "template_skeletons",
    "soft404_detect",
    "bm25_topk",
    "bpe_pair_counts",
    "dedup_paragraphs",
    "postings_audit",
    "mojibake_stats",
    "fix_mojibake",
    "url_features",
    "extraction_density",
    "host_cardinality",
    "dsir_weights",
    "dsir_topk",
    "kn_bigram_lm",
    "bcubed_eval",
    "winnow_fps",
    "winnow_candidates",
    "domain_reweight",
    "alpha_shares",
    "semdedup",
    "host_boilerplate",
    "epoch_plan",
    "margin_mine",
    "segment_langs",
    "card_numbers",
    "readability",
    "param_relevance",
    "page_churn",
    "vocab_kl",
    "signature_terms",
    "vocab_health",
    "triangle_count",
    "pmi_collocations",
    "host_mirrors",
    "k_core",
    "host_script_audit",
    "trustrank",
    "cocitation",
    "spam_mass",
    "reciprocal_links",
    "typosquat_pairs",
    "containment_pairs",
    "char_entropy",
    "path_templates",
    "path_prefix_census",
    "bitext_candidates",
    "novelty_scores",
    "bibliographic_coupling",
    "kmv_distinct",
    "cms_sketch",
    "cms_heavy_hitters",
    "hll_registers",
    "phrase_search",
    "ranking_auc",
    "agreement_kappa",
    "edit_distance_eval",
    "stratified_quotas",
    "stratified_sample",
    "weighted_sample",
    "embedding_outliers",
    "html_tables",
    "anchor_entropy",
    "shard_manifest",
    "recrawl_intervals",
    "zorder_key",
    "rendezvous_assign",
    "psi_drift",
    "threshold_calibration",
    "neighbor_sample",
    "rp_project",
    "novelty_curve",
    "rrf_fusion",
    "calibration_report",
    "grouped_split",
    "ndcg_eval",
    "personalized_pagerank",
    "select_to_budget",
    "pr_curve",
    "rate_anomalies",
    "corpus_datacard",
    "mime_sniff",
    "concentration_gini",
    "k_anonymity",
    "k_anonymity_violations",
    "http_headers",
    "source_overlap",
    "sanitize_controls",
    "mass_tiers",
    "dedup_profile",
    "coverage_diff",
    "rank_agreement",
    "percentile_normalize",
    "retention_plan",
    "status_transitions",
    "ks_test",
    "ngram_diversity",
    # r5 final session: statistics + stylometry + sketch tier
    "weight_ess",
    "heaps_fit",
    "vocab_richness",
    "zipf_fit",
    "mannwhitney",
    "range_bounds",
    "term_burstiness",
    "sorted_neighborhood",
    "lsh_tuning_curve",
    "vocab_overlap",
    "quantile_sketch",
    "burrows_delta",
    "benford",
    "robust_location",
    "paragraph_diff",
    "entropy_rate",
    "mcnemar_gates",
    "contingency_chi2",
    "page_survival",
    "gate_rate_ztest",
    "js_drift",
    "assortativity",
    "ht_estimate",
    "langid_eval",
    "brier_report",
    "trend_gate",
    "tail_index",
    "seasonality",
    "rate_shrinkage",
    "byte_percentiles",
    "winsorized_mean",
    "uncertainty_coeff",
    "runs_gate",
    "unimax_plan",
    "padding_plan",
    "conformal_gate",
    "hard_negatives",
    "cusum_changepoint",
    "woe_iv",
    "effect_size",
    "krippendorff_alpha",
    "ewma_control",
    "cliffs_delta",
    "sample_size_plan",
    "best_split",
    "anova_oneway",
    "grubbs_outlier",
    "tokenizer_fertility",
    "kruskal_wallis",
    "brown_forsythe",
    "cochran_q",
    "dunn_pairwise",
    "kendall_tau",
    "kmv_set_ops",
    "pearson_corr",
    "cronbach_alpha",
    "mrr_eval",
    "autocorrelation",
    "wasserstein_1d",
    "fleiss_kappa",
    "friedman_test",
    "theil_sen",
    "weighted_kappa",
    "mcc_eval",
    "mann_kendall",
    "logrank_test",
    "partial_corr",
    "icc_oneway",
    "cmh_test",
    "page_trend",
    "ams_f2",
    "link_prediction",
    "rich_club",
    "forecast_baselines",
    "pot_tail_fit",
    "capture_recapture",
    "bh_fdr",
    "poisson_rate_test",
    "welch_t",
    "tukey_pairs",
    "tost_equivalence",
    "qq_shift",
    "vocab_coverage",
    "event_funnel",
    "cohort_retention",
    "event_transitions",
    "chrf_eval",
    "lorenz_curve",
    "cross_correlation",
    "series_peaks",
    "cluster_quality",
    "cluster_purity",
    "assignment_margins",
    "neyman_allocation",
    "dedup_threshold_sweep",
    "simpson_diversity",
    "negative_sampling",
    "freq_spectrum",
    "interarrival_stats",
    "global_transitivity",
    "group_trend",
    "bpe_token_counts",
    "extraction_blocks",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _pipeline(spark):
    from correctocr_spark.kernels.heuristics import AGGRESSIVE_SETTINGS
    from correctocr_spark.spark.pipeline import CorrectionPipeline
    from correctocr_spark.spark.resources import Resources, default_resources

    res = default_resources()
    res = Resources(res.params, res.dictionary, AGGRESSIVE_SETTINGS, k=res.k)
    return CorrectionPipeline(spark, res, use_html=True)


def ensure_pages() -> None:
    """Materialize the deterministic input once (generation excluded from
    the timed job — the real pipeline reads a table, it doesn't synth)."""
    if os.path.exists(os.path.join(PAGES_CACHE, "_SUCCESS")):
        return
    from correctocr_spark.spark.session import get_spark
    from correctocr_spark.spark.synth import synth_pages

    spark = get_spark(app_name="bench-gen", cores=CPUS)
    synth_pages(spark, SCALING_DOCS, seed=2024, partitions=128).write.mode(
        "overwrite"
    ).parquet(PAGES_CACHE)
    spark.stop()


def run_scaling() -> dict:
    from correctocr_spark.spark.session import get_spark

    ensure_pages()
    n, n4 = SCALING_CORES
    out = {"n_docs": SCALING_DOCS, "cores": list(SCALING_CORES)}
    # Reps are INTERLEAVED across the two core counts (2,8,2,8,...): this
    # VM's host is shared, and a noisy-neighbor window that hits only one
    # side of a sequential (all-2s then all-8s) layout skews the ratio
    # even under best-of-N; pairing the runs in time keeps both sides
    # exposed to the same conditions. Best-of-N per core count absorbs
    # the remaining transient contention (~±15% wall-clock noise).
    best = {cores: float("inf") for cores in SCALING_CORES}
    times = {cores: [] for cores in SCALING_CORES}
    for _rep in range(SCALING_REPS):
        for cores in SCALING_CORES:
            spark = get_spark(app_name=f"bench-scaling-{cores}", cores=cores,
                              shuffle_partitions=max(cores * 2, 16))
            pages = spark.read.parquet(PAGES_CACHE)
            pipe = _pipeline(spark)
            # warm up JVM / python workers / broadcasts
            materialize(pipe.corrected(pages.limit(500)))
            # timed job: the one-pass correction plan
            t0 = time.monotonic()
            materialize(pipe.corrected(pages))
            elapsed = time.monotonic() - t0
            times[cores].append(elapsed)
            best[cores] = min(best[cores], elapsed)
            spark.stop()
    for cores in SCALING_CORES:
        out[f"local{cores}_sec"] = round(best[cores], 2)
        out[f"local{cores}_docs_per_sec"] = round(SCALING_DOCS / best[cores], 1)
    out["scaling_efficiency"] = round(
        out[f"local{n4}_docs_per_sec"] / (4.0 * out[f"local{n}_docs_per_sec"]), 3
    )
    # per-PAIR efficiencies: rep i's local[N] and local[4N] ran back to
    # back, so a host-wide steal window hits both sides of pair i alike
    # and cancels in the ratio — where best-of-N can still mix a quiet
    # t_N with a stolen t_4N (or vice versa) and corrupt the quotient in
    # either direction. The HEADLINE matched-pair number is the MEDIAN
    # of the pair ratios (a robust estimator — the max of a noisy
    # statistic is biased upward); the max is still reported separately
    # as the explicit best-case bound, and all pairs for the spread.
    import statistics

    pairs = [
        round(times[n][i] / (4.0 * times[n4][i]), 3) for i in range(SCALING_REPS)
    ]
    out["pair_efficiencies"] = pairs
    out["matched_pair_efficiency"] = round(statistics.median(pairs), 3)
    out["matched_pair_best"] = max(pairs)
    return out


def main() -> None:
    import __spark_entry__ as entry_mod
    from correctocr_spark.spark.session import get_spark

    scaling = run_scaling() if RUN_SCALING else None

    spark = get_spark(app_name="bench", cores=CPUS)
    queries = entry_mod.queries()
    timings = {}
    for name in HEADLINE:
        # best-of-N with the cache cleared between reps: each rep is an
        # independent cold-cache measurement, and the min absorbs this
        # shared host's one-off stalls (observed: a 5 s query reading
        # 59 s in a single-shot window while isolated reruns stayed at
        # 5-6 s). t0 sits BEFORE query construction — some constructors
        # run driver-side actions (connected-components rounds, eager
        # candidate materialization) that are part of the true cost.
        best = float("inf")
        for _rep in range(QUERY_REPS):
            t0 = time.monotonic()
            df = queries[name](spark, SF_DIR)
            materialize(df)
            best = min(best, time.monotonic() - t0)
            # queries persist intermediates (banded tables etc.); drop
            # them so reps are independent and later queries don't fight
            # an accumulating cache for executor memory
            spark.catalog.clearCache()
        timings[name] = round(best, 3)
    spark.stop()

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf = float(sf)
    except ValueError:
        pass
    result = {
        "metric": "end-to-end extraction+correction + headline operator latency",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if scaling:
        result["scaling"] = scaling
    print(json.dumps(result))


if __name__ == "__main__":
    main()
