"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints TWO JSON lines — full per-query detail first, then a compact
FINAL summary line (the driver json-parses the last line and captures
only a ~2,000-char stdout tail, so the final line is budget-capped):
  {"metric": "headline_queries_total_wall", "value": <total sec>,
   "unit": "sec", "sf": <float>, "n_queries": N,
   "queries": {<slowest 15 only>}}

Each query is fully materialized via a noop write (no driver-side
collect, no result-transfer skew) after a warm-up of the session; JVM
startup is excluded from per-query times, matching BASELINE.md's note
that the reference's ~19.5 s e2e is ~7 s session startup.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import statistics
import sys
import time

import pandas as pd  # module-level: pandas_udf type hints resolve here

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark_data_processing_challenge_spark.queries import _util  # noqa: E402
from pyspark_data_processing_challenge_spark.session import get_session  # noqa: E402

# Representative mix: the reference pipeline, heavy relational shapes,
# and every north-star operator family (text, dedup, ANN).
#
# SELECTION RATIONALE (VERDICT r08 item 4): the headline tracks the
# catalog's COST ENVELOPE, not its count — every query whose plan
# shape or data volume could plausibly dominate a run is here. The
# ~90 catalog queries deliberately excluded fall into three classes:
#   1. surface-coverage micro-queries — one-aggregate/one-filter
#      shapes over a single table (string_functions, date_functions,
#      map_functions, collection_functions duplicates, the op_*
#      reference micro-filters, simple window/join/set-op shapes like
#      sort_top20_orders, semi/anti_join_*, pivot/unpivot/rollup);
#      each is sub-second and plan-isomorphic to a headline sibling
#      that already times the same scan+exchange skeleton.
#   2. intermediates subsumed by their consumers — minhash_signatures
#      (timed inside minhash_near_dup), simhash_values, pq_codes,
#      ivf_assignments, image_phash, docs_dup_spans' strip twin, etc.
#   3. tiny-dimension lookups (multimodal_meta, customers_masked,
#      corpus_manifest) bounded by table width, not scale factor.
# Every excluded query still runs per-session under the bit-exact
# oracle-parity suite, so exclusion affects timing visibility only.
# External busy-core ceiling for a measurement window to count as quiet
# (VERDICT r14 #1's "loadavg <= ~5", restated in the only unit that can
# actually arbitrate it — see _QuietGate; it replaces r12 #5's
# QUIET_LOAD_MAX=8.0 loadavg check, under which dedup_full_1to600
# bounced 10.9 -> 26.9 -> 12.2 s across rounds with recorded load
# 16-18 nobody could attribute).
QUIET_EXT_CORES = 5.0


class _QuietGate:
    """Defer load-sensitive measurement windows until the HOST is quiet
    (VERDICT r14 #1: two consecutive rounds shipped ingest-ratio numbers
    recorded under load 14-30, so the headline could no longer tell a
    real 20% regression from host weather).

    1-min loadavg cannot arbitrate quietness mid-run: every in-window
    reading includes this bench's OWN local[N] saturation (~N for a
    minute after any busy stage — the r13/r14 "load 14-28" entries are
    partly self-load), and waiting out its 60 s decay before every
    family would add minutes of idle per round. The gate instead
    measures EXTERNAL cpu directly: a /proc/stat busy-jiffies delta
    sampled while this process is idle counts only other tenants'
    cores, reacts instantly (no decay lag), and costs ~1 s on a quiet
    host. wait() polls until external busy cores <= threshold or the
    shared budget (SPARK_GRAFT_QUIET_WAIT_SEC, default 240 s across the
    whole run) expires, then returns the evidence dict the caller
    attaches to query_stats: ext_load_pre (idle-sampled external cores)
    plus load_deferred=True when the budget ran out while still noisy —
    every gated entry carries either quiet evidence or an explicit
    contamination flag, never an unadjudicable number. Falls back to
    1-min loadavg if /proc/stat is unreadable."""

    def __init__(
        self,
        threshold: float = QUIET_EXT_CORES,
        budget_sec: float | None = None,
        sample_sec: float = 1.0,
    ) -> None:
        self.threshold = threshold
        self.budget = (
            float(os.environ.get("SPARK_GRAFT_QUIET_WAIT_SEC", "240"))
            if budget_sec is None
            else budget_sec
        )
        self.sample_sec = sample_sec
        try:
            self._hz = float(os.sysconf("SC_CLK_TCK"))
        except (ValueError, OSError, AttributeError):
            self._hz = 100.0

    @staticmethod
    def _busy_jiffies() -> int | None:
        try:
            with open("/proc/stat") as f:
                parts = f.readline().split()
            vals = [int(x) for x in parts[1:]]
        except (OSError, ValueError, IndexError):
            return None
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
        return sum(vals) - idle

    def sample(self, sec: float | None = None) -> float:
        """External busy cores over one idle interval. Only meaningful
        while this process (and its Spark session) is between jobs —
        which is exactly when the callers invoke it."""
        sec = self.sample_sec if sec is None else sec
        b0 = self._busy_jiffies()
        t0 = time.monotonic()
        time.sleep(sec)
        dt = time.monotonic() - t0
        b1 = self._busy_jiffies()
        if b0 is None or b1 is None:
            return float(os.getloadavg()[0])  # degraded fallback
        return (b1 - b0) / (dt * self._hz)

    def wait(self) -> dict:
        ext = self.sample()
        waited = 0.0
        while ext > self.threshold and self.budget > 0:
            step = min(5.0, self.budget)
            self.budget -= step
            waited += step
            ext = self.sample(step)  # the sample IS the wait
        out = {"ext_load_pre": round(ext, 1)}
        if waited:
            out["quiet_wait_sec"] = round(waited, 1)
        if ext > self.threshold:
            out["load_deferred"] = True
        return out

# Headline entries that must publish with positive quiet evidence
# (VERDICT r14 #7): the three r12 movers whose in-band numbers were
# load-inflated for two rounds while standalone quiet re-times measured
# 2.95 / 1.34 / 0.98 s. Each gets a _QuietGate.wait() before its first
# rep and carries ext_load_pre (or load_deferred) in query_stats.
# r16 postscript: the 2.95 s containment "standalone floor" turned out
# to be CacheManager reuse of the prior rep's persisted shingle frame
# (honest salted+cache-cleared reps measure 4.2-5.0 s); run_once now
# clearCache()s per rep, and the r16 in-band min landed at 3.47 s with
# ext_load 0.1 — the discrepancy is closed, not just gated.
QUIET_WATCHLIST = {
    "docs_containment_pairs",
    "audio_transcode_features",
    "image_rgb_histogram",
}

# Attribution notes that ship IN the artifact (VERDICT r15 #7, option
# b): a reader of BENCH_full must not need a source docstring to
# classify an entry whose wall time is dominated by correctness-frame
# scaffolding rather than production work.
_ENTRY_NOTES = {
    "split_cluster_assign_incremental": (
        "correctness-frame timing: rebuilds the history stores in-band"
        " so the oracle can prove history+batch==full; the production"
        " per-batch cost is clustersplit_incremental_1to300"
    ),
}

HEADLINE = [
    "ref_flagship_pipeline",
    "ref_flagship_pipeline_keyed",
    "agg_pricing_summary",
    "join_revenue_by_nation",
    "window_topk_orders",
    "sessionize_events",
    "asof_join_purchases",
    "docs_token_stats",
    "docs_quality",
    "dedup_drop_exact",
    "dedup_drop_exact_narrow",  # r16: narrow-shuffle full-recompute twin
    "minhash_near_dup",
    "simhash_near_dup",
    "embedding_topk",
    "embedding_lsh_buckets",
    "ivf_topk",
    "tfidf_top_terms",
    "agg_salted_revenue",
    "events_json_stats",
    "cdc_merge_orders",
    "scd2_customer_history",
    "cube_orders",
    "multimodal_decode",
    "join_regional_revenue",
    "rolling_7d_revenue",
    "kmeans_update_centroids",
    "multimodal_media_decode",
    # round-3 additions
    "agg_quartiles_orders",
    "image_phash_near_dup",
    "docs_decontaminate",
    "docs_pack_sequences",
    # round-5 additions
    "docs_dup_spans",
    "docs_max_dup_extents",
    "docs_max_dup_extents_salted",  # r12: hot-anchor scale path twin
    "embedding_top_pc",  # r12: distributed PCA moments + bounded eigensolve
    "embedding_top_pc_incremental",  # r12: moment-store ingest twin
    "embedding_top_k_pcs",  # r12: k-component PCA via deflation
    "embedding_pca_project",  # r12: map-only PCA-reduce transform
    "split_ngram_leakage",  # r12: cross-split sequence-leakage gate
    "ivfpq_residual_rerank_topk",  # r12: two-stage IVFADC serving
    "ivfpq_rerank_recall_eval",  # r12: measured rerank recall lift
    "ivf_silhouette_histogram",  # r12: assignment-quality margin histogram
    "revenue_theil_sen",  # r12: robust slope (bounded pairwise median)
    "docs_mattr",  # r12: MATTR lexical diversity
    # round-13 additions
    "ivf_filtered_topk",  # r13: metadata-filtered ANN (pre-filter)
    "ivf_filtered_recall_eval",  # r13: filtered recall, two selectivities
    "ivf_filtered_cost_eval",  # r13: scored-candidate cost, pre vs unfiltered
    "ivf_filtered_adaptive_topk",  # r13: adaptive nprobe escalation
    "ivf_prefilter_vs_postfilter_eval",  # r13: measured pre-vs-post tradeoff
    "split_cluster_assign",  # r13: dedup-aware split assignment
    "split_cluster_leakage_eval",  # r13: doc-hash vs cluster leakage twin
    # split_cluster_assign_incremental stays timed (the bench contract
    # never drops an entry) but is ANNOTATED as a correctness-frame
    # timing (VERDICT r15 #7, option b): the catalog query rebuilds the
    # history stores from scratch every run so the driver can hash
    # history ⊕ batch == full — its 11-12 s is ~90% history rebuild
    # (decomposition in its docstring, queries/llm.py). The production
    # per-ingest cost (stores prebuilt on disk, batch-only work) is
    # what clustersplit_incremental_1to300 measures; _ENTRY_NOTES puts
    # that attribution in the artifact itself so the entry never again
    # reads as an unexplained top-5 production cost.
    "split_cluster_assign_incremental",  # r13: correctness-frame twin
    "split_balance_report",  # r13: realized vs target split mass
    "embedding_group_pca",  # r13: closed-form per-label PCA
    "docs_softdedup_weights",  # r13: duplicate-aware sampling weights
    "embedding_decontaminate",  # r13: semantic decontamination gate
    "copurchase_link_prediction",  # r13: Adamic-Adar/RA link prediction
    "ivf_tombstone_compact",  # r13: ANN delete lifecycle scheduler
    "ivf_tombstone_probe_eval",  # r13: stale-results + post-delete recall
    "customers_dp_release",  # r13: Laplace-mechanism DP count release
    "embedding_knn_graph",  # r13: corpus-wide list-bounded kNN graph
    "knn_graph_stats",  # r13: mutual-edge health report
    "embedding_snn_clusters",  # r13: mutual-kNN (SNN) clustering
    "knn_graph_recall_eval",  # r13: measured recall vs assignment depth
    "docs_classifier_auc",  # r13: exact rank-sum AUC, bounded score domain
    "embedding_binary_codes",  # r13: sign-bit 32x serving codes
    "embedding_binary_recall_eval",  # r13: Hamming recall at 32x compression
    "sql_small_qty_revenue",  # r13: Q17-shape correlated scalar subquery
    "sql_lone_late_supplier",  # r13: Q21-shape EXISTS/NOT EXISTS pair
    "sql_big_order_customers",  # r13: Q18-shape IN-over-HAVING semi join
    "sql_dormant_rich_customers",  # r13: Q22-shape global-mean + anti join
    # round-14 additions
    "snn_quality_eval",  # r14: SNN quality + blob detector, 3 schemes
    "decontam_bloom_screen",  # r14: 16 KiB Bloom decontamination screen
    "decontam_bloom_fp_eval",  # r14: Bloom confusion summary (FN=0 pin)
    "customers_dp_seeded_audit",  # r14: sealed-seed DP twin + mechanism audit
    "corpus_top_dup_extents",
    "ivf_list_stats",
    "ivf_staleness_eval",
    "docs_char_entropy",
    "user_streaks",
    "orders_zvalue",
    "pq_topk",
    "events_funnel",
    "orders_pit_acctbal",
    # round-6 additions
    "pq_trained_topk",
    "image_phash_jpeg_near_dup",
    "cohort_retention",
    "docs_rag_chunks",
    "rolling_7d_distinct_users",
    "nation_trade_pagerank",
    "rfm_segments",
    "part_pair_affinity",
    "docs_unigram_surprisal",
    # round-6 second wave: media features, sketches, similarity join
    "audio_features",
    "video_frame_stats",
    "image_resize_thumbs",
    "cms_heavy_hitters",
    "bloom_join_prune",
    "setsim_prefix_pairs",
    "copurchase_triangles",
    "docs_bpe_merge_step",
    # round-6 third wave
    "histogram_quantile_sketch",
    "zone_map_pruning_2d",
    "ivm_daily_revenue",
    "audio_transcode_features",
    "video_scene_cuts",
    "event_segment_mutual_info",
    "ivf_trained_topk",
    # round-7 additions
    "image_rgb_phash_near_dup",
    "image_rgb_histogram",
    "audio_spectral_features",
    "ivf_recall_eval",
    "docs_bigram_surprisal",
    "pq_rerank_topk",
    "docs_containment_pairs",
    "revenue_cusum_shifts",
    "revenue_acf",
    "pyds_docs_pushdown",
    "spatial_grid_neighbors",
    "priority_mix_chi2",
    "join_revenue_by_nation_shj",
    "image_tri_codec_near_dup",
    "corpus_scaling_curve",
    "audio_fingerprint_near_dup",
    "video_remux_dedup",
    "docs_blocklist_screen",
    "domain_reweight_plan",
    "docs_semantic_dedup",
    # r08: re-entered once its baseline became the fixed-size sampled
    # broadcast (O(NQ·n)) instead of the quadratic all-pairs join
    "lsh_recall_eval",
    "bootstrap_mean_ci",
    "events_dow_hour_profile",
    # round-8 additions
    "docs_dsir_weights",
    "lsh_recall_banded_eval",
    "docs_gopher_rules",
    "parts_entity_resolution",
    "revenue_holt_forecast",
    "customers_k_anonymity",
    # round-8 second wave
    "cdc_changelog_compact",
    "revenue_holt_winters",
    "docs_phrase_search",
    "parts_snm_pairs",
    "copurchase_kcore",
    "embedding_hard_negatives",
    "minhash_bbit_near_dup",
    "events_debounce",
    "price_psi_drift",
    "totalprice_quantile_transform",
    "ab_mannwhitney_events",
    "copurchase_communities",
    "matryoshka_recall_eval",
    "corpus_zipf_fit",
    "events_lead_lag",
    "users_kaplan_meier",
    "conversion_wilson_ci",
    "cms_selfjoin_size",
    "docs_rrf_fusion",
    # round-9 additions: fold in the remaining non-trivial catalog
    # queries so the headline covers the whole cost envelope (the
    # exclusion rationale above documents what stays out and why)
    "ab_test_events",
    "benford_totalprice",
    "cdc_merge_delete_orders",
    "docs_bm25",
    "docs_bpe_pair_counts",
    "docs_hashed_features",
    "docs_lang_id",
    "docs_pii_scrub",
    "docs_readability",
    "docs_strip_dup_spans",
    "docs_weighted_sample",
    "embedding_random_projection",
    "event_transitions",
    "events_m4_downsample",
    "events_mad_outliers",
    "fuzzy_match_parts",
    "image_cross_codec_near_dup",
    "ivfpq_topk",
    "ivfpq_residual_topk",
    "ivfpq_ingest_postings",
    "kmeans_two_step",
    "max_concurrent_sessions",
    "momentum_contribution",
    "purchase_attribution",
    "rag_chunk_dedup",
    "seasonal_decompose_daily",
    "sessionize_events_native",
    "sketch_overlap_users",
    "snapshot_merkle_diff",
    "sql_recursive_hierarchy",
    "top_event_paths",
    # round-9 new operators
    "near_dup_keep_best",
    "image_video_cross_near_dup",
    "docs_kneser_ney_ppl",
    "revenue_mann_kendall",
    "customers_mahalanobis_outliers",
    "ivf_ndcg_eval",
    "parts_jaccard_similarity",
    "minhash_precision_eval",
    "semdedup_recall_eval",
    "revenue_runs_test",
    "corpus_tokenizer_fertility",
    "events_entropy_rate",
    "nation_revenue_gini",
    # round-10 new operators
    "docs_quality_classifier",
    "embedding_kmeanspp_seeds",
    "docs_bpe_train_vocab",
    "docs_perceptron_train",
    "docs_trained_classifier_eval",
    "docs_classifier_calibration",
    "minhash_threshold_sweep",
    "ivf_nprobe_curve",
    "phash_precision_eval",
    "docs_hashed_embedding",
    "hashed_embedding_planted_cosine",
    "simhash_precision_eval",
    "parts_fs_weights",
    "corpus_dedup_funnel",
]

# Exact verification baselines (VERDICT r09 item 4): intentionally
# brute-force plans kept in the catalog as completeness oracles for
# their approximate production twins. They are timed and reported, but
# OUTSIDE the headline total, so the headline tracks production-shape
# cost and a round-over-round regression isn't masked by a deliberate
# quadratic.
#   embedding_near_dup — exact O(n²) all-pairs cosine
#     (BroadcastNestedLoopJoin); the production path is
#     embedding_lsh_buckets + the lsh_recall_eval gates.
BASELINES = [
    "embedding_near_dup",
]


def _latest_detail_path(cpus) -> str:
    """Where a completed run persists its full detail line, named by
    core count so an 8-core scaling run never clobbers the full-width
    run's detail (nor becomes its same-sf baseline)."""
    here = os.path.dirname(os.path.abspath(__file__))
    return os.path.join(here, f"BENCH_full_latest_c{cpus}.json")


def _prior_round_mins(sf: float, cpus) -> dict[str, float]:
    """Per-query min times from the most recent committed bench
    snapshot AT THE SAME SCALE FACTOR — the reference point for the
    regression-vs-noise re-run policy (VERDICT r10 #1). Preference
    order: BENCH_full_latest_c{cpus}.json (last completed run at this
    core count), then the highest-numbered BENCH_full_r{N}.json; a
    latest file from another core count is never read. A snapshot at a
    different sf is skipped (sf0.01 iteration runs must not flag
    everything as a 10x 'regression' against sf0.1 numbers).
    Missing/corrupt files degrade to {} — the policy is additive, never
    load-bearing."""
    here = os.path.dirname(os.path.abspath(__file__))

    def round_no(path: str) -> int:
        # parse the round NUMBER — a lexicographic reverse sort would
        # put r100 before r99 and pick a stale prior
        m = re.search(r"r(\d+)", os.path.basename(path))
        return int(m.group(1)) if m else -1

    candidates = [_latest_detail_path(cpus)] + sorted(
        glob.glob(os.path.join(here, "BENCH_full_r*.json")),
        key=round_no,
        reverse=True,
    )
    for path in candidates:
        try:
            with open(path) as f:
                d = json.load(f)
        except (OSError, ValueError):
            continue
        if d.get("sf") != sf or not isinstance(d.get("queries"), dict):
            continue
        out = dict(d["queries"])
        out.update(d.get("baselines") or {})
        return {k: v for k, v in out.items() if isinstance(v, (int, float))}
    return {}


def _disk_write_mbps(nbytes: int = 256 * 1024 * 1024) -> float | None:
    """Sustained write bandwidth of the filesystem Spark spills and
    shuffles to, measured once per run (fsync'd, ~3 s at the 88 MB/s
    this host showed in r15). The arbitrating number for the
    shuffle-bytes-bound entries: dedup_full_1to600 moved 13.1 → 21.4 s
    between r13 and r15 with an identical plan, quiet external CPU,
    and an unchanged 3.7 s map side — the delta was entirely the
    ~3.6 GB full-row shuffle against degraded host write bandwidth.
    Without this probe in the detail line that adjudication took a
    round (r14 misattributed it to loadavg)."""
    import tempfile

    try:
        chunk = b"\x5a" * (32 * 1024 * 1024)
        t0 = time.perf_counter()
        with tempfile.NamedTemporaryFile(dir="/tmp") as f:
            for _ in range(nbytes // len(chunk)):
                f.write(chunk)
            f.flush()
            os.fsync(f.fileno())
            dt = time.perf_counter() - t0
        return round(nbytes / (1024 * 1024) / dt, 1)
    except OSError:
        return None


class _GcProbe:
    """Cumulative stop-the-world GC milliseconds of the (local-mode)
    JVM, from the GarbageCollectorMXBeans — the attribution channel for
    the late-run "2x tail inflation" (VERDICT r16 #2: entries measured
    in-band near the end of a 228-query run read up to 2x their
    isolated warm floors at ext_load 0.0; neighbor load was ruled out,
    old-gen GC pressure suspected but never measured). ``delta()``
    around a timed rep attributes GC seconds to that rep IN the
    artifact, so a tail-inflated entry carries its own diagnosis.
    Degrades to None, never raises."""

    def __init__(self, spark) -> None:
        try:
            mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
            self._beans = mf.getGarbageCollectorMXBeans()
        except Exception:
            self._beans = None

    def total_ms(self) -> int | None:
        if self._beans is None:
            return None
        try:
            ms = 0
            it = self._beans.iterator()
            while it.hasNext():
                ms += it.next().getCollectionTime()
            return ms
        except Exception:
            return None


def _salted_sf_dirs(sf_dir: str, n: int = 4) -> list[str]:
    """Symlink twins of ``sf_dir`` for headline RE-reps (VERDICT r16
    #3): this Spark build reuses shuffle stages across executions of
    canonically-identical plans, so a re-rep of a purely-declarative
    entry can read the first rep's shuffle files and record a warm
    re-query as its min (the r15 image_phash_near_dup 0.9 s fiction).
    The ingest-ratio section salts a literal below the first shuffle;
    catalog queries expose no such hook — but the scan RELATION'S PATH
    is part of the canonical plan, so reading the same bytes through a
    symlinked twin directory makes every rep's plan canonically
    distinct while the data (same inodes, same page cache) is
    bit-identical. Rep 0 reads the real dir; re-rep i reads twin
    i-1. Twins live under a tempdir the caller removes at run end;
    creation failure degrades to [] (re-reps then read the real dir,
    the pre-r17 behavior)."""
    import tempfile

    try:
        base = tempfile.mkdtemp(prefix="benchsalt_")
        dirs = []
        for i in range(1, n + 1):
            d = os.path.join(base, f"rep{i}")
            os.makedirs(d)
            for entry in os.listdir(sf_dir):
                os.symlink(
                    os.path.join(sf_dir, entry), os.path.join(d, entry)
                )
            dirs.append(d)
        return dirs
    except OSError:
        return []


class _ShuffleProbe:
    """Cumulative shuffle-write bytes from the driver's AppStatusStore
    (the same numbers the UI's REST API serves), so shuffle-bytes-bound
    entries carry their per-rep write volume IN the artifact (VERDICT
    r15 #1: the dedup_full disk-weather adjudication lived in a commit
    message because the snapshot had only wall times). ``delta()``
    around a timed rep attributes bytes to that rep; reading the store
    costs ~1 ms per call and runs between jobs, never inside a timed
    window's Spark work. Degrades to None (never raises) if the
    package-private accessor moves in a future Spark."""

    def __init__(self, spark) -> None:
        try:
            sc = spark.sparkContext
            self._store = sc._jsc.sc().statusStore()
            self._empty = sc._jvm.java.util.ArrayList()
            self._quant = sc._gateway.new_array(sc._jvm.double, 0)
        except Exception:
            self._store = None

    def total(self) -> tuple[int, int] | None:
        """(cumulative shuffle-write bytes, cumulative disk-spill
        bytes) across all completed stages. Spill is the second
        disk-pressure channel: an entry can shuffle little yet still
        be disk-bound via sort/aggregate spills."""
        if self._store is None:
            return None
        try:
            lst = self._store.stageList(
                self._empty, False, False, self._quant, self._empty
            )
            shuffle = spill = 0
            it = lst.iterator()
            while it.hasNext():
                sd = it.next()
                shuffle += sd.shuffleWriteBytes()
                spill += sd.diskBytesSpilled()
            return shuffle, spill
        except Exception:
            return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    os.environ["SPARK_GRAFT_CPUS"] = cpus

    spark = get_session("bench", master=f"local[{cpus}]")
    load_at_start = round(os.getloadavg()[0], 1)
    disk_write_mbps = _disk_write_mbps()
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # Warm the JVM/session AND the Python/Arrow worker pool so the first
    # measured query isn't paying one-time init (workers are long-lived
    # on a real cluster).
    spark.range(1000).selectExpr("sum(id)").collect()
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("long")
    def _warm(x: pd.Series) -> pd.Series:
        return x

    spark.range(1000).select(_warm(col("id"))).collect()
    # Warm the input side too: file listing, parquet footers and the OS
    # page cache for the large tables, plus one noop write (sink init).
    # The reference baseline's 19.5 s likewise excludes only what its
    # own warm process had already paid; without this the FIRST measured
    # query absorbs all first-touch I/O and the per-query numbers are
    # noise across runs.
    # events.parquet is TIMESTAMP(NANOS) — the legacy conf is required
    # on any session that didn't come from session.get_session
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for warm_table in ("lineitem", "orders", "events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{warm_table}.parquet").count()
    spark.range(10).write.format("noop").mode("overwrite").save()

    # symlink twins for headline re-reps: rep i>0 reads through twin
    # i-1 so its plan is canonically distinct and shuffle-stage reuse
    # cannot hand it the previous rep's map output (VERDICT r16 #3)
    salt_dirs = _salted_sf_dirs(sf_dir)

    def run_once(name: str, rep: int = 0) -> float:
        # a leaked persist() let docs_containment_pairs' re-rep read
        # the previous rep's cache ("2.95 s standalone" vs 4.2-5.0 s
        # salted, r16 diagnosis): every rep starts from reset state
        _util.reset(spark)
        d = sf_dir if rep == 0 or not salt_dirs else salt_dirs[
            (rep - 1) % len(salt_dirs)
        ]
        t0 = time.perf_counter()
        qs[name](spark, d).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    # Variance bookkeeping (VERDICT r09 item 8): whenever a query is
    # timed more than once, record {min, median, reps} so the next
    # reader can separate shared-host noise from a real regression
    # without cross-referencing the re-run policy.
    stats: dict[str, dict] = {}

    def record(name: str, vals: list[float], times_dict: dict) -> None:
        times_dict[name] = round(min(vals), 3)
        if len(vals) > 1:
            # update, never assign — the shuffle-byte probe may already
            # have seeded this entry's stats dict
            stats.setdefault(name, {}).update(
                {
                    "min": round(min(vals), 3),
                    "median": round(statistics.median(vals), 3),
                    "reps": len(vals),
                    # the host is shared and swings 5-10x; every
                    # re-repped entry carries the 1-min loadavg at
                    # measurement time so a flagged mover's
                    # noise-vs-regression call can cite load evidence
                    # instead of guessing (VERDICT r11 #6)
                    "load": round(os.getloadavg()[0], 1),
                }
            )

    gate = _QuietGate()
    shuffle_probe = _ShuffleProbe(spark)
    gc_probe = _GcProbe(spark)

    def run_with_retry_policy(name: str, times_dict: dict) -> None:
        # The host is shared: a neighbor's burst can inflate one query
        # 5-10x in a single-shot measurement. Re-run the slow tail once
        # and keep the min (standard best-of-N practice) — bounded
        # extra wall, and it de-noises exactly the entries that
        # dominate the total. Fast queries stay single-shot; a
        # genuinely expensive query is slow in both runs and keeps its
        # honest cost. A burst can straddle both runs; extreme
        # outliers get one more shot.
        # CAVEAT (discovered r10): this Spark build reuses shuffle
        # stages across executions of canonically-identical plans, so
        # a re-run of a purely-declarative query can read the first
        # run's shuffle output instead of recomputing it — its min
        # then measures a warm re-query, not an independent sample.
        # Queries with a localCheckpoint in the lineage (the semantic-
        # dedup family) replan per run and are immune. The ingest-ratio
        # section, where the full-vs-incremental comparison must be
        # reuse-free, salts every rep's plan instead (see
        # _bench_ingest_ratio); here the re-run exists only to shave
        # noise off the slow tail, and {min, median, reps} are all
        # recorded so a reader can tell which entries were re-run.
        # r12-mover watchlist (VERDICT r14 #7): these entries must ship
        # with positive quiet evidence, so they get the gate BEFORE the
        # first rep and always record it.
        evidence = gate.wait() if name in QUIET_WATCHLIST else None
        b0 = shuffle_probe.total()
        g0 = gc_probe.total_ms()
        vals = [run_once(name)]
        b1 = shuffle_probe.total()
        g1 = gc_probe.total_ms()
        # per-rep GC seconds, index-aligned with vals: the tail-
        # inflation attribution channel (VERDICT r16 #2) — an entry
        # whose slow rep carries 3 s of GC is JVM pressure, not code
        gc_secs = [
            (g1 - g0) / 1000.0 if g0 is not None and g1 is not None else None
        ]

        def run_rep(rep: int) -> None:
            ga = gc_probe.total_ms()
            vals.append(run_once(name, rep))
            gb = gc_probe.total_ms()
            gc_secs.append(
                (gb - ga) / 1000.0
                if ga is not None and gb is not None
                else None
            )

        if b0 is not None and b1 is not None:
            mb = (b1[0] - b0[0]) / 1e6
            spill_mb = (b1[1] - b0[1]) / 1e6
            # only the disk-heavy entries carry the numbers — a
            # per-query byte line for 200+ sub-second queries would
            # bloat the detail line without adjudicating anything
            if mb > 64.0:
                stats.setdefault(name, {})["shuffle_write_mb"] = round(mb, 1)
            if spill_mb > 64.0:
                stats.setdefault(name, {})["disk_spill_mb"] = round(spill_mb, 1)
        if vals[-1] > 2.5:
            run_rep(1)
        # Regression-vs-noise disambiguation (VERDICT r10 #1): any
        # query running >1.5x its prior-round min gets the rep
        # treatment REGARDLESS of absolute time — r10's
        # simhash_near_dup doubled to 2.45 s, sat just under the
        # 2.5 s threshold, and shipped as an un-repped single shot
        # nobody could classify. Flagged entries carry prior_min in
        # query_stats so the detail line is self-diagnosing. The
        # adjudicating reps run behind the quiet gate (VERDICT r14 #1):
        # a >1.5x mover re-timed under a neighbor burst proves nothing.
        prior = prior_mins.get(name)
        flagged = prior is not None and min(vals) > 1.5 * prior
        if flagged:
            evidence = dict(evidence or {})
            evidence.update(gate.wait())
            while len(vals) < 3:
                run_rep(len(vals))
        if min(vals) > 8.0 and len(vals) < 4:
            run_rep(len(vals))
        record(name, vals, times_dict)
        if len(vals) > 1:
            if salt_dirs:
                # every re-rep read through a symlink twin — the
                # recorded min cannot be a shuffle-reuse warm re-query
                stats.setdefault(name, {})["salted"] = True
            # GC seconds of the rep the min came from (coherent with
            # the kept number, VERDICT r16 #7 doctrine), only when it
            # could plausibly matter
            gmin = gc_secs[vals.index(min(vals))]
            if gmin is not None and gmin > 0.2:
                stats.setdefault(name, {})["gc_sec"] = round(gmin, 2)
        if flagged:
            stats.setdefault(name, {"min": round(min(vals), 3)})[
                "prior_min"
            ] = prior
        if evidence:
            stats.setdefault(name, {"min": round(min(vals), 3)}).update(
                evidence
            )
        note = _ENTRY_NOTES.get(name)
        if note:
            stats.setdefault(name, {"min": round(min(vals), 3)})[
                "note"
            ] = note

    prior_mins = _prior_round_mins(sf, cpus)

    times: dict[str, float] = {}
    # The *_full_* ingest-ratio comparators run FIRST (VERDICT r12 #5):
    # they are the entries whose incremental-vs-full ratios a reader
    # trusts, and the 1-min loadavg at this point reflects only the
    # warmup — not two hundred seconds of our own headline queries —
    # so their recorded load is the quiet-host evidence, not an
    # artifact of bench ordering.
    _bench_ingest_ratio(
        spark, sf_dir, times, stats, prior_mins, gate=gate,
        shuffle_probe=shuffle_probe,
    )

    scaling = _bench_scaling(spark, sf_dir, sf, times, gate=gate)

    for name in HEADLINE:
        run_with_retry_policy(name, times)
    baselines: dict[str, float] = {}
    for name in BASELINES:
        run_with_retry_policy(name, baselines)

    _bench_scaling_catalog(spark, sf, times, scaling, gate=gate)

    streaming = _bench_streaming(spark, sf_dir)

    lines = result_lines(
        times, streaming, sf, stats=stats, baselines=baselines,
        scaling=scaling, load_at_start=load_at_start,
        disk_write_mbps=disk_write_mbps,
        # second probe at run END: disk weather drifts over a ~30 min
        # run (r16 watched 6-24 MB/s swings within an hour), and a
        # start-only number can mis-adjudicate the tail entries
        disk_write_mbps_end=_disk_write_mbps(),
    )
    for line in lines:
        print(line)
    # The driver captures only the tail of stdout (the final summary
    # line); persist the FULL per-query detail next to the repo so each
    # round can commit it (BENCH_full_r{N}.json) and round-over-round
    # comparisons never depend on the driver's truncation window.
    try:
        with open(_latest_detail_path(cpus), "w") as f:
            f.write(lines[0] + "\n")
    except OSError:
        pass  # benchmarking from a read-only checkout still prints
    if salt_dirs:
        import shutil

        shutil.rmtree(os.path.dirname(salt_dirs[0]), ignore_errors=True)
    spark.stop()


# The external driver captures only the LAST ~2,000 chars of stdout and
# json-parses the final line. Round 6's single detail line grew past
# that window (parsed: null — no bench recorded despite rc=0), so the
# output is now two JSON lines: the full per-query detail first (for
# humans and git history), then a compact FINAL summary line that must
# stay well under the capture window forever. FINAL_LINE_BUDGET is
# asserted by tests/test_bench_output.py; the final line's "queries"
# dict is truncated to the slowest entries to guarantee the bound no
# matter how large the headline set grows.
FINAL_LINE_BUDGET = 1500
_FINAL_TOP_N = 15


def result_lines(
    times: dict,
    streaming: dict,
    sf: float,
    *,
    stats: dict | None = None,
    baselines: dict | None = None,
    scaling: dict | None = None,
    load_at_start: float | None = None,
    disk_write_mbps: float | None = None,
    disk_write_mbps_end: float | None = None,
) -> list[str]:
    """Render bench results as (detail_line, final_line). Pure so the
    length/round-trip contract is unit-testable without a Spark run.

    ``stats`` carries {name: {min, median, reps}} for every multi-rep
    measurement; ``baselines`` carries the intentionally-brute-force
    verification queries timed OUTSIDE the headline total (see
    BASELINES). Both land in the detail line only."""
    total = round(sum(times.values()), 3)
    detail_payload = {
        "metric": "headline_queries_detail",
        "queries": times,
        "streaming": streaming,
        "sf": sf,
    }
    if load_at_start is not None:
        # the neighbor-noise indicator: 1-min loadavg BEFORE this
        # process saturated the host. Loads recorded DURING the run
        # (per-entry `load`) include our own local[N] saturation —
        # ~N whenever a stage is running — so only this baseline says
        # whether the HOST was quiet when the run began.
        detail_payload["load_at_start"] = load_at_start
    if disk_write_mbps is not None:
        # the IO-side twin of load_at_start: shuffle-bytes-bound
        # entries (dedup_full_1to600 above all) track this number, not
        # cpu load — see _disk_write_mbps
        detail_payload["disk_write_mbps"] = disk_write_mbps
    if disk_write_mbps_end is not None:
        detail_payload["disk_write_mbps_end"] = disk_write_mbps_end
    if stats:
        detail_payload["query_stats"] = stats
    if baselines:
        detail_payload["baselines"] = baselines
    if scaling:
        detail_payload["scaling"] = scaling
    detail = json.dumps(detail_payload)
    slowest = dict(
        sorted(times.items(), key=lambda kv: kv[1], reverse=True)[:_FINAL_TOP_N]
    )
    final = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "n_queries": len(times),
            "queries": slowest,
        }
    )
    if len(final) > FINAL_LINE_BUDGET:  # belt-and-braces: drop the dict
        final = json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(times),
            }
        )
    return [detail, final]


def _bench_ingest_ratio(
    spark,
    sf_dir: str,
    times: dict,
    stats: dict,
    prior_mins: dict | None = None,
    gate: _QuietGate | None = None,
    shuffle_probe: _ShuffleProbe | None = None,
) -> None:
    """Small-batch-vs-large-store ingest contract (VERDICT r09 item 1).
    ``prior_mins=None`` (direct/test invocation) degrades to no
    flagging, same as an sf with no prior snapshot. ``gate`` (shared
    with the caller's other load-sensitive windows so the idle-wait
    budget is global) quiet-gates every comparator — see _QuietGate.

    The incremental family's claim is O(batch) per-ingest cost against
    an unbounded store. Earlier rounds measured a 1:10 shape with
    batch = one full unit; there the incremental side's fixed floor
    (batch hash/decode/score + store scan + two writes, ~2.5-3 s at
    sf0.1) ate the asymmetry and exact dedup even LOST to full
    recompute. This section measures the shape a real ingest actually
    has — a SMALL batch against a LARGE store: batch = a deterministic
    10% slice of one unit, store = R perturbed history replicas.
    R scales per family with how cheap its full path's per-unit work
    is, so the byte asymmetry shows against the job floor: R = 60
    (1:600) for exact dedup (xxhash + keys-only groupBy is almost
    free per unit; the store is 16 B/row); R = 30 (1:300) for span
    dedup and minhash (gram-count / band-row stores); R = 10 (1:100)
    for phash and SemDeDup, whose full sides are already
    compute-dominated (JPEG decode x corpus; codebook cosines x
    corpus) at that ratio.

    Per-replica perturbations keep rows / shingles / grams / rasters /
    vectors DISTINCT across replicas (replica-identical content would
    let signatures collide across replicas, collapsing exact dedup and
    quadratically inflating the banded joins):
    - exact: l_orderkey offset per replica (every column hashed)
    - span: replica index prefixed to text
    - minhash: replica index woven into every generated token
      (disjoint shingle sets — replicas never pair with the batch)
    - phash: doc_id offset per replica (rasters are id-derived)
    - semantic: embedding circularly shifted by replica index
      (decorrelates vectors; vec_id offset keeps ids disjoint)

    The minhash corpus is GENERATED (plant-style, like the phash
    rasters) rather than the ~100-byte synthetic documents: per-doc
    MinHash cost scales with DISTINCT shingles (the kernel dedupes
    shingles before hashing), and the synthetic docs carry only ~13 —
    two orders of magnitude below a real web document. Each planted
    doc gets ~128 unique ~25-char tokens (≈ a 3-4 KB page), restoring
    the re-hash bill the full path actually pays in production; every
    10th doc plants a near-duplicate copy (3 junk tokens appended) so
    the banded join has true positives to find.

    Measurement protocol (VERDICT r09 items 1+8): the incremental side
    runs one untimed warm pass then 3 timed reps; the full side runs
    2 timed reps (its first rep doubles as its warm — min discounts
    the cold pass, and full reps are 3-10 s each so a third rep buys
    little de-noising for real wall cost). min is the reported number;
    {min, median, reps} land in query_stats. Store-mutating appends go
    to a FRESH scratch directory per rep — same bytes written as a
    real append, but the store stays constant so every rep does
    identical work (appending to the real store would make rep 2's
    anti-join find zero fresh rows and undercount the append cost).

    The span family's store is the compacted (gram, n) table — the
    periodic-compaction steady state its docstring prescribes — so the
    per-batch read is a scan probed by the broadcast batch grams, and
    the per-batch append is the O(batch) partial counts.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as SF

    prior_mins = prior_mins or {}
    gate = gate or _QuietGate()
    shuffle_probe = shuffle_probe or _ShuffleProbe(spark)
    gc_probe = _GcProbe(spark)

    from pyspark_data_processing_challenge_spark.operators import (
        curation as cur,
    )
    from pyspark_data_processing_challenge_spark.operators import dedup as dd
    from pyspark_data_processing_challenge_spark.operators import (
        graph as graphop,
    )
    from pyspark_data_processing_challenge_spark.operators import (
        multimodal as mmod,
    )
    from pyspark_data_processing_challenge_spark.operators import (
        similarity as simod,
    )
    from pyspark_data_processing_challenge_spark.queries import llm as llmq
    from pyspark_data_processing_challenge_spark.queries._util import spread

    def rep_array(r: int):
        return SF.array(*[SF.lit(i) for i in range(1, r + 1)])

    def timed_reps(name: str, fn, *, nreps: int, warm: bool) -> None:
        """fn(rep_index) — rep 0..n-1 timed; warm pass uses index -1.

        Same regression-vs-noise policy as run_with_retry_policy
        (VERDICT r11 #2 closed the blind spot): an entry whose min runs
        >1.5x its prior-round min gets one extra salted rep and carries
        prior_min in query_stats, so an ingest-family mover (r11's
        dedup_full_1to600 at 2.46x) is classified by the bench itself,
        never shipped unclassifiable. Extra reps use salt indices
        >= nreps — every fn() call in this section salts its plan by
        rep index, so the policy rep is an independent sample too.

        Quiet-window protocol (VERDICT r14 #1, replacing r12 #5's
        loadavg check, which conflated our own local[N] saturation with
        neighbor load): the gate idle-waits for external cpu <=
        {QUIET_EXT_CORES} cores BEFORE the warm pass (bounded shared
        budget, load_deferred flag on expiry), and one more idle sample
        AFTER the reps adjudicates whether a burst landed mid-window —
        if it did, one extra salted rep (never a plan replay) runs
        behind a fresh gate so the min has at least one quiet sample."""
        evidence = gate.wait()
        if warm:
            fn(-1)
        vals = []
        gc_secs: list[float | None] = []
        shuffle_mb = spill_mb = None

        def timed(idx: int) -> None:
            ga = gc_probe.total_ms()
            t0 = time.perf_counter()
            fn(idx)
            vals.append(round(time.perf_counter() - t0, 3))
            gb = gc_probe.total_ms()
            gc_secs.append(
                (gb - ga) / 1000.0
                if ga is not None and gb is not None
                else None
            )

        for i in range(nreps):
            b0 = shuffle_probe.total()
            timed(i)
            if i == 0:
                b1 = shuffle_probe.total()
                if b0 is not None and b1 is not None:
                    shuffle_mb = round((b1[0] - b0[0]) / 1e6, 1)
                    spill_mb = round((b1[1] - b0[1]) / 1e6, 1)
        prior = prior_mins.get(name)
        flagged = prior is not None and min(vals) > 1.5 * prior
        if flagged:
            timed(nreps)
        # settle before the post sample: /proc/stat is system-wide, and
        # the JVM's GC/daemon threads keep burning cpu for a beat after
        # the action returns — sampled immediately, that self-load reads
        # as a neighbor burst and trips a spurious re-rep (r15 advice)
        time.sleep(1.0)
        ext_post = round(gate.sample(0.5), 1)
        burst = ext_post > gate.threshold
        if burst:
            evidence.update(gate.wait())  # re-quiet (or flag) first
            timed(nreps + 1)
        times[name] = round(min(vals), 3)
        if len(vals) > 1:
            stats[name] = {
                "min": round(min(vals), 3),
                "median": round(statistics.median(vals), 3),
                "reps": len(vals),
                # kept for round-over-round continuity; self-inflated
                # (includes our own threads) — ext_load_* is the
                # arbitrating number
                "load": round(os.getloadavg()[0], 1),
                "ext_load_post": ext_post,
                **evidence,
            }
            if shuffle_mb is not None:
                # per-rep shuffle-write volume (rep 0; the salted plans
                # are byte-identical across reps) — with the run-level
                # disk_write_mbps this normalizes any wall swing on a
                # shuffle-bound entry to MB/s inside the artifact
                stats[name]["shuffle_write_mb"] = shuffle_mb
            if spill_mb:
                stats[name]["disk_spill_mb"] = spill_mb
            gmin = gc_secs[vals.index(min(vals))]
            if gmin is not None and gmin > 0.2:
                # GC seconds of the kept-min rep (tail-inflation
                # attribution, VERDICT r16 #2)
                stats[name]["gc_sec"] = round(gmin, 2)
            if flagged:
                stats[name]["prior_min"] = prior
            if burst:
                stats[name]["high_load_rerun"] = True

    # A per-rep SALT: an always-true filter on a negative literal woven
    # below each side's first shuffle. This Spark build reuses shuffle
    # stages across executions when the canonical plan subtree is
    # identical (measured: the second identical full-recompute rep ran
    # 10x faster than the first — it read the previous rep's signature
    # shuffle instead of re-hashing the corpus; rebuilding the
    # DataFrame objects did not defeat it, a different salt literal
    # did). A real ingest never replays an identical plan over
    # identical data, so reuse-assisted timings would be fiction; the
    # salt makes every rep's map stages canonically distinct while
    # filtering nothing (all ids are >= 0). Full, incremental, warm,
    # and store-prep passes all use disjoint salt ranges.
    def salted(df, key: str, salt: int):
        return df.filter(SF.col(key) != SF.lit(-(salt + 2)))

    # A real 100 TB store has thousands of splits; here the fp store is
    # ~300 MB in ~64 files, which the default 128 MB split size coalesces
    # into ~3 scan tasks — the store-probe stage then serializes on 3
    # cores (the single-row-group `spread` problem, but for multi-file
    # scans, where spread's repartition would ADD the store-sized
    # exchange the contract forbids). 16 MB splits recreate cluster-like
    # scan parallelism for this section only; restored on exit.
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
    # restore-on-ANY-exit: a raise inside a family block must not
    # leak the 16 MB split size into the rest of the session (r10 advice)
    try:

        # --- exact row dedup (1:600) ----------------------------------
        # R=60 here: per-unit full-recompute cost (xxhash + keys-only
        # groupBy) is the cheapest of the five families, while the fp store
        # is 16 bytes/row — the byte asymmetry that IS this contract only
        # becomes visible against job-floor noise with more history.
        # COST MODEL: the r13-r15 WIDE form shuffled ~2.2 GB of
        # full-width rows through the dedup aggregate and swung
        # 13.1 → 21.4 s with disk-write weather (the map side was
        # ~3.7 s flat). Since r16 the entry runs the NARROW two-pass
        # form (fp-only count shuffle + broadcast-probed second scan,
        # operators/dedup.drop_duplicate_rows shuffle='narrow'):
        # measured 768 MB shuffle write vs 2164 MB and 10.0 vs 21.5 s
        # on interleaved same-weather reps — the design fix for the
        # disk-weather sensitivity, not a measurement workaround. The
        # per-entry shuffle_write_mb + run-level disk_write_mbps now
        # adjudicate any residual swing inside the artifact.
        li = spread(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))

        def li_frames(salt: int):
            base = salted(li, "l_orderkey", salt)
            batch = base.filter(SF.col("l_orderkey") % 10 == 0)
            hist = (
                base.withColumn("__rep", SF.explode(rep_array(60)))
                .withColumn(
                    "l_orderkey",
                    SF.col("l_orderkey")
                    + SF.col("__rep").cast("long") * SF.lit(10_000_000_000),
                )
                .drop("__rep")
            )
            return batch, hist

        store_dir = tempfile.mkdtemp(prefix="fp300_")
        scratch = tempfile.mkdtemp(prefix="fp300_scratch_")
        try:
            _, hist0 = li_frames(900)
            dd.with_row_fingerprint(hist0).select("__fp0", "__fp1").write.mode(
                "overwrite"
            ).parquet(store_dir)

            def full_exact(rep: int):
                batch, hist = li_frames(100 + rep)
                dd.drop_duplicate_rows(
                    hist.unionByName(batch), shuffle="narrow"
                ).write.format("noop").mode("overwrite").save()

            def inc_exact(rep: int):
                # ONE write: the ingest output carries the __fp0/__fp1
                # columns (keep_fps=True exists for exactly this), and the
                # fingerprint store is the fp-column PROJECTION of these
                # data files — readers declare the 2-column schema and
                # parquet column pruning makes the store scan identical to
                # a dedicated fp table. Pre-r10 the bench paid a second
                # job (noop result write + separate fp append) whose
                # commit overhead was ~30% of the incremental floor.
                batch, _ = li_frames(200 + rep)
                store = spark.read.parquet(store_dir)
                caches: list = []
                fresh, _ = dd.incremental_exact_dedup(
                    batch, store, keep_fps=True, cache_into=caches
                )
                fresh.write.mode("append").parquet(f"{scratch}/rep{rep}")
                for c in caches:
                    c.unpersist()

            timed_reps("dedup_full_1to600", full_exact, nreps=2, warm=False)
            timed_reps("dedup_incremental_1to600", inc_exact, nreps=3, warm=True)
        finally:
            shutil.rmtree(store_dir, ignore_errors=True)
            shutil.rmtree(scratch, ignore_errors=True)

        # --- span dedup (Lee et al. 2022 gram-count store, 1:300) ------
        docs = spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))

        def doc_frames(salt: int):
            base = salted(docs, "doc_id", salt)
            d_batch = base.filter(SF.col("doc_id") % 10 == 0)
            d_hist = (
                base.withColumn("__rep", SF.explode(rep_array(30)))
                .withColumn(
                    "doc_id",
                    SF.col("doc_id")
                    + SF.col("__rep").cast("long") * SF.lit(10_000_000),
                )
                .withColumn(
                    "text",
                    SF.concat(
                        SF.col("__rep").cast("string"),
                        SF.lit(" "),
                        SF.col("text"),
                    ),
                )
                .drop("__rep")
            )
            return d_batch, d_hist

        gram_store = tempfile.mkdtemp(prefix="gram300_")
        gram_scratch = tempfile.mkdtemp(prefix="gram300_scratch_")
        try:
            # compacted store: ONE pre-aggregated (gram, n) table — the
            # periodic-compaction steady state; the per-batch read is then
            # a pure scan (no store-wide re-aggregation on the ingest path)
            _, d_hist0 = doc_frames(900)
            (
                dd._positional_grams(d_hist0, "text", "doc_id", 4)
                .groupBy("gram")
                .agg(SF.count(SF.lit(1)).alias("n"))
                .write.mode("overwrite")
                .parquet(gram_store)
            )

            def full_span(rep: int):
                d_batch, d_hist = doc_frames(100 + rep)
                dd.duplicated_span_stats(
                    d_hist.unionByName(d_batch), "text", "doc_id", k=4
                ).write.format("noop").mode("overwrite").save()

            def inc_span(rep: int):
                d_batch, _ = doc_frames(200 + rep)
                store = spark.read.parquet(gram_store)
                caches: list = []
                span_stats, partials = dd.incremental_duplicated_spans(
                    d_batch, store, "text", "doc_id", k=4,
                    store_update="batch", cache_into=caches,
                )
                span_stats.write.format("noop").mode("overwrite").save()
                partials.write.mode("append").parquet(f"{gram_scratch}/rep{rep}")
                for c in caches:
                    c.unpersist()

            timed_reps("span_full_1to300", full_span, nreps=2, warm=False)
            timed_reps("span_incremental_1to300", inc_span, nreps=3, warm=True)
        finally:
            shutil.rmtree(gram_store, ignore_errors=True)
            shutil.rmtree(gram_scratch, ignore_errors=True)

        # --- minhash near-dup (1:300, planted corpus) -----------------
        # Plant-style generated corpus (see the function docstring): per-
        # doc MinHash cost scales with DISTINCT shingles (the kernel
        # dedupes shingles before hashing), so the ~13-distinct-shingle
        # synthetic docs understate the full path's re-hash bill by ~100x
        # vs a real page. Each planted doc carries MH_TOKENS unique ~25-
        # char tokens (a deterministic function of a per-doc seed); every
        # 10th doc also plants a near-duplicate copy (same seed, 3 junk
        # tokens appended) under id+1_000_000 so the banded join has true
        # positives. History replicas weave the replica index into EVERY
        # token — disjoint shingle sets, so replicas can't pair with the
        # batch (near-dup replicas would quadratically inflate the banded
        # buckets instead of measuring ingest cost).
        MH_TOKENS = 64
        mh_params = dict(num_hashes=16, shingle_n=3, bands=4, threshold=0.5)

        def mh_text(seed_col, junk: bool, rep_col=None):
            suffix = (
                SF.lit("_r") if rep_col is None
                else SF.concat(SF.lit("_r"), rep_col.cast("string"))
            )
            gen = SF.array_join(
                SF.transform(
                    SF.sequence(SF.lit(1), SF.lit(MH_TOKENS)),
                    lambda i: SF.concat(
                        SF.lit("tok"),
                        seed_col.cast("string"),
                        SF.lit("_"),
                        i.cast("string"),
                        SF.lit("_qwertyuiopasd"),
                        suffix,
                    ),
                ),
                " ",
            )
            return SF.concat(gen, SF.lit(" zA zB zC")) if junk else gen

        ids = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
        mh_seeds = spread(ids).select(SF.col("doc_id").cast("long").alias("doc_id"))
        seed_of = SF.pmod(SF.col("doc_id"), SF.lit(1_000_000))

        def mh_frames(salt: int):
            seeds = salted(mh_seeds, "doc_id", salt)
            copies = seeds.filter(SF.col("doc_id") % 10 == 0).select(
                (SF.col("doc_id") + SF.lit(1_000_000)).alias("doc_id")
            )
            corpus_ids = seeds.unionByName(copies)
            batch = corpus_ids.filter(SF.col("doc_id") % 10 == 0).select(
                "doc_id",
                SF.when(
                    SF.col("doc_id") >= 1_000_000,
                    mh_text(seed_of, junk=True),
                ).otherwise(mh_text(seed_of, junk=False)).alias("text"),
            )
            hist = corpus_ids.withColumn(
                "__rep", SF.explode(rep_array(30))
            ).select(
                (
                    SF.col("doc_id")
                    + SF.col("__rep").cast("long") * SF.lit(10_000_000)
                ).alias("doc_id"),
                SF.when(
                    SF.col("doc_id") >= 1_000_000,
                    mh_text(seed_of, junk=True, rep_col=SF.col("__rep")),
                ).otherwise(
                    mh_text(seed_of, junk=False, rep_col=SF.col("__rep"))
                ).alias("text"),
            )
            return batch, hist

        sig_store = tempfile.mkdtemp(prefix="mh300_")
        sig_scratch = tempfile.mkdtemp(prefix="mh300_scratch_")
        comp_store = tempfile.mkdtemp(prefix="csplit300_")
        csplit_scratch = tempfile.mkdtemp(prefix="csplit300_scratch_")
        try:
            empty = spark.createDataFrame(
                [], "doc long, minhash array<bigint>, band int, key string"
            )
            caches: list = []
            _, mh_hist0 = mh_frames(900)
            hist_pairs0, hist_banded = dd.incremental_minhash_near_duplicates(
                mh_hist0, empty, "text", "doc_id", cache_into=caches, **mh_params
            )
            hist_banded.write.mode("overwrite").parquet(sig_store)
            # component store for the cluster-split family below — built
            # from the SAME history pass while its caches are still alive
            graphop.connected_components(
                hist_pairs0.select("id_a", "id_b")
            ).write.mode("overwrite").parquet(comp_store)
            for c in caches:
                c.unpersist()

            def full_mh(rep: int):
                mh_batch, mh_hist = mh_frames(100 + rep)
                dd.minhash_near_duplicates(
                    mh_hist.unionByName(mh_batch), "text", "doc_id", **mh_params
                ).write.format("noop").mode("overwrite").save()

            def inc_mh(rep: int):
                mh_batch, _ = mh_frames(200 + rep)
                store = spark.read.parquet(sig_store)
                caches2: list = []
                fresh2: list = []
                pairs, _ = dd.incremental_minhash_near_duplicates(
                    mh_batch, store, "text", "doc_id",
                    cache_into=caches2, fresh_into=fresh2, **mh_params,
                )
                pairs.write.format("noop").mode("overwrite").save()
                # fresh rows only — NOT the full updated store (r9 advice:
                # appending store ∪ fresh wrote ~store-size bytes per batch)
                fresh2[0].write.mode("append").parquet(f"{sig_scratch}/rep{rep}")
                for c in caches2:
                    c.unpersist()

            timed_reps("minhash_full_1to300", full_mh, nreps=2, warm=False)
            timed_reps("minhash_incremental_1to300", inc_mh, nreps=3, warm=True)

            # --- cluster-keyed split assignment (1:300) ----------------
            # The end-to-end ingest the catalog's
            # split_cluster_assign_incremental models: the HEADLINE entry
            # times history-build + batch in one call (the correctness
            # frame the driver hashes), which is why it reads slower than
            # the full path there; THIS entry measures the production
            # shape — banded signature store AND (node, component) label
            # store prebuilt on disk, per-batch cost = batch signatures
            # vs streamed store + CC over {batch pairs} ∪ {forest labels}
            # + the split projection + the two store updates. Rides the
            # minhash family's generated corpus (true-positive planted
            # near-dups) with disjoint salt ranges.
            def _csplit_assign(corpus, comp):
                keyed = corpus.join(
                    SF.broadcast(comp),
                    corpus["doc_id"] == comp["node"],
                    "left",
                ).withColumn(
                    "cluster",
                    SF.coalesce(SF.col("component"), SF.col("doc_id")),
                )
                return cur.split_assign(
                    keyed, SF.col("cluster"), llmq.SPLIT_WEIGHTS
                ).select("doc_id", "cluster", "split")

            def full_csplit(rep: int):
                mh_batch, mh_hist = mh_frames(300 + rep)
                corpus = mh_hist.unionByName(mh_batch)
                pairs = dd.minhash_near_duplicates(
                    corpus, "text", "doc_id", **mh_params
                )
                comp = graphop.connected_components(
                    pairs.select("id_a", "id_b")
                )
                _csplit_assign(corpus, comp).write.format("noop").mode(
                    "overwrite"
                ).save()

            def inc_csplit(rep: int):
                mh_batch, _ = mh_frames(400 + rep)
                store = spark.read.parquet(sig_store)
                comps = spark.read.parquet(comp_store)
                caches3: list = []
                fresh3: list = []
                pairs, _ = dd.incremental_minhash_near_duplicates(
                    mh_batch, store, "text", "doc_id",
                    cache_into=caches3, fresh_into=fresh3, **mh_params,
                )
                comp = graphop.incremental_components(
                    pairs.select("id_a", "id_b"), comps
                )
                _csplit_assign(mh_batch, comp).write.format("noop").mode(
                    "overwrite"
                ).save()
                # store updates a real ingest pays: fresh signature rows
                # + the refreshed pair-bounded label table
                fresh3[0].write.mode("append").parquet(
                    f"{csplit_scratch}/sig_rep{rep}"
                )
                comp.write.mode("overwrite").parquet(
                    f"{csplit_scratch}/comp_rep{rep}"
                )
                for c in caches3:
                    c.unpersist()

            timed_reps(
                "clustersplit_full_1to300", full_csplit, nreps=2, warm=False
            )
            timed_reps(
                "clustersplit_incremental_1to300", inc_csplit, nreps=3,
                warm=True,
            )
        finally:
            shutil.rmtree(sig_store, ignore_errors=True)
            shutil.rmtree(sig_scratch, ignore_errors=True)
            shutil.rmtree(comp_store, ignore_errors=True)
            shutil.rmtree(csplit_scratch, ignore_errors=True)

        # --- perceptual hash near-dup (1:100) -------------------------
        # JPEG payloads (Huffman + IDCT decode) rather than PNG: per-image
        # decode cost is the asymmetry this contract measures (the store is
        # 16 bytes/image regardless of codec), and JPEG is what a real
        # image corpus stores — PNG's cheap zlib-inflate understates the
        # full path's re-decode bill. R=10 here: decode cost already
        # dominates the full side at 1:100.
        docs_ids = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id"
        )

        def ph_media(salt: int):
            base = salted(docs_ids, "doc_id", salt)
            ids_batch = base.filter(SF.col("doc_id") % 10 == 0)
            ids_hist = base.withColumn(
                "__rep", SF.explode(rep_array(10))
            ).select(
                (
                    SF.col("doc_id")
                    + SF.col("__rep").cast("long") * SF.lit(10_000_000)
                ).alias("doc_id")
            )
            return (
                mmod.plant_phash_corpus(ids_batch, "doc_id", codec="jpeg"),
                mmod.plant_phash_corpus(ids_hist, "doc_id", codec="jpeg"),
            )

        ph_store = tempfile.mkdtemp(prefix="ph100_")
        ph_scratch = tempfile.mkdtemp(prefix="ph100_scratch_")
        ph_media_dir = tempfile.mkdtemp(prefix="ph100_media_")
        try:
            m_batch0, m_hist0 = ph_media(900)
            mmod.phash_batch(m_hist0).select(
                "media_id", "h_hi", "h_lo"
            ).write.mode("overwrite").parquet(ph_store)
            # media corpus written ONCE, untimed (r16): payload
            # GENERATION (raster synth + JPEG encode, ~40% of the old
            # in-band wall) is bench scaffolding, not the contract — a
            # real full recompute scans stored image bytes and pays
            # decode. The timed sides below scan these parquet bytes;
            # reps salt an always-true filter above the scan so every
            # shuffle stage stays canonically distinct per rep.
            m_hist0.unionByName(m_batch0).write.mode("overwrite").parquet(
                f"{ph_media_dir}/full"
            )
            m_batch0.write.mode("overwrite").parquet(f"{ph_media_dir}/batch")

            def ph_scan(kind: str, salt: int):
                return spread(
                    spark.read.parquet(f"{ph_media_dir}/{kind}")
                ).filter(SF.col("media_id") != SF.lit(-(salt + 2)))

            def full_ph(rep: int):
                mmod.phash_hamming_pairs(
                    mmod.phash_batch(ph_scan("full", 100 + rep)).select(
                        "media_id", "h_hi", "h_lo"
                    )
                ).write.format("noop").mode("overwrite").save()

            def inc_ph(rep: int):
                m_batch = ph_scan("batch", 200 + rep)
                store = spark.read.parquet(ph_store)
                caches3: list = []
                fresh3: list = []
                pairs, _ = mmod.incremental_phash_near_duplicates(
                    mmod.phash_batch(m_batch).select(
                        "media_id", "h_hi", "h_lo"
                    ),
                    store,
                    cache_into=caches3,
                    fresh_into=fresh3,
                )
                pairs.write.format("noop").mode("overwrite").save()
                # fresh rows from the PERSISTED banded batch (fresh_into) —
                # pre-r10 this re-ran the whole decode+hash pass
                fresh3[0].write.mode("append").parquet(f"{ph_scratch}/rep{rep}")
                for c in caches3:
                    c.unpersist()

            timed_reps("phash_full_1to100", full_ph, nreps=2, warm=False)
            # stage decomposition (VERDICT r15 #4): the Arrow band
            # verify measured ~2x faster in isolation while the in-band
            # total ROSE — time the decode+hash stage alone (fresh
            # salt, same frames) so the entry's wall splits into
            # decode vs pair-verify in the artifact and a mover is
            # attributed to the right stage (or to weather) in-band.
            # The split is MIN over the same rep budget as the entry,
            # taken in the immediately adjacent weather window, so the
            # published decomposition is coherent with the kept min
            # (VERDICT r16 #5: a single-shot split from a different
            # window exceeded the entry's own total)
            def ph_decode_only(rep: int):
                mmod.phash_batch(ph_scan("full", 400 + rep)).select(
                    "media_id", "h_hi", "h_lo"
                ).write.format("noop").mode("overwrite").save()

            dec_vals = []
            for dr in range(2):
                t0 = time.perf_counter()
                ph_decode_only(dr)
                dec_vals.append(round(time.perf_counter() - t0, 3))
            stats.setdefault("phash_full_1to100", {})[
                "decode_hash_sec"
            ] = min(dec_vals)
            timed_reps("phash_incremental_1to100", inc_ph, nreps=3, warm=True)
        finally:
            shutil.rmtree(ph_store, ignore_errors=True)
            shutil.rmtree(ph_scratch, ignore_errors=True)
            shutil.rmtree(ph_media_dir, ignore_errors=True)

        # --- semantic (SemDeDup, 1:100) -------------------------------
        emb = spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
        sd_cent = emb.filter(
            SF.col("vec_id") < llmq.SEMDEDUP_NCLUSTERS
        ).select(SF.col("vec_id").alias("cid"), SF.col("embedding").alias("cv"))

        def sd_frames(salt: int):
            base = salted(emb, "vec_id", salt)
            e_batch = base.filter(SF.col("vec_id") % 10 == 0).select(
                "vec_id", "embedding"
            )
            dim = SF.size(SF.col("embedding"))
            e_hist = base.withColumn("__rep", SF.explode(rep_array(10))).select(
                (
                    SF.col("vec_id")
                    + SF.col("__rep").cast("long") * SF.lit(10_000_000)
                ).alias("vec_id"),
                SF.concat(
                    SF.slice(
                        SF.col("embedding"),
                        SF.col("__rep") + SF.lit(1),
                        dim - SF.col("__rep"),
                    ),
                    SF.slice(SF.col("embedding"), SF.lit(1), SF.col("__rep")),
                ).alias("embedding"),
            )
            return e_batch, e_hist

        sd_store = tempfile.mkdtemp(prefix="sd100_")
        sd_scratch = tempfile.mkdtemp(prefix="sd100_scratch_")
        try:
            _, e_hist0 = sd_frames(900)
            simod.ivf_assign(
                e_hist0, sd_cent, centroid_id="cid", centroid_vec="cv"
            ).write.mode("overwrite").parquet(sd_store)

            def full_sd(rep: int):
                e_batch, e_hist = sd_frames(100 + rep)
                simod.semdedup_pairs(
                    simod.ivf_assign(
                        e_hist.unionByName(e_batch),
                        sd_cent,
                        centroid_id="cid",
                        centroid_vec="cv",
                    ),
                    threshold=llmq.SEMDEDUP_THRESHOLD,
                    max_cluster=llmq.SEMDEDUP_MAX_CLUSTER,
                ).write.format("noop").mode("overwrite").save()

            def inc_sd(rep: int):
                e_batch, _ = sd_frames(200 + rep)
                store = spark.read.parquet(sd_store)
                caches4: list = []
                fresh4: list = []
                pairs, _ = simod.incremental_semdedup_pairs(
                    e_batch,
                    store,
                    sd_cent,
                    threshold=llmq.SEMDEDUP_THRESHOLD,
                    nsplits=llmq.SEMDEDUP_INC_NSPLITS,
                    cache_into=caches4,
                    fresh_into=fresh4,
                )
                pairs.write.format("noop").mode("overwrite").save()
                # fresh rows from the PERSISTED assigned batch (fresh_into)
                # — pre-r10 this re-ran the codebook assignment
                fresh4[0].write.mode("append").parquet(f"{sd_scratch}/rep{rep}")
                for c in caches4:
                    c.unpersist()

            timed_reps("semdedup_full_1to100", full_sd, nreps=2, warm=False)
            timed_reps("semdedup_incremental_1to100", inc_sd, nreps=3, warm=True)
        finally:
            shutil.rmtree(sd_store, ignore_errors=True)
            shutil.rmtree(sd_scratch, ignore_errors=True)

        # --- ANN index maintenance (IVF-PQ postings, 1:100) -----------
        # The index (list id + residual PQ codes per vector) is a pure
        # function of the vector under static geometry, so ingest is
        # append-only: full twin re-encodes history ∪ batch every
        # "ingest"; incremental encodes only the batch after a
        # batch_minus_store probe of the posting store. Same 1:100
        # embedding shape as the SemDeDup family (sd_frames).
        from pyspark_data_processing_challenge_spark.queries import (
            advanced as advq,
        )

        iv_cent = emb.filter(SF.col("vec_id") < 8).select(
            SF.col("vec_id").alias("cid"), SF.col("embedding").alias("cv")
        )
        iv_cb = simod.pq_subvectors(
            simod.ivf_residuals(
                simod.ivf_assign(
                    emb.filter(
                        (SF.col("vec_id") >= 8)
                        & (SF.col("vec_id") < 8 + advq.PQ_NCODES)
                    ),
                    iv_cent,
                    centroid_id="cid",
                    centroid_vec="cv",
                ),
                iv_cent,
            ),
            vec_col="rvec",
            id_col="doc",
            m=advq.PQ_M,
            dsub=advq.PQ_DSUB,
        ).select(
            "s", (SF.col("id") - 8).alias("j"), SF.col("sv").alias("cv")
        )
        iv_empty = spark.createDataFrame([], "doc long")
        iv_store = tempfile.mkdtemp(prefix="iv100_")
        iv_scratch = tempfile.mkdtemp(prefix="iv100_scratch_")
        try:
            _, iv_hist0 = sd_frames(901)
            simod.incremental_ivfpq_postings(
                iv_hist0, iv_empty, iv_cent, iv_cb,
                m=advq.PQ_M, dsub=advq.PQ_DSUB,
            ).write.mode("overwrite").parquet(iv_store)

            def full_iv(rep: int):
                e_batch, e_hist = sd_frames(110 + rep)
                simod.incremental_ivfpq_postings(
                    e_hist.unionByName(e_batch), iv_empty, iv_cent, iv_cb,
                    m=advq.PQ_M, dsub=advq.PQ_DSUB,
                ).write.format("noop").mode("overwrite").save()

            def inc_iv(rep: int):
                e_batch, _ = sd_frames(210 + rep)
                store = spark.read.parquet(iv_store).select("doc")
                caches5: list = []
                fresh5 = simod.incremental_ivfpq_postings(
                    e_batch, store, iv_cent, iv_cb,
                    m=advq.PQ_M, dsub=advq.PQ_DSUB,
                    cache_into=caches5,
                )
                fresh5.write.mode("append").parquet(f"{iv_scratch}/rep{rep}")
                for c in caches5:
                    c.unpersist()

            timed_reps("ivfpq_full_1to100", full_iv, nreps=2, warm=False)
            timed_reps("ivfpq_incremental_1to100", inc_iv, nreps=3, warm=True)
            # the verdict's asked-for ingest throughput, derived from
            # the measured min (batch size is salt-independent)
            iv_batch_rows = sd_frames(0)[0].count()
            # max(…, 1e-3): record() rounds to 3 dp, so a sub-ms min
            # would otherwise divide by zero and abort the whole bench
            stats.setdefault("ivfpq_incremental_1to100", {})[
                "rows_per_sec"
            ] = round(
                iv_batch_rows / max(times["ivfpq_incremental_1to100"], 1e-3), 1
            )
        finally:
            shutil.rmtree(iv_store, ignore_errors=True)
            shutil.rmtree(iv_scratch, ignore_errors=True)

    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)


SCALING_SMALL_DIR = "/root/testdata/sf0.01"
SCALING_FLAG_EXPONENT = 1.2


def _bench_scaling(
    spark, sf_dir: str, sf: float, big_times: dict, gate: _QuietGate | None = None
) -> dict:
    """Empirical scale-curve evidence (VERDICT r12 #7): re-run the
    salted ingest-ratio families at sf0.01 in the SAME session and
    record the measured scaling exponent k per family, where
    t ∝ n^k  ⇒  k = log(t_large/t_small) / log(n_large/n_small).
    The tables scale linearly with sf, so n_ratio = sf/0.01. Families
    are the *_full_* comparators AND their incremental twins — the
    production claim is that both stay ~linear (k ≲ 1), and any
    k > {SCALING_FLAG_EXPONENT} is flagged instead of narrated away.
    Caveats recorded, not hidden: at these corpus sizes fixed job
    overhead deflates k (a 0.3 s job floor at sf0.01 makes a linear
    family look sublinear), so k meaningfully bounds blowup from
    ABOVE — the flag list is the signal, tiny k is not a brag. Must
    run BEFORE the large-scale times are overwritten by headline
    entries (big_times holds only ingest entries at call time)."""
    if not os.path.isdir(SCALING_SMALL_DIR) or sf <= 0.01:
        return {}
    n_ratio = sf / 0.01
    fam_large = dict(big_times)  # ingest-family entries only, by contract
    small_times: dict[str, float] = {}
    small_stats: dict[str, dict] = {}
    _bench_ingest_ratio(
        spark, SCALING_SMALL_DIR, small_times, small_stats, {}, gate=gate
    )
    families: dict[str, dict] = {}
    flagged: list[str] = []
    for name, t_small in sorted(small_times.items()):
        t_large = fam_large.get(name)
        if t_large is None or t_small <= 0 or t_large <= 0:
            continue
        k = math.log(t_large / t_small) / math.log(n_ratio)
        families[name] = {
            "t_small": t_small,
            "t_large": t_large,
            "exponent": round(k, 3),
        }
        if k > SCALING_FLAG_EXPONENT:
            flagged.append(name)
    return {
        "sf_small": 0.01,
        "sf_large": sf,
        "n_ratio": n_ratio,
        "families": families,
        "flagged": flagged,
    }


# catalog queries whose scale curve the scaling section also reports
# (VERDICT r13 #8): the kNN-graph/SNN and filtered-ANN families. Their
# LARGE-side time is the headline min (they are HEADLINE entries), so
# this pass runs after the headline loop and only times the small side.
# Value = small-side rep count (r14 advice: a single-shot t_small on a
# 5-10x-swinging host can flag a spurious exponent). The kNN pair reps
# 3x with min — after _util.reset each rep rebuilds through a FRESH
# localCheckpoint, so its plan is canonically distinct and immune to
# this build's cross-execution shuffle-stage reuse. The ivf_filtered
# pair stays single-shot: its plan is purely declarative (no
# checkpoint, no external salt hook), so a second identical run would
# read the first run's shuffle files and report a reuse-deflated
# t_small (inflating the exponent); it relies on the quiet gate
# instead.
SCALING_CATALOG = {
    "embedding_knn_graph": 3,
    "embedding_snn_clusters": 3,
    "ivf_filtered_topk": 1,
    "ivf_filtered_adaptive_topk": 1,
}


def _bench_scaling_catalog(
    spark, sf: float, times: dict, scaling: dict, gate: _QuietGate | None = None
) -> None:
    """Append measured exponents for SCALING_CATALOG to the scaling
    section: t_large from the headline min at sf_dir, t_small from the
    min of its rep budget at SCALING_SMALL_DIR, every rep starting
    from ``_util.reset(spark)`` like run_once (no memoized build-time
    state, no persisted frames), behind the shared quiet gate. Same
    flag-if > {SCALING_FLAG_EXPONENT} rule; same fixed-overhead
    caveat — k bounds blowup from above."""
    if not scaling or not os.path.isdir(SCALING_SMALL_DIR) or sf <= 0.01:
        return
    import __spark_entry__ as entrymod

    gate = gate or _QuietGate()
    qs = entrymod.queries()
    n_ratio = sf / 0.01
    for name, nreps in SCALING_CATALOG.items():
        t_large = times.get(name)
        if not t_large or t_large <= 0:
            continue
        evidence = gate.wait()
        vals = []
        for _ in range(nreps):
            _util.reset(spark)
            t0 = time.perf_counter()
            qs[name](spark, SCALING_SMALL_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            vals.append(round(time.perf_counter() - t0, 3))
        t_small = min(vals)
        if t_small <= 0:
            continue
        k = math.log(t_large / t_small) / math.log(n_ratio)
        scaling["families"][name] = {
            "t_small": t_small,
            "t_large": t_large,
            "exponent": round(k, 3),
            "small_reps": len(vals),
            **evidence,
        }
        if k > SCALING_FLAG_EXPONENT:
            scaling["flagged"].append(name)


def _two_point_solve(
    rows1: float, ms1: float, rows2: float, ms2: float
) -> dict | None:
    """Solve t_epoch = fixed + rows·marginal from two steady-epoch
    points; pure so the clamp contract is unit-testable. Marginal and
    fixed costs are clamped at 0 (a negative per-row cost is physically
    meaningless — it means host noise beat the row spread), and the raw
    points are returned beside them so a reader can diagnose a clamped
    solve instead of trusting it blindly (VERDICT r15 #6)."""
    if rows2 <= rows1:
        return None
    marg_ms_per_row = max(0.0, (ms2 - ms1) / (rows2 - rows1))
    fixed_ms = max(0.0, ms1 - rows1 * marg_ms_per_row)
    return {
        "epoch_fixed_ms": round(fixed_ms, 1),
        "row_us": round(marg_ms_per_row * 1000.0, 3),
        "2pt_rows1": round(rows1, 1),
        "2pt_ms1": round(ms1, 1),
        "2pt_rows2": round(rows2, 1),
        "2pt_ms2": round(ms2, 1),
    }


def _bench_streaming(spark, sf_dir: str) -> dict:
    """Micro-batch cost of the stateful streaming surfaces: the
    applyInPandasWithState funnel (sticky-flag AND watermark-buffered
    forms — their delta is the price of out-of-order correctness), the
    cross-batch dedup-ingest sink, and the CMS sketch-at-ingest sink,
    each driven over 4 event-time-ordered micro-batches of the events
    table. Reports wall, rows/s, mean per-epoch trigger time, and a
    STEADY-STATE rows/s over epochs >= 1 from StreamingQueryProgress —
    epoch 0 pays one-time whole-stage-codegen compilation of the epoch
    plans (~3 s for the semdedup sink), which amortizes to zero in a
    long-lived deployment but is ~40% of a 4-epoch toy run's wall.
    foreachBatch sink OBJECTS are constructed outside the timed window
    (they are stream-lifetime amortized state — the semdedup sink's
    codebook collect is a one-time Spark job)."""
    import glob
    import shutil
    import tempfile

    from pyspark.sql import functions as SF

    from pyspark_data_processing_challenge_spark.queries._util import events_table
    from pyspark_data_processing_challenge_spark.streaming import events as sev

    ev = events_table(spark, sf_dir).select("user_id", "ts", "event_type")
    n_rows = ev.count()
    tmp = tempfile.mkdtemp(prefix="stream_bench_")
    out: dict[str, float] = {}
    try:
        import os as _os

        def chunked_src(df, key: str, nchunks: int, dest: str) -> str:
            """Write df as nchunks single-file parquets under dest,
            split at key-percentile boundaries (ordered, so planted
            cross-chunk relationships land in different epochs).
            Streams read it with maxFilesPerTrigger = one chunk per
            micro-batch."""
            _os.makedirs(dest)
            fracs = ", ".join(
                str(i / nchunks) for i in range(1, nchunks)
            )
            bounds = df.selectExpr(
                f"percentile(cast({key} as double), array({fracs})) p"
            ).first().p
            kd = SF.col(key).cast("double")
            lows = [None] + list(bounds)
            highs = list(bounds) + [None]
            for i, (lo, hi) in enumerate(zip(lows, highs)):
                cond = SF.lit(True)
                if lo is not None:
                    cond = cond & (kd > lo)
                if hi is not None:
                    cond = cond & (kd <= hi)
                stage = f"{dest}_stage{i}"
                df.filter(cond).coalesce(1).write.parquet(stage)
                shutil.copy(
                    glob.glob(f"{stage}/part-*.parquet")[0],
                    f"{dest}/{i:02d}.parquet",
                )
            return dest

        src = chunked_src(ev, "ts", 4, f"{tmp}/src")

        def run(name: str, start_query, rows: int | None = None):
            t0 = time.perf_counter()
            q = start_query()
            q.processAllAvailable()
            progress = list(q.recentProgress)
            q.stop()
            wall = time.perf_counter() - t0
            epochs = [
                p for p in progress if p["numInputRows"] and p["numInputRows"] > 0
            ]
            trig = [p["durationMs"]["triggerExecution"] for p in epochs]
            out[f"{name}_wall_sec"] = round(wall, 3)
            out[f"{name}_rows_per_sec"] = round((rows or n_rows) / wall, 1)
            out[f"{name}_epochs"] = len(epochs)
            out[f"{name}_epoch_ms_avg"] = (
                round(sum(trig) / len(trig), 1) if trig else None
            )
            # steady state = epochs after the first (epoch 0 carries
            # one-time codegen compile; see the function docstring)
            steady = epochs[1:]
            srows = sum(p["numInputRows"] for p in steady)
            sms = sum(p["durationMs"]["triggerExecution"] for p in steady)
            if sms > 0:
                out[f"{name}_rows_per_sec_steady"] = round(
                    srows / (sms / 1000.0), 1
                )

        def _steady_best(start_query) -> tuple[float, float] | None:
            """(rows, trigger_ms) of the MIN-trigger steady epoch of one
            stream run — min is the bench's standard de-noiser; a mean
            over epochs inherited one noisy epoch and pushed the
            two-point solve negative twice."""
            q = start_query()
            q.processAllAvailable()
            progress = list(q.recentProgress)
            q.stop()
            epochs = [
                p for p in progress if p["numInputRows"] and p["numInputRows"] > 0
            ]
            steady = epochs[1:]
            if not steady:
                return None
            best = min(
                steady, key=lambda p: p["durationMs"]["triggerExecution"]
            )
            return (
                float(best["numInputRows"]),
                float(best["durationMs"]["triggerExecution"]),
            )

        def two_point(name: str, make_query):
            """Fixed-vs-marginal epoch cost (VERDICT r12 #4, row-spread
            + clamp per VERDICT r15 #6): split t_epoch = fixed +
            rows·marginal from two DEDICATED runs of the same sink
            family over the 8-chunk source — pass A at
            maxFilesPerTrigger=1 (steady epoch ~n/8 rows, 7 steady
            samples) and pass B at maxFilesPerTrigger=4 (steady epoch
            ~n/2 rows), a ~4x row spread so the slope resolves above
            the ~1-2 s fixed epoch overhead (r15's 188-vs-375-row
            points could not). Both points use STEADY epochs only, so
            one-time codegen compile cancels out of the solve; fresh
            sinks + stores + checkpoints per pass keep the per-epoch
            work identical in kind. ``make_query(mfpt, tag)`` must
            return a started query with pass-unique state dirs. Host
            noise can still push the raw solve negative — the
            published marginal/fixed costs are clamped at 0 (a
            negative per-row cost is physically meaningless) and the
            raw points land beside them for diagnosis."""
            pts = []
            for mfpt, tag in ((1, "a"), (4, "b")):
                best = _steady_best(lambda: make_query(mfpt, tag))
                if best is None:
                    return
                pts.append(best)
            (rows1, ms1), (rows2, ms2) = pts
            solved = _two_point_solve(rows1, ms1, rows2, ms2)
            if solved is None:
                return
            for k, v in solved.items():
                out[f"{name}_{k}"] = v

        def stream():
            return (
                spark.readStream.schema(
                    "user_id long, ts timestamp, event_type string"
                )
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )

        run(
            "funnel",
            lambda: (
                sev.funnel_state(stream())
                .writeStream.format("noop")
                .outputMode("update")
                .option("checkpointLocation", f"{tmp}/ck_funnel")
                .start()
            ),
        )
        run(
            "funnel_buffered",
            lambda: (
                sev.funnel_state_buffered(
                    stream().withWatermark("ts", "1 hour")
                )
                .writeStream.format("noop")
                .outputMode("update")
                .option("checkpointLocation", f"{tmp}/ck_funnel_buf")
                .start()
            ),
        )
        run(
            "dedup_ingest",
            lambda: (
                stream()
                .writeStream.foreachBatch(
                    sev.dedup_ingest_sink(f"{tmp}/ingest_out", f"{tmp}/fp_store")
                )
                .option("checkpointLocation", f"{tmp}/ck_ingest")
                .start()
            ),
        )
        run(
            "cms_ingest",
            lambda: (
                stream()
                .writeStream.foreachBatch(
                    sev.cms_ingest_sink(f"{tmp}/cms_store")
                )
                .option("checkpointLocation", f"{tmp}/ck_cms")
                .start()
            ),
        )

        # SemDeDup-at-ingest: embedding micro-batches pair against the
        # persisted assignment store. Range-chunked by vec_id (a
        # modulus chunking would align with the id % nsplits sub-split
        # and erase cross-batch pairs — see the twin test).
        from pyspark_data_processing_challenge_spark.queries import (
            llm as llmq2,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n_emb = emb.count()
        esrc = chunked_src(emb, "vec_id", 4, f"{tmp}/esrc")
        # 8-chunk twin for the two-point row-spread (VERDICT r15 #6)
        esrc8 = chunked_src(emb, "vec_id", 8, f"{tmp}/esrc8")
        sd_cent = emb.filter(
            SF.col("vec_id") < llmq2.SEMDEDUP_NCLUSTERS
        ).select(
            SF.col("vec_id").alias("cid"), SF.col("embedding").alias("cv")
        )
        # sink built OUTSIDE the timer: the codebook collect + UDF bake
        # are stream-lifetime amortized state, not per-run cost
        sd_sink = sev.semdedup_ingest_sink(
            f"{tmp}/sd_out",
            sd_cent,
            threshold=llmq2.SEMDEDUP_THRESHOLD,
            nsplits=llmq2.SEMDEDUP_INC_NSPLITS,
        )
        run(
            "semdedup_ingest",
            lambda: (
                spark.readStream.schema(sev.EMB_STREAM_SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .parquet(esrc)
                .writeStream.foreachBatch(sd_sink)
                .option("checkpointLocation", f"{tmp}/ck_sd")
                .start()
            ),
            rows=n_emb,
        )

        # IVF-PQ-index-at-ingest: the same embedding micro-batches
        # maintain the ANN posting store (fused assign→residual→encode
        # kernel + batch_minus_store replay guard). Static codebooks
        # collected at sink construction — outside the timer.
        from pyspark_data_processing_challenge_spark.operators import (
            similarity as simod2,
        )
        from pyspark_data_processing_challenge_spark.queries import (
            advanced as advq2,
        )

        iv_cent2 = emb.filter(SF.col("vec_id") < 8).select(
            SF.col("vec_id").alias("cid"), SF.col("embedding").alias("cv")
        )
        iv_cb2 = simod2.pq_subvectors(
            simod2.ivf_residuals(
                simod2.ivf_assign(
                    emb.filter(
                        (SF.col("vec_id") >= 8) & (SF.col("vec_id") < 24)
                    ),
                    iv_cent2,
                    centroid_id="cid",
                    centroid_vec="cv",
                ),
                iv_cent2,
            ),
            vec_col="rvec",
            id_col="doc",
            m=advq2.PQ_M,
            dsub=advq2.PQ_DSUB,
        ).select(
            "s", (SF.col("id") - 8).alias("j"), SF.col("sv").alias("cv")
        )
        iv_sink = sev.ivfpq_ingest_sink(
            f"{tmp}/iv_out", iv_cent2, iv_cb2,
            m=advq2.PQ_M, dsub=advq2.PQ_DSUB,
        )
        run(
            "ivfpq_ingest",
            lambda: (
                spark.readStream.schema(sev.EMB_STREAM_SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .parquet(esrc)
                .writeStream.foreachBatch(iv_sink)
                .option("checkpointLocation", f"{tmp}/ck_iv")
                .start()
            ),
            rows=n_emb,
        )

        # PCA-moments-at-ingest: the same embedding micro-batches keep
        # the covariance moment store current (exact int64 partials,
        # epoch-overwrite idempotent) — the streaming face of the
        # embedding_top_pc family.
        pca_sink = sev.pca_moments_ingest_sink(f"{tmp}/pca_store")
        run(
            "pca_moments_ingest",
            lambda: (
                spark.readStream.schema(sev.EMB_STREAM_SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .parquet(esrc)
                .writeStream.foreachBatch(pca_sink)
                .option("checkpointLocation", f"{tmp}/ck_pca")
                .start()
            ),
            rows=n_emb,
        )

        # cluster-split-at-ingest: document micro-batches (the
        # perturbed near-dup corpus, range-chunked so cross-batch pairs
        # exercise the signature store) maintain the banded signature +
        # spanning-forest label stores and emit per-batch split
        # assignments — the streaming face of split_cluster_assign.
        docs_pc = llmq2._perturbed_docs(spark, sf_dir)
        n_docs_pc = docs_pc.count()
        dsrc = chunked_src(docs_pc, "doc_id", 4, f"{tmp}/dsrc")
        dsrc8 = chunked_src(docs_pc, "doc_id", 8, f"{tmp}/dsrc8")
        cs_sink = sev.cluster_split_ingest_sink(
            f"{tmp}/cs_out", f"{tmp}/cs_store",
            num_hashes=llmq2.MH_HASHES, shingle_n=llmq2.MH_SHINGLE_N,
            bands=llmq2.MH_ND_BANDS, threshold=llmq2.MH_ND_THRESHOLD,
            weights=llmq2.SPLIT_WEIGHTS,
        )
        run(
            "cluster_split_ingest",
            lambda: (
                spark.readStream.schema(sev.DOCS_STREAM_SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .parquet(dsrc)
                .writeStream.foreachBatch(cs_sink)
                .option("checkpointLocation", f"{tmp}/ck_cs")
                .start()
            ),
            rows=n_docs_pc,
        )

        # Bloom-decontamination-at-ingest (VERDICT r14 #6): the same
        # document micro-batches screened through the static 16 KiB
        # filter, every doc committed once under kind={accept,
        # quarantine}. Word table built from the real documents table
        # and collected at sink construction — outside the timer
        # (stream-lifetime amortized, like the semdedup codebook).
        from pyspark_data_processing_challenge_spark.functions import (
            textfns as tfn2,
        )
        from pyspark_data_processing_challenge_spark.operators import (
            bloom as bloom2,
        )

        raw_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        bl_words = bloom2.build_bloom(
            llmq2._decon_bench(raw_docs)
            .select(
                SF.explode(
                    tfn2.shingles(SF.col("text"), n=llmq2.DECON_NGRAM)
                ).alias("g")
            )
            .distinct()
            .select(tfn2.char_hash(SF.col("g")).alias("gh")),
            "gh",
        )
        bl_sink = sev.bloom_decontam_ingest_sink(
            f"{tmp}/bl_out", bl_words, ngram_n=llmq2.DECON_NGRAM
        )
        run(
            "bloom_decontam_ingest",
            lambda: (
                spark.readStream.schema(sev.DOCS_STREAM_SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .parquet(dsrc)
                .writeStream.foreachBatch(bl_sink)
                .option("checkpointLocation", f"{tmp}/ck_bl")
                .start()
            ),
            rows=n_docs_pc,
        )

        # pHash-at-ingest: media micro-batches (REAL JPEG payloads,
        # each batch decodes once) maintain the 16-byte-per-image hash
        # store and emit near-dup pairs vs store + within batch. Range
        # chunks so planted copies pair across epochs.
        from pyspark_data_processing_challenge_spark.operators import (
            multimodal as mmod2,
        )

        media = mmod2.plant_phash_corpus(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id")
            .filter(SF.col("doc_id") % 10 == 0),
            "doc_id",
            codec="jpeg",
        )
        n_media = media.count()
        msrc = chunked_src(media, "media_id", 4, f"{tmp}/msrc")
        msrc8 = chunked_src(media, "media_id", 8, f"{tmp}/msrc8")
        run(
            "phash_ingest",
            lambda: (
                spark.readStream.schema(sev.MEDIA_STREAM_SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .parquet(msrc)
                .writeStream.foreachBatch(
                    sev.phash_ingest_sink(f"{tmp}/ph_out")
                )
                .option("checkpointLocation", f"{tmp}/ck_ph")
                .start()
            ),
            rows=n_media,
        )

        # fixed-vs-marginal epoch decompositions (VERDICT r12 #4 /
        # r15 #6): each sink family gets two dedicated passes over the
        # 8-chunk source (mFPT=1 vs 4 — a ~4x steady-row spread), with
        # fresh sinks/stores/checkpoints per pass keyed by the tag
        two_point(
            "pca_moments_ingest",
            lambda mfpt, tag: (
                spark.readStream.schema(sev.EMB_STREAM_SCHEMA)
                .option("maxFilesPerTrigger", str(mfpt))
                .parquet(esrc8)
                .writeStream.foreachBatch(
                    sev.pca_moments_ingest_sink(f"{tmp}/pca_store2{tag}")
                )
                .option("checkpointLocation", f"{tmp}/ck_pca2{tag}")
                .start()
            ),
        )
        sd_sinks2 = {
            tag: sev.semdedup_ingest_sink(
                f"{tmp}/sd_out2{tag}",
                sd_cent,
                threshold=llmq2.SEMDEDUP_THRESHOLD,
                nsplits=llmq2.SEMDEDUP_INC_NSPLITS,
            )
            for tag in ("a", "b")
        }
        two_point(
            "semdedup_ingest",
            lambda mfpt, tag: (
                spark.readStream.schema(sev.EMB_STREAM_SCHEMA)
                .option("maxFilesPerTrigger", str(mfpt))
                .parquet(esrc8)
                .writeStream.foreachBatch(sd_sinks2[tag])
                .option("checkpointLocation", f"{tmp}/ck_sd2{tag}")
                .start()
            ),
        )
        # ... and for the cluster-split sink (VERDICT r13 #6): its
        # epoch_ms_avg is the slowest of the sinks, and without the
        # fixed/marginal split a reader can't tell minhash work from
        # per-epoch store-replay overhead
        two_point(
            "cluster_split_ingest",
            lambda mfpt, tag: (
                spark.readStream.schema(sev.DOCS_STREAM_SCHEMA)
                .option("maxFilesPerTrigger", str(mfpt))
                .parquet(dsrc8)
                .writeStream.foreachBatch(
                    sev.cluster_split_ingest_sink(
                        f"{tmp}/cs_out2{tag}", f"{tmp}/cs_store2{tag}",
                        num_hashes=llmq2.MH_HASHES,
                        shingle_n=llmq2.MH_SHINGLE_N,
                        bands=llmq2.MH_ND_BANDS,
                        threshold=llmq2.MH_ND_THRESHOLD,
                        weights=llmq2.SPLIT_WEIGHTS,
                    )
                )
                .option("checkpointLocation", f"{tmp}/ck_cs2{tag}")
                .start()
            ),
        )
        # ... and for the Bloom screen sink (VERDICT r14 #6 asks for
        # the epoch decomposition explicitly): stateless, so each pass
        # only needs a fresh out dir + checkpoint
        bl_sinks2 = {
            tag: sev.bloom_decontam_ingest_sink(
                f"{tmp}/bl_out2{tag}", bl_words, ngram_n=llmq2.DECON_NGRAM
            )
            for tag in ("a", "b")
        }
        two_point(
            "bloom_decontam_ingest",
            lambda mfpt, tag: (
                spark.readStream.schema(sev.DOCS_STREAM_SCHEMA)
                .option("maxFilesPerTrigger", str(mfpt))
                .parquet(dsrc8)
                .writeStream.foreachBatch(bl_sinks2[tag])
                .option("checkpointLocation", f"{tmp}/ck_bl2{tag}")
                .start()
            ),
        )
        two_point(
            "phash_ingest",
            lambda mfpt, tag: (
                spark.readStream.schema(sev.MEDIA_STREAM_SCHEMA)
                .option("maxFilesPerTrigger", str(mfpt))
                .parquet(msrc8)
                .writeStream.foreachBatch(
                    sev.phash_ingest_sink(f"{tmp}/ph_out2{tag}")
                )
                .option("checkpointLocation", f"{tmp}/ck_ph2{tag}")
                .start()
            ),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    main()
