"""Contract test for bench.py's stdout format (VERDICT r06 item 1).

The external driver keeps only the last ~2,000 chars of bench.py's
stdout and json-parses the FINAL line. Round 6's single detail line
outgrew that window and the round recorded no bench at all
(BENCH_r06.json parsed: null). This pins the fix: the final line must
round-trip through json.loads and stay under bench.FINAL_LINE_BUDGET
no matter how large the headline set grows.
"""

from __future__ import annotations

import json

import bench


def _fake_times(n: int) -> dict[str, float]:
    # worst-case realistic names: long, and values with 3 decimals
    return {f"some_extremely_long_query_name_number_{i:04d}": i / 7.0 for i in range(n)}


def _fake_streaming() -> dict[str, float]:
    return {
        "funnel_wall_sec": 4.806,
        "funnel_rows_per_sec": 20805.7,
        "funnel_epochs": 4,
        "funnel_epoch_ms_avg": 1126.8,
        "dedup_ingest_wall_sec": 3.131,
        "dedup_ingest_rows_per_sec": 31939.1,
        "cms_ingest_rows_per_sec": 53318.0,
    }


def test_final_line_fits_driver_tail_and_round_trips():
    # current headline size, 3x it, and an absurd 500-query catalog:
    # the final line must stay bounded in every case
    for n in (len(bench.HEADLINE), 3 * len(bench.HEADLINE), 500):
        detail, final = bench.result_lines(_fake_times(n), _fake_streaming(), 0.1)
        assert len(final) <= bench.FINAL_LINE_BUDGET
        parsed = json.loads(final)
        assert parsed["metric"] == "headline_queries_total_wall"
        assert parsed["unit"] == "sec"
        assert parsed["n_queries"] == n
        assert isinstance(parsed["value"], float)
        # detail line carries the complete per-query map
        dparsed = json.loads(detail)
        assert len(dparsed["queries"]) == n
        assert dparsed["streaming"]["funnel_epochs"] == 4


def test_final_line_is_last_and_detail_first():
    lines = bench.result_lines(_fake_times(10), _fake_streaming(), 0.01)
    assert len(lines) == 2
    assert json.loads(lines[-1])["metric"] == "headline_queries_total_wall"
    assert json.loads(lines[0])["metric"] == "headline_queries_detail"


def test_final_line_queries_are_the_slowest():
    times = _fake_times(40)
    _, final = bench.result_lines(times, {}, 0.1)
    parsed = json.loads(final)
    top = sorted(times.values(), reverse=True)[: len(parsed["queries"])]
    assert sorted(parsed["queries"].values(), reverse=True) == top


def test_total_matches_sum_of_detail():
    times = _fake_times(25)
    detail, final = bench.result_lines(times, {}, 0.1)
    assert json.loads(final)["value"] == round(sum(times.values()), 3)


def test_stats_and_baselines_land_in_detail_only():
    # VERDICT r09 items 4+8: multi-rep {min, median, reps} metadata and
    # the brute-force baseline class ride in the DETAIL line; the final
    # line (and its total) covers headline queries only.
    times = _fake_times(20)
    stats = {"some_extremely_long_query_name_number_0003": {
        "min": 0.4, "median": 0.6, "reps": 3}}
    baselines = {"embedding_near_dup": 5.8}
    detail, final = bench.result_lines(
        times, _fake_streaming(), 0.1, stats=stats, baselines=baselines
    )
    d = json.loads(detail)
    assert d["query_stats"] == stats
    assert d["baselines"] == baselines
    f = json.loads(final)
    assert f["value"] == round(sum(times.values()), 3)  # baselines excluded
    assert "baselines" not in f and "query_stats" not in f
    assert len(final) <= bench.FINAL_LINE_BUDGET


def test_baseline_queries_not_in_headline():
    for name in bench.BASELINES:
        assert name not in bench.HEADLINE


def test_prior_round_mins_sf_scoped():
    """VERDICT r10 #1: the >1.5x-vs-prior re-run policy needs a prior
    reference AT THE SAME sf — a snapshot from another scale factor
    must be skipped (else sf0.01 iteration flags everything), and a
    missing sf yields {} so the policy degrades to the absolute
    thresholds."""
    prior = bench._prior_round_mins(0.1, 32)
    assert prior, "committed BENCH_full snapshots should provide sf0.1 mins"
    assert all(isinstance(v, (int, float)) for v in prior.values())
    # baselines are folded in so movers outside the headline get reps too
    assert "embedding_near_dup" in prior
    assert bench._prior_round_mins(123.456, 32) == {}


def test_prior_round_mins_prefers_matching_cpus(tmp_path, monkeypatch):
    """The latest-run detail is named by core count: an 8-core scaling
    run writes its own file, so the full-width run's same-sf baseline
    comes from the matching file, and a core count with no latest file
    falls back to the committed round snapshot, never to another core
    count's latest run."""

    def snap(name, t):
        (tmp_path / name).write_text(json.dumps({"sf": 0.1, "queries": {"q": t}}))

    snap("BENCH_full_latest_c8.json", 1.0)
    snap("BENCH_full_latest_c32.json", 2.0)
    snap("BENCH_full_r5.json", 3.0)
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    assert bench._latest_detail_path(8) == str(tmp_path / "BENCH_full_latest_c8.json")
    assert bench._prior_round_mins(0.1, "32") == {"q": 2.0}
    assert bench._prior_round_mins(0.1, 8) == {"q": 1.0}
    assert bench._prior_round_mins(0.1, 4) == {"q": 3.0}


def test_scaling_and_load_land_in_detail_only():
    """The r13 sections — per-family scaling exponents and the pre-run
    load baseline — ride the DETAIL line (for humans and git history)
    and never the size-budgeted final line."""
    scaling = {
        "sf_small": 0.01,
        "sf_large": 0.1,
        "n_ratio": 10.0,
        "families": {
            "dedup_full_1to600": {
                "t_small": 1.1, "t_large": 12.4, "exponent": 1.05,
            }
        },
        "flagged": [],
    }
    detail, final = bench.result_lines(
        _fake_times(5), _fake_streaming(), 0.1,
        scaling=scaling, load_at_start=0.3,
    )
    d, f = json.loads(detail), json.loads(final)
    assert d["scaling"] == scaling
    assert d["load_at_start"] == 0.3
    assert "scaling" not in f and "load_at_start" not in f
    assert len(final) <= bench.FINAL_LINE_BUDGET


def test_quiet_gate_contract():
    """VERDICT r14 #1: the quiet gate measures EXTERNAL cpu via idle
    /proc/stat deltas and returns attachable evidence — ext_load_pre
    always; quiet_wait_sec when it had to defer; load_deferred=True
    when the shared budget expired while still noisy. Pure-python
    (no Spark), so the deferral path is pinned with a tiny budget and
    an impossible threshold."""
    g = bench._QuietGate(sample_sec=0.05)
    ext = g.sample()
    assert isinstance(ext, float) and ext >= 0.0

    quiet = bench._QuietGate(threshold=1e9, sample_sec=0.05).wait()
    assert set(quiet) == {"ext_load_pre"}  # no wait, no flag

    g2 = bench._QuietGate(threshold=-1.0, budget_sec=0.2, sample_sec=0.05)
    deferred = g2.wait()
    assert deferred["load_deferred"] is True
    assert deferred["quiet_wait_sec"] > 0
    assert g2.budget == 0  # budget is consumed, shared across callers


def test_scaling_catalog_rep_policy():
    """The kNN pair reps (localCheckpoint per rep -> shuffle-reuse
    immune); the declarative ivf_filtered pair must stay single-shot
    (a repeated identical plan reads the prior rep's shuffle files on
    this build — a reuse-deflated t_small inflates the exponent)."""
    assert bench.SCALING_CATALOG["embedding_knn_graph"] >= 2
    assert bench.SCALING_CATALOG["embedding_snn_clusters"] >= 2
    assert bench.SCALING_CATALOG["ivf_filtered_topk"] == 1
    assert bench.SCALING_CATALOG["ivf_filtered_adaptive_topk"] == 1


def test_disk_probe_lands_in_detail_only():
    """disk_write_mbps (the IO twin of load_at_start) rides the detail
    line for regression adjudication and never the budgeted final
    line; the probe itself degrades to None instead of raising."""
    detail, final = bench.result_lines(
        _fake_times(5), _fake_streaming(), 0.1, disk_write_mbps=88.2,
    )
    d, f = json.loads(detail), json.loads(final)
    assert d["disk_write_mbps"] == 88.2
    assert "disk_write_mbps" not in f
    mbps = bench._disk_write_mbps(nbytes=32 * 1024 * 1024)
    assert mbps is None or mbps > 0


def test_two_point_solve_clamps_and_reports_raw():
    """The epoch decomposition never publishes a negative marginal or
    fixed cost (VERDICT r15 #6: bloom shipped -27 us/row), and always
    carries the raw points for diagnosis. The solve degrades to None
    without a genuine row spread."""
    # well-posed: 1000 rows/1500 ms vs 4000 rows/3000 ms -> 0.5 ms/row
    d = bench._two_point_solve(1000, 1500, 4000, 3000)
    assert d["row_us"] == 500.0 and d["epoch_fixed_ms"] == 1000.0
    assert d["2pt_rows1"] == 1000 and d["2pt_ms2"] == 3000
    # noise-inverted: bigger batch measured FASTER -> clamp to 0, keep raw
    d = bench._two_point_solve(1000, 2000, 4000, 1500)
    assert d["row_us"] == 0.0 and d["epoch_fixed_ms"] == 2000.0
    assert d["2pt_ms2"] == 1500
    # degenerate spread -> no solve at all
    assert bench._two_point_solve(1000, 1500, 1000, 3000) is None
    assert bench._two_point_solve(4000, 1500, 1000, 3000) is None


def test_split_cluster_incremental_stays_timed_but_annotated():
    """VERDICT r15 #7, resolved per the bench contract: entries may be
    ADDED but never removed, so the correctness-frame query (history
    rebuilt from scratch per run, ~90% of its wall) STAYS in the
    headline — and must carry an in-artifact note attributing the cost
    so it never again reads as an unexplained top-5 production entry
    (the production cost is clustersplit_incremental_1to300)."""
    assert "split_cluster_assign_incremental" in bench.HEADLINE
    assert "split_cluster_assign" in bench.HEADLINE
    note = bench._ENTRY_NOTES["split_cluster_assign_incremental"]
    assert "correctness-frame" in note
    assert "clustersplit_incremental_1to300" in note
