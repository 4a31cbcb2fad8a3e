"""Connected-components contract tests: deep-chain convergence via
pointer jumping, the explicit non-convergence error, and determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_data_processing_challenge_spark.operators import graph

CHAIN_N = 200  # diameter far above the round budget of plain propagation


def _chain_edges(spark, n):
    return spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )


def _distributed_cc(monkeypatch, edges, **kw):
    """connected_components forced onto the DISTRIBUTED loop: a zero
    edge budget for the driver fast path, which small graphs otherwise
    take (the path choice is made inside the call)."""
    with monkeypatch.context() as m:
        m.setattr(graph, "_DRIVER_CC_MAX_EDGES", 0)
        return graph.connected_components(edges, **kw)


def test_long_chain_converges_in_log_rounds(spark, monkeypatch):
    # neighbor-min alone would need ~200 rounds; pointer jumping must
    # finish a 200-hop chain within 12 on the DISTRIBUTED loop (small
    # graphs otherwise take the exact driver fast path, which this
    # test is not about)
    edges = _chain_edges(spark, CHAIN_N)
    comp = _distributed_cc(monkeypatch, edges, max_iter=12)
    rows = comp.collect()
    assert len(rows) == CHAIN_N
    assert all(r["component"] == 0 for r in rows)


def test_long_chain_fast_path_matches(spark):
    # the driver fast path must return exactly the distributed answer
    # on the deep-chain shape (its pointer jumping has the same
    # O(log diameter) argument)
    edges = _chain_edges(spark, CHAIN_N)
    rows = graph.connected_components(edges, max_iter=12).collect()
    assert len(rows) == CHAIN_N
    assert all(r["component"] == 0 for r in rows)


def test_nonconvergence_raises(spark, monkeypatch):
    edges = _chain_edges(spark, 50)
    with pytest.raises(RuntimeError, match="did not converge"):
        _distributed_cc(monkeypatch, edges, max_iter=2)


def test_multiple_components_and_determinism(spark):
    # two chains + one triangle with shuffled edge directions
    e = spark.createDataFrame(
        [(5, 3), (3, 4), (10, 12), (11, 10), (20, 21), (21, 22), (22, 20)],
        ["id_a", "id_b"],
    )
    got = {
        (r["node"], r["component"])
        for r in graph.connected_components(e, max_iter=10).collect()
    }
    want = {
        (3, 3), (4, 3), (5, 3),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20), (22, 20),
    }
    assert got == want
    # rerun is bit-identical (deterministic min labels)
    again = {
        (r["node"], r["component"])
        for r in graph.connected_components(e, max_iter=10).collect()
    }
    assert again == want


def test_driver_fast_path_twin_random_graphs(spark, monkeypatch):
    """r17 equivalence proof: the gated driver fast path and the
    distributed loop must return IDENTICAL (node, component) sets on
    random graphs — mixed degrees, self-loops, duplicate edges, both
    orientations, multiple components."""
    import random

    for seed in range(6):
        rng = random.Random(seed)
        n = rng.randint(2, 120)
        m = rng.randint(1, 300)
        edges = [
            (rng.randrange(n) * 7 + 3, rng.randrange(n) * 7 + 3)
            for _ in range(m)
        ]
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        fast = {
            (r["node"], r["component"])
            for r in graph.connected_components(df).collect()
        }
        dist = {
            (r["node"], r["component"])
            for r in _distributed_cc(monkeypatch, df).collect()
        }
        assert fast == dist, f"seed {seed}: fast path diverged"


def test_driver_fast_path_schema_matches_distributed(spark, monkeypatch):
    """The two paths must agree on column names AND types (the driver
    hashes query schemas)."""
    df = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    fast = graph.connected_components(df)
    dist = _distributed_cc(monkeypatch, df)
    assert [(f.name, f.dataType) for f in fast.schema.fields] == [
        (f.name, f.dataType) for f in dist.schema.fields
    ]


def test_zero_max_iter_rejected(spark):
    edges = _chain_edges(spark, 5)
    with pytest.raises(ValueError, match="max_iter"):
        graph.connected_components(edges, max_iter=0)


def test_triangle_stats_known_graph(spark):
    # K4 on {1,2,3,4} (4 triangles, 12 wedges, transitivity 1.0)
    # plus a pendant 4-5 edge (adds 3 wedges at node 4, no triangle)
    from pyspark_data_processing_challenge_spark.operators.graph import (
        triangle_stats,
    )

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    e = spark.createDataFrame(edges, "u long, v long")
    row = triangle_stats(e).collect()[0]
    assert row.n_nodes == 5 and row.n_edges == 7
    assert row.n_triangles == 4
    # degrees: 3,3,3,4,1 -> wedges = 3+3+3+6+0 = 15
    assert row.n_wedges == 15
    assert abs(row.transitivity_raw - 12 / 15) < 1e-12


def test_kcore_triangle_with_tail(spark):
    # triangle {1,2,3} + chain 3-4-5: 2-core = the triangle (4 and 5
    # peel in two rounds); converged since no survivor is below 2
    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    e = spark.createDataFrame(edges, "u long, v long")
    rows = {r.node: r for r in graph.kcore(e, k=2, rounds=3).collect()}
    assert set(rows) == {1, 2, 3}
    assert all(r.deg == 2 for r in rows.values())
    assert all(r.converged for r in rows.values())


def test_kcore_partial_peel_reports_unconverged(spark):
    # chain of 6: 2-core is empty, but one round only strips the two
    # endpoints — survivors still have degree-1 nodes -> converged False
    e = _chain_edges(spark, 6).selectExpr("id_a as u", "id_b as v")
    out = graph.kcore(e, k=2, rounds=1).collect()
    assert out and all(not r.converged for r in out)
    # enough rounds peel everything: empty output is the true 2-core
    assert graph.kcore(e, k=2, rounds=4).count() == 0


def test_kcore_rejects_bad_params(spark):
    e = spark.createDataFrame([(1, 2)], "u long, v long")
    with pytest.raises(ValueError, match="rounds"):
        graph.kcore(e, k=2, rounds=0)


def test_label_propagation_two_triangles(spark):
    # two triangles {1,2,3} and {10,11,12} joined by bridge 3-10:
    # after 3 synchronous rounds each triangle converges on its own
    # minimum label; the bridge does not merge them
    edges = [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)]
    e = spark.createDataFrame(edges, "u long, v long")
    labels = {r.node: r.label for r in
              graph.label_propagation(e, rounds=3).collect()}
    assert len({labels[1], labels[2], labels[3]}) == 1
    assert len({labels[10], labels[11], labels[12]}) == 1
    assert labels[1] != labels[10]


def test_label_propagation_rejects_bad_rounds(spark):
    e = spark.createDataFrame([(1, 2)], "u long, v long")
    with pytest.raises(ValueError, match="rounds"):
        graph.label_propagation(e, rounds=0)


def test_cluster_keep_best_policy(spark):
    # cluster {1,2,3}: 2 has the top score -> only 2 keeps; ties on
    # score break to the SMALLEST id ({5,6} both 0.5 -> 5); row 9 is in
    # no pair -> singleton cluster, keeps itself
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)], "node long, component long"
    )
    df = spark.createDataFrame(
        [(1, 0.25), (2, 0.75), (3, 0.5), (5, 0.5), (6, 0.5), (9, 0.0)],
        "doc_id long, quality double",
    )
    out = {
        r.doc_id: r
        for r in graph.cluster_keep_best(df, comps, "doc_id", "quality").collect()
    }
    assert {i: out[i].keep for i in sorted(out)} == {
        1: False, 2: True, 3: False, 5: True, 6: False, 9: True,
    }
    assert out[9].component == 9  # singleton keeps its own id as cluster
    assert out[6].component == 5


def test_cc_loop_scoped_not_session_global(spark, monkeypatch):
    """VERDICT r10 #6: the CC loop must size its exchanges via explicit
    repartition(loop_sp, key) — NEVER by flipping the session-global
    spark.sql.shuffle.partitions (a concurrent query on the same
    session would plan corpus shuffles at loop_sp). Pins: (a) no
    conf.set of shuffle.partitions during the loop, (b) the returned
    labels land in loop_sp partitions (2 for a tiny graph) even though
    the session conf stays much larger."""
    from unittest import mock

    sess_sp = spark.conf.get("spark.sql.shuffle.partitions")
    assert int(sess_sp) > 2  # the pin below is vacuous otherwise
    edges = _chain_edges(spark, 40)
    real_set = spark.conf.set
    calls = []

    def spy(key, value):
        calls.append((key, str(value)))
        return real_set(key, value)

    with mock.patch.object(spark.conf, "set", side_effect=spy):
        # the DISTRIBUTED loop — this test pins ITS exchange scoping
        # (a 39-edge graph otherwise takes the driver fast path, which
        # has no loop exchanges)
        comp = _distributed_cc(monkeypatch, edges, max_iter=10)
        n_parts = comp.rdd.getNumPartitions()
        rows = comp.collect()
    assert not [c for c in calls if c[0] == "spark.sql.shuffle.partitions"], calls
    assert spark.conf.get("spark.sql.shuffle.partitions") == sess_sp
    assert n_parts == 2, n_parts  # loop_sp for a 39-edge graph
    assert len(rows) == 40 and all(r["component"] == 0 for r in rows)


def test_incremental_components_exact_incl_bridge_merge(spark):
    """incremental_components folds new edges into the stored
    (node, component) spanning forest and must equal a full CC over
    every edge ever seen — INCLUDING the hard case: one batch edge
    bridging two existing components relabels both to the smaller
    min. Also: a batch-only pair forms a fresh component, and an
    untouched component keeps its label."""
    from pyspark_data_processing_challenge_spark.operators import graph

    hist = spark.createDataFrame(
        [(1, 3), (2, 4), (7, 8)], "id_a long, id_b long"
    )
    store = graph.connected_components(hist)
    assert {(r.node, r.component) for r in store.collect()} == {
        (1, 1), (3, 1), (2, 2), (4, 2), (7, 7), (8, 7),
    }
    batch = spark.createDataFrame(
        [(3, 4), (10, 11)], "id_a long, id_b long"
    )  # (3,4) BRIDGES components 1 and 2; (10,11) is brand new
    got = {
        (r.node, r.component)
        for r in graph.incremental_components(batch, store).collect()
    }
    full = {
        (r.node, r.component)
        for r in graph.connected_components(
            hist.unionByName(batch)
        ).collect()
    }
    assert got == full
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),  # merged under the global min
        (7, 7), (8, 7),                  # untouched
        (10, 10), (11, 10),              # fresh batch-only component
    }
