"""Graph operators for dedup canonicalization: connected components.

Near-duplicate PAIRS aren't actionable until they're CLUSTERS — keeping
"one doc per near-dup group" needs the transitive closure (a~b, b~c ⇒
{a,b,c} one group). This is iterative min-label propagation on the
DataFrame API (the same algorithm GraphX/GraphFrames runs): each round,
every node takes the min label among itself and its neighbors; stable
when a full round changes nothing.

Scale notes: each iteration is one join + one aggregate over the EDGE
list (tiny relative to the corpus — only candidate pairs) plus one
pointer-jumping join over the label table. Neighbor-min alone needs
O(diameter) rounds; the pointer jump (label ← label(label), the
Hash-to-Min / large-star trick) at least halves the remaining chain
depth per round, so convergence is O(log diameter) — a 200-hop chain
converges in ~8 rounds instead of 200. ``localCheckpoint`` truncates
the growing lineage each round (otherwise the plan doubles per
iteration).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

# Edge-count ceiling for the driver-side components fast path (r17,
# guide §1.2 "the distributed algorithm" / §5 "the driver should do
# almost no data work" — reconciled by a MEASURED gate): a pair graph
# at or below this many edge rows is solved with one bounded driver
# pull + a numpy min-label/pointer-jump loop instead of 8-12 Spark
# jobs of almost pure scheduler latency. 2M edges is a ≤~32 MB pull —
# broadcast-sized, the same budget cluster_canonical's F.broadcast of
# the SAME table already commits the driver to. The gate is an actual
# count() of the materialized edge list, never an estimate, so at
# crawl-scale duplicate rates (corpus-fraction pair lists) the
# distributed loop below runs unchanged.
_DRIVER_CC_MAX_EDGES = 2_000_000


def _np_min_label_components(
    us: np.ndarray, vs: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Exact min-label connected components in numpy: same algorithm
    as :func:`_cc_loop` (neighbor-min relax + pointer jumping on
    sorted-node indices, labels only ever decrease toward the
    component min), run to the fixed point. Returns (nodes, component)
    with component = min node id reachable — bit-identical to the
    distributed loop by construction (twin-tested in test_graph.py).
    """
    if us.size == 0:
        return us[:0], us[:0]
    nodes, idx = np.unique(np.concatenate([us, vs]), return_inverse=True)
    iu, iv = idx[: us.size], idx[us.size :]
    label = np.arange(nodes.size, dtype=np.int64)
    # pointer jumping halves remaining chain depth per round, so
    # 64 rounds covers any graph that fits in memory; the loop exits
    # at the fixed point (a full round that changes nothing)
    for _ in range(64):
        old = label
        m = np.minimum(label[iu], label[iv])
        label = label.copy()
        np.minimum.at(label, iu, m)
        np.minimum.at(label, iv, m)
        label = np.minimum(label, label[label])
        if np.array_equal(label, old):
            break
    else:  # pragma: no cover - 2^64-deep chains cannot exist
        raise RuntimeError("components did not converge in 64 rounds")
    return nodes, nodes[label]


def _driver_components(fwd: DataFrame, dt) -> DataFrame:
    """Materialized pair list -> (node, component) via the gated
    driver pull. ``fwd`` is localCheckpointed and COUNTED by the
    caller (<= _DRIVER_CC_MAX_EDGES rows), so the pull is bounded by
    measurement before a byte moves."""
    spark = fwd.sparkSession
    pdf = fwd.toPandas()
    np_dt = np.int32 if isinstance(dt, IntegerType) else np.int64
    nodes, comps = _np_min_label_components(
        pdf["u"].to_numpy(dtype=np.int64), pdf["v"].to_numpy(dtype=np.int64)
    )
    import pandas as pd

    out = pd.DataFrame(
        {"node": nodes.astype(np_dt), "component": comps.astype(np_dt)}
    )
    schema = StructType(
        [StructField("node", dt, True), StructField("component", dt, True)]
    )
    return spark.createDataFrame(out, schema=schema)


def connected_components(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = min
    node id reachable. Deterministic. Isolated nodes absent from the
    edge list are absent from the output (join them back if needed).

    Contract: raises ``RuntimeError`` if labels are still changing when
    ``max_iter`` is exhausted — partially-propagated labels are WRONG
    answers, not approximations, so non-convergence is an explicit
    error (callers can retry with a larger ``max_iter``; rounds needed
    ≈ log2(diameter) + 2 with pointer jumping, so the default 20 covers
    any graph that fits on hardware). The driver fast path (below) is
    exact and converges unconditionally, so the budget only governs
    the distributed loop.

    Physical strategy is SIZE-ADAPTIVE (r17, guide §1.2): the edge
    list is materialized and counted first; at or below
    ``_DRIVER_CC_MAX_EDGES`` edges the labels
    are computed in one bounded driver pull + numpy fixed-point loop —
    identical output, ~2 Spark jobs instead of 8-12 rounds of
    scheduler-latency-dominated tiny-graph jobs (measured: the CC
    floor was ~40-60% of every near-dup/cluster-split entry's wall at
    sf0.1). Above the gate the distributed min-label loop runs
    unchanged (the convergence-budget tests force it by setting the
    module constant to 0).
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # the edge list is consumed once per round (twice with the swap) —
    # materialize it so an expensive upstream (a similarity join, a
    # clustered cosine filter) runs ONCE, not max_iter times (measured
    # 20 s -> 3 s on the clustered SemDeDup pair generator), and so
    # the size gate's count is a free second action
    fwd = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint()
    n_edges = fwd.count()
    tu = fwd.schema["u"].dataType
    tv = fwd.schema["v"].dataType
    if (
        n_edges <= _DRIVER_CC_MAX_EDGES
        and tu == tv
        and isinstance(tu, (LongType, IntegerType))
    ):
        return _driver_components(fwd, tu)
    # Scale the per-round exchanges to the GRAPH, not the session: the
    # edge list is usually tiny relative to the corpus (candidate pairs
    # only), and every round pays checkpointed jobs whose shuffles
    # would default to the corpus-sized spark.sql.shuffle.partitions —
    # near-empty tasks dominate wall-clock on small graphs (measured
    # ~1.8 s -> ~1.3 s on the 140-edge SemDeDup graph at 32
    # partitions). ~100k symmetric edges per partition keeps partitions
    # executor-sized at scale (2*n_edges bounds |sym| from above).
    # SCOPED, not session-global (r9 advice, landed r11): the
    # loop pre-partitions both relations on their join keys with
    # explicit ``repartition(loop_sp, key)`` and the joins/aggregates
    # then reuse that co-partitioning, so every loop exchange is
    # loop_sp-sized while the session conf is never touched — safe
    # under concurrent queries on the same session (AQE does not
    # coalesce user-specified repartitions, so the size sticks).
    spark = fwd.sparkSession
    try:
        sess_sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # e.g. "auto" on some platforms
        sess_sp = spark.sparkContext.defaultParallelism
    loop_sp = max(2, min(sess_sp, (2 * n_edges // 100_000) + 2))
    # symmetrize + dedup + hash-partition on the join side in ONE job
    # over the (already materialized) pairs, so every round's
    # sym ⋈ labels join is exchange-free
    sym = (
        fwd.unionByName(
            fwd.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
        .repartition(loop_sp, "v")
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("u").alias("id"))
        .repartition(loop_sp, "id")
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    labels, n_changed = _cc_loop(
        sym,
        labels,
        max_iter,
        loop_sp,
        # Small-graph fast path (r16, guide §1.2 "per-task work"): the
        # per-round ``stepped`` localCheckpoint exists so the pointer
        # jump's self-join doesn't execute its subtree twice — but when
        # the whole graph fits in the 2-partition floor, re-running the
        # two tiny joins is cheaper than a materialization JOB (the
        # job's fixed scheduler latency dominates). Interleaved A/B on
        # the 11,880-edge minhash graph: 2.37/1.62 s -> 1.63/1.41 s per
        # CC call. At loop_sp > 2 the checkpoint stays: recomputing
        # stepped doubles the edge-join work per round, which is the
        # loop's dominant cost at scale.
        ckpt_stepped=loop_sp > 2,
    )
    if n_changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            "(labels still changing); increase max_iter — rounds needed is "
            "about the graph diameter"
        )
    return labels.select(F.col("id").alias("node"), F.col("label").alias("component"))


def _cc_loop(
    sym: DataFrame,
    labels: DataFrame,
    max_iter: int,
    loop_sp: int,
    ckpt_stepped: bool = True,
) -> tuple[DataFrame, int]:
    """Min-label propagation + pointer jumping; returns the final label
    table and the last round's changed probe (0 iff converged).

    Exchange budget per round — every one explicit and loop_sp-sized
    (the session's spark.sql.shuffle.partitions is never consulted):
    ``sym`` arrives hash(v, loop_sp) and ``labels`` hash(id, loop_sp),
    so the neighbor join is exchange-free; one explicit
    repartition(loop_sp, u) feeds the min aggregate (trading map-side
    combine for a pinned partition count — near-dup graphs are
    degree-bounded, so the fanout the combine would collapse is small);
    the stepped left join is co-partitioned (id ↔ u); the pointer jump
    repartitions the probe side on label; the final repartition
    restores hash(id, loop_sp) for the next round, preserved through
    localCheckpoint."""
    n_changed = 0
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.v == labels.id)
            .repartition(loop_sp, "u")
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(nbr_min, labels.id == nbr_min.u, "left").select(
            "id",
            F.col("label").alias("old"),
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        if ckpt_stepped:
            # both sides of the jump self-join read this; without the
            # checkpoint the subtree (incl. the edge join) runs twice
            stepped = stepped.localCheckpoint()
        # pointer jump: label ← label(label). Labels only decrease toward
        # the component min and label(x) is in x's component, so this is
        # safe — and it at least halves the remaining chain depth.
        a = stepped.repartition(loop_sp, "label").alias("a")
        b = stepped.alias("b")
        updated = (
            a.join(b, F.col("a.label") == F.col("b.id"), "left")
            .select(
                F.col("a.id").alias("id"),
                F.least(
                    F.col("a.label"),
                    F.coalesce(F.col("b.label"), F.col("a.label")),
                ).alias("label"),
                F.col("a.old").alias("old"),
            )
            .select(
                "id", "label", (F.col("label") < F.col("old")).alias("changed")
            )
            .repartition(loop_sp, "id")
        ).localCheckpoint()
        n_changed = updated.filter(F.col("changed")).limit(1).count()
        labels = updated.drop("changed")
        if n_changed == 0:
            break
    return labels, n_changed


def incremental_components(
    new_edges: DataFrame,
    component_store: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components of the UNION graph (history ∪ batch)
    WITHOUT the historical edge list — the graph member of the
    incremental-ingest family. The store's (node, component) labels
    are themselves the edges of a spanning FOREST equivalent to the
    historical graph (every labelled node links to its component's
    min-id member, which is a node of the forest), so running
    :func:`connected_components` over {batch edges} ∪ {store label
    edges} yields the union graph's partition with min-id labels
    EXACTLY — the node set is identical and min is min over the same
    connected sets — bit-equal to a full recompute over every edge
    ever seen. Cost: one CC over PAIR-BOUNDED rows (|store labels| +
    |batch pairs|), never the historical pair list, never the corpus.

    Merge semantics are inherent: a batch edge bridging two historical
    components relabels both to the smaller min — exactly what the
    full recompute says. Callers who need STICKY splits under merges
    (no churn) must layer that policy on top; this operator's contract
    is exactness."""
    forest = component_store.filter(
        F.col("node") != F.col("component")
    ).select(F.col("node").alias(src), F.col("component").alias(dst))
    edges = new_edges.select(src, dst).unionByName(forest)
    return connected_components(
        edges, src=src, dst=dst, max_iter=max_iter
    )


def cluster_canonical(
    df: DataFrame, components: DataFrame, id_col: str
) -> DataFrame:
    """Keep one row per near-dup cluster: the min-id member. Rows whose
    id never appears in the edge list are singletons and survive.

    The losers side is bounded by the near-dup PAIR count (components
    has one row per node that appeared in an edge), orders of magnitude
    smaller than the corpus on any curated workload — broadcast it so
    the anti-join streams the corpus through one scan and never plans
    a sort-merge join that would shuffle 100 TB on the id.

    SIZE CONTRACT (caller obligation): the forced ``F.broadcast``
    removes Spark's size-based fallback, so ``components`` must fit in
    driver + executor memory (rule of thumb: < ~10^8 edge nodes). On a
    pathologically duplicate-heavy corpus where near-dup pairs are
    corpus-scale, drop the hint (plain join → AQE picks SMJ) rather
    than OOM: slow-but-working beats fast-but-dead. Same contract for
    :func:`cluster_keep_best`'s components broadcast."""
    losers = components.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("__loser")
    )
    return df.join(
        F.broadcast(losers), df[id_col] == losers.__loser, "left_anti"
    )


def cluster_keep_best(
    df: DataFrame,
    components: DataFrame,
    id_col: str,
    score_col: str,
    *,
    component_col: str = "component",
    keep_col: str = "keep",
) -> DataFrame:
    """Representative-quality canonicalization: per near-dup cluster
    keep the HIGHEST-``score_col`` member (ties → smallest id), not the
    smallest id — the policy real curation pipelines want, since the
    min-id member of a paraphrase cluster is arbitrary while the
    highest-quality member is the one worth training on
    (:func:`cluster_canonical` is the min-id variant).

    Rows absent from ``components`` (never in any near-dup pair) are
    singleton clusters and keep themselves. Output: ``df``'s columns
    plus ``component_col`` (cluster id) and ``keep_col`` (true iff the
    row is its cluster's argmax). Deterministic: the argmax is a
    ``max_by`` over (score, -id) struct ordering.

    Scale shape: one BROADCAST left join on the id (components is
    pair-bounded, so the corpus never shuffles to learn its cluster),
    one map-side-combinable ``max_by`` aggregate per cluster, one
    equi-join back on the cluster key (big-big, but both sides hash on
    ``component_col`` — one co-partitioned exchange each, the minimum
    the algebra allows since ``best`` has a row per singleton too and
    is NOT broadcastable) — no windows, no driver state.
    """
    comp = components.select(
        F.col("node").alias(id_col),
        F.col("component").alias(component_col),
    )
    tagged = df.join(F.broadcast(comp), id_col, "left").withColumn(
        component_col,
        F.coalesce(F.col(component_col), F.col(id_col)),
    )
    best = tagged.groupBy(component_col).agg(
        F.max_by(
            F.col(id_col),
            F.struct(F.col(score_col), (-F.col(id_col)).alias("__ni")),
        ).alias("__best_id")
    )
    return (
        tagged.join(best, component_col)
        .withColumn(keep_col, F.col(id_col) == F.col("__best_id"))
        .drop("__best_id")
    )


def triangle_stats(
    edges: DataFrame,
    *,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Exact triangle count + global clustering coefficient via
    DEGREE-ORIENTED wedge generation (Chiba-Nishizeki / Latapy
    "compact-forward" — the MapReduce formulation of Suri & Vassilvitskii
    WWW 2011).

    Naive wedge counting fans out Σ deg² wedges — a hub with degree 10⁶
    creates 10¹² wedges. Orienting every edge from its lower-ordered
    endpoint under the total order (degree, id) and generating wedges
    only at each edge pair's LOWEST-ordered apex bounds the work by
    Σ outdeg² = O(m^1.5) regardless of skew: a hub's edges point INTO
    it, so the hub apexes almost nothing. One join closes each wedge
    against the oriented edge set.

    ``edges``: undirected distinct pairs (src < dst by id is fine —
    orientation is recomputed here). Bounds: node ids must fit in 32
    bits AND every degree must stay below 2^31 — the total-order key
    packs (degree, id) into one signed BIGINT (deg * 2^32 + id),
    which overflows past either bound. A node with >= 2^31 distinct
    neighbors or an id domain wider than 32 bits needs a dense
    re-label first (one dense-rank pass at ingest). Returns ONE row:
    (n_nodes, n_edges, n_wedges, n_triangles, transitivity) where
    n_wedges = Σ C(deg, 2) and transitivity = 3*T / W (0 when W = 0).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # one BIGINT total-order key: degree-major, id-minor
    okey = (F.col("deg") * F.lit(1 << 32) + F.col("n")).alias("okey")
    keyed = deg.select("n", okey)
    ek = (
        e.join(keyed.withColumnRenamed("n", "a").withColumnRenamed("okey", "ka"), "a")
        .join(keyed.withColumnRenamed("n", "b").withColumnRenamed("okey", "kb"), "b")
    )
    oriented = ek.select(
        F.when(F.col("ka") < F.col("kb"), F.col("ka")).otherwise(F.col("kb")).alias("s"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("d"),
    )
    wedges = (
        oriented.alias("x")
        .join(oriented.alias("y"), F.col("x.s") == F.col("y.s"))
        .filter(F.col("x.d") < F.col("y.d"))
        .select(F.col("x.d").alias("s"), F.col("y.d").alias("d"))
    )
    tri = wedges.join(oriented, ["s", "d"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    base = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # deg*(deg-1) is always even, so integer `div` keeps the wedge
        # count exact past 2^53 where a double round-trip would not
        F.expr("sum(deg * (deg - 1)) div 2").alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    out = base.crossJoin(F.broadcast(n_edges)).crossJoin(F.broadcast(tri))
    return out.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        F.col("n_triangles").cast("long").alias("n_triangles"),
        F.when(F.col("n_wedges") == 0, F.lit(0.0))
        .otherwise(
            F.lit(3.0)
            * F.col("n_triangles").cast("double")
            / F.col("n_wedges").cast("double")
        )
        .alias("transitivity_raw"),
    )


def kcore(
    edges: DataFrame,
    *,
    k: int,
    rounds: int,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Bounded k-core peeling: ``rounds`` iterations of "drop every
    node with degree < k, keep only edges between survivors" — the
    degeneracy decomposition step behind community cores, spam/bot
    subgraph mining, and graph sparsification.

    Returns one row per surviving node: (node, deg) degrees inside the
    final subgraph, plus a ``converged`` flag (true iff no surviving
    node is still below k — i.e. the fixpoint was reached and the
    output IS the k-core, not a partial peel). Peeling needs
    O(peel depth) rounds; a fixed bound keeps the plan finite and the
    flag keeps it honest — callers re-run with more rounds when false.

    Scale shape per round: one map-side-combinable degree aggregate +
    two semi-joins (broadcast-eligible once the survivor set shrinks);
    each round's edge set is localCheckpointed so round r+1 re-reads a
    materialized RDD, not r compounded lineages of the upstream edge
    build (the connected_components lesson).
    """
    if k < 1 or rounds < 1:
        raise ValueError(f"need k >= 1 and rounds >= 1, got k={k}, rounds={rounds}")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint()

    def degrees(ed: DataFrame) -> DataFrame:
        return (
            ed.select(F.col("u").alias("n"))
            .unionByName(ed.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    for _ in range(rounds):
        keep = degrees(e).filter(F.col("deg") >= k).select("n")
        e = (
            e.join(keep.withColumnRenamed("n", "u"), "u", "semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "semi")
            .select("u", "v")
            .localCheckpoint()
        )
    final = degrees(e)
    summary = final.agg(
        F.coalesce(
            F.bool_and(F.col("deg") >= k), F.lit(True)
        ).alias("converged")
    )
    return final.select(
        F.col("n").cast("long").alias("node"),
        F.col("deg").cast("long").alias("deg"),
    ).crossJoin(F.broadcast(summary))


def label_propagation(
    edges: DataFrame,
    *,
    rounds: int,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al.
    2007's community detector, made reproducible): labels start as node
    ids; each round EVERY node simultaneously adopts the most frequent
    label among its neighbors, ties broken by smallest label. A fixed
    round count keeps the plan finite and the output a pure function of
    the graph (classic async LPA is update-order dependent — useless
    under an oracle); communities stabilize in a few rounds on
    small-world graphs, and the ``n_changed``-style convergence check
    is the caller's follow-up query if needed.

    Scale shape per round: one equi-join (edges ⋈ labels on the
    neighbor), one (node, label) count aggregate (map-side combined),
    one max_by argmax — all key shuffles, nothing quadratic; per-round
    localCheckpoint so lineage stays flat (the connected_components
    lesson). Output: (node, label) after ``rounds`` rounds.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = (
        fwd.unionByName(
            fwd.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(rounds):
        freq = (
            sym.join(labels, sym.v == labels.node)
            .groupBy(sym.u.alias("nu"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            freq.groupBy("nu")
            .agg(
                F.max_by(
                    "label",
                    F.struct(
                        F.col("cnt").alias("c"),
                        (-F.col("label")).alias("nl"),
                    ),
                ).alias("label")
            )
            .select(F.col("nu").alias("node"), "label")
            .localCheckpoint()
        )
    return labels
