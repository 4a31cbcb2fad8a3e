"""Similarity search over embedding columns.

North-star extension (SURVEY.md §7.4). Two tiers:

- ``cosine_topk``: exact brute-force top-k — broadcast the (small)
  query set against the corpus, score JVM-side, window top-k. The
  correctness baseline; O(corpus × queries) but embarrassingly
  parallel and shuffle-light (one shuffle on query_id for the top-k).
- ``lsh_topk`` / ``embedding_near_duplicates``: sign-random-projection
  bucketing → only same-bucket pairs are scored. Linear candidate
  generation — the 100 TB path. Recall < 1.0 by construction; raise
  num_planes/probes for tighter recall.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import textfns, vectors
from ..session import spread_partitions


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` must be small (it is broadcast — no shuffle of the
    corpus). Output: (query_id, neighbor_id, cosine, rank), rank 1..k,
    deterministic tie-break on neighbor id. Self-matches excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            vectors.cosine_cols("qvec", "cvec").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def with_lsh_bucket(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    num_planes: int = 8,
    dim: int = 64,
    seed: int = 11,
    out_col: str = "bucket",
) -> DataFrame:
    planes = vectors.random_planes(num_planes, dim, seed)
    return df.withColumn(out_col, vectors.lsh_bucket(F.col(vec_col), planes))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_planes: int = 8,
    dim: int = 64,
    seed: int = 11,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH
    bucket. Same output shape as :func:`cosine_topk`; queries may find
    fewer than k neighbors (bucket smaller than k) — that's the
    approximation trade, tune num_planes down / add multi-probe for
    more candidates.
    """
    qb = with_lsh_bucket(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")),
        vec_col="qvec", num_planes=num_planes, dim=dim, seed=seed,
    )
    cb = with_lsh_bucket(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")),
        vec_col="cvec", num_planes=num_planes, dim=dim, seed=seed,
    )
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            vectors.cosine_cols("qvec", "cvec").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def centroid_cosines(
    rows: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str,
    centroid_id: str,
    centroid_vec: str,
) -> DataFrame:
    """``rows``' columns plus (cid, cv, cos): every row scored against
    every centroid of a broadcast codebook — the scoring behind
    :func:`ivf_assign` and every IVF probe rank.

    Both sides are norm-staged (``vectors.stage``), so a (row,
    centroid) pair costs one fold instead of three; the doubles equal
    ``vectors.cosine``'s (``cv`` comes back as array<double>). The
    codebook side is always the same subtree, so a query that assigns
    its corpus and ranks its probes against one codebook broadcasts it
    once: two different subtrees over the same small table broadcast
    twice and the pass gains jobs."""
    cols = rows.columns
    cb = vectors.stage(
        centroids, centroid_vec, f"{centroid_id} AS cid", vec="cv", norm="cn"
    )
    return (
        vectors.stage(rows, vec_col, *[f"`{c}`" for c in cols], vec="__rv", norm="__rn")
        .join(F.broadcast(cb))
        .select(
            *cols, "cid", "cv",
            vectors.staged_cosine("__rv", "__rn", "cv", "cn").alias("cos"),
        )
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "cvec",
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid by cosine (deterministic tie-break: smallest centroid id).

    ``centroids`` is small (the codebook) → broadcast; the corpus is
    scanned once, scoring |codebook| cosines per row JVM-side. Output:
    (id, vec, centroid_id). At 100 TB this is the linear pass that
    buckets the corpus; writing the result partitioned by centroid_id
    gives pruned ANN probes on read.

    The argmax is a ``max_by`` aggregate over struct ordering
    ((cos, -cid) — highest cosine, then smallest centroid id), NOT a
    per-doc row_number window: the aggregate partial-combines map-side
    (each task reduces its |codebook|-way explosion locally before the
    exchange), where the window would shuffle AND sort the full
    corpus × codebook expansion.

    Scoring is :func:`centroid_cosines`: one fold per (row, centroid)
    pair over staged norms, same doubles as ``vectors.cosine``.
    """
    c = corpus.select(F.col(id_col).alias("doc"), F.col(vec_col).alias("vec"))
    scored = centroid_cosines(
        c, centroids, vec_col="vec",
        centroid_id=centroid_id, centroid_vec=centroid_vec,
    )
    best = scored.groupBy("doc").agg(
        F.max_by(
            F.struct(F.col("cid"), F.col("vec")),
            F.struct(F.col("cos"), (-F.col("cid")).alias("__nc")),
        ).alias("__best")
    )
    return best.select(
        "doc",
        F.col("__best.vec").alias("vec"),
        F.col("__best.cid").alias("centroid_id"),
    )


def _list_members(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    p: int,
    centroid_id: str,
    centroid_vec: str,
) -> DataFrame:
    """(centroid_id, __id, __vec): every vector in each of its top-p
    IVF lists — the candidate lists of both kNN-graph twins."""
    if p < 1:
        raise ValueError(f"p must be >= 1, got {p}")
    if p == 1:
        return ivf_assign(
            corpus, centroids,
            id_col=id_col, vec_col=vec_col,
            centroid_id=centroid_id, centroid_vec=centroid_vec,
        ).select(
            "centroid_id", F.col("doc").alias("__id"), F.col("vec").alias("__vec")
        )
    # top-p membership: score all |codebook| cosines per row (broadcast
    # join), keep ranks 1..p per vector — the same membership window
    # knn_graph_recall_eval's p-schemes use, and rank 1 is exactly
    # ivf_assign's argmax (cos desc, cid asc tie-break).
    sc = centroid_cosines(
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")),
        centroids, vec_col="__vec",
        centroid_id=centroid_id, centroid_vec=centroid_vec,
    )
    wm = Window.partitionBy("__id").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        sc.withColumn("__rn", F.row_number().over(wm))
        .filter(F.col("__rn") <= p)
        .select(F.col("cid").alias("centroid_id"), "__id", "__vec")
    )


def knn_graph(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    p: int = 1,
    centroid_id: str = "cid",
    centroid_vec: str = "cv",
) -> DataFrame:
    """Approximate kNN GRAPH over the WHOLE corpus: every vector's
    top-k cosine neighbors within its coarse IVF list(s) — the input
    structure for SemDeDup-style clustering, SNN/mutual-kNN community
    detection, and connectivity-based dedup (Abbas et al. 2023 build
    exactly this before pruning).

    Scale shape: one broadcast-codebook assignment pass, then a
    per-list equi-self-join — pair work is Σ |list|², bounded by the
    quantizer's balance (ivf_list_stats is the monitoring table; a
    hot list is re-trained or salted there, the same contract FAISS
    IVF accepts). No sub-splitting: unlike threshold pair generation
    (semdedup), a kNN graph's per-node top-k would be biased by any
    further partitioning of the candidate set. Recall < 1 by
    construction (neighbors across a list boundary are invisible);
    ``p`` multi-assigns every vector to its top-p centroids, raising
    recall at ~p²× the pair cost (both join sides widen) plus one
    pair-grain dedup exchange — knn_graph_recall_eval measured
    0.18 → 0.60 recall@k going p=1 → p=2 on the eval sample,
    which is why the catalog's serving default is p=2.

    Output: (vec_id, neighbor_id, cosine, rank), rank 1..k per node,
    deterministic tie-break on neighbor id; nodes in lists smaller
    than k+1 emit fewer edges."""
    assigned = _list_members(
        corpus, centroids, id_col=id_col, vec_col=vec_col, p=p,
        centroid_id=centroid_id, centroid_vec=centroid_vec,
    )
    # per-ROW norm staging (vectors.stage): one fold per pair
    normed = vectors.stage(assigned, "__vec", "centroid_id", "__id AS vec_id")
    left = normed.select(
        "centroid_id", "vec_id", F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    right = normed.select(
        "centroid_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    # Broadcast the right side: a plain equi-join on centroid_id
    # shuffles BOTH sides onto |codebook| reducers — 8 tasks for the
    # whole pair workload regardless of cores (the coarse key IS the
    # parallelism ceiling). Broadcasting keeps the left side's scan
    # partitioning, so pair generation runs at full width (the
    # embedding_near_dup streamed-side lesson). SIZE CONTRACT: the
    # broadcast side is the (id, vector, norm) table — fine for the
    # eval corpora; a 100 TB deployment replaces this with a
    # storage-partitioned (bucketed-by-list) self-join, same pair
    # semantics.
    scored = (
        left.join(F.broadcast(right), "centroid_id")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select(
            "vec_id",
            "neighbor_id",
            vectors.staged_cosine("__va", "__na", "__vb", "__nb").alias(
                "cosine"
            ),
        )
    )
    if p > 1:
        # a pair sharing two lists scores twice with the SAME cosine
        # (the expression depends only on the vectors) — collapse to
        # pair grain before ranking so rank counts distinct neighbors.
        # max() == the value; partial-aggregates map-side.
        scored = scored.groupBy("vec_id", "neighbor_id").agg(
            F.max("cosine").alias("cosine")
        )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# Row-block budget for knn_graph_arrow's pair stage, in float64
# elements per block matrix (4M ≈ 32 MB): rows_per_block = this // n,
# so a worker's peak is a handful of block×n matrices — ~100-200 MB —
# instead of the ~3 n² float64/int64 matrices a whole-list outer
# product would pin on a hot inverted list (r14 advice).
_PAIR_BLOCK_ELEMS = 1 << 22


def knn_graph_arrow(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    p: int = 1,
    centroid_id: str = "cid",
    centroid_vec: str = "cv",
) -> DataFrame:
    """Arrow-kernel twin of :func:`knn_graph` — same values, same
    output schema, ~6× less wall on the pair stage (measured 15.0 →
    2.5 s for the p=2 graph at sf0.1): the per-list pair scoring moves
    from an interpreted-HOF broadcast self-join into ONE
    ``applyInPandas`` per inverted list, where the n×n dot matrix is
    accumulated as 64 sequential per-dimension outer products —
    ``acc += A[:,i]·A[:,j|i]`` — which is the EXACT left-to-right
    addition order of the ``aggregate`` fold, so every cosine is
    bit-identical to the DataFrame twin and the shared DuckDB oracle
    (the fast_text.py proof pattern; tests pin frame equality).

    Per-list TOP-K PRE-PRUNING makes the Arrow hop cheap: a node's
    global top-k over its union candidate set is contained in the
    union of its per-list top-ks, so each group returns k rows per
    member (≤ p·k·n rows total), never the n² pair matrix; the
    cross-list max-dedup + final rank run on that small frame
    JVM-side, identical to the twin's tail. Memory contract (r14
    advice corrected the earlier claim): the input list is one
    (n_list × dim) matrix per worker, and the pair stage accumulates
    its cosine matrix in ROW BLOCKS of ≤ {_PAIR_BLOCK_ELEMS} elements
    — peak working set is O(block × n_list), never the n_list² that
    a whole-list outer product would materialize on a hot IVF list
    (quantizer balance still bounds n_list itself; ivf_list_stats is
    the monitor). Blocking changes no value: each acc element is the
    same sequential per-dimension sum regardless of which row block
    it lives in.

    Degenerate contract (ENFORCED equal since r15, was documented
    divergence): a zero-norm vector's pairs are emitted with NULL
    cosine — exactly the Column twin's try_divide result — so both
    paths rank them NULLS-LAST behind every finite cosine and return
    identical frames even on corpora with planted zero vectors
    (tests/test_extended_knn.py pins twin equality on such a
    corpus)."""
    assigned = _list_members(
        corpus, centroids, id_col=id_col, vec_col=vec_col, p=p,
        centroid_id=centroid_id, centroid_vec=centroid_vec,
    ).select(
        "centroid_id",
        F.col("__id").alias("vec_id"),
        vectors.as_double(F.col("__vec")).alias("__v"),
    )

    import numpy as np

    def _score_list(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        n = len(ids)
        if n <= 1:
            return pd.DataFrame(
                {"vec_id": ids[:0], "neighbor_id": ids[:0], "cosine": []}
            )
        A = np.array(pdf["__v"].tolist(), dtype=np.float64)
        d = A.shape[1]
        # norms: sequential per-dim accumulation == the JVM fold order
        nr = np.zeros(n)
        for i in range(d):
            nr += A[:, i] * A[:, i]
        nr = np.sqrt(nr)
        kk = min(k, n - 1)
        # row-blocked pair stage: peak working set is block×n (several
        # such matrices), never n×n — a hot list streams through in
        # ~{_PAIR_BLOCK_ELEMS}-element slices. Values are unchanged:
        # per-dim accumulation order per element is identical.
        blk = max(1, _PAIR_BLOCK_ELEMS // n)
        out_ids, out_nbr, out_cos = [], [], []
        for s in range(0, n, blk):
            e = min(s + blk, n)
            acc = np.zeros((e - s, n))
            for i in range(d):
                col = A[:, i]
                acc += np.multiply.outer(col[s:e], col)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / np.multiply.outer(nr[s:e], nr)
            # per-row top-kk by (cos desc, id asc), NaN last — the
            # window's (desc NULLS LAST, neighbor_id) order. The self
            # pair is excluded BY INDEX (it must not survive as a NULL
            # row now that NaN rows are kept): take kk+1 candidates,
            # drop self if present, truncate.
            for r in range(s, e):
                cos[r - s, r] = np.nan
            order = np.lexsort(
                (np.broadcast_to(ids, (e - s, n)), -cos), axis=1
            )
            for r in range(e - s):
                take = order[r, : kk + 1]
                take = take[take != (s + r)][:kk]
                out_ids.append(np.full(len(take), ids[s + r]))
                out_nbr.append(ids[take])
                out_cos.append(cos[r, take])
        cvals = np.concatenate(out_cos)
        if np.isnan(cvals).any():
            # zero-norm pairs: true NULLs (the twin's try_divide
            # result), never NaN — Spark sorts NaN FIRST under desc
            # (largest double) but NULL last, so a NaN that leaked
            # through Arrow would invert the rank order.
            cosine = [None if np.isnan(v) else float(v) for v in cvals]
        else:
            cosine = cvals
        return pd.DataFrame(
            {
                "vec_id": np.concatenate(out_ids),
                "neighbor_id": np.concatenate(out_nbr),
                "cosine": cosine,
            }
        )

    # keeps the group tasks spread; parallelism is still bounded by
    # |lists| — quantizer balance is the lever
    n_parts = spread_partitions(assigned.sparkSession)
    per_list = assigned.repartition(n_parts, "centroid_id").groupBy(
        "centroid_id"
    ).applyInPandas(
        _score_list, "vec_id long, neighbor_id long, cosine double"
    )
    deduped = (
        per_list.groupBy("vec_id", "neighbor_id").agg(
            F.max("cosine").alias("cosine")
        )
        if p > 1
        else per_list
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return deduped.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def codebook_assign_column(
    codebook: list[tuple[int, list[float]]], vec: Column
) -> Column:
    """Argmax-cosine centroid id as ONE projection Column over a
    DRIVER-SIDE codebook literal — the per-micro-batch form of
    :func:`ivf_assign` for streaming ingest, where re-planning the
    codebook join re-scans the centroid lineage and re-broadcasts the
    codebook EVERY epoch. Built once at sink construction (Column
    expressions bind late, so one Column serves every batch), it turns
    assignment into a join-free, shuffle-free projection.

    Semantics are identical to :func:`ivf_assign` (highest cosine,
    then smallest centroid id; same left-fold dot product, so the
    doubles are bit-identical). The codebook is bounded by contract
    (it is broadcast in the batch form). NULL cosines (zero-norm
    vectors — ``vectors.cosine`` uses try_divide) are coalesced to
    -2.0 so a degenerate vector deterministically gets the SMALLEST
    centroid id — the same answer ivf_assign's max_by produces (NULL
    ordering sorts lowest, so its struct argmax falls through to the
    -cid tie-break); without the coalesce every fold comparison is
    NULL, the init accumulator survives, and the sentinel cid 2**62
    leaks into the store (r9 advice).

    The per-element cosine is staged through a single-element
    ``transform`` so the fold body references it once — referencing a
    non-lambda-var subtree twice inside a HOF body re-evaluates it per
    reference (see textfns.shingle_hashes).
    """
    if not codebook:
        raise ValueError("codebook must be non-empty")
    # Literal construction matters twice here. Per ELEMENT lits
    # (|codebook| x dim F.lit calls) cost 3-5 s of py4j round trips at
    # build; an F.expr("named_struct(...)") string parses in one call
    # but leaves a ~|codebook|·dim-node tree that every epoch's
    # analyzer/optimizer re-walks (~0.7 s/job vs ~0.35 s with true
    # Literal nodes). One numpy row per centroid is the sweet spot:
    # |codebook| py4j calls (~0.7 s build), and each row is a single
    # Literal node so the per-epoch tree is ~2·|codebook| nodes.
    # (F.lit on a nested Python list decomposes into per-element lits;
    # 2-D ndarrays are unsupported as literals.)
    ordered = sorted(codebook)
    cids = F.lit([int(cid) for cid, _ in ordered])
    try:
        import numpy as np

        rows = [
            F.lit(np.asarray([float(x) for x in cv], dtype=np.float64))
            for _, cv in ordered
        ]
        cvs = F.array(*rows)
    except ImportError:  # pragma: no cover — numpy is baked in
        cvs = F.lit([[float(x) for x in cv] for _, cv in ordered])
    arr = F.arrays_zip(cids.alias("cid"), cvs.alias("cv"))
    init = F.struct(
        F.lit(-2.0).alias("cos"), F.lit(2**62).cast("long").alias("cid")
    )
    best = F.aggregate(
        arr,
        init,
        lambda acc, c: F.transform(
            F.array(F.coalesce(vectors.cosine(vec, c["cv"]), F.lit(-2.0))),
            lambda cs: F.when(
                (cs > acc["cos"])
                | ((cs == acc["cos"]) & (c["cid"] < acc["cid"])),
                F.struct(cs.alias("cos"), c["cid"].alias("cid")),
            ).otherwise(acc),
        )[0],
    )
    return best["cid"]


def kmeanspp_seed(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int,
    n_candidates: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic k-means++ (maximin / Gonzalez) seeding for every
    clustering consumer in this repo (SemDeDup, IVF, PQ), replacing the
    convention "first-k ids" codebook init.

    Scale shape (the lsh_recall_eval sampling pattern): the candidate
    set is a FIXED-SIZE deterministic sample — the ``n_candidates``
    vectors with the smallest portable char_hash(id || salt), a
    TakeOrdered over one scan, never a fraction of n — so seeding cost
    does not grow at 100x. The maximin loop then runs driver-side over
    the collected candidates (bounded by construction — the same class
    as the codebook collect every IVF/PQ consumer already does).

    Determinism + portability: seed 1 is the hash-order-first
    candidate; each subsequent seed is the candidate maximizing its
    minimum squared-L2 distance to the chosen set (ties -> smallest
    id). Squared L2 is a left-to-right fold over float64 casts —
    Python's sequential loop, Spark's F.aggregate, and DuckDB's
    list_reduce all produce bit-identical doubles, so an external SQL
    replay of the whole greedy loop hash-matches.

    Returns (seed_rank, id, vec, min_dist2): rank 1..k, the seed's id
    and float64 vector (feed ``.select(id as cid, vec as cv)`` straight
    into ivf_assign / the Lloyd step), and the maximin distance at
    selection time (0.0 for seed 1 — its distance to itself;
    NULL would round-trip as NaN through Arrow/pandas readers).
    """
    if k < 1 or n_candidates < k:
        raise ValueError("need n_candidates >= k >= 1")
    from ..functions.textfns import char_hash

    cand_rows = (
        df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
            char_hash(
                F.concat(F.col(id_col).cast("string"), F.lit(salt))
            ).alias("__h"),
        )
        .orderBy("__h", "id")
        .limit(n_candidates)
        .collect()
    )
    if not cand_rows:
        raise ValueError("empty input")

    def d2(a: list, b: list) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            diff = x - y
            acc = acc + diff * diff
        return acc

    first = cand_rows[0]
    chosen: list[tuple] = [(1, first["id"], list(first["vec"]), 0.0)]
    rest = [[r["id"], list(r["vec"]), 0.0] for r in cand_rows[1:]]
    for e in rest:
        e[2] = d2(e[1], chosen[0][2])
    for rank in range(2, min(k, len(cand_rows)) + 1):
        best = min(rest, key=lambda e: (-e[2], e[0]))
        chosen.append((rank, best[0], best[1], best[2]))
        rest = [e for e in rest if e[0] != best[0]]
        for e in rest:
            nd = d2(e[1], best[1])
            if nd < e[2]:
                e[2] = nd
    return df.sparkSession.createDataFrame(
        chosen,
        "seed_rank long, id long, vec array<double>, min_dist2 double",
    )


def codebook_assign_udf(codebook: list[tuple[int, list[float]]]):
    """Arrow-batched twin of :func:`codebook_assign_column`: argmax-
    cosine centroid id as a pandas UDF over a driver-side numpy
    codebook. Returns a Column factory (call with the vector column).

    Why it exists: the Column form's fold carries |codebook| ndarray
    Literal nodes that the analyzer re-walks on EVERY micro-batch job
    (~0.4 s/epoch of driver time at 64x64 — measured in the semdedup
    ingest sink), while this UDF's plan is a single node; the numpy
    kernel is also vectorized per batch. Values are BIT-IDENTICAL to
    codebook_assign_column / ivf_assign (pinned by the streaming twin
    tests):

    - elements cast float32→float64 before multiplying (as_double);
    - dot products and norms are np.cumsum sequential folds — the same
      adds in the same order as the Column form's left fold;
    - cosine = dot / (cnorm * vnorm), IEEE division;
    - zero-norm denominators (try_divide's NULL) become -2.0, matching
      the Column form's coalesce, so degenerate vectors get the
      smallest centroid id;
    - the codebook iterates in ascending-cid order and np.argmax keeps
      the FIRST maximum — highest cosine, then smallest cid, exactly
      ivf_assign's max_by tie-break.
    """
    if not codebook:
        raise ValueError("codebook must be non-empty")
    import numpy as np

    ordered = sorted((int(cid), [float(x) for x in cv]) for cid, cv in codebook)
    cids = np.asarray([c for c, _ in ordered], dtype=np.int64)
    mat = np.asarray([cv for _, cv in ordered], dtype=np.float64)  # (C, D)
    cnorm = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])  # left-fold norms

    @F.pandas_udf("long")
    def _assign(vecs: pd.Series) -> pd.Series:
        out = np.empty(len(vecs), dtype=np.int64)
        for i, v in enumerate(vecs):
            if v is None or len(v) == 0:
                out[i] = cids[0]  # empty vec: every cosine NULL → -2.0
                continue
            x = np.asarray(v, dtype=np.float64)
            dots = np.cumsum(mat * x[None, :], axis=1)[:, -1]
            vnorm = np.sqrt(np.cumsum(x * x)[-1])
            denom = vnorm * cnorm
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom == 0.0, -2.0, dots / denom)
            out[i] = cids[int(np.argmax(cos))]
        return pd.Series(out)

    return _assign


def ivfpq_encode_udf(
    coarse_codebook: list[tuple[int, list[float]]],
    pq_codebook: list[tuple[int, int, list[float]]],
    *,
    m: int,
    dsub: int,
):
    """Arrow-batched fused IVF-PQ posting encoder for streaming ingest:
    one pandas UDF does coarse-assign → residual → per-subspace PQ
    encode over driver-side numpy codebooks, returning a
    (centroid_id, codes) struct per vector. The streaming twin of the
    :func:`ivf_assign` → :func:`ivf_residuals` → :func:`pq_encode`
    batch chain, built once per sink lifetime (the
    codebook_assign_udf rationale: Column-fold forms carry codebook
    literals the analyzer re-walks every epoch).

    Bit-identity with the batch operators (pinned by the streaming
    twin test):
    - coarse stage is exactly :func:`codebook_assign_udf`'s kernel
      (cumsum left-fold dots/norms, first-max argmax = highest cosine
      then smallest cid, zero-norm → -2.0);
    - residual = float64(vec) − float64(coarse cv): exact;
    - per-subspace distance is the cumsum left fold of (r−c)², the
      same adds in the same order as ``_sq_l2``; np.argmin keeps the
      FIRST minimum over codes iterated in ascending j — pq_encode's
      (dist, j) min_by tie-break.
    """
    if not coarse_codebook or not pq_codebook:
        raise ValueError("both codebooks must be non-empty")
    import numpy as np

    ordered = sorted(
        (int(cid), [float(x) for x in cv]) for cid, cv in coarse_codebook
    )
    cids = np.asarray([c for c, _ in ordered], dtype=np.int64)
    cmat = np.asarray([cv for _, cv in ordered], dtype=np.float64)  # (C, D)
    cnorm = np.sqrt(np.cumsum(cmat * cmat, axis=1)[:, -1])
    by_s: dict[int, list[tuple[int, list[float]]]] = {}
    for s, j, cv in pq_codebook:
        by_s.setdefault(int(s), []).append((int(j), [float(x) for x in cv]))
    if sorted(by_s) != list(range(m)):
        raise ValueError(f"pq codebook must cover subspaces 0..{m - 1}")
    pq_j = []
    pq_mat = []
    for s in range(m):
        rows = sorted(by_s[s])
        pq_j.append(np.asarray([j for j, _ in rows], dtype=np.int32))
        pq_mat.append(np.asarray([cv for _, cv in rows], dtype=np.float64))

    @F.pandas_udf("centroid_id long, codes array<int>")
    def _encode(vecs: pd.Series) -> pd.DataFrame:
        out_cid = np.empty(len(vecs), dtype=np.int64)
        out_codes: list = []
        for i, v in enumerate(vecs):
            if v is None or len(v) != cmat.shape[1]:
                # degenerate vector (empty/short/long): the DataFrame
                # chain's zip_with pads the dot fold with NULLs, so
                # EVERY cosine is NULL and ivf_assign's max_by ties
                # through (NULL cos, -cid) to the SMALLEST cid; the
                # residual coalesces missing elements to 0.0. Mirror
                # both: ci = 0 (cids is sorted) and x zero-padded /
                # truncated to d before the subtraction.
                x = np.zeros(cmat.shape[1], dtype=np.float64)
                if v is not None and len(v) > 0:
                    ln = min(len(v), cmat.shape[1])
                    x[:ln] = np.asarray(v[:ln], dtype=np.float64)
                ci = 0
            else:
                x = np.asarray(v, dtype=np.float64)
                dots = np.cumsum(cmat * x[None, :], axis=1)[:, -1]
                vnorm = np.sqrt(np.cumsum(x * x)[-1])
                denom = vnorm * cnorm
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(denom == 0.0, -2.0, dots / denom)
                ci = int(np.argmax(cos))
            out_cid[i] = cids[ci]
            r = x - cmat[ci]
            codes = np.empty(m, dtype=np.int32)
            for s in range(m):
                rs = r[s * dsub : (s + 1) * dsub]
                d2 = (pq_mat[s] - rs[None, :]) ** 2
                dist = np.cumsum(d2, axis=1)[:, -1]
                codes[s] = pq_j[s][int(np.argmin(dist))]
            out_codes.append(codes)
        return pd.DataFrame({"centroid_id": out_cid, "codes": out_codes})

    return _encode


def incremental_semdedup_pairs_assigned(
    assigned_batch: DataFrame,
    seen_store: DataFrame,
    *,
    threshold: float,
    nsplits: int = 1,
    cache_into: list | None = None,
    fresh_into: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Core of :func:`incremental_semdedup_pairs` for a batch that is
    ALREADY assigned (``(doc, vec, centroid_id)`` — e.g. via the
    hoisted :func:`codebook_assign_column` in the streaming sink).
    Same contract and return value.

    Join orientation is the ingest contract: the BATCH is small (one
    micro-batch) and the STORE is the unbounded side, so both the
    within-batch self-join and the batch-vs-history join BROADCAST the
    batch — the store streams through one scan and is never shuffled.
    Pre-r09 the history join was a shuffle join, re-exchanging the
    whole store every epoch (quadratic total I/O over a stream's
    life)."""
    nb = assigned_batch.withColumn(
        "__sub", F.pmod(F.col("doc"), F.lit(nsplits))
    ).persist()
    if cache_into is not None:
        cache_into.append(nb)
    # ONE broadcast join does both the within-batch and the
    # batch-vs-history pairing: the right side is (store ∪ batch), so
    # a within-batch pair (a, b) arrives twice — (n=a, h=b) and
    # (n=b, h=a) — and collapses under least/greatest + the final
    # distinct, with the SAME cosine (the left-fold dot commutes
    # element-wise, so orientation cannot skew the float). Pre-r10 the
    # two cases were separate joins — an extra join + broadcast-build
    # job per micro-batch epoch. The store is banded on read — __sub
    # is pure arithmetic, no state; everything exchanged is
    # batch-sized and the store still streams through one scan.
    hb = (
        seen_store.withColumn(
            "__sub", F.pmod(F.col("doc"), F.lit(nsplits))
        )
        .unionByName(nb)
        .alias("h")
    )
    pairs = (
        F.broadcast(nb).alias("n")
        .join(
            hb,
            (F.col("n.centroid_id") == F.col("h.centroid_id"))
            & (F.col("n.__sub") == F.col("h.__sub"))
            # self guard — also the replay guard: a re-ingested id
            # must not pair with its own historical row
            & (F.col("n.doc") != F.col("h.doc")),
        )
        .select(
            F.least(F.col("n.doc"), F.col("h.doc")).alias("id_a"),
            F.greatest(F.col("n.doc"), F.col("h.doc")).alias("id_b"),
            vectors.cosine_cols("n.vec", "h.vec").alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        # dedups the doubled within-batch pairs AND replayed ids
        .distinct()
    )
    from .dedup import batch_minus_store

    # O(batch) store-freshness check — the store is scanned, never
    # shuffled (batch_minus_store docstring). fresh reads the PERSISTED
    # assigned batch, so exposing it via ``fresh_into`` lets a caller
    # append the store delta without re-running the batch's codebook
    # assignment a second time (measured a full duplicate ivf_assign
    # pass at the 1:10 ingest bench).
    fresh = batch_minus_store(
        nb.drop("__sub"),
        seen_store.select("doc"),
        "doc",
        store_unique_keys=True,  # one assignment row per doc by contract
    )
    if fresh_into is not None:
        fresh_into.append(fresh)
    return pairs, seen_store.unionByName(fresh)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF ANN search: score only corpus vectors whose centroid is among
    the query's ``nprobe`` nearest centroids. Recall < 1 by construction
    (the IVF trade); raise nprobe → exact at nprobe=|codebook|.

    Output: (query_id, neighbor_id, cosine, rank). Self-matches excluded.
    """
    cb = centroids.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    assigned = ivf_assign(
        corpus,
        cb,
        id_col=id_col,
        vec_col=vec_col,
        centroid_id="cid",
        centroid_vec="cv",
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    qscored = centroid_cosines(
        q, cb, vec_col="qvec", centroid_id="cid", centroid_vec="cv"
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cid"))
    probes = (
        qscored.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "qvec", F.col("cid").alias("centroid_id"))
    )
    cand = assigned.join(F.broadcast(probes), "centroid_id").filter(
        F.col("query_id") != F.col("doc")
    )
    scored = cand.select(
        "query_id",
        F.col("doc").alias("neighbor_id"),
        vectors.cosine_cols("qvec", "vec").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_filtered_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_col: str = "label",
    want_col: str = "want",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """METADATA-FILTERED IVF ANN serving — the production vector-store
    verb (FAISS-with-filters / Milvus / pgvector ``WHERE`` + ANN): each
    query carries a predicate value and only corpus vectors whose
    ``meta_col`` equals the query's ``want_col`` may be returned.

    Strategy is PRE-filter: the predicate is applied BEFORE any
    distance is computed, by riding as a second equi-key of the
    probe join — candidates = postings ⋈ broadcast(probes) on
    (centroid_id, meta = want). Post-filter (rank first, filter the
    top-k after) silently returns < k rows whenever the filter knocks
    out shortlist members; pre-filter pays |probed ∩ filtered| exact
    distances and keeps recall@k against the FILTERED ground truth
    honest (the eval twin measures it at two selectivities). The
    selectivity trade is the standard one: at 10% selectivity the
    probe scores ~10% of the probed lists' rows — cheaper than
    unfiltered — while recall degrades only via the coarse quantizer
    (matching vectors living outside the probed lists), not via
    shortlist truncation.

    Scale shape: identical to :func:`ivf_topk` — centroids and the
    |queries|·nprobe probe table broadcast; the corpus streams through
    one assignment scan (metadata rides along, so no id-keyed join
    back to fetch it); the filter is an equi-key, so Spark hashes it
    into the join — zero post-join filter rows, no corpus shuffle. At
    100 TB with postings written partitioned by centroid_id the probe
    prunes to nprobe partitions and the meta key prunes inside them.

    ``corpus``: (id, vec, meta); ``queries``: (id, vec, want). Output:
    (query_id, neighbor_id, cosine, rank), rank ≤ k among PASSING
    candidates only. Self-matches excluded."""
    cb = centroids.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    c = corpus.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).alias("vec"),
        F.col(meta_col).alias("__meta"),
    )
    scored = centroid_cosines(
        c, cb, vec_col="vec", centroid_id="cid", centroid_vec="cv"
    )
    # meta is functionally dependent on doc — adding it to the group
    # key keeps the argmax map-side combinable at unchanged key
    # cardinality while carrying the metadata through assignment
    assigned = scored.groupBy("doc", "__meta").agg(
        F.max_by(
            F.struct(F.col("cid"), F.col("vec")),
            F.struct(F.col("cos"), (-F.col("cid")).alias("__nc")),
        ).alias("__best")
    ).select(
        "doc",
        "__meta",
        F.col("__best.vec").alias("vec"),
        F.col("__best.cid").alias("centroid_id"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col(want_col).alias("__want"),
    )
    qscored = centroid_cosines(
        q, cb, vec_col="qvec", centroid_id="cid", centroid_vec="cv"
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("cid")
    )
    probes = (
        qscored.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select(
            "query_id", "qvec", F.col("cid").alias("__pcid"), "__want"
        )
    )
    cand = assigned.join(
        F.broadcast(probes),
        (F.col("centroid_id") == F.col("__pcid"))
        & (F.col("__meta") == F.col("__want")),
    ).filter(F.col("query_id") != F.col("doc"))
    ranked = cand.select(
        "query_id",
        F.col("doc").alias("neighbor_id"),
        vectors.cosine_cols("qvec", "vec").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return ranked.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def filtered_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_col: str = "label",
    want_col: str = "want",
    k: int = 5,
) -> DataFrame:
    """EXACT filtered brute-force top-k — the ground truth for
    :func:`ivf_filtered_topk`'s recall eval (and the correct serving
    plan when the filter is highly selective: at 0.1% selectivity the
    filtered brute force scores fewer vectors than an unfiltered IVF
    probe). The predicate is the broadcast-join equi-key itself, so
    the corpus streams through ONE scan and only passing rows are
    scored — never a scan-all-then-filter. Output:
    (query_id, neighbor_id, cosine, rank), rank ≤ k."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col(want_col).alias("__want"),
    )
    c = corpus.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).alias("vec"),
        F.col(meta_col).alias("__meta"),
    )
    cand = c.join(
        F.broadcast(q), F.col("__meta") == F.col("__want")
    ).filter(F.col("query_id") != F.col("doc"))
    scored = cand.select(
        "query_id",
        F.col("doc").alias("neighbor_id"),
        vectors.cosine_cols("qvec", "vec").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def hashed_text_embedding(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    dim: int = 64,
    out_dim: int = 16,
) -> DataFrame:
    """MODEL-FREE text embeddings: the bridge from raw text to this
    repo's ANN family without any external encoder. Two stages, both
    exact-integer: (1) hashing-trick signed bag-of-words (the
    docs_hashed_features scheme, ``dim`` buckets); (2) a deterministic
    ±1 random-sign projection to ``out_dim`` dims (Achlioptas 2003 —
    sign matrices satisfy the JL lemma; the sign of cell (b, j) is
    pure arithmetic, parity of ``(b*1315423911 + j*2654435761 + 5)
    % 1000000007``, so an external SQL engine reproduces every
    coordinate bit-exactly and no plane literals ride in the plan).

    The mix MUST NOT be parity-separable: an earlier form,
    ``(b*31 + j*17 + 5) % 2``, reduces to parity(b)^parity(j)^1
    (all coefficients odd), which makes the sign matrix RANK 1 —
    every doc embeds to ±c*(-1,1,-1,...) and all cosines are ±1.
    Routing the mix through an odd-prime modulus first decouples the
    bit from input parities (measured rank 15/16 at 64×16; the
    planted-cosine gate's negative control pins this property).
    Coefficients stay exact in int64: b < dim ≤ 2^20 and j < out_dim
    keep ``b*1315423911 + j*2654435761`` under 2^52.

    Near-duplicate texts differ in a few tokens → their sparse
    features differ in a few buckets → their projections stay close
    (verified by the planted-pair cosine gate). Output is LONG format
    (id, j, v) with BIGINT coordinates — feed a 16-slot pivot/collect
    when an array column is needed, or cosine the long form directly.

    Scale shape: tokenize → one (id, bucket) aggregate → a bounded
    ``out_dim``-way explode of the SPARSE features (not the tokens) →
    one (id, j) aggregate. Two keys-only shuffles, map-side combined;
    no UDFs, no literals, no joins."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(textfns.tokens(F.col(text_col))).alias("tok"),
    )
    staged = toks.withColumn("__h", textfns.char_hash(F.col("tok")))
    sgn = F.when(
        (F.floor(F.col("__h") / dim) % 2) == 0, F.lit(1)
    ).otherwise(F.lit(-1)).cast("long")
    sparse = (
        staged.select(
            "id",
            (F.col("__h") % dim).cast("long").alias("bucket"),
            sgn.alias("__s"),
        )
        .groupBy("id", "bucket")
        .agg(F.sum("__s").alias("w"))
        .filter(F.col("w") != 0)
    )
    # explode can't nest inside .cast() (CLAUDE.md) — explode first,
    # cast to long in the next projection (the driver hash is
    # type-tagged, and the oracle's range() yields BIGINT)
    exploded = sparse.select(
        "id",
        "w",
        "bucket",
        F.explode(
            F.sequence(F.lit(0), F.lit(out_dim - 1))
        ).alias("j"),
    )
    cell_sign = F.when(
        (
            (
                F.col("bucket") * F.lit(1315423911)
                + F.col("j") * F.lit(2654435761)
                + F.lit(5)
            )
            % F.lit(1000000007)
        )
        % 2
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1)).cast("long")
    return (
        exploded.select(
            "id",
            F.col("j").cast("long").alias("j"),
            (F.col("w") * cell_sign).alias("__t"),
        )
        .groupBy("id", "j")
        .agg(F.sum("__t").alias("v"))
    )


def ivf_topk_curve(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobes: tuple[int, ...] = (1, 2, 4),
) -> DataFrame:
    """IVF top-k at EVERY probe depth in one pass — the recall-vs-
    nprobe capacity curve's candidate generator. The corpus is
    assigned and joined against the probe map ONCE at max(nprobes),
    carrying each candidate's PROBE RANK (how deep in the query's
    centroid ranking its list sits); the result set at a smaller
    nprobe is then just ``probe_rank <= p`` over the checkpointed
    candidates — |nprobes| windowed top-k's over k-row-per-query
    frames instead of |nprobes| corpus scans.

    Output: (nprobe, query_id, neighbor_id, cosine, rank)."""
    pmax = max(nprobes)
    cb = centroids.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    assigned = ivf_assign(
        corpus, cb, id_col=id_col, vec_col=vec_col,
        centroid_id="cid", centroid_vec="cv",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    qscored = centroid_cosines(
        q, cb, vec_col="qvec", centroid_id="cid", centroid_vec="cv"
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("cid")
    )
    probes = (
        qscored.withColumn("probe_rank", F.row_number().over(wq))
        .filter(F.col("probe_rank") <= pmax)
        .select(
            "query_id", "qvec", "probe_rank",
            F.col("cid").alias("centroid_id"),
        )
    )
    cand = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("query_id") != F.col("doc"))
        .select(
            "query_id",
            "probe_rank",
            F.col("doc").alias("neighbor_id"),
            vectors.cosine_cols("qvec", "vec").alias("cosine"),
        )
        # |nprobes| consumers below — without the checkpoint the
        # corpus assignment + candidate join re-executes per depth
        .localCheckpoint()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    out = None
    for p in nprobes:
        topk = (
            cand.filter(F.col("probe_rank") <= p)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                F.lit(int(p)).cast("long").alias("nprobe"),
                "query_id",
                "neighbor_id",
                "cosine",
                "rank",
            )
        )
        out = topk if out is None else out.unionByName(topk)
    return out


def semdedup_pairs(
    assigned: DataFrame,
    *,
    id_col: str = "doc",
    vec_col: str = "vec",
    threshold: float,
    max_cluster: int,
) -> DataFrame:
    """Within-cluster cosine-similar pairs for SemDeDup (Abbas et al.
    2023) with a SKEW CAP: clusters larger than ``max_cluster`` are
    deterministically split into ``ceil(size / max_cluster)``
    sub-buckets (``id % nsplits``) before the self-join, so the
    candidate count is bounded by Σ ceil(size/cap)·C(cap, 2) — a giant
    cluster can no longer re-quadratize the pair join (pre-r08 the
    join was Σ size², unbounded under centroid skew). Like every
    banding trade in this repo, pairs crossing a sub-bucket boundary
    are candidate loss; the split is pure integer arithmetic
    (engine-portable, replayed verbatim by the SQL oracle) so the
    restriction is part of the verified contract, not silent loss.

    ``assigned``: (id, vec, centroid_id) from :func:`ivf_assign`.
    Output: (id_a, id_b) with id_a < id_b and cosine >= threshold.
    The verify reads per-row norms staged after the repartition
    (``vectors.stage``): one fold per candidate pair, and the shuffle
    still carries the input vectors, not their double casts.
    """
    # Materialize the assignment ONCE: it feeds three consumers (the
    # size aggregate and BOTH self-join sides), and Spark performs no
    # common-subexpression elimination across join sides — without the
    # checkpoint the upstream assignment (scan + |codebook| cosines +
    # argmax) re-executes 3x (measured 4.6 s -> 3.0 s on the SemDeDup
    # headline query). At cluster scale this materialization is the
    # assignment table you would persist partitioned by centroid_id
    # anyway (ivf_assign docstring).
    assigned = assigned.localCheckpoint()
    sizes = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("__csz")
    )
    keyed = (
        assigned.join(F.broadcast(sizes), "centroid_id")
        .withColumn(
            "__nsplits",
            F.expr(f"(__csz + {max_cluster - 1}) div {max_cluster}"),
        )
        .withColumn("__sub", F.pmod(F.col(id_col), F.col("__nsplits")))
    )
    # Pin the self-join's clustering to an EXPLICIT user-numbered
    # repartition (r17, the post-shuffle one-core trap): the assigned
    # table is a few MB, so AQE coalesces the join exchange to ~4
    # partitions and the O(Σ sz²) cosine verify — the query's dominant
    # CPU (12.1 CPU-s at the 1:100 bench corpus) — serializes on 4
    # cores (~3.0 s of the 6.7 s wall; measured). Both join sides are
    # projections of this one frame, so they share ONE reused exchange
    # and the join plans exchange-free at defaultParallelism (scale:
    # executor cores on a cluster); AQE never coalesces a
    # user-numbered repartition.
    n_parts = max(2, assigned.sparkSession.sparkContext.defaultParallelism)
    keyed = vectors.stage(
        keyed.repartition(n_parts, "centroid_id", "__sub"),
        vec_col, "centroid_id", "__sub", id_col,
    )
    l = keyed.select(
        "centroid_id",
        "__sub",
        F.col(id_col).alias("id_a"),
        F.col("__v").alias("va"),
        F.col("__n").alias("na"),
    )
    r = keyed.select(
        "centroid_id",
        "__sub",
        F.col(id_col).alias("id_b"),
        F.col("__v").alias("vb"),
        F.col("__n").alias("nb"),
    )
    return (
        l.join(r, ["centroid_id", "__sub"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(vectors.staged_cosine("va", "na", "vb", "nb") >= threshold)
        .select("id_a", "id_b")
    )


def incremental_semdedup_pairs(
    new_df: DataFrame,
    seen_store: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "cid",
    centroid_vec: str = "cv",
    threshold: float,
    nsplits: int = 1,
    cache_into: list | None = None,
    fresh_into: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """SemDeDup of a NEW vector batch against the persisted assignment
    store WITHOUT re-scoring history — the semantic member of the
    incremental family (exact fingerprints, minhash signatures, span
    grams, perceptual hashes). ``centroids`` is the STATIC codebook
    every batch assigns against (the store contract: cluster geometry
    is trained once, like the paper's k-means fit); ``seen_store`` is
    the persisted (doc, vec, centroid_id) table from earlier ingests
    (or empty with that schema) — partition it by centroid_id on disk
    and each batch equi-joins only the clusters it touches.

    Unlike :func:`semdedup_pairs`' size-derived skew cap (cluster size
    changes as batches arrive, so a size-dependent split would re-key
    history every ingest), the incremental form bounds skew with a
    STATIC ``nsplits``: sub-bucket = id % nsplits, ingest-order
    independent, so batch results equal a full recompute over the
    union corpus (same static split) restricted to pairs touching the
    batch. Returns ``(pairs, updated_store)``; pairs carry the exact
    cosine (symmetric under the left-fold — a[i]*b[i] commutes — so
    orientation cannot skew the float). The store update is
    replay-idempotent: re-ingested ids add no duplicate rows and the
    self-guard keeps them from pairing with their own history row.
    """
    nb = ivf_assign(
        new_df,
        centroids,
        id_col=id_col,
        vec_col=vec_col,
        centroid_id=centroid_id,
        centroid_vec=centroid_vec,
    )
    return incremental_semdedup_pairs_assigned(
        nb,
        seen_store,
        threshold=threshold,
        nsplits=nsplits,
        cache_into=cache_into,
        fresh_into=fresh_into,
    )


def embedding_near_duplicates(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 8,
    dim: int = 64,
    seed: int = 11,
    exact: bool = False,
) -> DataFrame:
    """Pairs with cosine >= threshold. Default: LSH-bucketed self-join
    (linear candidates, approximate recall). ``exact=True`` scores all
    pairs — verification/small-corpus mode only.
    """
    base = df.select(F.col(id_col).alias("doc"), F.col(vec_col).alias("vec"))
    if exact:
        l = base.select(F.col("doc").alias("id_a"), F.col("vec").alias("vec_a"))
        r = base.select(F.col("doc").alias("id_b"), F.col("vec").alias("vec_b"))
        pairs = l.join(r, F.col("id_a") < F.col("id_b"))
    else:
        bucketed = with_lsh_bucket(
            base, vec_col="vec", num_planes=num_planes, dim=dim, seed=seed
        )
        l = bucketed.select(
            F.col("doc").alias("id_a"), F.col("vec").alias("vec_a"), "bucket"
        )
        r = bucketed.select(
            F.col("doc").alias("id_b"), F.col("vec").alias("vec_b"), "bucket"
        )
        pairs = l.join(r, "bucket").filter(F.col("id_a") < F.col("id_b"))
    cos = vectors.cosine_cols("vec_a", "vec_b")
    return pairs.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


# --------------------------------------------------------------------------
# product quantization (PQ) — Jégou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011. The vector-DB compression
# standard: split each vector into M subvectors, quantize each against
# a per-subspace codebook, answer queries with asymmetric distance
# computation (ADC) over the code table.
# --------------------------------------------------------------------------


def pq_subvectors(
    df: DataFrame, *, vec_col: str, id_col: str, m: int, dsub: int
) -> DataFrame:
    """(id, s, sv): subspace s's ``dsub``-dim slice of every vector.
    Static inline of M struct literals in one ``selectExpr`` — no UDF,
    no shuffle, one JVM call to build."""
    parts = ", ".join(
        f"named_struct('s', {s}, 'sv', slice({vec_col}, {s * dsub + 1}, {dsub}))"
        for s in range(m)
    )
    return df.selectExpr(f"{id_col} AS id", f"inline(array({parts}))")


def _sq_l2(a: str, b: str) -> Column:
    """Left-fold squared L2 over double-cast elements of two named
    array columns — the exact op order the DuckDB oracle reproduces.
    One SQL expression: one JVM call to build."""
    diff = "(cast(x as double) - cast(y as double))"
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> {diff} * {diff}), 0D, (acc, d) -> acc + d)"
    )


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    m: int,
    dsub: int,
) -> DataFrame:
    """Encode every vector as M small codes: per subspace, the index of
    the nearest codebook centroid (squared L2, tie-break lowest code).

    ``codebook`` is (s, j, cv) — tiny (M x n_codes rows), broadcast; the
    corpus is scanned once and scored JVM-side. One aggregate keyed on
    (id) collects the codes in subspace order. Output: (id, codes
    array<int>). 64-dim float32 -> M bytes per vector: the compression
    that lets a 100 TB corpus's index fit in memory.
    """
    sub = pq_subvectors(df, vec_col=vec_col, id_col=id_col, m=m, dsub=dsub)
    scored = sub.join(F.broadcast(codebook), "s").select(
        "id",
        "s",
        "j",
        _sq_l2("sv", "cv").alias("dist"),
    )
    codes = scored.groupBy("id", "s").agg(
        F.expr("min_by(j, struct(dist, j)) AS code")
    )
    return codes.groupBy("id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(s, code))), x -> x.code) AS codes"
        )
    )


def pq_lloyd_step(
    sub: DataFrame,
    codebook: DataFrame,
    *,
    round_dp: int = 6,
) -> DataFrame:
    """One Lloyd iteration per PQ subspace — codebook TRAINING, the
    piece a production index runs k times before :func:`pq_encode`.

    E-step: every subvector joins the broadcast codebook and takes its
    nearest centroid (squared L2, tie-break lowest code — the exact
    rule ``pq_encode`` applies). M-step: each centroid becomes the
    per-dimension mean of its members in LONG format (posexplode +
    groupBy(s, j, dim)) so the update is one shuffle keyed on
    (subspace, code, dim) — no driver-side math, no vector-length
    column explosion. Means are ROUNDED (``round_dp``) before the
    rebuilt codebook is used downstream: double summation order
    differs across engines/partitionings, and rounding re-synchronizes
    the trained centroids so later distance folds match bit-for-bit
    (the ``kmeans_two_step`` determinism pattern).

    Input ``sub``: (id, s, sv) from :func:`pq_subvectors`;
    ``codebook``: (s, j, cv). Output: retrained (s, j, cv) — empty
    clusters drop out (join semantics), matching the SQL replay.
    """
    from ..queries._util import round_to

    scored = sub.join(F.broadcast(codebook), "s").select(
        "id", "s", "sv", "j", _sq_l2("sv", "cv").alias("dist")
    )
    assigned = scored.groupBy("id", "s").agg(
        F.min_by(F.struct("j", "sv"), F.struct("dist", "j")).alias("m")
    )
    expl = assigned.select(
        "s", F.col("m.j").alias("j"), F.posexplode("m.sv").alias("dim", "v")
    )
    means = expl.groupBy("s", "j", "dim").agg(
        round_to(F.avg("v"), round_dp).alias("c")
    )
    return means.groupBy("s", "j").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))),
            lambda x: x["c"],
        ).alias("cv")
    )


def pq_adc_topk(
    codes: DataFrame,
    codebook: DataFrame,
    query_sub: DataFrame,
    *,
    k: int,
) -> DataFrame:
    """Asymmetric distance computation: per subspace, the query-to-
    centroid distance table (M x n_codes entries — broadcast both ways),
    then each vector's approximate distance is the sum of its codes'
    table entries, folded in subspace order so the float sum is
    deterministic. Exact top-k by (distance, id)."""
    qtable = query_sub.join(F.broadcast(codebook), "s").select(
        F.col("s").alias("qs"), "j", _sq_l2("qv", "cv").alias("qd")
    )
    exploded = codes.select(
        "id", F.posexplode("codes").alias("s", "code")
    )
    per_sub = exploded.join(
        F.broadcast(qtable),
        (F.col("s") == F.col("qs")) & (F.col("code") == F.col("j")),
    ).select("id", "s", "qd")
    adc = per_sub.groupBy("id").agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(s, qd))), "
            "x -> x.qd), 0D, (acc, d) -> acc + d) AS adc_dist"
        )
    )
    return adc.orderBy("adc_dist", "id").limit(k)


def ivf_residuals(
    assigned: DataFrame,
    centroids: DataFrame,
    *,
    centroid_id: str = "cid",
    centroid_vec: str = "cv",
) -> DataFrame:
    """IVFADC residuals: r(x) = x − c(x), each vector minus its coarse
    centroid (Jégou et al., TPAMI 2011 §IV — the published IVFADC
    quantizes RESIDUALS, not raw vectors: inside one inverted list all
    members share a coarse centroid, so the residual distribution is
    centered and the M×k* PQ codebook spends its codes on the
    within-list variation instead of re-encoding the list's offset —
    sharper codes at the same bit budget, which is what keeps ADC
    ranking accurate at 100 TB).

    ``assigned`` is :func:`ivf_assign` output (doc, vec, centroid_id);
    ``centroids`` the (cid, cv) codebook — broadcast, so this is a
    pure map-side projection over the corpus. The subtraction is
    double arithmetic over identically-loaded inputs, hence bit-exact
    across engines (no rounding needed — a difference of two exact
    doubles is exact). Output: (doc, centroid_id, rvec array<double>).

    Degenerate vectors (empty/short): zip_with pads the missing
    elements with null; the coalesce to 0.0 makes the residual
    0 − c = −centroid, which is exactly what the fused single-pass
    encoder (:func:`ivfpq_encode_udf`) computes for an empty vector —
    the two paths agree on ALL inputs, not just well-formed ones.
    """
    cb = centroids.select(
        F.col(centroid_id).alias("__rc"), F.col(centroid_vec).alias("__rv")
    )
    return (
        assigned.join(
            F.broadcast(cb), assigned.centroid_id == F.col("__rc")
        )
        .select(
            "doc",
            "centroid_id",
            F.zip_with(
                "vec",
                "__rv",
                lambda x, y: F.coalesce(x.cast("double"), F.lit(0.0))
                - y.cast("double"),
            ).alias("rvec"),
        )
    )


def ivfpq_adc_topk(
    codes: DataFrame,
    codebook: DataFrame,
    query_sub: DataFrame,
    *,
    k: int,
) -> DataFrame:
    """Per-query, per-list asymmetric distance top-k — the
    residual-IVFADC probe (:func:`pq_adc_topk` generalized to
    LIST-DEPENDENT query tables and a query batch). With residual
    codes, a query's lookup table differs per probed list (the query
    residual q − c_L changes with L), so ``query_sub`` carries
    (query_id, centroid_id, s, qv) — one subvector set per (query,
    probed list) — and each candidate's fold uses ITS list's table via
    the (query_id, centroid_id, s, code) equi-join. ``codes`` carries
    the probed candidates already routed per query: (query_id, id,
    centroid_id, codes). Both the codebook and the
    |queries|·nprobe·M·k* table are broadcast; candidates are
    list-bounded, so nothing corpus-sized shuffles. ADC distance is a
    ROW-LOCAL subspace-ordered fold (engine-portable): the
    per-(query, list) distance table folds into one broadcast map
    keyed by s·65536+j, and each candidate row sums
    element_at(table, key(s, codes[s])) over ascending s — no
    posexplode, no M-wide 4-key equi-join, and no (query_id, id)
    re-aggregation exchange over candidate rows (the r11 shape paid
    all three; fold order and float values are identical, so result
    hashes are unchanged — VERDICT r11 #4). The map is keyed, not
    positional, so a codebook with non-dense code ids stays correct;
    a code absent from the codebook yields a NULL distance rather than
    the old inner join's silent subspace drop — ranked LAST explicitly
    (asc_nulls_last: Spark's asc default is NULLS FIRST, DuckDB's is
    NULLS LAST, and a corrupt candidate silently winning rank 1 is the
    wrong kind of loud). The final top-k is a window over each query's bounded
    candidate frame — never the corpus. Boundary contract: the
    s·65536+j map key assumes every codebook code id j < 65536 (PQ
    codebooks are 2^nbits entries, nbits ≤ 16 — far inside); an
    empty ``codes`` array yields a NULL adc_dist (ranked last) rather
    than detonating on Spark's descending sequence(0, -1). Output:
    (query_id, id, adc_dist, rank)."""
    qmap = (
        query_sub.join(F.broadcast(codebook), "s")
        .select(
            F.col("query_id").alias("qq"),
            F.col("centroid_id").alias("qc"),
            (F.col("s") * F.lit(65536) + F.col("j")).alias("key"),
            _sq_l2("qv", "cv").alias("value"),
        )
        .groupBy("qq", "qc")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("key", "value"))
            ).alias("__tbl")
        )
    )
    adc = codes.join(
        F.broadcast(qmap),
        (F.col("query_id") == F.col("qq"))
        & (F.col("centroid_id") == F.col("qc")),
    ).select(
        "query_id",
        "id",
        F.when(
            F.size("codes") > 0,
            F.aggregate(
                F.sequence(F.lit(0), F.size("codes") - F.lit(1)),
                F.lit(0.0),
                lambda acc, s: acc
                + F.element_at(
                    F.col("__tbl"),
                    s * F.lit(65536)
                    + F.element_at(F.col("codes"), s + F.lit(1)),
                ),
            ),
        ).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc_nulls_last(), "id"
    )
    return adc.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def incremental_ivfpq_postings(
    new_batch: DataFrame,
    posting_store: DataFrame,
    centroids: DataFrame,
    pq_codebook: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "cid",
    centroid_vec: str = "cv",
    m: int,
    dsub: int,
    cache_into: list | None = None,
) -> DataFrame:
    """Fresh IVF-PQ index postings for a NEW embedding batch — the ANN
    member of the incremental-ingest family (exact fingerprints,
    minhash signatures, span grams, perceptual hashes, semdedup
    assignments). The index geometry is STATIC by the store contract
    (coarse ``centroids`` and residual ``pq_codebook`` are trained
    once, like the paper's k-means fit), so a vector's posting
    (list id + residual PQ codes) is a pure function of the vector —
    ingest appends fresh postings and NEVER touches existing ones,
    and the incremental index equals a full rebuild over the union
    corpus row-for-row (tests/test_pq.py twin-proves it, probe
    included).

    Store-orientation contract (dedup.batch_minus_store): replayed ids
    are dropped by probing the posting store with a BROADCAST of the
    batch keys — everything exchanged is batch-sized, the store
    streams through one scan and is never shuffled. Then the fresh
    rows take the encode path of the residual composite: coarse-assign
    against the broadcast centroids, residual = vec − centroid
    (:func:`ivf_residuals`), PQ-encode the residual against the
    broadcast codebook — keyed on a (doc, centroid_id) struct so the
    list id rides through the encode aggregate and no post-join is
    needed. Output: (doc, centroid_id, codes) — append-only.

    Duplicate ids WITHIN one batch collapse to one posting
    (dropDuplicates on the id — encode is deterministic, so survivors
    are interchangeable)."""
    from . import dedup

    batch = new_batch.select(
        F.col(id_col).alias("doc"), F.col(vec_col).alias("vec")
    ).dropDuplicates(["doc"])
    fresh = dedup.batch_minus_store(
        batch,
        posting_store.select("doc"),
        "doc",
        batch_distinct=True,
        store_unique_keys=True,
    )
    if cache_into is not None:
        fresh = fresh.persist()
        cache_into.append(fresh)
    assigned = ivf_assign(
        fresh,
        centroids,
        id_col="doc",
        vec_col="vec",
        centroid_id=centroid_id,
        centroid_vec=centroid_vec,
    )
    res = ivf_residuals(
        assigned, centroids, centroid_id=centroid_id, centroid_vec=centroid_vec
    )
    keyed = res.select(
        F.struct("doc", "centroid_id").alias("__pk"), "rvec"
    )
    codes = pq_encode(
        keyed, pq_codebook, vec_col="rvec", id_col="__pk", m=m, dsub=dsub
    )
    return codes.select(
        F.col("id.doc").alias("doc"),
        F.col("id.centroid_id").alias("centroid_id"),
        "codes",
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the k most-similar corpus vectors with a DIFFERENT label — the
    pairs that sit just across the decision boundary and carry most of
    the gradient signal (easy negatives are already far away;
    triplet/InfoNCE training quality hinges on these).

    Same plan as :func:`cosine_topk`: the anchor set is broadcast (no
    corpus shuffle), cross-label filtering happens IN the join
    condition so same-label rows never materialize, and the per-anchor
    shortlist is a window bounded by the anchor partition. Exact
    scoring — at corpus scales where one scan per mining pass is too
    slow, swap the scorer for the IVF/ADC shortlist operators
    (ivf_topk/pq_adc_topk) and keep this ranking shape.

    Output: (anchor_id, anchor_label, neighbor_id, neighbor_label,
    cosine, rank), rank 1..k by cosine desc with neighbor-id tie-break.

    NULL-label semantics: the join condition is plain ``!=``, so a row
    with a NULL label (anchor OR corpus side) evaluates to NULL and is
    EXCLUDED — unlabeled rows mine no negatives and serve as none.
    This is deliberate: an unlabeled corpus row might share the
    anchor's class, and a false negative poisons contrastive training
    far more than a missed candidate. Pre-assign labels (or filter to
    labeled rows) before mining if NULL-labeled rows should count.
    """
    q = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("qvec"),
        F.col(label_col).alias("anchor_label"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col(label_col).alias("neighbor_label"),
    )
    scored = c.join(
        F.broadcast(q), F.col("anchor_label") != F.col("neighbor_label")
    ).select(
        "anchor_id",
        "anchor_label",
        "neighbor_id",
        "neighbor_label",
        vectors.cosine_cols("qvec", "cvec").alias("cosine"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def embedding_moment_sums(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale_bits: int = 20,
) -> DataFrame:
    """EXACT integer moment sums for PCA over an embedding column —
    the distributed half of principal-component extraction (SemDeDup
    §3 PCA-reduces embeddings before clustering; whitening/energy
    checks want the same matrix). Each vector is quantized
    q_i = floor(double(v_i) · 2^scale_bits) (floor toward −∞: exact,
    engine-portable), then ONE explode+groupBy pass emits tagged int64
    sums:

      (i=-1, j=-1, s)  →  n, the row count;
      (i,   j=-1, s)  →  S_i = Σ q_i, the first moments;
      (i,   j>=i, s)  →  M_ij = Σ q_i·q_j, the upper-tri second moments

    — d(d+1)/2 + d + 1 rows total. Integer sums are exact and
    order-independent, so the output is hash-portable without any
    sorted-fold machinery; the float work (centering, eigensolve)
    happens downstream on this tiny bounded table
    (:func:`top_pc_power_iteration`).

    Scale shape: the per-row d²/2 products are map-local (explode then
    partial hash aggregate — the shuffle carries only ~d²/2 rows PER
    PARTITION, not per row); nothing corpus-sized moves. Overflow
    bound: |s| <= n · 2^(2·scale_bits) — with the default 20 bits the
    int64 budget holds to n ≈ 4M rows of unit-range values; drop
    scale_bits (each −1 bit buys 4× more rows) or pre-aggregate per
    shard at larger n. Rows with a NULL vector are excluded from ALL
    sums including the count tag (their per-row entry array nulls
    through the concat and explode drops it) — consistent: a row
    either contributes to every moment or to none.
    """
    qexpr = F.transform(
        F.col(vec_col),
        lambda x: F.floor(
            x.cast("double") * F.lit(float(2**scale_bits))
        ).cast("long"),
    )
    staged = df.select(F.col(id_col).alias("id"), qexpr.alias("__q"))
    pairs = F.flatten(
        F.transform(
            "__q",
            lambda qi, i: F.transform(
                F.slice(F.col("__q"), i + 1, F.size("__q")),
                lambda qj, jo: F.struct(
                    i.cast("int").alias("i"),
                    (i + jo).cast("int").alias("j"),
                    (qi * qj).alias("p"),
                ),
            ),
        )
    )
    firsts = F.transform(
        "__q",
        lambda qi, i: F.struct(
            i.cast("int").alias("i"),
            F.lit(-1).alias("j"),
            qi.alias("p"),
        ),
    )
    count_tag = F.array(
        F.struct(
            F.lit(-1).alias("i"),
            F.lit(-1).alias("j"),
            F.lit(1).cast("long").alias("p"),
        )
    )
    ent = staged.select(
        F.explode(F.concat(count_tag, firsts, pairs)).alias("e")
    )
    return ent.groupBy(
        F.col("e.i").alias("i"), F.col("e.j").alias("j")
    ).agg(F.sum("e.p").alias("s"))


def top_pc_power_iteration(
    moment_rows, *, iters: int = 128, scale_bits: int = 20
) -> list[tuple[int, float, float, float]]:
    """Driver-side eigensolve over :func:`embedding_moment_sums`
    output — the documented bounded-collect class (the input is
    d(d+1)/2 + d + 1 rows BY CONSTRUCTION, like the kmeans++ candidate
    sample and BPE's per-iteration argmax). Returns
    [(dim, loading, eigval, explained_ratio)] for the top principal
    component of the CENTERED covariance C_ij = M_ij/n − (S_i/n)(S_j/n)
    (that exact op order), found by ``iters`` power iterations from
    v0 = 1/√d, with ||Cv|| as the eigenvalue estimate and
    explained_ratio = λ / trace(C). The default 128 iterations covers
    even a near-isotropic spectrum (convergence is (λ2/λ1)^iters; the
    synthetic corpus's gap is ~1.07, so 128 steps ≈ 1e-4 error —
    measured against numpy eigh); a real embedding corpus with a
    dominant direction converges in a handful. Note the oracle match
    does NOT depend on convergence — both engines replay identical
    arithmetic — it pins the implementation, while the numpy check in
    tests/test_pca.py pins the math.

    Every float statement is an explicit ascending-index LEFT FOLD
    from 0.0 (matvec rows, norms, trace), so the DuckDB oracle replays
    the arithmetic bit-for-bit with ``list_reduce([0.0] || terms)``
    (the single-row fold class CLAUDE.md documents as safe). The
    eigenvalue is de-quantized by 2^(2·scale_bits) — an exact
    power-of-two division. Sign convention: flip so loading[0] >= 0
    (both engines compute identical doubles, so they flip together).
    """
    import math

    n = None
    S: dict[int, int] = {}
    M: dict[tuple[int, int], int] = {}
    for r in moment_rows:
        i, j, s = int(r[0]), int(r[1]), int(r[2])
        if i == -1:
            n = s
        elif j == -1:
            S[i] = s
        else:
            M[(i, j)] = s
    if not n or not S:
        return []
    d = max(S) + 1
    # float() BEFORE dividing: Python int/int is correctly-rounded
    # exact division, but the SQL twin casts each integer to DOUBLE
    # first — for sums past 2^53 the two differ in the last bit, so
    # both engines must round-then-divide
    nf = float(n)
    # M.get(..., 0): a ragged/short vector can leave a moment cell
    # absent — treat it as a zero sum instead of KeyError
    C = [[0.0] * d for _ in range(d)]
    for i in range(d):
        for j in range(i, d):
            c = float(M.get((i, j), 0)) / nf - (float(S[i]) / nf) * (
                float(S[j]) / nf
            )
            C[i][j] = c
            C[j][i] = c
    v = [1.0 / math.sqrt(float(d))] * d
    lam = 0.0
    for _ in range(iters):
        u = []
        for i in range(d):
            acc = 0.0
            for j in range(d):
                acc = acc + C[i][j] * v[j]
            u.append(acc)
        acc = 0.0
        for i in range(d):
            acc = acc + u[i] * u[i]
        lam = math.sqrt(acc)
        if lam == 0.0:
            # all-identical vectors -> zero covariance: no principal
            # direction exists; defined empty result, like empty input
            return []
        v = [u[i] / lam for i in range(d)]
    if v[0] < 0:
        v = [-x for x in v]
    tr = 0.0
    for i in range(d):
        tr = tr + C[i][i]
    if tr == 0.0:
        return []
    ratio = lam / tr
    eig = lam / float(2 ** (2 * scale_bits))
    return [(i, v[i], eig, ratio) for i in range(d)]


def incremental_moment_sums(
    new_batch: DataFrame,
    moment_store: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale_bits: int = 20,
) -> DataFrame:
    """PCA moment-store ingest — the covariance member of the
    incremental family (exact fingerprints, minhash signatures, span
    grams, pHashes, semdedup assignments, ANN postings). The store IS
    the d(d+1)/2 + d + 1 tagged int64 sums of
    :func:`embedding_moment_sums`; ingest computes the batch's own
    moment pass and folds it in with one tiny groupBy. Because the
    sums are EXACT INTEGERS, addition is associative and the
    incremental store equals a full recompute over the union corpus
    BIT-FOR-BIT — not approximately, not after rounding (the twin test
    asserts row equality), which is a strictly stronger contract than
    the float-accumulator streaming-PCA folklore where batch order
    changes the answer.

    Scale shape: the corpus-sized work is the batch's own map-local
    moment pass; the store side is ~d² rows regardless of how many
    batches folded in, so re-solving the top PC after every ingest
    costs O(d² + d²·iters) on the driver — the index stays fresh with
    NO corpus re-scan. (The id column is not consulted: moment sums
    are anonymous aggregates, so replay protection belongs to the
    caller's batch feed, unlike the keyed stores.)"""
    b = embedding_moment_sums(
        new_batch, vec_col=vec_col, id_col=id_col, scale_bits=scale_bits
    )
    return (
        moment_store.select("i", "j", "s")
        .unionByName(b)
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
    )


def top_k_pcs_power_iteration(
    moment_rows, *, k: int = 3, iters: int = 256, scale_bits: int = 20
) -> list[tuple[int, int, float, float, float]]:
    """Top-``k`` principal components by power iteration WITH
    DEFLATION over :func:`embedding_moment_sums` output — the full
    PCA-reduce step SemDeDup §3 prescribes (k small), still entirely
    inside the bounded-collect class. After each component converges,
    C ← C − λ·v·vᵀ (elementwise ``C[i][j] - lam * v[i] * v[j]``, that
    exact left-associative op order) and the next component is found
    in the deflated matrix. Same portability contract as
    :func:`top_pc_power_iteration`: every float statement is an
    ascending left fold, so the DuckDB oracle replays it with one
    chained recursive CTE per component. explained_ratio divides by
    the ORIGINAL trace for every component. Power iteration's
    convergence is gap-limited — (λ_{m+1}/λ_m)^iters residual mixing —
    and the synthetic corpus is near-isotropic: measured gaps at
    sf0.01 are [1.013, 1.021, 1.040, 1.009, ...], so k=3 at iters=256
    converges (loading cos vs numpy eigh ≈ 0.9996+, pinned in
    tests/test_pca.py) while component 4's 1.009 gap would need ~1024
    iterations — the default stops where the spectrum supports it, and
    a real embedding corpus with actual dominant directions converges
    far faster. The oracle match never depends on convergence (both
    engines replay identical arithmetic).

    Returns [(component 1..k, dim, loading, eigval, explained_ratio)].
    """
    import math

    n = None
    S: dict[int, int] = {}
    M: dict[tuple[int, int], int] = {}
    for r in moment_rows:
        i, j, s = int(r[0]), int(r[1]), int(r[2])
        if i == -1:
            n = s
        elif j == -1:
            S[i] = s
        else:
            M[(i, j)] = s
    if not n or not S:
        return []
    d = max(S) + 1
    nf = float(n)
    # M.get(..., 0): missing moment rows behave like zero sums
    C = [[0.0] * d for _ in range(d)]
    for i in range(d):
        for j in range(i, d):
            c = float(M.get((i, j), 0)) / nf - (float(S[i]) / nf) * (
                float(S[j]) / nf
            )
            C[i][j] = c
            C[j][i] = c
    tr = 0.0
    for i in range(d):
        tr = tr + C[i][i]
    if tr == 0.0:
        # zero covariance (all-identical vectors): no spectrum
        return []
    out: list[tuple[int, int, float, float, float]] = []
    for comp in range(1, k + 1):
        v = [1.0 / math.sqrt(float(d))] * d
        lam = 0.0
        degenerate = False
        for _ in range(iters):
            u = []
            for i in range(d):
                acc = 0.0
                for j in range(d):
                    acc = acc + C[i][j] * v[j]
                u.append(acc)
            acc = 0.0
            for i in range(d):
                acc = acc + u[i] * u[i]
            lam = math.sqrt(acc)
            if lam == 0.0:
                # deflated past the matrix rank: components found so
                # far are the whole spectrum
                degenerate = True
                break
            v = [u[i] / lam for i in range(d)]
        if degenerate:
            break
        if v[0] < 0:
            v = [-x for x in v]
        eig = lam / float(2 ** (2 * scale_bits))
        ratio = lam / tr
        out.extend((comp, i, v[i], eig, ratio) for i in range(d))
        C = [
            [C[i][j] - lam * v[i] * v[j] for j in range(d)]
            for i in range(d)
        ]
    return out
