"""Bit-exact twins for the staged vector kernels.

``ivf_assign``, ``semdedup_pairs`` and ``knn_graph`` score pairs over
per-row norms staged once (``vectors.stage``), and the PQ kernels are
built as single SQL expressions. Each is compared here with a
reference built from the unstaged Column folds (``vectors.cosine`` and
the Python-lambda squared-L2 fold), with exact double equality — the
fold order is the contract, so no tolerance.

The corpus is random float32 plus a zero vector (every cosine NULL:
the smallest centroid id must win) and two centroids tied on cosine
(one is the other scaled by 2, which scales dot and norm exactly: the
smaller centroid id must win)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pyspark_data_processing_challenge_spark.functions import vectors
from pyspark_data_processing_challenge_spark.operators import similarity

DIM = 16
M, DSUB = 4, 4
ZERO_ID = 999
TIE_LO, TIE_HI = 2, 7  # cv(TIE_LO) == 2 * cv(TIE_HI)


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(DIM)]) for i in range(160)]
    rows.append((ZERO_ID, [0.0] * DIM))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def centroids(spark, corpus):
    base = {r.vec_id: list(r.embedding) for r in corpus.filter("vec_id < 6").collect()}
    rows = [(cid, v) for cid, v in base.items() if cid != TIE_LO]
    rows.append((TIE_HI, base[TIE_LO]))
    rows.append((TIE_LO, [2.0 * x for x in base[TIE_LO]]))
    return spark.createDataFrame(rows, "cid long, cv array<float>")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _ref_assign(corpus, centroids):
    """ivf_assign over the unstaged Column cosine."""
    scored = corpus.select(
        F.col("vec_id").alias("doc"), F.col("embedding").alias("vec")
    ).join(F.broadcast(centroids)).select(
        "doc", "vec", "cid", vectors.cosine(F.col("vec"), F.col("cv")).alias("cos")
    )
    return scored.groupBy("doc").agg(
        F.max_by(
            F.struct("cid", "vec"), F.struct(F.col("cos"), (-F.col("cid")).alias("nc"))
        ).alias("b")
    ).select("doc", F.col("b.vec").alias("vec"), F.col("b.cid").alias("centroid_id"))


def _ref_sq_l2(a, b):
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, d: acc + d)


def test_ivf_assign_matches_unstaged_twin(spark, corpus, centroids):
    got = similarity.ivf_assign(corpus, centroids, centroid_id="cid", centroid_vec="cv")
    want = _ref_assign(corpus, centroids)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    by_doc = {r.doc: r.centroid_id for r in got.collect()}
    assert by_doc[ZERO_ID] == 0  # all-NULL cosines: smallest cid
    # the tied pair: a row on that direction goes to the smaller cid
    assert by_doc[TIE_LO] == TIE_LO
    # the staged scorer itself equals the Column cosine, NULLs included
    pairs = corpus.crossJoin(F.broadcast(centroids))
    staged = vectors.stage(
        vectors.stage(pairs, "embedding", "vec_id", "cid", "cv", vec="va", norm="na"),
        "cv", "vec_id", "cid", "va", "na", vec="vb", norm="nb",
    ).select("vec_id", "cid", vectors.staged_cosine("va", "na", "vb", "nb").alias("c"))
    unstaged = pairs.select(
        "vec_id", "cid", vectors.cosine(F.col("embedding"), F.col("cv")).alias("c")
    )
    named = pairs.select("vec_id", "cid", vectors.cosine_cols("embedding", "cv").alias("c"))
    want_c = _rows(unstaged)
    assert _rows(staged) == want_c
    assert _rows(named) == want_c
    assert any(c is None for _v, _c, c in want_c)


def test_semdedup_pairs_matches_unstaged_twin(spark, corpus, centroids):
    assigned = _ref_assign(corpus, centroids).localCheckpoint()
    cap = 16
    sizes = assigned.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("sz"))
    keyed = assigned.join(sizes, "centroid_id").withColumn(
        "sub", F.pmod(F.col("doc"), F.expr(f"(sz + {cap - 1}) div {cap}"))
    )
    l = keyed.select("centroid_id", "sub", F.col("doc").alias("id_a"), F.col("vec").alias("va"))
    r = keyed.select("centroid_id", "sub", F.col("doc").alias("id_b"), F.col("vec").alias("vb"))
    cos = l.join(r, ["centroid_id", "sub"]).filter("id_a < id_b").select(
        "id_a", "id_b", vectors.cosine(F.col("va"), F.col("vb")).alias("c")
    ).filter(F.col("c").isNotNull()).collect()
    # thresholds ON exact pair cosines, and one ulp above them: a
    # boundary pair is kept at the first and dropped at the second only
    # if the staged fold reproduces its double bit-for-bit
    ranked = sorted(cos, key=lambda x: -x.c)
    staged = similarity.ivf_assign(corpus, centroids, centroid_id="cid", centroid_vec="cv")
    for i in range(len(ranked) // 20, len(ranked), len(ranked) // 10):
        for threshold in (ranked[i].c, math.nextafter(ranked[i].c, 2.0)):
            want = sorted((x.id_a, x.id_b) for x in cos if x.c >= threshold)
            got = _rows(
                similarity.semdedup_pairs(staged, threshold=threshold, max_cluster=cap)
            )
            assert got == want, threshold
            assert want


@pytest.mark.parametrize("p", [1, 2])
def test_knn_graph_matches_unstaged_twin(spark, corpus, centroids, p):
    k = 4
    scored = corpus.join(F.broadcast(centroids)).select(
        "vec_id", "embedding", "cid",
        vectors.cosine(F.col("embedding"), F.col("cv")).alias("mc"),
    )
    wm = Window.partitionBy("vec_id").orderBy(F.col("mc").desc(), "cid")
    lists = scored.withColumn("rn", F.row_number().over(wm)).filter(
        F.col("rn") <= p
    ).select("cid", "vec_id", "embedding")
    a = lists.select("cid", "vec_id", F.col("embedding").alias("va"))
    b = lists.select("cid", F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("vb"))
    pairs = a.join(b, "cid").filter("vec_id != neighbor_id").groupBy(
        "vec_id", "neighbor_id"
    ).agg(F.max(vectors.cosine(F.col("va"), F.col("vb"))).alias("cosine"))
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    want = pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    got = similarity.knn_graph(corpus, centroids, k=k, p=p)
    assert _rows(got) == _rows(want)


def test_pq_kernels_match_unstaged_twin(spark, corpus):
    sub = similarity.pq_subvectors(
        corpus, vec_col="embedding", id_col="vec_id", m=M, dsub=DSUB
    )
    parts = F.array(*[
        F.struct(
            F.lit(s).alias("s"), F.slice(F.col("embedding"), s * DSUB + 1, DSUB).alias("sv")
        )
        for s in range(M)
    ])
    ref_sub = corpus.select(F.col("vec_id").alias("id"), F.inline(parts))
    assert sub.schema == ref_sub.schema
    assert _rows(sub) == _rows(ref_sub)
    cb = sub.filter("id < 8").select("s", F.col("id").alias("j"), F.col("sv").alias("cv"))
    # reference encode: Python-lambda fold, min_by, sorted collect
    scored = ref_sub.join(F.broadcast(cb), "s").select(
        "id", "s", "j", _ref_sq_l2(F.col("sv"), F.col("cv")).alias("dist")
    )
    ref_codes = scored.groupBy("id", "s").agg(
        F.min_by("j", F.struct("dist", "j")).alias("code")
    ).groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "code"))), lambda x: x["code"]
        ).alias("codes")
    )
    codes = similarity.pq_encode(
        corpus, cb, vec_col="embedding", id_col="vec_id", m=M, dsub=DSUB
    )
    assert codes.schema == ref_codes.schema
    assert _rows(codes) == _rows(ref_codes)
    # reference ADC: per-subspace table, sorted fold over the codes
    qsub = sub.filter("id = 40").select("s", F.col("sv").alias("qv"))
    qtable = qsub.join(F.broadcast(cb), "s").select(
        F.col("s").alias("qs"), "j", _ref_sq_l2(F.col("qv"), F.col("cv")).alias("qd")
    )
    per_sub = ref_codes.select("id", F.posexplode("codes").alias("s", "code")).join(
        F.broadcast(qtable), (F.col("s") == F.col("qs")) & (F.col("code") == F.col("j"))
    )
    ref_adc = per_sub.groupBy("id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "qd"))), lambda x: x["qd"]
            ),
            F.lit(0.0),
            lambda acc, d: acc + d,
        ).alias("adc_dist")
    ).orderBy("adc_dist", "id").limit(20)
    got = similarity.pq_adc_topk(codes, cb, qsub, k=20)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in ref_adc.collect()]
