"""Product quantization: recall sanity + plan discipline
(operators/similarity.pq_encode / pq_adc_topk)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_data_processing_challenge_spark import plans
from pyspark_data_processing_challenge_spark.queries import advanced
from tests.conftest import SF01_DIR


def test_pq_codes_shape_and_range(spark):
    out = advanced.pq_codes(spark, SF01_DIR).collect()
    assert len(out) == 500
    for r in out:
        codes = [int(c) for c in r.codes.split(",")]
        assert len(codes) == advanced.PQ_M
        assert all(0 <= c < advanced.PQ_NCODES for c in codes)


def _exact_topk_ids(spark):
    from pyspark_data_processing_challenge_spark.queries._util import t

    emb = t(spark, SF01_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") == advanced.PQ_QID).first().embedding
    exact = (
        emb.select(
            "vec_id",
            F.aggregate(
                F.zip_with(
                    "embedding",
                    F.array(*[F.lit(float(x)) for x in q]),
                    lambda x, y: (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(advanced.PQ_TOPK)
        .collect()
    )
    return {r.vec_id for r in exact}


def test_pq_adc_recall_vs_exact(spark):
    approx = [r.vec_id for r in advanced.pq_topk(spark, SF01_DIR).collect()]
    exact_ids = _exact_topk_ids(spark)
    # the query vector itself must be found (its ADC distance is the
    # quantization floor), and compressed search should recover a fair
    # share of the true neighbors on 16-code-per-subspace quantization
    assert advanced.PQ_QID in approx
    overlap = len(exact_ids & set(approx))
    assert overlap >= 3, (overlap, approx, sorted(exact_ids))


def test_pq_trained_recall_at_least_convention(spark):
    """Lloyd training must not LOSE recall vs the first-16 convention
    init — the point of pq_trained_topk (VERDICT r05 item 3)."""
    exact_ids = _exact_topk_ids(spark)
    conv = {r.vec_id for r in advanced.pq_topk(spark, SF01_DIR).collect()}
    trained_rows = advanced.pq_trained_topk(spark, SF01_DIR).collect()
    trained = {r.vec_id for r in trained_rows}
    assert advanced.PQ_QID in trained
    conv_recall = len(exact_ids & conv)
    trained_recall = len(exact_ids & trained)
    assert trained_recall >= conv_recall, (
        trained_recall, conv_recall, sorted(trained), sorted(conv),
    )


def test_pq_trained_plan_broadcasts(spark):
    top = advanced.pq_trained_topk(spark, SF01_DIR)
    # init codebook (E-step), trained codebook (encode), query table
    assert plans.broadcast_join_count(top) >= 3
    assert plans.sort_merge_join_count(top) == 0


def test_pq_plans_broadcast_codebook(spark):
    df = advanced.pq_codes(spark, SF01_DIR)
    assert plans.broadcast_join_count(df) >= 1
    top = advanced.pq_topk(spark, SF01_DIR)
    assert plans.broadcast_join_count(top) >= 2  # codebook + query table
    assert plans.sort_merge_join_count(top) == 0


def test_ivfpq_probes_subset_and_broadcasts(spark):
    # the composite path must rank a SUBSET (probed lists only) and
    # keep every small side broadcast
    top = advanced.ivfpq_topk(spark, SF01_DIR)
    rows = top.collect()
    assert len(rows) == advanced.PQ_TOPK
    assert plans.broadcast_join_count(top) >= 3  # centroids, probes, codebook
    assert plans.sort_merge_join_count(top) == 0


def test_ivfpq_build_submits_one_job(spark):
    """Constructing ivfpq_topk runs exactly one Spark job — the
    embeddings schema inference. The PQ codebook is cut from the same
    read, and nothing else may execute before the caller's action."""
    sc = spark.sparkContext
    group = "ivfpq-build-pin"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        advanced.ivfpq_topk(spark, SF01_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_kmeanspp_seeds_beat_convention_after_one_lloyd_step(spark):
    """VERDICT r09 item 6: k-means++ (maximin) seeding must improve the
    spherical-k-means objective (mean cosine to the assigned centroid)
    over the convention first-k-ids codebook, measured after ONE Lloyd
    step from each init — the pq_lloyd_step precedent. Deterministic
    data + deterministic seeding → a pinned relation, not a flaky
    statistical bet (measured 0.2480 vs 0.2427 at sf0.001, 0.2449 vs
    0.2417 at sf0.01)."""
    from pyspark_data_processing_challenge_spark.functions import vectors
    from pyspark_data_processing_challenge_spark.operators import similarity
    from pyspark_data_processing_challenge_spark.queries._util import spread, t
    from tests.conftest import SF_DIR

    emb = spread(t(spark, SF_DIR, "embeddings"))

    def one_step_objective(cent):
        a = similarity.ivf_assign(
            emb, cent, centroid_id="cid", centroid_vec="cv"
        )
        means = (
            a.select("centroid_id", F.posexplode("vec").alias("dim", "v"))
            .groupBy("centroid_id", "dim")
            .agg(F.avg("v").alias("c"))
        )
        cent2 = (
            means.groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "c"))),
                    lambda x: x["c"],
                ).alias("cv")
            )
            .select(F.col("centroid_id").alias("cid"), "cv")
        )
        a2 = similarity.ivf_assign(
            emb, cent2, centroid_id="cid", centroid_vec="cv"
        )
        j = a2.join(cent2, a2.centroid_id == cent2.cid).select(
            vectors.cosine(F.col("vec"), F.col("cv")).alias("cos")
        )
        return j.agg(F.avg("cos")).collect()[0][0]

    seeds = similarity.kmeanspp_seed(emb, k=8, n_candidates=64, salt="kmpp")
    pp = seeds.select(F.col("id").alias("cid"), F.col("vec").alias("cv"))
    conv = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assert one_step_objective(pp) >= one_step_objective(conv)


def test_kmeanspp_seed_determinism_and_shape(spark):
    from pyspark_data_processing_challenge_spark.operators import similarity
    from pyspark_data_processing_challenge_spark.queries._util import t
    from tests.conftest import SF_DIR

    emb = t(spark, SF_DIR, "embeddings")
    a = similarity.kmeanspp_seed(emb, k=5, n_candidates=32, salt="x").collect()
    b = similarity.kmeanspp_seed(emb, k=5, n_candidates=32, salt="x").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert [r["seed_rank"] for r in a] == [1, 2, 3, 4, 5]
    assert len({r["id"] for r in a}) == 5
    assert a[0]["min_dist2"] == 0.0
    # maximin distances are non-increasing in rank
    ds = [r["min_dist2"] for r in a[1:]]
    assert all(x >= y for x, y in zip(ds, ds[1:]))


def _exact_topk_ids_for(spark, qid):
    from pyspark_data_processing_challenge_spark.operators.similarity import (
        _sq_l2,
    )
    from pyspark_data_processing_challenge_spark.queries._util import t

    emb = t(spark, SF01_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") == qid).select(
        F.col("embedding").alias("qe")
    )
    exact = (
        emb.crossJoin(F.broadcast(q))
        .select("vec_id", _sq_l2("embedding", "qe").alias("d"))
        .orderBy("d", "vec_id")
        .limit(advanced.PQ_TOPK + 1)
        .collect()
    )
    return {r.vec_id for r in exact} - {qid}


def test_ivfpq_residual_recall_at_least_raw(spark):
    """VERDICT r10 #2: true IVFADC trains the coarse quantizer and
    quantizes RESIDUALS (vec - coarse centroid), which centers the
    per-list distribution and sharpens the PQ codes — summed over the
    10-query batch its recall@10 must beat the raw-vector composite
    (same _ivfpq_multi pipeline, residual=False: untrained coarse +
    convention raw codebook = ivfpq_topk semantics). Measured at
    sf0.01: 26 vs 14 — the pin keeps that ordering, per the
    pq_lloyd_step 'trained >= convention' precedent."""
    from pyspark_data_processing_challenge_spark.queries.extended import (
        IVF_QUERY_HI,
        IVF_QUERY_LO,
    )

    raw_rows = advanced._ivfpq_multi(spark, SF01_DIR, residual=False).collect()
    res_rows = advanced.ivfpq_residual_topk(spark, SF01_DIR).collect()
    raw_by_q: dict[int, set] = {}
    res_by_q: dict[int, set] = {}
    for r in raw_rows:
        raw_by_q.setdefault(r.query_id, set()).add(r.id)
    for r in res_rows:
        res_by_q.setdefault(r.query_id, set()).add(r.vec_id)
    tot_raw = tot_res = 0
    for qid in range(IVF_QUERY_LO, IVF_QUERY_HI):
        exact = _exact_topk_ids_for(spark, qid)
        tot_raw += len(exact & raw_by_q.get(qid, set()))
        tot_res += len(exact & res_by_q.get(qid, set()))
    assert tot_res > tot_raw, (tot_res, tot_raw)


def test_ivfpq_residual_plan_no_smj_no_cartesian(spark):
    """The residual composite must stay broadcast-shaped: coarse
    codebook, probes, candidate ids, PQ codebook and per-(query, list)
    tables are all broadcast — nothing corpus-sized shuffles for a
    join and nothing is an unhinted cartesian. The only window sorts
    each query's bounded candidate frame."""
    top = advanced.ivfpq_residual_topk(spark, SF01_DIR)
    assert plans.broadcast_join_count(top) >= 5
    assert plans.sort_merge_join_count(top) == 0
    assert "CartesianProduct" not in plans.executed_plan(top)


def test_ivfpq_ingest_twin_equals_rebuild(spark, tmp_path):
    """VERDICT r10 #3: the incrementally-maintained IVF-PQ index must
    EQUAL a full rebuild. Three RANGE-split batches (with deliberate
    replay overlap — batch 2 re-sends 50 ids from batch 1) append
    postings to a parquet store via incremental_ivfpq_postings; the
    final store must match the one-shot rebuild row-for-row, and an
    ADC probe reading the INCREMENTAL store (parquet round-trip
    included) must return exactly the rebuild's top-k."""
    from pyspark_data_processing_challenge_spark.operators.similarity import (
        incremental_ivfpq_postings,
        ivf_assign,
        ivf_residuals,
        ivfpq_adc_topk,
        pq_subvectors,
    )
    from pyspark_data_processing_challenge_spark.queries._util import t
    from pyspark_data_processing_challenge_spark.queries.extended import (
        IVF_NCENTROIDS,
        IVF_NPROBE,
    )
    from pyspark_data_processing_challenge_spark.functions import vectors

    emb = t(spark, SF01_DIR, "embeddings")
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    cb_src = emb.filter(
        (F.col("vec_id") >= IVF_NCENTROIDS)
        & (F.col("vec_id") < IVF_NCENTROIDS + advanced.PQ_NCODES)
    )
    cb = pq_subvectors(
        ivf_residuals(
            ivf_assign(cb_src, cent, centroid_id="cid", centroid_vec="cv"),
            cent,
        ),
        vec_col="rvec",
        id_col="doc",
        m=advanced.PQ_M,
        dsub=advanced.PQ_DSUB,
    ).select(
        "s", (F.col("id") - IVF_NCENTROIDS).alias("j"), F.col("sv").alias("cv")
    )
    kw = dict(m=advanced.PQ_M, dsub=advanced.PQ_DSUB)
    store_dir = str(tmp_path / "postings")
    empty = spark.createDataFrame([], "doc long")
    # range-split batches; batch 2 replays ids 100..149 from batch 1
    splits = [(0, 150), (100, 350), (300, 100_000)]
    first = True
    for lo, hi in splits:
        batch = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        store = (
            empty if first else spark.read.parquet(store_dir).select("doc")
        )
        fresh = incremental_ivfpq_postings(batch, store, cent, cb, **kw)
        fresh.write.mode("append").parquet(store_dir)
        first = False
    inc = spark.read.parquet(store_dir)
    full = incremental_ivfpq_postings(emb, empty, cent, cb, **kw)

    def rows(df):
        return sorted(
            (r.doc, r.centroid_id, tuple(r.codes)) for r in df.collect()
        )

    inc_rows, full_rows = rows(inc), rows(full)
    assert len(inc_rows) == emb.count()  # replays appended exactly once
    assert inc_rows == full_rows
    # probe equality over the PARQUET store vs the rebuilt postings
    q = emb.filter(F.col("vec_id") == advanced.PQ_QID).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    probes = (
        q.join(F.broadcast(cent))
        .select(
            "query_id",
            "qe",
            "cid",
            "cv",
            vectors.cosine(F.col("qe"), F.col("cv")).alias("qcos"),
        )
        .orderBy(F.desc("qcos"), "cid")
        .limit(IVF_NPROBE)
        .select("query_id", "qe", F.col("cid").alias("centroid_id"), "cv")
    )
    qres = probes.select(
        F.struct("query_id", "centroid_id").alias("qk"),
        F.zip_with(
            "qe", "cv", lambda x, y: x.cast("double") - y.cast("double")
        ).alias("rvec"),
    )
    qsub = pq_subvectors(qres, vec_col="rvec", id_col="qk", **kw).select(
        F.col("id.query_id").alias("query_id"),
        F.col("id.centroid_id").alias("centroid_id"),
        "s",
        F.col("sv").alias("qv"),
    )

    def probe(postings):
        cand = postings.join(
            F.broadcast(probes.select("query_id", "centroid_id")),
            "centroid_id",
        ).filter(F.col("doc") != F.col("query_id")).select(
            "query_id", F.col("doc").alias("id"), "centroid_id", "codes"
        )
        out = ivfpq_adc_topk(cand, cb, qsub, k=advanced.PQ_TOPK)
        return [(r.query_id, r.id, r.rank) for r in out.collect()]

    assert probe(inc) == probe(full)


def test_rerank_lifts_residual_recall(spark):
    """Stage-2 exact rerank must never lose a hit vs ADC-only (the
    shortlist contains the ADC top-k by construction... NOT quite: it
    re-orders by exact cosine, so per-query it can only gain hits that
    exact ordering surfaces from deeper in the shortlist — assert the
    corpus-wide lift and per-query non-collapse) — recall@10 measured
    0.26 -> 0.42 at sf0.01."""
    from pyspark_data_processing_challenge_spark.queries import advanced
    from tests.conftest import SF01_DIR

    rows = advanced.ivfpq_rerank_recall_eval(spark, SF01_DIR).collect()
    assert len(rows) == 10
    total_adc = sum(r.n_hit_adc for r in rows)
    total_rer = sum(r.n_hit_rerank for r in rows)
    assert total_rer > total_adc, (total_adc, total_rer)
    assert total_rer >= 40  # measured 42; guard against regressions


def test_encode_udf_degenerate_vectors_match_batch_chain(spark):
    """VERDICT r12 #6: feed an actually-EMPTY vector and a SHORT
    (len < d) vector through BOTH encode paths — the fused
    ivfpq_encode_udf kernel and the ivf_assign → ivf_residuals →
    pq_encode DataFrame chain — and assert (centroid_id, codes)
    equality row-for-row. The chain's semantics for degenerates are
    fixed by zip_with NULL padding (every cosine NULL → smallest cid;
    residual coalesces missing elements to 0.0); the UDF must mirror
    them, not crash on the numpy shape mismatch."""
    from pyspark_data_processing_challenge_spark.operators.similarity import (
        ivf_assign,
        ivf_residuals,
        ivfpq_encode_udf,
        pq_encode,
        pq_subvectors,
    )
    from pyspark_data_processing_challenge_spark.queries import advanced as adv
    from pyspark_data_processing_challenge_spark.queries._util import t

    emb = t(spark, SF01_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    cb = pq_subvectors(
        ivf_residuals(
            ivf_assign(
                emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 24)),
                cent, centroid_id="cid", centroid_vec="cv",
            ),
            cent,
        ),
        vec_col="rvec", id_col="doc", m=adv.PQ_M, dsub=adv.PQ_DSUB,
    ).select("s", (F.col("id") - 8).alias("j"), F.col("sv").alias("cv"))

    degenerates = spark.createDataFrame(
        [
            (10001, []),                       # zero-length
            (10002, [0.5, -0.25, 0.125]),      # short: len 3 < d=64
            (10003, [0.0] * 64),               # zero-NORM but full-length
        ],
        "vec_id long, embedding array<double>",
    )
    corpus = emb.filter(F.col("vec_id") < 30).unionByName(degenerates)

    assigned = ivf_assign(corpus, cent, centroid_id="cid", centroid_vec="cv")
    chain = (
        pq_encode(
            ivf_residuals(assigned, cent),
            cb,
            vec_col="rvec", id_col="doc", m=adv.PQ_M, dsub=adv.PQ_DSUB,
        )
        .join(assigned.select("doc", "centroid_id"), F.col("id") == F.col("doc"))
        .select("doc", "centroid_id", "codes")
    )
    enc = ivfpq_encode_udf(
        [(r.cid, list(r.cv)) for r in cent.collect()],
        [(r.s, r.j, list(r.cv)) for r in cb.collect()],
        m=adv.PQ_M, dsub=adv.PQ_DSUB,
    )
    fused = corpus.select(
        F.col("vec_id").alias("doc"), enc("embedding").alias("o")
    ).select("doc", F.col("o.centroid_id").alias("centroid_id"),
             F.col("o.codes").alias("codes"))

    def rows(df):
        return sorted(
            (r["doc"], r["centroid_id"], tuple(int(c) for c in r["codes"]))
            for r in df.collect()
        )

    got_chain, got_fused = rows(chain), rows(fused)
    assert got_chain == got_fused
    # the degenerate rows themselves must be present and on the
    # smallest centroid (the documented NULL-cosine tie-break)
    by_doc = {d: (c, k) for d, c, k in got_fused}
    min_cid = min(r.cid for r in cent.collect())
    for doc in (10001, 10002, 10003):
        assert by_doc[doc][0] == min_cid, (doc, by_doc[doc])


def test_adc_topk_empty_codes_ranked_last(spark):
    """ADVICE r12: an empty codes array must yield a NULL adc_dist
    ranked LAST (asc_nulls_last), not detonate on Spark's descending
    sequence(0, -1)."""
    from pyspark_data_processing_challenge_spark.operators.similarity import (
        ivfpq_adc_topk,
    )

    codes = spark.createDataFrame(
        [(1, 100, 0, [0, 1]), (1, 101, 0, [1, 0]), (1, 102, 0, [])],
        "query_id long, id long, centroid_id long, codes array<int>",
    )
    codebook = spark.createDataFrame(
        [(0, 0, [0.0, 0.0]), (0, 1, [1.0, 1.0]),
         (1, 0, [0.0, 0.0]), (1, 1, [2.0, 2.0])],
        "s int, j int, cv array<double>",
    )
    qsub = spark.createDataFrame(
        [(1, 0, 0, [0.5, 0.5]), (1, 0, 1, [0.5, 0.5])],
        "query_id long, centroid_id long, s int, qv array<double>",
    )
    out = ivfpq_adc_topk(codes, codebook, qsub, k=3).collect()
    by_id = {r.id: r for r in out}
    assert by_id[102].adc_dist is None
    assert by_id[102].rank == 3  # NULLs last, never silently rank 1
