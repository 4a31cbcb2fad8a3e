"""Skew guard for LSH band buckets: the blocked self-join in
operators/dedup.banded_pairs must produce the IDENTICAL pair set as the
plain self-join while bounding the rows any single join task sees."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_data_processing_challenge_spark.operators import dedup
from pyspark_data_processing_challenge_spark.queries import llm
from tests.conftest import SF_DIR

HOT_N = 60  # one boilerplate bucket, well above the test threshold
NUM_BLOCKS = 4


@pytest.fixture()
def banded(spark):
    """A banded table with one hot bucket (60 docs share (0, 'boiler'))
    and many cold ones."""
    hot = spark.range(HOT_N).select(
        F.col("id").alias("doc"),
        F.lit(0).alias("band"),
        F.lit("boiler").alias("key"),
    )
    cold = spark.range(100, 140).select(
        F.col("id").alias("doc"),
        F.lit(1).alias("band"),
        (F.col("id") % 20).cast("string").alias("key"),
    )
    return hot.unionByName(cold)


def _pair_set(df):
    return {(r["id_a"], r["id_b"]) for r in df.select("id_a", "id_b").collect()}


def test_blocked_pairs_identical_to_plain(spark, banded):
    plain = _pair_set(dedup.banded_pairs(banded, hot_threshold=10**9))
    salted = _pair_set(
        dedup.banded_pairs(banded, hot_threshold=16, num_blocks=NUM_BLOCKS)
    )
    # plain pair count sanity: C(60,2) hot + 2 per cold key
    assert len(plain) == HOT_N * (HOT_N - 1) // 2 + 20
    assert salted == plain


def test_blocked_join_bounds_per_task_bucket(spark, banded):
    # reproduce the replication: per (band, key, b1, b2) join group, each
    # side holds only the docs of the two participating blocks — the
    # worst group must be ~2n/B rows, not n
    blk = F.pmod(F.xxhash64(F.col("doc")), F.lit(NUM_BLOCKS)).cast("int")
    sizes = (
        banded.filter(F.col("key") == "boiler")
        .withColumn("__blk", blk)
        .groupBy("__blk")
        .count()
        .collect()
    )
    per_block = {r["__blk"]: r["count"] for r in sizes}
    assert sum(per_block.values()) == HOT_N
    worst_group = max(per_block.values()) * 2
    assert worst_group < HOT_N  # strictly smaller than the unsalted bucket


def test_minhash_near_dup_salting_invariant(spark):
    """End-to-end: forcing every bucket through the blocked path changes
    nothing about the query result (the driver-verified oracle query
    runs with the default threshold)."""
    d = llm._perturbed_docs(spark, SF_DIR).limit(300)
    base = dedup.minhash_near_duplicates(
        d, "text", "doc_id", num_hashes=16, shingle_n=3, bands=4, threshold=0.5,
        hot_threshold=10**9,
    )
    salted = dedup.minhash_near_duplicates(
        d, "text", "doc_id", num_hashes=16, shingle_n=3, bands=4, threshold=0.5,
        hot_threshold=1, num_blocks=3,
    )
    b = {(r["id_a"], r["id_b"], round(r["est_jaccard"], 9)) for r in base.collect()}
    s = {(r["id_a"], r["id_b"], round(r["est_jaccard"], 9)) for r in salted.collect()}
    assert b == s
    assert b  # non-vacuous: planted near-dups produce pairs


def test_simhash_near_dup_salting_invariant(spark):
    d = llm._perturbed_docs(spark, SF_DIR).limit(200)
    base = dedup.simhash_near_duplicates(
        d, "text", "doc_id", bits=32, max_hamming=3, bands=4, shingle_n=3,
        hot_threshold=10**9,
    )
    salted = dedup.simhash_near_duplicates(
        d, "text", "doc_id", bits=32, max_hamming=3, bands=4, shingle_n=3,
        hot_threshold=1, num_blocks=3,
    )
    b = {(r["id_a"], r["id_b"], r["hamming"]) for r in base.collect()}
    s = {(r["id_a"], r["id_b"], r["hamming"]) for r in salted.collect()}
    assert b == s
    assert b


def test_blocked_pairs_no_same_block_duplication(spark):
    """Pairs whose docs hash to the SAME block must appear exactly once
    (the replica keys coincide for every q there — the join must pick
    one), so banded_pairs output needs no .distinct() to be a set."""
    hot = spark.range(40).select(
        F.col("id").alias("doc"),
        F.lit(0).alias("band"),
        F.lit("boiler").alias("key"),
    )
    out = dedup.banded_pairs(hot, hot_threshold=4, num_blocks=4)
    rows = out.select("id_a", "id_b").collect()
    pairs = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(pairs) == len(set(pairs)) == 40 * 39 // 2


def test_incremental_exact_dedup(spark):
    """Batch-over-batch dedup against the stored fingerprint table:
    previously-seen rows are dropped without touching old row data,
    batch-internal duplicates collapse, and the store accumulates."""
    schema = "k long, v string"
    empty_store = spark.createDataFrame([], "__fp0 long, __fp1 long")

    b1 = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b")], schema)
    fresh1, store1 = dedup.incremental_exact_dedup(b1, empty_store)
    assert sorted(tuple(r) for r in fresh1.collect()) == [(1, "a"), (2, "b")]
    assert store1.count() == 2

    # batch 2: one repeat of batch 1, one internal dup, one new row
    b2 = spark.createDataFrame([(2, "b"), (3, "c"), (3, "c"), (1, "z")], schema)
    fresh2, store2 = dedup.incremental_exact_dedup(b2, store1)
    assert sorted(tuple(r) for r in fresh2.collect()) == [(1, "z"), (3, "c")]
    assert store2.count() == 4

    # a third pass with nothing new yields nothing
    fresh3, store3 = dedup.incremental_exact_dedup(b1, store2)
    assert fresh3.count() == 0
    assert store3.count() == 4


def test_incremental_minhash_matches_full_recompute(spark):
    """Batch-over-batch near-dup must equal the full-corpus recompute:
    feed originals as batch 1 and their perturbed near-dups as batch 2;
    the union of per-batch pair sets equals minhash_near_duplicates on
    the whole corpus."""
    full_corpus = llm._perturbed_docs(spark, SF_DIR).limit(200).cache()
    batch1 = full_corpus.filter(F.col("doc_id") < 100000)
    batch2 = full_corpus.filter(F.col("doc_id") >= 100000)
    params = dict(num_hashes=16, shingle_n=3, bands=4, threshold=0.5)

    empty = spark.createDataFrame(
        [], "doc long, minhash array<bigint>, band int, key string"
    )
    p1, store1 = dedup.incremental_minhash_near_duplicates(
        batch1, empty, "text", "doc_id", **params
    )
    p2, _ = dedup.incremental_minhash_near_duplicates(
        batch2, store1, "text", "doc_id", **params
    )
    got = {
        (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
        for df in (p1, p2)
        for r in df.collect()
    }
    want = {
        (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
        for r in dedup.minhash_near_duplicates(
            full_corpus, "text", "doc_id", **params
        ).collect()
    }
    assert got == want
    assert want  # planted near-dups exist


def test_incremental_minhash_replay_idempotent(spark):
    """Re-ingesting a batch already in history (the at-least-once replay
    scenario incremental ingest exists for) must emit no self-pairs
    (id_a == id_b) and must NOT duplicate the replayed docs' band rows
    in the persisted store."""
    corpus = llm._perturbed_docs(spark, SF_DIR).limit(100).cache()
    params = dict(num_hashes=16, shingle_n=3, bands=4, threshold=0.5)
    empty = spark.createDataFrame(
        [], "doc long, minhash array<bigint>, band int, key string"
    )
    p1, store1 = dedup.incremental_minhash_near_duplicates(
        corpus, empty, "text", "doc_id", **params
    )
    n_store = store1.count()
    # replay the SAME batch against the store it produced
    p2, store2 = dedup.incremental_minhash_near_duplicates(
        corpus, store1, "text", "doc_id", **params
    )
    assert p2.filter(F.col("id_a") == F.col("id_b")).count() == 0
    assert store2.count() == n_store  # no duplicated band rows
    # replayed pairs are exactly the original pairs (full-recompute equal)
    key = lambda r: (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
    assert {key(r) for r in p2.collect()} == {key(r) for r in p1.collect()}


def test_merge_apply_null_op_is_upsert(spark):
    """A NULL op must act as an upsert, never a silent delete."""
    from pyspark_data_processing_challenge_spark.operators import cdc

    tgt = spark.createDataFrame([(1, "old"), (2, "keep")], "k long, v string")
    src = spark.createDataFrame(
        [(1, "new", None), (3, "ins", "U")], "k long, v string, op string"
    )
    out = cdc.merge_apply(tgt, src, ["k"])
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "new"),
        (2, "keep"),
        (3, "ins"),
    ]


def test_incremental_semdedup_matches_full_recompute(spark):
    """Batch-over-batch SemDeDup must equal the full recompute over the
    union corpus (same static centroid codebook + static id % nsplits
    sub-split) restricted to pairs touching the batch — plus, chaining
    two batches from an empty store, the union of per-batch pair sets
    equals the full pairing of the whole corpus."""
    from pyspark_data_processing_challenge_spark.operators import similarity
    from pyspark_data_processing_challenge_spark.queries._util import t

    emb = t(spark, SF_DIR, "embeddings").limit(300).cache()
    cent = emb.filter(F.col("vec_id") < llm.SEMDEDUP_NCLUSTERS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    th, nsp = llm.SEMDEDUP_THRESHOLD, llm.SEMDEDUP_INC_NSPLITS
    b1 = emb.filter(F.col("vec_id") % 4 != 0)
    b2 = emb.filter(F.col("vec_id") % 4 == 0)

    empty = spark.createDataFrame(
        [], "doc long, vec array<float>, centroid_id bigint"
    )
    p1, store1 = similarity.incremental_semdedup_pairs(
        b1, empty, cent, threshold=th, nsplits=nsp
    )
    p2, _ = similarity.incremental_semdedup_pairs(
        b2, store1, cent, threshold=th, nsplits=nsp
    )
    key = lambda r: (r["id_a"], r["id_b"], round(r["cosine"], 9))
    got = {key(r) for df in (p1, p2) for r in df.collect()}

    # independent full formulation: assign ALL vectors, self-join on
    # (centroid, id % nsplits), threshold on exact cosine
    from pyspark_data_processing_challenge_spark.functions import vectors

    assigned = similarity.ivf_assign(
        emb, cent, centroid_id="cid", centroid_vec="cv"
    ).withColumn("__sub", F.pmod(F.col("doc"), F.lit(nsp)))
    l = assigned.select(
        "centroid_id", "__sub",
        F.col("doc").alias("id_a"), F.col("vec").alias("vec_a"),
    )
    r = assigned.select(
        "centroid_id", "__sub",
        F.col("doc").alias("id_b"), F.col("vec").alias("vec_b"),
    )
    want = {
        key(row)
        for row in l.join(r, ["centroid_id", "__sub"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            vectors.cosine(F.col("vec_a"), F.col("vec_b")).alias("cosine"),
        )
        .filter(F.col("cosine") >= th)
        .collect()
    }
    assert got == want
    assert want  # near pairs exist on this corpus at th=0.4


def test_incremental_semdedup_replay_idempotent(spark):
    """Re-ingesting a batch already in history must emit no self-pairs,
    reproduce exactly the original pair set, and leave the persisted
    store row count unchanged."""
    from pyspark_data_processing_challenge_spark.operators import similarity
    from pyspark_data_processing_challenge_spark.queries._util import t

    emb = t(spark, SF_DIR, "embeddings").limit(150).cache()
    cent = emb.filter(F.col("vec_id") < llm.SEMDEDUP_NCLUSTERS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    th, nsp = llm.SEMDEDUP_THRESHOLD, llm.SEMDEDUP_INC_NSPLITS
    empty = spark.createDataFrame(
        [], "doc long, vec array<float>, centroid_id bigint"
    )
    p1, store1 = similarity.incremental_semdedup_pairs(
        emb, empty, cent, threshold=th, nsplits=nsp
    )
    n_store = store1.count()
    p2, store2 = similarity.incremental_semdedup_pairs(
        emb, store1, cent, threshold=th, nsplits=nsp
    )
    assert p2.filter(F.col("id_a") == F.col("id_b")).count() == 0
    assert store2.count() == n_store
    key = lambda r: (r["id_a"], r["id_b"], round(r["cosine"], 9))
    assert {key(r) for r in p2.collect()} == {key(r) for r in p1.collect()}
