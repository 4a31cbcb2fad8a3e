"""Deduplication operators for LLM training-data pipelines.

North-star extension (SURVEY.md §7.4): the reference's only dedup is an
all-column ``dropDuplicates`` (data_process.py:242). A 100 TB corpus
needs a family of strategies, each with a different cost/recall point:

- exact: hash-groupBy on a content fingerprint — one shuffle on a
  16-byte key regardless of row width.
- minhash_near_duplicates: shingle → MinHash → LSH banding → bucket
  join. Candidate generation is linear in corpus size (band buckets),
  NOT quadratic; only within-bucket pairs are scored.
- simhash_near_duplicates: 32/64-bit fingerprint, near-dups differ in
  few bits; banding on bit-slices for candidate generation.
- embedding near-dup: cosine threshold over LSH buckets (see
  operators/similarity.py for the bucketing).

Everything is DataFrame-native: shuffles only on narrow derived keys,
no driver-side loops. The MinHash and SimHash signatures are the one
Python step: a numpy Arrow UDF (functions/fast_text.py) per row,
bit-identical to the JVM expressions ``with_minhash``/``with_simhash``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import textfns
from ..functions.fast_text import simhash_udf, with_minhash_fast

# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def exact_duplicates(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Groups of exact (normalized) duplicate documents.

    Returns one row per duplicated fingerprint: (fp, n_docs, keep_id)
    where keep_id is the smallest id — the canonical survivor.
    """
    fp = textfns.fingerprint(F.col(text_col)).alias("fp")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def with_row_fingerprint(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    *,
    out_cols: tuple[str, str] = ("__fp0", "__fp1"),
) -> DataFrame:
    """Attach a 128-bit whole-row fingerprint as two long columns.

    Two independently-seeded ``xxhash64`` calls over the column values —
    JVM-native, type-aware (no string-concat ambiguity), and 128
    combined bits keep the collision probability negligible at 100 TB
    row counts, where a single 64-bit hash would already see birthday
    collisions (~4e9 rows).

    Null safety: ``xxhash64`` SKIPS null arguments entirely, so hashing
    bare columns would collide rows that differ only in which column is
    null (('x', NULL) vs (NULL, 'x')). Each column is therefore
    preceded by a never-null is-null indicator, which pins both the
    position and the nullness of every value in the hashed sequence.
    """
    cols = list(cols) if cols is not None else df.columns
    tagged = [x for c in cols for x in (F.isnull(F.col(c)).cast("int"), F.col(c))]
    return df.withColumns(
        {
            out_cols[0]: F.xxhash64(F.lit(0), *tagged),
            out_cols[1]: F.xxhash64(F.lit(1), *tagged),
        }
    )


def drop_duplicate_rows(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    *,
    shuffle: str = "wide",
) -> DataFrame:
    """Exact row dedup — result-identical to ``dropDuplicates()``.

    The default whole-row form (``shuffle="wide"``, ``cols=None``) IS
    ``df.dropDuplicates()``: grouping on all columns compiles to a
    keys-only Tungsten HashAggregate on the UnsafeRow's binary bytes,
    and a fingerprint would be a pure function of that group key. The
    narrow path and column subsets key on the 128-bit row fingerprint
    (:func:`with_row_fingerprint`), whose 16 bytes are the persistable
    key incremental dedup anti-joins new batches against at 100 TB.

    ``shuffle`` picks the physical strategy; the result set is identical:

    - ``"wide"`` (default): one aggregate shuffling FULL-WIDTH rows,
      keyed on all columns (whole rows) or on the subset's fingerprint.
      Optimal for narrow rows (the shuffle IS the row) and for corpora
      where most rows are duplicated.
    - ``"narrow"``: two scans, no full-width shuffle of unique rows.
      Pass A shuffles ONLY the 16-byte fingerprint per row to count
      group sizes and keep the fingerprints seen more than once — a
      duplicate-GROUP-bounded set, broadcast back. Pass B re-scans:
      rows whose fingerprint is not in that set stream through with NO
      exchange at all; only the duplicated rows (duplicate-bounded)
      are deduped full-width. At lineitem width this cuts shuffle-write
      bytes ~5x (24 B vs ~120 B per row) and makes the job's cost
      scan-bound instead of shuffle-write-bound — the right 100 TB
      shape for wide rows on shared disks, at the price of computing
      the fingerprint map-side twice (scans are cheap; shuffle writes
      hit the one disk every tenant shares). Requires the duplicated-
      fingerprint set to fit in a broadcast (real-corpus dup-group
      counts; an all-duplicates corpus should use ``"wide"``).

    For ``cols=None`` (whole-row) the two forms are bit-identical. For
    a column SUBSET both keep one arbitrary row per group (upstream
    ``dropDuplicates`` semantics) — the survivor's non-key columns may
    differ between forms, as between any two Spark runs.
    """
    if shuffle not in ("wide", "narrow"):
        raise ValueError(f"shuffle must be 'wide' or 'narrow', got {shuffle!r}")
    if shuffle == "wide" and cols is None:
        return df.dropDuplicates()
    fp_cols = ("__fp0", "__fp1")
    fingerprinted = with_row_fingerprint(df, cols, out_cols=fp_cols)
    if shuffle == "narrow":
        # pass A counts groups under ONE 8-byte fingerprint, not the
        # pair — a 64-bit collision (birthday ~4e-5 even at 4e7 rows)
        # only sends two DIFFERENT rows into the survivors branch,
        # where the full 128-bit dedup keeps them both, so correctness
        # never rests on fp0 alone while the count shuffle halves again
        # (~13 B/row vs ~21; fp1's hash computation is also pruned out
        # of the count and anti-join branches).
        #
        # The count goes through an EXPLICIT repartition, not a bare
        # groupBy (guide §2.5 / §5): fingerprints are ~all distinct, so
        # the default partial+final hash aggregate builds a map-side
        # table that reduces nothing — at the 1:600 bench corpus
        # (36.6M rows) it spilled ~3.2 GB memory / 0.6 GB disk in the
        # scan stage and another ~3.3/0.65 GB in the 32-partition final
        # agg. Routing the raw fp column through repartition(8x cores)
        # makes the map side a pure project+shuffle-write (same bytes —
        # map-side combine saves nothing on unique keys) and shrinks
        # each post-shuffle table ~8x below the spill threshold:
        # measured 19.4/9.8 s -> 12.0/6.4 s on interleaved same-weather
        # reps, spill -> 0. The multiplier scales with the session
        # (defaultParallelism on a cluster is total executor cores), so
        # per-task table size stays bounded as data and cluster grow
        # together; AQE never coalesces a user-numbered repartition.
        n_count_parts = 8 * df.sparkSession.sparkContext.defaultParallelism
        dup_fps = (
            fingerprinted.select(fp_cols[0])
            .repartition(n_count_parts, fp_cols[0])
            .groupBy(fp_cols[0])
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .select(fp_cols[0])
        )
        # uniques pass through map-side only (the anti join's build side
        # is the broadcast dup-fp set); survivors are duplicate-bounded,
        # so their full-width dedup exchange is negligible by contract
        uniques = fingerprinted.join(
            F.broadcast(dup_fps), [fp_cols[0]], "left_anti"
        )
        survivors = fingerprinted.join(
            F.broadcast(dup_fps), [fp_cols[0]], "left_semi"
        ).dropDuplicates(list(fp_cols))
        return uniques.unionByName(survivors).drop(*fp_cols)
    return fingerprinted.dropDuplicates(list(fp_cols)).drop(*fp_cols)


def batch_minus_store(
    batch: DataFrame,
    store: DataFrame,
    key_cols: Sequence[str] | str,
    *,
    batch_distinct: bool = False,
    store_unique_keys: bool = False,
) -> DataFrame:
    """Batch rows whose key is NOT in the store, WITHOUT shuffling the
    store — the anti-join shape every incremental ingest needs. A plain
    ``batch ANTI store`` join shuffles the unbounded store every batch
    (O(store) network per ingest); instead (1) one store SCAN probed by
    a broadcast of the batch keys emits the hit set (≤ |batch| keys),
    (2) the batch anti-joins the broadcast hits. Everything exchanged
    is batch-sized; the store streams through a single scan.

    ``batch_distinct=True`` asserts the caller already collapsed the
    batch to distinct keys (e.g. the fingerprint-deduped batch of
    :func:`incremental_exact_dedup`) and skips the probe's defensive
    pre-broadcast ``distinct`` — one less batch-sized exchange on the
    ingest floor.

    ``store_unique_keys=True`` asserts the store holds at most one row
    per key (a dedup fingerprint store by contract) and skips the hit
    set's ``distinct`` — the left-anti probe only checks existence, so
    duplicate hit keys would be correct but pay an extra batch-sized
    exchange; with unique store keys the semi-join output is already
    distinct. Leave False for banded stores (multiple rows per doc)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    probe = batch.select(*keys)
    if not batch_distinct:
        probe = probe.distinct()
    hits = store.join(F.broadcast(probe), keys, "left_semi").select(*keys)
    if not store_unique_keys:
        hits = hits.distinct()
    return batch.join(F.broadcast(hits), keys, "left_anti")


def incremental_exact_dedup(
    new_df: DataFrame,
    seen_fps: DataFrame,
    cols: Sequence[str] | None = None,
    *,
    keep_fps: bool = False,
    cache_into: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The 100 TB ingest pattern the row fingerprint exists for: dedup a
    NEW batch against the full corpus WITHOUT touching old data.

    ``seen_fps`` is the stored fingerprint table (just the two longs —
    16 bytes/row regardless of corpus row width). Returns
    ``(fresh_rows, updated_seen_fps)``: rows never seen before (batch-
    internal duplicates also collapsed), and the store to persist for
    the next batch. Re-running whole-corpus ``dropDuplicates`` nightly
    re-shuffles everything ever ingested.

    Join orientation is the ingest contract (the same rule as the
    incremental SemDeDup join): the BATCH is the small side, the store
    is unbounded. A plain ``batch ANTI store`` join shuffles the WHOLE
    store every batch — O(store) network per ingest, which at a 1:10
    batch:store ratio made the incremental path LOSE to full recompute
    (measured 4.5 s vs 4.1 s at sf0.1). Instead: (1) one store SCAN
    probed by a broadcast of the batch fingerprints emits the ≤|batch|
    hit set; (2) the batch anti-joins the broadcast hit set. The store
    is never shuffled and everything exchanged is batch-sized.

    ``keep_fps=True`` leaves the ``__fp0``/``__fp1`` columns on the
    returned fresh rows so an ingest can persist rows AND their store
    fingerprints from ONE computed frame (persist/localCheckpoint it)
    instead of re-running the anti-join per output.

    ``cache_into``: when a list is passed, the deduped fingerprinted
    batch is persisted and appended to it (caller unpersists) — the
    batch feeds both the store probe's broadcast and the anti-join's
    left side, and without the cache the fingerprint + dedup lineage
    executes once per consumer (measured 3x at the bench's 1:10
    ingest shape).
    """
    fp_cols = ["__fp0", "__fp1"]
    fingerprinted = with_row_fingerprint(new_df, cols)
    # all-column grouping for whole-row dedup: keys-only HashAggregate
    # instead of a wide first()-carrying SortAggregate on the fp subset
    # (measured ~2x slower on lineitem)
    batch = (
        fingerprinted.dropDuplicates()
        if cols is None
        else fingerprinted.dropDuplicates(fp_cols)
    )
    if cache_into is not None:
        batch = batch.persist()
        cache_into.append(batch)
    # the batch is already fp-deduped above, and the store is unique
    # per fingerprint by contract — skip both defensive distincts
    # (two fewer batch-sized exchanges per ingest)
    fresh = batch_minus_store(
        batch, seen_fps, fp_cols, batch_distinct=True, store_unique_keys=True
    )
    updated = seen_fps.unionByName(fresh.select(*fp_cols))
    return (fresh if keep_fps else fresh.drop(*fp_cols)), updated


def drop_exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly one row (min id) per normalized-content fingerprint.

    Window-free alternative to groupBy+join-back would be
    ``dropDuplicates([fp])``, but that keeps an arbitrary row; min-id is
    deterministic, which correctness gates and reruns need.
    """
    fp = textfns.fingerprint(F.col(text_col)).alias("__fp")
    w = Window.partitionBy("__fp").orderBy(F.col(id_col))
    return (
        df.withColumn("__fp", fp)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


# --------------------------------------------------------------------------
# skew-guarded banded self-join (shared by MinHash-LSH and SimHash)
# --------------------------------------------------------------------------


def blocked_replicas(
    exploded: DataFrame, *, hot_threshold: int, num_blocks: int
) -> DataFrame:
    """The banded table ``(doc, ..., band, key)`` keyed for one blocked
    self-join or grouped kernel: adds ``__blk``, ``b1``, ``b2``.

    A window count over ``(band, key)`` sizes every bucket. A bucket of
    one row can emit no pair and is dropped here. A hot row (bucket
    above ``hot_threshold``) gets ``__blk = hash(doc) % num_blocks`` and
    one replica per block q under ``(min(__blk, q), max(__blk, q))``; a
    cold row gets ``__blk = 0`` and the single replica ``(0, 0)``. A
    pair (a, b) is then taken only under the replica whose key IS its
    ordered block pair ``(min(__blk_a, __blk_b), max(...))`` — exactly
    once, including when both docs hash to the same block (where every
    q yields the same key). For cold rows that rule holds trivially, so
    one join or one grouping serves both kinds of bucket, while the
    worst hot task shrinks from n² to (n/num_blocks)² pairs at a
    num_blocks× replication of only the hot rows."""
    w = Window.partitionBy("band", "key")
    sized = exploded.withColumn("__bn", F.count(F.lit(1)).over(w)).filter(
        F.col("__bn") > 1
    )
    hot = F.col("__bn") > hot_threshold
    blk = F.when(
        hot, F.pmod(F.xxhash64(F.col("doc")), F.lit(num_blocks)).cast("int")
    ).otherwise(F.lit(0))
    blocks = F.array(*[F.lit(q) for q in range(num_blocks)])
    keys = F.when(
        hot,
        F.transform(
            blocks,
            lambda q: F.struct(
                F.least(F.col("__blk"), q).alias("b1"),
                F.greatest(F.col("__blk"), q).alias("b2"),
            ),
        ),
    ).otherwise(F.array(F.struct(F.lit(0).alias("b1"), F.lit(0).alias("b2"))))
    return (
        sized.withColumn("__blk", blk)
        .withColumn("__bp", F.explode(keys))
        .select(
            *exploded.columns,
            "__blk",
            F.col("__bp.b1").alias("b1"),
            F.col("__bp.b2").alias("b2"),
        )
    )


def banded_pairs(
    exploded: DataFrame,
    payload_col: str | None = None,
    *,
    hot_threshold: int = 64,
    num_blocks: int = 8,
) -> DataFrame:
    """Candidate pairs from a banded table ``(doc, [payload,] band, key)``:
    docs sharing a (band, key) bucket, ``id_a < id_b``, payload carried
    as ``payload_a``/``payload_b`` when requested. Each pair appears
    once per bucket it shares.

    One lazy plan, one self-join: :func:`blocked_replicas` keys every
    row by ``(band, key, b1, b2)`` — the skew guard for boilerplate-
    heavy corpora, where thousands of docs share one band bucket and a
    plain self-equi-join would build one quadratic task — and the join
    adds its exactly-once rule. The pair set is IDENTICAL to the plain
    ``(band, key)`` join.

    Nothing is persisted: with one join there is one consumer of the
    window under it (both join sides read the same exchange), so the
    signature stage feeding ``exploded`` runs once without a cache, and
    the operator owns no cached frame that would outlive its query. A
    caller that runs several actions over the result persists and
    releases it.
    """
    rep = blocked_replicas(
        exploded, hot_threshold=hot_threshold, num_blocks=num_blocks
    )
    l, r = rep.alias("l"), rep.alias("r")
    joined = l.join(
        r,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.key") == F.col("r.key"))
        & (F.col("l.b1") == F.col("r.b1"))
        & (F.col("l.b2") == F.col("r.b2"))
        # the replica key must BE this pair's block pair (kills the
        # same-block num_blocks× duplication)
        & (F.col("l.b1") == F.least(F.col("l.__blk"), F.col("r.__blk")))
        & (F.col("l.b2") == F.greatest(F.col("l.__blk"), F.col("r.__blk")))
        & (F.col("l.doc") < F.col("r.doc")),
    )
    out = [F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b")]
    if payload_col:
        out.append(F.col(f"l.{payload_col}").alias(f"{payload_col}_a"))
        out.append(F.col(f"r.{payload_col}").alias(f"{payload_col}_b"))
    return joined.select(*out)


# --------------------------------------------------------------------------
# MinHash + LSH near-dup
# --------------------------------------------------------------------------


def with_minhash(
    df: DataFrame,
    text_col: str,
    *,
    num_hashes: int = 16,
    shingle_n: int = 3,
    out_col: str = "minhash",
) -> DataFrame:
    """Two-stage plan: materialize the shingle-hash array as its own
    projected column, then derive the signature from it. The staged
    alias is referenced ``num_hashes`` times downstream — Catalyst keeps
    the projection split (non-cheap multi-use alias), so the char-level
    fold runs ONCE per row instead of once per slot (a ~16x win; see
    textfns.shingle_hashes)."""
    staged = df.withColumn(
        "__shingle_hs", textfns.shingle_hashes(F.col(text_col), shingle_n)
    )
    return staged.withColumn(
        out_col, textfns.minhash_from_hashes(F.col("__shingle_hs"), num_hashes)
    ).drop("__shingle_hs")


def _minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int,
    shingle_n: int,
) -> DataFrame:
    """(doc, minhash) signatures through the numpy Arrow UDF
    (functions/fast_text.py), bit-identical to :func:`with_minhash`."""
    return with_minhash_fast(
        df.select(id_col, text_col), text_col,
        num_hashes=num_hashes, shingle_n=shingle_n,
    ).select(F.col(id_col).alias("doc"), "minhash")


def _band_keys(sig_col: str, bands: int, rows_per_band: int) -> Column:
    """LSH band explode, aliased ``bk``: one (band, key) struct per band,
    ``key`` being the band's signature slice joined as a '-' string."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.array_join(
                        F.transform(
                            F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                        "-",
                    ).alias("key"),
                )
                for b in range(bands)
            ]
        )
    ).alias("bk")


def _n_agree(a: Column, b: Column) -> Column:
    """Number of signature slots where ``a`` and ``b`` agree."""
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda eq: eq))


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    *,
    sig_col: str = "minhash",
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: docs sharing ANY band of the signature are candidate
    near-duplicates. Output: (id_a, id_b) distinct pairs, id_a < id_b.

    Plan shape at scale: explode to (band_idx, band_key, id) — linear —
    then a self-equi-join on (band_idx, band_key), with hot buckets
    routed through the blocked join in :func:`banded_pairs` (boilerplate
    skew guard; identical pair set).
    """
    exploded = df.select(
        F.col(id_col).alias("doc"), _band_keys(sig_col, bands, rows_per_band)
    ).select("doc", "bk.band", "bk.key")
    return banded_pairs(exploded).distinct()


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
    threshold: float = 0.7,
    hot_threshold: int = 64,
    num_blocks: int = 8,
) -> DataFrame:
    """End-to-end near-dup pairs with estimated Jaccard >= threshold.

    Estimated Jaccard = fraction of agreeing signature slots, computed
    only for banded candidates. The full signature rides along through
    the band explode, so the expensive text→signature fold is evaluated
    once per side of the self-join — no join-back to the corpus.

    Signatures come from the numpy Arrow UDF (functions/fast_text.py):
    the values of :func:`with_minhash`, ~5x faster per row.

    The signature frame is repartitioned before the self-join: both
    join sides then read the SAME shuffle output (AQE stage reuse), so
    the text→signature work runs once total instead of once per side —
    measured ~4.6x on the end-to-end query. (The equivalent at 100 TB:
    checkpoint signatures to storage and join from there.)

    Band buckets larger than ``hot_threshold`` go through the blocked
    self-join (:func:`banded_pairs`) — same pair set, bounded task size
    under boilerplate skew.
    """
    sigs = _minhash_signatures(
        df, text_col, id_col, num_hashes=num_hashes, shingle_n=shingle_n
    ).repartition("doc")
    exploded = sigs.select(
        "doc", "minhash", _band_keys("minhash", bands, num_hashes // bands)
    ).select("doc", "minhash", "bk.band", "bk.key")
    pairs = banded_pairs(
        exploded, "minhash", hot_threshold=hot_threshold, num_blocks=num_blocks
    )
    agree = _n_agree(F.col("minhash_a"), F.col("minhash_b"))
    est = agree.cast("double") / F.lit(float(num_hashes))
    return (
        pairs.select("id_a", "id_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
        .distinct()
    )


def _banded_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int,
    shingle_n: int,
    bands: int,
) -> DataFrame:
    """(doc, minhash, band, key) banded signature table for a corpus —
    the persistable representation incremental near-dup joins against."""
    sigs = _minhash_signatures(
        df, text_col, id_col, num_hashes=num_hashes, shingle_n=shingle_n
    )
    return sigs.select(
        "doc", "minhash", _band_keys("minhash", bands, num_hashes // bands)
    ).select("doc", "minhash", "bk.band", "bk.key")


def incremental_minhash_near_duplicates(
    new_df: DataFrame,
    seen_banded: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
    threshold: float = 0.7,
    cache_into: list | None = None,
    fresh_into: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup detection of a NEW batch against corpus history without
    recomputing historical signatures — the batch-over-batch form of
    :func:`minhash_near_duplicates`.

    ``seen_banded`` is the persisted banded signature table
    (doc, minhash, band, key) built by earlier calls (or empty with
    that schema). Returns ``(pairs, updated_banded)``: near-dup pairs
    of new docs against history AND within the batch, plus the table to
    persist. A physical store kept as parquet should APPEND only the
    batch's fresh band rows, not ``updated_banded`` (which is the full
    union and would duplicate history on append) — pass ``fresh_into``
    (a list, same style as ``cache_into``) to receive that fresh-only
    frame. Per batch this shuffles only the batch's bands and
    equi-joins the (partitionable-by-band/key) store — history text is
    never re-read. Results equal a full recompute over the union
    corpus, restricted to pairs touching the new batch.
    """
    new_banded = _banded_signatures(
        new_df, text_col, id_col,
        num_hashes=num_hashes, shingle_n=shingle_n, bands=bands,
    ).persist()  # three consumers: within l/r and versus
    if cache_into is not None:
        cache_into.append(new_banded)

    def est(a, b):
        return _n_agree(a, b).cast("double") / F.lit(float(num_hashes))

    # ingest orientation (the batch_minus_store/SemDeDup rule): the
    # batch is the small side — broadcast it on the self-join and the
    # history join so the banded STORE streams through one scan and is
    # never shuffled (a shuffle join re-exchanges the whole store
    # every batch: O(store) network per ingest)
    l, r = new_banded.alias("l"), F.broadcast(new_banded).alias("r")
    within = l.join(
        r,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.key") == F.col("r.key"))
        & (F.col("l.doc") < F.col("r.doc")),
    ).select(
        F.col("l.doc").alias("id_a"),
        F.col("r.doc").alias("id_b"),
        est(F.col("l.minhash"), F.col("r.minhash")).alias("est_jaccard"),
    )
    n, h = F.broadcast(new_banded).alias("n"), seen_banded.alias("h")
    versus = n.join(
        h,
        (F.col("n.band") == F.col("h.band"))
        & (F.col("n.key") == F.col("h.key"))
        # replay guard: a doc_id re-ingested after a failure must not
        # pair with its own historical signature (id_a==id_b, est=1.0)
        & (F.col("n.doc") != F.col("h.doc")),
    ).select(
        F.least(F.col("h.doc"), F.col("n.doc")).alias("id_a"),
        F.greatest(F.col("h.doc"), F.col("n.doc")).alias("id_b"),
        est(F.col("n.minhash"), F.col("h.minhash")).alias("est_jaccard"),
    )
    pairs = (
        within.unionByName(versus)
        .filter(F.col("est_jaccard") >= threshold)
        .distinct()
    )
    # replay-idempotent store update: only docs NOT already in history
    # add band rows (otherwise re-ingesting a batch after a failure
    # doubles that doc's rows and breaks full-recompute equivalence);
    # batch_minus_store keeps this O(batch) — the store is scanned,
    # never shuffled
    fresh = batch_minus_store(new_banded, seen_banded.select("doc"), "doc")
    if fresh_into is not None:
        fresh_into.append(fresh)
    return pairs, seen_banded.unionByName(fresh)


# --------------------------------------------------------------------------
# n-gram Jaccard (exact similarity on candidate pairs / small corpora)
# --------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over word n-gram sets for pairs of docs.

    ``candidates`` (id_a, id_b) bounds the comparison set — at scale
    ALWAYS pass the MinHash candidates (linear); with None this computes
    a same-length-bucketed self-join suitable only for small corpora or
    verification runs, never the 100 TB path.
    """
    sh = df.select(
        F.col(id_col).alias("doc"),
        textfns.shingles(F.col(text_col), shingle_n).alias("sh"),
    )
    if candidates is None:
        a = sh.alias("a")
        b = sh.alias("b")
        pairs = a.join(b, F.col("a.doc") < F.col("b.doc")).select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
    else:
        a = sh.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
        b = sh.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
        pairs = candidates.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    jac = F.try_divide(inter.cast("double"), union.cast("double"))
    return pairs.select(
        "id_a", "id_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


# --------------------------------------------------------------------------
# SimHash near-dup
# --------------------------------------------------------------------------


def with_simhash(
    df: DataFrame,
    text_col: str,
    *,
    bits: int = 32,
    shingle_n: int | None = None,
    out_col: str = "simhash",
) -> DataFrame:
    """Two-stage plan (see with_minhash): hash array materialized once,
    then ``bits`` per-bit vote folds read it — ~32x fewer char folds."""
    hs = (
        textfns.shingle_hashes(F.col(text_col), shingle_n)
        if shingle_n
        else textfns.token_hashes(F.col(text_col))
    )
    staged = df.withColumn("__unit_hs", hs)
    return staged.withColumn(
        out_col, textfns.simhash_from_hashes(F.col("__unit_hs"), bits)
    ).drop("__unit_hs")


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    bits: int = 32,
    max_hamming: int = 3,
    bands: int = 4,
    shingle_n: int | None = None,
    hot_threshold: int = 64,
    num_blocks: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Candidate generation: split the fingerprint into ``bands`` bit
    slices; by pigeonhole, any pair within distance < bands shares at
    least one exact slice → equi-join per slice (linear), then exact
    Hamming check via popcount on the XOR. Requires bands > max_hamming.
    Hot slice buckets route through the blocked join in
    :func:`banded_pairs` (skew guard, identical pair set).
    """
    if bands <= max_hamming:
        raise ValueError("need bands > max_hamming for pigeonhole completeness")
    slice_bits = bits // bands
    # one shuffle both join sides reuse (AQE stage reuse) — see
    # minhash_near_duplicates
    sigs = df.select(
        F.col(id_col).alias("doc"),
        simhash_udf(bits, shingle_n)(F.col(text_col)).alias("simhash"),
    ).repartition("doc")
    slices = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftright(F.col("simhash"), i * slice_bits)
            .bitwiseAND(F.lit((1 << slice_bits) - 1))
            .alias("key"),
        )
        for i in range(bands)
    ]
    exploded = sigs.select(
        "doc", "simhash", F.explode(F.array(*slices)).alias("bk")
    ).select("doc", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    pairs = banded_pairs(
        exploded, "simhash", hot_threshold=hot_threshold, num_blocks=num_blocks
    )
    xor = F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
    hamming = F.bit_count(xor)
    return (
        pairs.select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# repeated-substring (duplicated span) detection — Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better": find
# verbatim token spans that occur more than once across the corpus.
# --------------------------------------------------------------------------


def duplicated_span_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 4,
    min_count: int = 2,
) -> DataFrame:
    """Per-document statistics of verbatim duplicated token spans.

    A position ``p`` in a document is *duplicated* when its word
    ``k``-gram (tokens p..p+k-1) occurs at least ``min_count`` times in
    the whole corpus (within-document repeats count — same as the
    suffix-array formulation's "appears elsewhere"). Overlapping or
    adjacent duplicated k-gram positions merge into maximal spans.

    Returns one row per input document:
      dup_positions — number of duplicated k-gram start positions
      dup_spans     — number of maximal duplicated spans
      dup_token_cov — tokens covered by the union of those spans

    Plan (the 100 TB shape — no suffix array needed distributed):
      1. posexplode the k-gram array: linear in corpus token count.
      2. groupBy gram with map-side partial counts: duplicated grams
         are the small survivor set (``count >= min_count``).
      3. inner-join positions against that survivor set. The survivor
         side is orders of magnitude smaller than the corpus — Spark's
         AQE usually broadcasts it; semantics don't depend on strategy.
      4. span merge via a window PARTITIONED BY document (never global)
         + per-doc aggregate: one shuffle on the document key.
    Steps 2/3 key on the 64-bit hashed gram id (r17 — see
    :func:`_gram_id_array` for the measurement and the collision
    argument); the DuckDB oracle keeps collision-free string grams and
    the parity suite re-proves exactness per corpus.
    """
    grams = _positional_grams(df, text_col, id_col, k)
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("gram")
    )
    dup_pos = grams.join(dup_grams, "gram").select("doc_id", "pos")
    return _span_stats(df, id_col, dup_pos, k)


def _gram_id_array(token_hash_col: str, k: int):
    """array<bigint> of hashed k-gram ids over a PROJECTED token-hash
    column: gram id = xxhash64 chain of the k token hashes starting at
    each 0-based position. Shared by the span-dedup family (r17, guide
    §1.2 per-task work / §2.3 narrower types): the old form built the
    gram STRING per position (slice + concat_ws, ~30 B agg/join/store
    keys) and measured 3.5-3.9 s for the corpus gram-count pass at
    sf0.1 1:300; hashing each token ONCE and chaining k fixed-width
    longs per gram measures 0.74-0.83 s interleaved (4.5x) with 8-B
    keys everywhere downstream. Distinct token tuples map to distinct
    hash chains modulo the 64-bit birthday bound — the row-fingerprint
    standard this repo already accepts; the DuckDB oracles keep their
    collision-free STRING grams, so the parity suite re-proves no
    collision exists on every checked corpus."""
    th = F.col(token_hash_col)
    return F.when(
        # guard: sequence(0, n) with n < 0 counts DOWN in Spark —
        # short docs must yield an empty gram array, not [0, -1]
        F.size(th) < k,
        F.array().cast("array<bigint>"),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(th) - k),
            lambda i: F.xxhash64(
                *[F.element_at(th, i + j) for j in range(1, k + 1)]
            ),
        )
    )


def _positional_grams(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(doc_id, pos, gram): the HASHED id (see :func:`_gram_id_array`)
    of the word k-gram starting at each 0-based token position; docs
    shorter than k yield no rows. Gram identity is a 64-bit long —
    every consumer (count aggregate, duplicated-gram join, the
    incremental (gram, n) store) keys on it; none ever needs the gram
    text back."""
    toks = textfns.tokens(F.col(text_col))
    doc = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("__th"),
    )
    return doc.select(
        "doc_id",
        F.posexplode(_gram_id_array("__th", k)).alias("pos", "gram"),
    )


def _span_stats(
    df: DataFrame, id_col: str, dup_pos: DataFrame, k: int
) -> DataFrame:
    """Merge duplicated positions into maximal spans and summarize per
    doc (left join keeps zero-dup docs)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dup_pos.withColumn(
        "__new_span",
        F.when(
            F.col("pos") - F.lag("pos").over(w) <= F.lit(k), F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn("__span", F.sum("__new_span").over(w))
    spans = flagged.groupBy("doc_id", "__span").agg(
        F.count(F.lit(1)).alias("__n_pos"),
        (F.max("pos") - F.min("pos") + k).alias("__cov"),
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("__n_pos").alias("dup_positions"),
        F.count(F.lit(1)).alias("dup_spans"),
        F.sum("__cov").alias("dup_token_cov"),
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("dup_positions", F.lit(0)).alias("dup_positions"),
            F.coalesce("dup_spans", F.lit(0)).alias("dup_spans"),
            F.coalesce("dup_token_cov", F.lit(0)).alias("dup_token_cov"),
        )
    )


def _suffix_lcp_scored(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int,
    w: int,
    salt_anchors: bool = False,
) -> DataFrame:
    """(doc_id, pos, suffix, lcp) — every position's w-truncated token
    suffix and its exact maximal duplicated-prefix length (the
    suffix-window LCS core shared by :func:`suffix_window_lcs_stats`
    and the top-extents report). See suffix_window_lcs_stats for the
    algorithm and scale notes.

    ``salt_anchors=True`` is the hot-anchor scale path: the sort
    window sub-partitions each anchor by the (k+1)-th suffix token, so
    a stop-gram anchor's positions spread across |vocab-after-anchor|
    tasks instead of funnelling into one. EXACTNESS is preserved, not
    approximated: any pair with true LCP >= k+1 shares the first k+1
    tokens, hence the same (anchor, salt) group — and that group is a
    CONTIGUOUS range of the global suffix order (all members share the
    length-k+1 prefix), so the suffix-array adjacency property holds
    within it unchanged. The only information a salt boundary can lose
    is an LCP of exactly k (partners differing at token k+1), which is
    restored by the anchor-repeats floor: lcp >= k  ⟺  the anchor
    k-gram occurs >= 2 times, a map-side-combinable groupBy count
    joined back on the anchor (an equi-join, so AQE's skew-join
    splitting applies to the hot key — unlike a window partition,
    which AQE cannot split; that asymmetry is WHY the floor is a join
    and the sort is salted). Suffixes with fewer than k+1 tokens
    (doc-final positions) carry a null salt and form their own group
    per anchor: all of them equal the bare anchor, so their intra-group
    LCP is k, and cross-group partners cannot exceed k anyway.
    Twin-proved equal to the unsalted form in tests/test_spans.py."""
    toks = textfns.tokens(F.col(text_col))
    doc = df.select(F.col(id_col).alias("doc_id"), toks.alias("__t"))
    suf = doc.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size("__t") < k, F.array().cast("array<array<string>>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(0), F.size("__t") - k),
                    lambda i: F.slice(F.col("__t"), i + 1, w),
                )
            )
        ).alias("pos", "suffix"),
    )
    anch = suf.withColumn(
        "anchor", F.concat_ws(" ", F.slice("suffix", 1, k))
    )
    if salt_anchors:
        # try_element_at: doc-final suffixes have exactly k tokens —
        # index k+1 is out of bounds and must yield the null salt, not
        # an ANSI INVALID_ARRAY_INDEX error
        anch = anch.withColumn(
            "__salt", F.try_element_at("suffix", F.lit(k + 1))
        )
        wsuf = Window.partitionBy("anchor", "__salt").orderBy(
            "suffix", "doc_id", "pos"
        )
    else:
        wsuf = Window.partitionBy("anchor").orderBy("suffix", "doc_id", "pos")
    nb = anch.select(
        "doc_id",
        "pos",
        "suffix",
        "anchor",
        F.lag("suffix").over(wsuf).alias("__prev"),
        F.lead("suffix").over(wsuf).alias("__next"),
    )

    def lcp_to(other: str):
        o = F.col(other)
        z = F.zip_with(
            F.col("suffix"),
            o,
            lambda x, y: F.when(
                x.isNotNull() & y.isNotNull() & (x == y), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        minlen = F.least(F.size("suffix"), F.size(o))
        p = F.array_position(z, 0)
        return F.when(o.isNull(), F.lit(0).cast("long")).otherwise(
            F.when(p == 0, minlen.cast("long")).otherwise(p - 1)
        )

    scored = nb.select(
        "doc_id",
        "pos",
        "suffix",
        "anchor",
        F.greatest(lcp_to("__prev"), lcp_to("__next")).alias("lcp"),
    )
    if not salt_anchors:
        return scored.drop("anchor")
    rep = anch.groupBy("anchor").agg(
        (F.count(F.lit(1)) >= 2).alias("__rep")
    )
    return scored.join(rep, "anchor").select(
        "doc_id",
        "pos",
        "suffix",
        F.greatest(
            F.col("lcp"),
            F.when(F.col("__rep"), F.lit(k).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ).alias("lcp"),
    )


def top_dup_extents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 4,
    w: int = 32,
    n: int = 20,
    salt_anchors: bool = False,
) -> DataFrame:
    """The inspection artifact substring dedup actually produces: the
    corpus's top-``n`` maximal duplicated extents WITH their text —
    (doc_id, pos, extent_len, extent_text), ordered by extent length.
    This is what an operator reads to see WHAT is duplicated (license
    headers, templates, boilerplate) before choosing a strip policy;
    the per-doc stats form (:func:`suffix_window_lcs_stats`) only says
    how much.

    Deterministic and scale-stable: a TakeOrdered top-``n`` by
    (extent_len desc, doc_id, pos) — never a fraction, never a global
    window (the CLAUDE.md scale-stable-output rule); the extent text
    is sliced from the position's suffix window, so no second pass
    over the corpus."""
    scored = _suffix_lcp_scored(
        df, text_col, id_col, k=k, w=w, salt_anchors=salt_anchors
    )
    return (
        scored.filter(F.col("lcp") >= k)
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.col("lcp").alias("extent_len"),
            F.concat_ws(
                " ", F.slice("suffix", 1, F.col("lcp").cast("int"))
            ).alias("extent_text"),
        )
        .orderBy(F.desc("extent_len"), "doc_id", "pos")
        .limit(n)
    )


def suffix_window_lcs_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 4,
    w: int = 32,
    salt_anchors: bool = False,
) -> DataFrame:
    """EXACT maximal duplicated-extent statistics via suffix ordering
    within bounded windows — the Lee et al. 2022 suffix-array
    completeness step that :func:`duplicated_span_stats`' k-gram merge
    approximates. For every token position p, lcp(p) = the exact
    length (capped at ``w``) of the longest token prefix starting at p
    that occurs at least twice corpus-wide — so spans LONGER than k
    resolve to their true extents instead of a union of k-gram hits.

    Suffix-array semantics without a suffix array (the distributed
    shape): suffixes truncated to ``w`` tokens sort WITHIN anchor
    partitions keyed by the position's k-gram — any duplicated prefix
    of length >= k shares its first k-gram, so partitioning loses
    nothing at or above the report floor — and each suffix's lcp is
    the max LCP against its two sorted neighbors (the classic
    suffix-array adjacency property, valid restricted to a partition
    because partition order IS global order there). LCP itself is
    first-mismatch position over the zipped equality array
    (array_position — no fold), an exact integer in both engines.

    Provable relations to the k-gram form (pinned in
    tests/test_spans.py AND visible across both engines' outputs):
      - n_dup_pos == duplicated_span_stats' dup_positions
        (lcp(p) >= k  ⟺  p's k-gram repeats);
      - dup_token_cov_lcs >= its dup_token_cov (each [p, p+lcp(p))
        extent contains the k-gram's [p, p+k)). In fact the two
        coverages are provably EQUAL (every interior k-gram of a
        repeated block is itself duplicated, so the k-gram union
        already spans [p, p+lcp)); what the LCS form strictly ADDS is
        the exact per-position extent — max_dup_len and the
        longest-duplicated-substring report (:func:`top_dup_extents`)
        are unobtainable from k-gram hits alone.

    Scale notes: the suffix projection is corpus_tokens × w cells —
    the price of exactness; at petabyte scale pack each suffix window
    as an array of 64-bit token hashes (collision-checked) instead of
    strings, same plan. Anchor partitions are keyed on the raw k-gram;
    a hot stop-gram anchor funnels its positions into one partition
    task — ``salt_anchors=True`` is the web-scale fix: the sort window
    sub-partitions by the (k+1)-th suffix token and an anchor-repeats
    join restores the exactly-k floor, provably equal output
    (:func:`_suffix_lcp_scored` docstring has the argument; the twin
    test pins it). Default off — the planted corpus has no hot
    anchors, and the floor join is an extra exchange.
    One anchor-keyed exchange for the sort, two doc-keyed windows for
    the interval union — never a global window.

    Returns per doc: (doc_id, n_dup_pos, max_dup_len,
    dup_token_cov_lcs), zero-filled for clean docs.
    """
    scored = _suffix_lcp_scored(
        df, text_col, id_col, k=k, w=w, salt_anchors=salt_anchors
    ).drop("suffix")
    dup = scored.filter(F.col("lcp") >= k)
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    endc = F.col("pos") + F.col("lcp")
    prev_end = F.max(endc).over(
        wdoc.rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = dup.withColumn(
        "__add",
        F.greatest(
            endc - F.greatest(F.coalesce(prev_end, F.col("pos")), F.col("pos")),
            F.lit(0).cast("long"),
        ),
    )
    per_doc = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_pos"),
        F.max("lcp").alias("max_dup_len"),
        F.sum("__add").alias("dup_token_cov_lcs"),
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_pos", F.lit(0)).cast("long").alias("n_dup_pos"),
            F.coalesce("max_dup_len", F.lit(0))
            .cast("long")
            .alias("max_dup_len"),
            F.coalesce("dup_token_cov_lcs", F.lit(0))
            .cast("long")
            .alias("dup_token_cov_lcs"),
        )
    )


def incremental_duplicated_spans(
    new_df: DataFrame,
    seen_gram_counts: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 4,
    min_count: int = 2,
    store_update: str = "combined",
    cache_into: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Batch-over-batch repeated-substring detection: span stats for a
    NEW batch against the whole corpus history without re-reading any
    historical text — the ingest-gate form of duplicated_span_stats
    (same pattern as incremental_exact_dedup / incremental_minhash).

    ``seen_gram_counts`` is the persisted (gram, n) store from earlier
    batches (or empty with that schema). A batch position is duplicated
    when batch-count + stored-count >= ``min_count``, so the new
    batch's stats equal a full recompute over history ∪ batch
    restricted to batch docs (tested). Earlier batches' stats are NOT
    retroactively updated — re-run the full form for that.

    Returns ``(stats, updated_gram_counts)``; persist the updated store
    for the next batch. Per batch this shuffles only the batch's grams
    plus an outer join against the store (partitionable by gram).

    ``store_update`` picks the returned store form:
      - ``"combined"`` (default): the fully merged (gram, n) counts —
        rewrite-the-store semantics, O(store) to persist.
      - ``"batch"``: only THIS batch's partial counts — append-only
        (log-structured) store semantics, O(batch) to persist; the
        caller re-aggregates partials on read
        (``store.groupBy("gram").agg(sum("n"))``). This is the 100 TB
        ingest shape — per-batch cost never grows with history (the
        same stance as the fingerprint store's append), with periodic
        compaction folding partials together.
    Duplicated-position semantics are identical either way (tested).

    ``cache_into``: when a list is passed, the batch's positional grams
    and per-gram counts are persisted and appended (caller unpersists) —
    they feed the store probe, the duplicated-gram decision, the
    position join, and (batch mode) the store update, and without the
    cache the tokenize+explode lineage re-executes per consumer.

    Join orientation is the ingest contract (the batch_minus_store
    rule): the duplicated-gram decision needs stored counts only for
    grams PRESENT IN THE BATCH, so the store is SCANNED once, probed by
    a broadcast of the batch's distinct grams, and the batch-sized hit
    set broadcasts back — a full-outer merge here re-shuffled the whole
    store every batch (O(store) network per ingest). ``"combined"``
    mode's returned store still pays the full merge — that is its
    rewrite-the-store semantics; the ingest shape is ``"batch"``.
    """
    if store_update not in ("combined", "batch"):
        raise ValueError(f"store_update {store_update!r}: combined or batch")
    grams = _positional_grams(new_df, text_col, id_col, k)
    if cache_into is not None:
        grams = grams.persist()
        cache_into.append(grams)
    batch_counts = grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("__bn")
    )
    if cache_into is not None:
        batch_counts = batch_counts.persist()
        cache_into.append(batch_counts)
    # store scan probed by the broadcast batch grams (groupBy output is
    # distinct by construction); hits are ≤ |batch grams| and broadcast
    # back — nothing store-sized is ever exchanged
    stored_hits = seen_gram_counts.join(
        F.broadcast(batch_counts.select("gram")), "gram", "left_semi"
    )
    dup_grams = (
        batch_counts.join(F.broadcast(stored_hits), "gram", "left")
        .select(
            "gram",
            (
                F.coalesce("__bn", F.lit(0)) + F.coalesce("n", F.lit(0))
            ).alias("n"),
        )
        .filter(F.col("n") >= min_count)
        .select("gram")
    )
    dup_pos = grams.join(F.broadcast(dup_grams), "gram").select(
        "doc_id", "pos"
    )
    updated = (
        batch_counts.join(seen_gram_counts, "gram", "full").select(
            "gram",
            (
                F.coalesce("__bn", F.lit(0)) + F.coalesce("n", F.lit(0))
            ).alias("n"),
        )
        if store_update == "combined"
        else batch_counts.select("gram", F.col("__bn").alias("n"))
    )
    return _span_stats(new_df, id_col, dup_pos, k), updated


def strip_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 4,
    min_count: int = 2,
) -> DataFrame:
    """Apply repeated-substring dedup: drop every token covered by a
    duplicated span (see duplicated_span_stats) and rebuild the text
    with single-space joins. The aggressive variant of Lee et al.'s
    substring dedup — all occurrences go, none is kept as canonical
    (the right default for boilerplate: headers, licenses, templates).

    Output: id, clean_text, n_removed (tokens dropped). Docs without
    duplicated spans round-trip with normalized whitespace.

    Plan: the dup-position set per doc (small) is collected into one
    array via a doc-keyed aggregate, then token filtering is a pure
    per-row HOF pass — no second explode, no window over tokens.
    """
    toks = textfns.tokens(F.col(text_col))
    doc = df.select(F.col(id_col).alias("doc_id"), toks.alias("__t"))
    # hashed gram ids (see _gram_id_array): the dup decision only needs
    # gram IDENTITY, and the token array __t stays projected for the
    # filtering pass below
    gdoc = doc.withColumn(
        "__th", F.transform(F.col("__t"), lambda t: F.xxhash64(t))
    )
    grams = gdoc.select(
        "doc_id",
        F.posexplode(_gram_id_array("__th", k)).alias("pos", "gram"),
    )
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("gram")
    )
    dups = (
        grams.join(dup_grams, "gram")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("pos")).alias("__dups"))
    )
    joined = doc.join(dups, "doc_id", "left").withColumn(
        "__dups", F.coalesce("__dups", F.array().cast("array<int>"))
    )
    # kept[i] = tokens[i] unless some dup position p covers i (p<=i<p+k)
    kept = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.size("__t") - 1),
            lambda i: F.when(
                F.exists(
                    F.col("__dups"),
                    lambda p: (i >= p) & (i < p + k),
                ),
                F.lit(None).cast("string"),
            ).otherwise(F.element_at(F.col("__t"), i + 1)),
        ),
        lambda x: x.isNotNull(),
    )
    staged = joined.withColumn(
        "__kept", F.when(F.size("__t") == 0, F.array().cast("array<string>")).otherwise(kept)
    )
    return staged.select(
        F.col("doc_id").alias(id_col),
        F.concat_ws(" ", F.col("__kept")).alias("clean_text"),
        (F.size("__t") - F.size("__kept")).cast("long").alias("n_removed"),
    )


def _rarest_sorted_shingles(
    docs: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """(doc_id, gs): each doc's shingle SET sorted rarest-first by
    (corpus document-frequency, shingle id) — the total order that
    makes the prefix theorem apply, shared by the similarity and
    containment joins. One aggregate for global df, one per-doc
    collect.

    Shingle identity is the 64-bit ``xxhash64`` of the string, not the
    string itself (r16, guide §2.3 "narrower types"): every downstream
    byte — the df aggregate, the posting-list join keys, the collected
    per-doc arrays the verify join materializes per CANDIDATE PAIR,
    and the ``array_intersect`` element comparisons — shrinks from
    ~20-B strings to 8-B longs. On the 10k-doc corpus the verify stage
    carries 833k candidate pairs x 2 x ~54-element arrays, and the
    long form measured 55 -> 11 CPU-s on that stage alone (query total
    81 -> 41.6 CPU-s; same figures in CLAUDE.md/OPERATORS.md and
    OPTIMIZATION_r16.md §3). The prefix
    theorem only needs A FIXED total order over the shingle universe,
    which (df, hash) is. Correctness stands on 64-bit identity exactly
    like the row-fingerprint store: two DISTINCT shingles colliding
    within one compared pair's union (P ~ |union|^2 / 2^64 per pair)
    is the birthday-negligible event the whole hash-dedup family
    accepts; the string-based oracles stay brute-force, so the parity
    suite re-proves no collision exists on every checked corpus."""
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(textfns.shingles(F.col(text_col), shingle_n)).alias("__gs"),
    ).select("doc_id", F.xxhash64("__gs").alias("g"))
    dfreq = sh.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "g"))).alias("__o"))
        .select(
            "doc_id",
            F.transform(F.col("__o"), lambda x: x["g"]).alias("gs"),
        )
    )


def prefix_filter_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    tau_num: int = 3,
    tau_den: int = 5,
    cache_into: list | None = None,
) -> DataFrame:
    """Exact set-similarity self-join via PREFIX FILTERING (Bayardo et
    al. WWW 2007 "AllPairs" / Chaudhuri SSJoin): all pairs with n-gram
    Jaccard >= tau, WITHOUT comparing all pairs.

    The threshold is a RATIONAL tau_num/tau_den so both the prefix
    length and the verify step stay in integer arithmetic
    (``tau_den * |A∩B| >= tau_num * |A∪B|``) — no float crosses an
    engine boundary.

    Distributed shape (the 100 TB plan):
    1. one aggregate computes global shingle document-frequencies;
    2. each doc sorts its shingle set rarest-first by (df, shingle) —
       a total order, so the prefix theorem applies;
    3. only the first ``L - ceil(tau*L) + 1`` shingles of each doc
       (its PREFIX) are exploded into the candidate join: two docs
       can reach tau only if their prefixes share a shingle, so
       candidate generation is linear in corpus size times prefix
       length — and rarest-first ordering makes the join keys the
       LEAST skewed shingles in the corpus;
    4. candidates verify with one exact array intersection.

    Returns (id_a, id_b, inter, uni, jac) for verified pairs. The
    sorted-shingle frame is persisted (three consumers that exchange
    reuse does not merge; without it ``setsim_prefix_pairs`` measured
    7.4-7.8 -> 7.9-9.7 s at sf0.1); pass ``cache_into`` (a
    list) to receive it and ``unpersist()`` it after the last action —
    otherwise LRU eviction bounds it.
    """
    per_doc = _rarest_sorted_shingles(docs, text_col, id_col, shingle_n)
    per_doc = per_doc.persist()
    if cache_into is not None:
        cache_into.append(per_doc)
    size = F.size("gs")
    # prefix length L - ceil(tau*L) + 1, ceil in exact integers
    plen = size - F.floor(
        (F.lit(tau_num) * size + F.lit(tau_den - 1)) / F.lit(tau_den)
    ).cast("int") + F.lit(1)
    # posexplode carries each prefix token's 1-based rank for the
    # PPJoin positional filter below
    prefix = per_doc.select(
        "doc_id",
        size.alias("sz"),
        F.posexplode(F.slice("gs", 1, plen)).alias("pos0", "g"),
    ).select("doc_id", "sz", (F.col("pos0") + 1).alias("pos"), "g")
    a, b = prefix.alias("a"), prefix.alias("b")
    sa, sb = F.col("a.sz"), F.col("b.sz")
    # PPJoin refinements (Xiao et al. WWW 2008) — both SOUND (never
    # prune a true pair), both plain integer compares BEFORE the
    # distinct + verify shuffles:
    # 1. length filter: J >= tau needs the sizes within tau of each
    #    other (min/max >= tau)
    length_ok = F.lit(tau_den) * F.least(sa, sb) >= F.lit(tau_num) * F.greatest(
        sa, sb
    )
    # 2. positional filter: matching at ranks (pa, pb) caps the
    #    overlap at 1 + min(remaining suffix lengths); prune when that
    #    cap can't reach the required overlap ceil(tau/(1+tau)*(sa+sb))
    need = F.floor(
        (F.lit(tau_num) * (sa + sb) + F.lit(tau_num + tau_den - 1))
        / F.lit(tau_num + tau_den)
    )
    cap = F.lit(1) + F.least(sa - F.col("a.pos"), sb - F.col("b.pos"))
    cand = (
        a.join(b, "g")
        .filter((F.col("a.doc_id") < F.col("b.doc_id")) & length_ok & (cap >= need))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    joined = (
        cand.join(per_doc.select(F.col("doc_id").alias("id_a"), F.col("gs").alias("gs_a")), "id_a")
        .join(per_doc.select(F.col("doc_id").alias("id_b"), F.col("gs").alias("gs_b")), "id_b")
    )
    inter = F.size(F.array_intersect("gs_a", "gs_b"))
    uni = F.size("gs_a") + F.size("gs_b") - inter
    staged = joined.select("id_a", "id_b", inter.alias("inter"), uni.alias("uni"))
    return staged.filter(
        (F.col("uni") > 0)
        & (F.lit(tau_den) * F.col("inter") >= F.lit(tau_num) * F.col("uni"))
    ).select(
        "id_a",
        "id_b",
        F.col("inter").cast("long").alias("inter"),
        F.col("uni").cast("long").alias("uni"),
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    tau_num: int = 4,
    tau_den: int = 5,
    cache_into: list | None = None,
) -> DataFrame:
    """Exact ASYMMETRIC set-containment self-join — the contamination
    / doc-inclusion primitive (benchmark decontamination, quote and
    boilerplate detection): report (id_a, id_b) whenever B covers at
    least tau of A's shingle set, |Sh(A) ∩ Sh(B)| >= tau·|Sh(A)|,
    A != B. Unlike Jaccard similarity there is no length filter — a
    tiny A can be fully contained in a huge B — so the candidate
    theorem applies to the CONTAINED side only:

    if B covers tau of A's L shingles it misses at most
    L - ceil(tau·L), so among A's first L - ceil(tau·L) + 1 shingles
    (any fixed total order) at least one is in B. A explodes only that
    PREFIX — rarest-first, so the join keys are the least skewed
    shingles — while B is indexed in FULL (the posting-list side).
    Candidates are Σ_A prefix_len(A) · df(g) with df small by
    rarest-first ordering; verification is one exact array
    intersection. All-integer threshold math.

    Returns (id_a, id_b, inter, size_a, containment), one row per
    DIRECTION that passes (A-in-B and B-in-A are separate facts).
    ``cache_into`` receives the persisted shingle frame, as in
    :func:`prefix_filter_pairs`.
    """
    per_doc = _rarest_sorted_shingles(docs, text_col, id_col, shingle_n)
    per_doc = per_doc.persist()
    if cache_into is not None:
        cache_into.append(per_doc)
    size = F.size("gs")
    plen = size - F.floor(
        (F.lit(tau_num) * size + F.lit(tau_den - 1)) / F.lit(tau_den)
    ).cast("int") + F.lit(1)
    prefix = per_doc.select(
        F.col("doc_id").alias("id_a"),
        size.alias("sz_a"),
        F.explode(F.slice("gs", 1, plen)).alias("g"),
    )
    full = per_doc.select(
        F.col("doc_id").alias("id_b"),
        size.alias("sz_b"),
        F.explode("gs").alias("g"),
    )
    # one-directional length filter (SOUND — the only one containment
    # admits): overlap <= |B|, so B cannot cover tau*|A| shingles when
    # tau_den*|B| < tau_num*|A|. Cuts small-B candidates before the
    # distinct + verify shuffles.
    cand = (
        prefix.join(full, "g")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.lit(tau_den) * F.col("sz_b") >= F.lit(tau_num) * F.col("sz_a"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    joined = (
        cand.join(
            per_doc.select(F.col("doc_id").alias("id_a"), F.col("gs").alias("gs_a")),
            "id_a",
        )
        .join(
            per_doc.select(F.col("doc_id").alias("id_b"), F.col("gs").alias("gs_b")),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("gs_a", "gs_b"))
    staged = joined.select(
        "id_a", "id_b", inter.alias("inter"), F.size("gs_a").alias("size_a")
    )
    return staged.filter(
        (F.col("size_a") > 0)
        & (F.lit(tau_den) * F.col("inter") >= F.lit(tau_num) * F.col("size_a"))
    ).select(
        "id_a",
        "id_b",
        F.col("inter").cast("long").alias("inter"),
        F.col("size_a").cast("long").alias("size_a"),
        (F.col("inter").cast("double") / F.col("size_a").cast("double")).alias(
            "__cont_raw"
        ),
    )


def bbit_minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 32,
    b_bits: int = 2,
    shingle_n: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
    hot_threshold: int = 64,
    num_blocks: int = 8,
) -> DataFrame:
    """b-bit MinHash near-duplicates (Li & König, WWW 2010): keep only
    the lowest ``b_bits`` of every MinHash slot, so signature storage
    shrinks 64/b-fold (2 bits: a 32-slot signature is 8 bytes instead
    of 256) — at 100 TB, the difference between a signature store that
    broadcasts / stays in executor memory and one that doesn't.

    Truncation makes UNEQUAL slots collide with probability C = 2^-b,
    so the observed match fraction P over-counts; the paper's corrected
    estimator Ĵ = (P − C) / (1 − C) is what the threshold applies to.
    The plan is the minhash_near_duplicates shape on the truncated
    array: full-width signatures exist only transiently inside the
    per-row projection (never stored or shuffled); banding, the skew-
    guarded self-join, and the slot-agreement fold all read the b-bit
    array. More slots at fewer bits holds estimator variance while
    shrinking bytes — the paper's core trade.
    """
    mask_mod = 1 << b_bits
    sigs = _minhash_signatures(
        df, text_col, id_col, num_hashes=num_hashes, shingle_n=shingle_n
    )
    bb = sigs.select(
        "doc",
        F.transform(
            "minhash", lambda h: (h % F.lit(mask_mod)).cast("int")
        ).alias("bb"),
    ).repartition("doc")
    exploded = bb.select(
        "doc", "bb", _band_keys("bb", bands, num_hashes // bands)
    ).select("doc", "bb", "bk.band", "bk.key")
    pairs = banded_pairs(
        exploded, "bb", hot_threshold=hot_threshold, num_blocks=num_blocks
    )
    n_match = _n_agree(F.col("bb_a"), F.col("bb_b"))
    collision = 1.0 / float(mask_mod)
    p = n_match.cast("double") / F.lit(float(num_hashes))
    est = (p - F.lit(collision)) / F.lit(1.0 - collision)
    return (
        pairs.select(
            "id_a",
            "id_b",
            n_match.cast("long").alias("n_match"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .distinct()
    )
