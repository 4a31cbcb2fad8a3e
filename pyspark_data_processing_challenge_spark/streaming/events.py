"""Structured Streaming operators over the events stream.

The reference is strictly batch (SURVEY.md §2.5); these provide the
streaming side of the engine: watermarked tumbling-window aggregation
and streaming sessionization. Each has a batch twin in
``queries/relational.py`` computing identical results, which is how the
tests verify them (drive a bounded parquet stream to completion with a
memory sink, compare to the batch answer — the driver's oracle story,
one level up).

Scale notes: watermark bounds state; the window aggregate's state key is
(window, event_type) — small; sessionization state is per-user and
evicted by the same watermark. On a real deployment the source becomes
Kafka and the sink a transactional ``foreachBatch`` writer; the
transformation graph is unchanged.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # epoch nanos (see queries/_util)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, sf_dir: str, *, max_files_per_trigger: int = 1
) -> DataFrame:
    """Bounded parquet directory as a stream (smoke/test source; swap for
    Kafka in production — the downstream graph is source-agnostic).
    The caller's session conf is left as it is: ``nanos_long_to_ts``
    branches on what the reader surfaces under the declared BIGINT."""
    # the file-stream source requires a directory: scan sf_dir with a
    # glob filter selecting just the events file
    raw = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", nanos_long_to_ts("ts"))


def nanos_long_to_ts(col_name: str):
    """Normalize a TIMESTAMP(NANOS) column read under a declared BIGINT
    schema. Readers that honor the nanosAsLong legacy conf surface
    epoch-NANOS; Spark 4.1.2's reader (conf removed upstream) surfaces
    epoch-MICROS under the same declared type. Branch on magnitude —
    unambiguous for any timestamp between 1973 and 5138 (nanos for any
    modern date are > 1e17, micros far below). Integer ``div`` keeps
    the full 64 bits (a double round-trip would corrupt epoch-nanos).
    """
    c = F.col(col_name)
    micros = F.when(
        c > F.lit(10**17), F.expr(f"{col_name} div 1000")
    ).otherwise(c)
    return F.timestamp_micros(micros)


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_documents_stream(
    spark: SparkSession, sf_dir: str, *, max_files_per_trigger: int = 1
) -> DataFrame:
    """Bounded documents stream (test source; Kafka in production)."""
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def decontaminate_stream(
    docs_stream: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 5,
) -> DataFrame:
    """Streaming ingest-time decontamination — flag arriving documents
    against a STATIC benchmark n-gram set before they ever land in the
    corpus (cheaper than batch-scrubbing later). Stream-static join:
    the benchmark grams broadcast to every micro-batch; per-doc state
    is the explode + aggregate keyed on the doc id, so no watermark is
    needed (each doc's grams arrive in one batch). Exactly the batch
    operator's plan (operators/curation.decontaminate) lifted to a
    micro-batch, which is what the twin test asserts.
    """
    from ..functions import textfns

    bench_grams = F.broadcast(
        benchmark.select(
            F.explode(textfns.shingles(F.col(text_col), ngram_n)).alias("g")
        ).distinct()
    )
    doc_grams = docs_stream.select(
        F.col(id_col),
        F.explode(textfns.shingles(F.col(text_col), ngram_n)).alias("g"),
    )
    return (
        doc_grams.join(bench_grams, "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_ngrams"))
    )


def blocklist_stream(
    docs_stream: DataFrame,
    blocklist: tuple[str, ...],
    *,
    threshold: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming ingest-time safety screen — the content-policy gate
    (queries/llm.docs_blocklist_screen) lifted to a micro-batch so a
    blocked document is quarantined BEFORE it ever lands in the
    corpus. Token-exact counting (never substring, so "slower" cannot
    match), blocklist as a broadcast-literal ``isin``; per-doc state is
    one explode + conditional aggregate keyed on the doc id, so no
    watermark is needed (each doc's tokens arrive in one batch).
    ``explode_outer`` keeps zero-token documents, so EVERY arriving doc
    emits a verdict row — the twin test asserts set-equality with the
    batch operator including its zero-hit rows.
    """
    from ..functions import textfns

    tok = docs_stream.select(
        F.col(id_col),
        F.explode_outer(
            textfns.tokens(F.lower(F.col(text_col)))
        ).alias("token"),
    )
    return (
        tok.groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("token").isin(*blocklist), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_hits")
        )
        .withColumn("blocked", F.col("n_hits") >= F.lit(threshold))
    )


def bloom_decontam_ingest_sink(
    out_dir: str, words: DataFrame, *, ngram_n: int = 5
):
    """foreachBatch sink screening arriving documents through the
    16 KiB Bloom decontamination filter (VERDICT r14 #6 — the
    streaming face of queries/llm.decontam_bloom_screen): each
    micro-batch's n-grams probe the STATIC word table and every doc
    lands in ONE kind-partitioned write —
    ``out_dir/__epoch=N/kind={accept,quarantine}`` — carrying its
    verdict columns (n_grams, n_flagged_grams, flagged). Accepted
    docs are corpus-ready; quarantined docs go to the exact-join
    confirm pass (the Bloom contract: FN = 0 by construction, so
    nothing contaminated can reach kind=accept; FPs cost only
    confirm-pass work, at the rate decontam_bloom_fp_eval measures).

    Per-epoch amortization (the semdedup_ingest_sink codebook
    lesson): the word table is collected ONCE here — it is
    {operators.bloom.M_BITS//WORD_BITS} rows by construction,
    regardless of blocklist size — and baked into an Arrow-batched
    probe UDF (operators/bloom.bloom_probe_udf, bit-identical to the
    K-broadcast-join path). Re-planning the join form per epoch would
    re-execute the benchmark-gram lineage behind ``words`` every
    batch. Gram hashing stays JVM-side (textfns.char_hash), so the
    verdicts equal the batch screen's row-for-row (the twin test).

    Stateless across batches (the filter is static), so replay
    idempotency is just the per-epoch directory overwrite;
    ``explode_outer`` keeps zero-gram documents — an arriving doc
    ALWAYS lands in exactly one kind, where the batch screen (inner
    explode) simply emits no row for it."""
    from ..functions import textfns
    from ..operators.bloom import bloom_probe_udf

    probe = bloom_probe_udf([(r["w"], r["bits"]) for r in words.collect()])

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        grams = batch_df.select(
            "doc_id",
            F.explode_outer(
                textfns.shingles(F.col("text"), n=ngram_n)
            ).alias("g"),
        )
        verdict = (
            grams.withColumn(
                "__hit", probe(textfns.char_hash(F.col("g")))
            )
            .groupBy("doc_id")
            .agg(
                F.count(F.col("g")).cast("long").alias("n_grams"),
                F.sum(F.coalesce(F.col("__hit").cast("long"), F.lit(0)))
                .cast("long")
                .alias("n_flagged_grams"),
            )
            .withColumn("flagged", F.col("n_flagged_grams") > 0)
        )
        bundle = batch_df.join(F.broadcast(verdict), "doc_id").withColumn(
            "kind",
            F.when(F.col("flagged"), F.lit("quarantine")).otherwise(
                F.lit("accept")
            ),
        )
        # ONE commit per epoch, coalesced (micro-batch-bounded output;
        # 32 near-empty task files per epoch ~doubles commit overhead)
        (
            bundle.coalesce(1)
            .write.partitionBy("kind")
            .mode("overwrite")
            .parquet(f"{out_dir}/__epoch={int(epoch_id)}")
        )

    return sink


MEDIA_STREAM_SCHEMA = "media_id long, payload binary"


def phash_ingest_sink(out_dir: str, *, max_distance: int = 3):
    """foreachBatch sink maintaining the perceptual-hash store AT
    INGEST — the image member of the streaming incremental family
    (exact fingerprints, CMS, SemDeDup, IVF-PQ, PCA moments,
    cluster-split, Bloom screen): each media micro-batch decodes ONCE
    (operators/multimodal.phash_batch — real PNG/JPEG pixel decode +
    dHash), pairs against the persisted 16-byte-per-image hash store
    via operators/multimodal.incremental_phash_near_duplicates (batch
    broadcast on both joins, the store streams through one scan and is
    NEVER re-decoded or shuffled), and commits the batch's near-dup
    pairs plus its fresh hash rows in ONE kind-partitioned write:
    ``out_dir/__epoch=N/kind={pairs,hash}`` (the semdedup_ingest_sink
    layout — readers prune on the kind partition).

    Replay safety (the dedup_ingest_sink contract): the store read
    filters to epochs strictly BEFORE the current one, so a replayed
    epoch sees exactly the prior state it saw the first time and
    overwrites exactly its own epoch directory — idempotent under
    at-least-once delivery, including the pairing decision; the
    replay guard inside the incremental operator additionally keeps a
    re-ingested id from pairing with itself."""
    from ..operators.multimodal import (
        incremental_phash_near_duplicates,
        phash_batch,
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            store = (
                spark.read.schema(
                    "media_id long, h_hi long, h_lo long,"
                    " id_a long, id_b long, hamming long,"
                    " kind string, __epoch int"
                )
                .parquet(out_dir)
                .filter(
                    (F.col("__epoch") < F.lit(epoch_id))
                    & (F.col("kind") == "hash")
                )
                .select("media_id", "h_hi", "h_lo")
            )
        except AnalysisException as e:
            # ONLY a missing store means "first epoch" (see
            # dedup_ingest_sink for why anything else must re-raise)
            if "PATH_NOT_FOUND" not in str(e):
                raise
            store = spark.createDataFrame(
                [], "media_id long, h_hi long, h_lo long"
            )
        hashes = phash_batch(batch_df).select("media_id", "h_hi", "h_lo")
        caches: list = []
        fresh_frames: list = []
        pairs, _updated = incremental_phash_near_duplicates(
            hashes,
            store,
            max_distance=max_distance,
            cache_into=caches,
            fresh_into=fresh_frames,
        )
        bundle = pairs.withColumn("kind", F.lit("pairs")).unionByName(
            fresh_frames[0].withColumn("kind", F.lit("hash")),
            allowMissingColumns=True,
        )
        (
            bundle.coalesce(1)
            .write.partitionBy("kind")
            .mode("overwrite")
            .parquet(f"{out_dir}/__epoch={int(epoch_id)}")
        )
        for c in caches:
            c.unpersist()

    return sink


def hourly_counts(events: DataFrame, *, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling 1-hour aggregation — streaming twin of the
    batch ``events_hourly`` query (same grouping, same aggregates)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_windows(events: DataFrame, *, gap: str = "30 minutes") -> DataFrame:
    """Native streaming sessionization via ``session_window`` — merges
    events within ``gap`` per user into one session row."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count and value sum, maintained as explicit state
    across micro-batches (the escape hatch for semantics windowed aggs
    can't express — e.g. lifetime counters, custom eviction).

    State is one row per user (two longs + a double) — bounded by user
    cardinality, not stream length. Emits one updated row per user per
    micro-batch.
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import

    from pyspark.sql.streaming.state import GroupState

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def enrich_with_dim(
    events: DataFrame,
    dim: DataFrame,
    *,
    on_left: str = "user_id",
    on_right: str = "c_custkey",
    cols: tuple[str, ...] = ("c_mktsegment",),
) -> DataFrame:
    """Stream-static join: enrich the event stream with a batch
    dimension table. The static side is re-planned per micro-batch (so
    slowly-changing dims refresh on read) and explicitly broadcast —
    the stream side never shuffles, which is the only sane shape for a
    high-rate stream against a small dim."""
    d = dim.select(F.col(on_right).alias(on_left), *cols)
    return events.join(F.broadcast(d), on_left, "left")


def purchases_with_recent_clicks(
    events: DataFrame, *, lookback: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-STREAM interval join: each purchase matched to the same
    user's clicks within the preceding ``lookback``. Both sides carry a
    watermark and the join condition bounds event time on both ends, so
    Spark can size the state store and evict expired rows — the two
    requirements for an unbounded stream-stream inner join. (Without
    the time bound the state grows forever; without watermarks nothing
    is ever evicted.)"""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}")),
    ).select(
        F.col("p_user").alias("user_id"), "purchase_id", "click_id", "p_ts", "c_ts"
    )


def stream_dedup(events: DataFrame, *, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id with watermark-bounded state.

    ``dropDuplicatesWithinWatermark`` is required for bounded state
    here: plain ``dropDuplicates(['event_id'])`` only evicts state by
    watermark when the event-time column is part of the dedup subset,
    so keying on event_id alone would grow state forever on a
    long-running stream. The WithinWatermark variant expires each seen
    id once it falls behind the watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def epoch_sink(out_dir: str):
    """The idempotent foreachBatch writer: each micro-batch lands in an
    epoch-partitioned directory under dynamic partition overwrite, so a
    REPLAY of an epoch (at-least-once delivery after checkpoint
    recovery) overwrites its own partition instead of appending
    duplicates. Exposed separately so tests can invoke a replay
    directly."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("__epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch")
            .parquet(out_dir)
        )

    return sink


def write_parquet_exactly_once(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Transactional-sink pattern: ``foreachBatch`` + :func:`epoch_sink`
    (idempotent overwrite per epoch = effectively exactly-once on top of
    the checkpoint's at-least-once replay)."""
    return (
        stream_df.writeStream.foreachBatch(epoch_sink(out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def dedup_ingest_sink(out_dir: str, fp_store_dir: str, cols=None):
    """foreachBatch sink with CROSS-BATCH exact dedup: each micro-batch
    anti-joins the persistent fingerprint store
    (operators/dedup.incremental_exact_dedup), writes only never-seen
    rows, and appends the new fingerprints — both epoch-partitioned
    with dynamic overwrite.

    Replay safety: the store read FILTERS to epochs strictly before the
    current one, so a replayed epoch sees exactly the prior state it
    saw the first time and overwrites its own row and fingerprint
    partitions — idempotent under at-least-once delivery, including the
    dedup decision itself.
    """
    from ..operators.dedup import incremental_exact_dedup

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            store = (
                spark.read.parquet(fp_store_dir)
                .filter(F.col("__epoch") < F.lit(epoch_id))
                .select("__fp0", "__fp1")
            )
        except AnalysisException as e:
            # ONLY a missing store means "first epoch". Any other read
            # failure (transient FS error, corrupt footer, permissions)
            # must fail the batch so the checkpoint retries it —
            # swallowing it would silently disable cross-batch dedup
            # and write duplicates.
            if "PATH_NOT_FOUND" not in str(e):
                raise
            store = spark.createDataFrame([], "__fp0 long, __fp1 long")
        fresh, _ = incremental_exact_dedup(batch_df, store, cols, keep_fps=True)
        fresh = fresh.localCheckpoint()  # compute the dedup ONCE for both writes
        (
            fresh.drop("__fp0", "__fp1")
            .withColumn("__epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch")
            .parquet(out_dir)
        )
        (
            fresh.select("__fp0", "__fp1")
            .withColumn("__epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch")
            .parquet(fp_store_dir)
        )

    return sink


DOCS_STREAM_SCHEMA = "doc_id long, text string"

_CSPLIT_SIG_COLS = "doc long, minhash array<bigint>, band int, key string"
_CSPLIT_STORE_SCHEMA = (
    _CSPLIT_SIG_COLS + ", node long, component long, kind string, __epoch int"
)


def cluster_split_ingest_sink(
    out_dir: str,
    store_dir: str,
    *,
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
    weights=(("train", 80), ("val", 10), ("test", 10)),
):
    """foreachBatch sink for DEDUP-AWARE SPLIT ASSIGNMENT at ingest —
    the streaming face of queries/llm.split_cluster_assign_incremental,
    completing that family's batch → incremental → streaming arc (the
    dedup_ingest_sink / semdedup_ingest_sink pattern): each document
    micro-batch pairs against the persisted banded signature store
    (which STREAMS through one scan, never shuffled), folds the new
    edges into the persisted spanning-forest labels
    (operators/graph.incremental_components — exact, including batch
    docs that bridge two existing clusters), and assigns splits by the
    resulting cluster key.

    State layout, kind-partitioned in ``store_dir/__epoch=N/kind=...``
    as ONE fused write per epoch (the semdedup_ingest_sink commit
    shape; readers prune on the partition columns):
    - ``sig``: the batch's fresh banded signature rows (append
      semantics — read as the union of prior epochs)
    - ``comp``: the full (node, component) label SNAPSHOT after this
      epoch's fold (pair-bounded, never corpus-sized). Snapshot, not
      delta: a bridge merge in epoch N relabels nodes first seen
      epochs earlier, so the store read takes the LATEST prior
      epoch only — per-epoch deltas would resurrect stale labels.

    Output in ``out_dir/__epoch=N``: the batch's (doc_id, cluster,
    split) AS OF ingest time. The exactness contract means a later
    bridge batch can merge clusters and move earlier members' splits —
    :func:`cluster_split_current` is the authoritative read.

    Replay safety (the family contract): both store reads filter to
    epochs strictly before the current one and every write
    dynamic-overwrites exactly its own ``__epoch=N`` partition, so a
    replayed epoch is byte-idempotent, including the pairing and the
    fold."""
    from ..operators.curation import split_assign
    from ..operators.dedup import incremental_minhash_near_duplicates
    from ..operators.graph import incremental_components

    weights = list(weights)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            store_all = (
                spark.read.schema(_CSPLIT_STORE_SCHEMA)
                .parquet(store_dir)
                .filter(F.col("__epoch") < F.lit(epoch_id))
            )
            sig_store = store_all.filter(F.col("kind") == "sig").select(
                "doc", "minhash", "band", "key"
            )
            # bounded 1-row collect: which prior epoch holds the
            # current label snapshot
            last = store_all.filter(F.col("kind") == "comp").agg(
                F.max("__epoch").alias("e")
            ).collect()[0]["e"]
            comp_store = (
                store_all.filter(
                    (F.col("kind") == "comp") & (F.col("__epoch") == last)
                ).select("node", "component")
                if last is not None
                else spark.createDataFrame([], "node long, component long")
            )
        except AnalysisException as e:
            # ONLY a missing store means "first epoch" (the
            # dedup_ingest_sink contract) — anything else must fail
            # the batch so the checkpoint retries it
            if "PATH_NOT_FOUND" not in str(e):
                raise
            sig_store = spark.createDataFrame([], _CSPLIT_SIG_COLS)
            comp_store = spark.createDataFrame([], "node long, component long")
        caches: list = []
        fresh: list = []
        pairs, _ = incremental_minhash_near_duplicates(
            batch_df, sig_store, "text", "doc_id",
            num_hashes=num_hashes, shingle_n=shingle_n, bands=bands,
            threshold=threshold, cache_into=caches, fresh_into=fresh,
        )
        # localCheckpoint: the fold is consumed twice (broadcast tag +
        # store snapshot) and is itself iterative
        comp = incremental_components(
            pairs.select("id_a", "id_b"), comp_store
        ).localCheckpoint()
        keyed = batch_df.join(
            F.broadcast(comp),
            batch_df["doc_id"] == comp["node"],
            "left",
        ).withColumn(
            "cluster",
            F.coalesce(F.col("component"), F.col("doc_id")).cast("long"),
        )
        assigned = split_assign(keyed, F.col("cluster"), weights).select(
            "doc_id", "cluster", "split"
        )
        (
            assigned.withColumn("__epoch", F.lit(epoch_id))
            .coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch")
            .parquet(out_dir)
        )
        nl, ns = F.lit(None).cast("long"), F.lit(None).cast("string")
        sig_rows = fresh[0].select(
            "doc", "minhash", "band", "key",
            nl.alias("node"), nl.alias("component"),
            F.lit("sig").alias("kind"),
        )
        comp_rows = comp.select(
            nl.alias("doc"),
            F.lit(None).cast("array<bigint>").alias("minhash"),
            F.lit(None).cast("int").alias("band"), ns.alias("key"),
            "node", "component", F.lit("comp").alias("kind"),
        )
        (
            sig_rows.unionByName(comp_rows)
            .withColumn("__epoch", F.lit(epoch_id))
            .coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch", "kind")
            .parquet(store_dir)
        )
        for c in caches:
            c.unpersist()

    return sink


def cluster_split_current(
    spark: SparkSession,
    store_dir: str,
    docs: DataFrame,
    *,
    weights=(("train", 80), ("val", 10), ("test", 10)),
) -> DataFrame:
    """Authoritative (doc_id, cluster, split) for every ingested doc:
    the LATEST component snapshot broadcast onto ``docs`` (one scan,
    the split projection is shuffle-free). Equals the batch
    split_cluster_assign over the same corpus by the incremental-CC
    exactness contract — twin-asserted in tests."""
    from ..operators.curation import split_assign

    store_all = spark.read.schema(_CSPLIT_STORE_SCHEMA).parquet(store_dir)
    comps = store_all.filter(F.col("kind") == "comp")
    last = comps.agg(F.max("__epoch").alias("e")).collect()[0]["e"]
    comp = comps.filter(F.col("__epoch") == last).select("node", "component")
    keyed = docs.join(
        F.broadcast(comp), docs["doc_id"] == comp["node"], "left"
    ).withColumn(
        "cluster",
        F.coalesce(F.col("component"), F.col("doc_id")).cast("long"),
    )
    return split_assign(keyed, F.col("cluster"), list(weights)).select(
        "doc_id", "cluster", "split"
    )


EMB_STREAM_SCHEMA = "vec_id long, embedding array<float>, label int"


def semdedup_ingest_sink(
    out_dir: str,
    centroids: DataFrame,
    *,
    threshold: float,
    nsplits: int = 1,
):
    """foreachBatch sink with CROSS-BATCH semantic dedup — SemDeDup at
    ingest, completing the streaming face of the incremental family
    (exact fingerprints via dedup_ingest_sink, now embeddings): each
    micro-batch assigns against the STATIC broadcast codebook, pairs
    against the persisted epoch-partitioned assignment store
    (operators/similarity.incremental_semdedup_pairs), and commits the
    batch's near-dup pairs plus its fresh assignments in ONE write.

    Output layout: ``out_dir/__epoch=N/kind={pairs,assign}`` — the two
    per-epoch outputs are one parquet commit, partitioned by ``kind``.
    Readers filter on the partition columns (partition pruning means a
    store read never touches pairs files and vice versa):
    pairs = ``read.parquet(out_dir).filter(kind = 'pairs')``; the
    assignment store = ``filter(kind = 'assign')`` with the declared
    store schema. Pre-r10 the sink committed pairs and assignments as
    two separate jobs per epoch — two full job schedules + two parquet
    commits for micro-batch-sized outputs was ~40% of the steady-state
    epoch cost.

    Replay safety (the dedup_ingest_sink contract): the store read
    FILTERS to epochs strictly before the current one, so a replayed
    epoch sees exactly the prior state it saw the first time and
    overwrites exactly its own ``__epoch=N`` directory (both kinds) —
    idempotent under at-least-once delivery, including the pairing
    decision.

    Per-epoch amortization: the codebook is collected ONCE here (it is
    bounded by contract — the batch operator broadcasts it) and baked
    into a single Arrow-batched assignment UDF
    (similarity.codebook_assign_udf, bit-identical to ivf_assign)
    reused by every micro-batch. Pre-r09 the sink re-planned the
    codebook join per epoch — re-scanning the centroid DataFrame's
    lineage and re-broadcasting it every batch; the r09 Column-fold
    form fixed that but still carried |codebook| ndarray Literal nodes
    the analyzer re-walked every epoch job (~0.4 s/epoch at 64x64 —
    the single-node UDF removes that too).
    """
    from ..operators.similarity import (
        codebook_assign_udf,
        incremental_semdedup_pairs_assigned,
    )

    codebook = [
        (r["cid"], list(r["cv"])) for r in centroids.collect()
    ]
    assign_udf = codebook_assign_udf(codebook)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # the store's vec type follows the STREAM's embedding element
        # type (the sink writes the batch's embedding column verbatim);
        # a hardcoded array<float> made every post-epoch-0 read of an
        # array<double> stream fail on parquet type mismatch (r9
        # advice) — derive it from the live batch schema instead
        vec_t = batch_df.schema["embedding"].dataType.simpleString()
        try:
            store = (
                # declared schema: skip per-epoch parquet footer
                # schema inference over every prior epoch's files.
                # kind is a PARTITION column, so the filter prunes at
                # the directory level — pairs files are never opened.
                spark.read.schema(
                    f"doc long, vec {vec_t}, centroid_id bigint,"
                    " kind string, __epoch int"
                )
                .parquet(out_dir)
                .filter(
                    (F.col("__epoch") < F.lit(epoch_id))
                    & (F.col("kind") == "assign")
                )
                .select("doc", "vec", "centroid_id")
            )
        except AnalysisException as e:
            # ONLY a missing store means "first epoch" (see
            # dedup_ingest_sink for why anything else must re-raise)
            if "PATH_NOT_FOUND" not in str(e):
                raise
            store = spark.createDataFrame(
                [], f"doc long, vec {vec_t}, centroid_id bigint"
            )
        caches: list = []
        # A micro-batch arrives as ONE input split (file-source batch).
        # With the old interpreted Column fold that serialized ~2 s of
        # per-row cosines on one core and a repartition was mandatory;
        # the numpy kernel assigns ~200k rows/s/core, so micro-batches
        # stay single-split (the exchange cost more than it saved —
        # measured ~0.25 s/epoch) and only multi-100k-row batches need
        # input parallelism — which a file/Kafka source already
        # provides via its own split granularity at that size.
        assigned = batch_df.select(
            F.col("vec_id").alias("doc"),
            F.col("embedding").alias("vec"),
            assign_udf(F.col("embedding")).alias("centroid_id"),
        )
        fresh_frames: list = []
        pairs, _updated = incremental_semdedup_pairs_assigned(
            assigned,
            store,
            threshold=threshold,
            nsplits=nsplits,
            cache_into=caches,
            fresh_into=fresh_frames,
        )
        # ONE commit for the epoch: pairs ∪ fresh assignments under
        # kind= partitions, written directly into this epoch's
        # __epoch=N directory (same replay idempotency as before, no
        # dynamic-overwrite machinery). fresh = cached assignment minus
        # history (fresh_into — reads the persisted batch, never
        # re-assigns). unionByName(allowMissingColumns) fills the
        # other kind's columns with NULLs; partition pruning on kind
        # means neither reader ever decodes them.
        # coalesce(1): both outputs are micro-batch-bounded; committing
        # 32 near-empty task files per epoch is the classic streaming
        # small-files anti-pattern AND ~2x the epoch's commit overhead
        # (a large deployment would coalesce to ceil(bytes/128MB)).
        bundle = pairs.withColumn("kind", F.lit("pairs")).unionByName(
            fresh_frames[0].withColumn("kind", F.lit("assign")),
            allowMissingColumns=True,
        )
        (
            bundle.coalesce(1)
            .write.partitionBy("kind")
            .mode("overwrite")
            .parquet(f"{out_dir}/__epoch={int(epoch_id)}")
        )
        for c in caches:
            c.unpersist()

    return sink


def ivfpq_ingest_sink(
    out_dir: str,
    centroids: DataFrame,
    pq_codebook: DataFrame,
    *,
    m: int,
    dsub: int,
):
    """foreachBatch sink maintaining the IVF-PQ index AT INGEST — the
    streaming face of operators/similarity.incremental_ivfpq_postings
    (the ANN member of the incremental family, next to the exact-dedup
    and semdedup sinks): each micro-batch drops replayed ids via the
    batch_minus_store probe of the posting store (store streams
    through one id-projected scan, never shuffled), then encodes only
    the fresh vectors with ONE fused Arrow-batched kernel
    (similarity.ivfpq_encode_udf: coarse-assign → residual → PQ codes,
    bit-identical to the batch chain) and commits the epoch's postings
    in one coalesced write.

    Both codebooks are STATIC by the index contract and collected once
    at sink construction (bounded — they are broadcast in the batch
    form); per-epoch plans are a scan + two broadcast joins + one
    UDF projection, no codebook literals for the analyzer to re-walk.

    Replay safety (the dedup_ingest_sink contract): the store read
    filters to epochs strictly before the current one and the write
    overwrites exactly ``out_dir/__epoch=N`` — idempotent under
    at-least-once delivery. Store readers declare the posting schema
    (doc, centroid_id, codes) and prune to the columns they need.
    """
    from ..operators import dedup as _dd
    from ..operators.similarity import ivfpq_encode_udf

    coarse = [(r["cid"], list(r["cv"])) for r in centroids.collect()]
    pq = [(r["s"], r["j"], list(r["cv"])) for r in pq_codebook.collect()]
    enc = ivfpq_encode_udf(coarse, pq, m=m, dsub=dsub)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            store_ids = (
                spark.read.schema(
                    "doc long, centroid_id bigint, codes array<int>,"
                    " __epoch int"
                )
                .parquet(out_dir)
                .filter(F.col("__epoch") < F.lit(int(epoch_id)))
                .select("doc")
            )
        except AnalysisException as e:
            if "PATH_NOT_FOUND" not in str(e):
                raise
            store_ids = spark.createDataFrame([], "doc long")
        batch = batch_df.select(
            F.col("vec_id").alias("doc"), F.col("embedding").alias("vec")
        ).dropDuplicates(["doc"])
        fresh = _dd.batch_minus_store(
            batch,
            store_ids,
            "doc",
            batch_distinct=True,
            store_unique_keys=True,
        )
        postings = fresh.select("doc", enc(F.col("vec")).alias("__e")).select(
            "doc",
            F.col("__e.centroid_id").alias("centroid_id"),
            F.col("__e.codes").alias("codes"),
        )
        (
            postings.coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/__epoch={int(epoch_id)}")
        )

    return sink


def run_to_memory(stream_df: DataFrame, name: str) -> None:
    """Drive a bounded stream to completion synchronously into an
    in-memory table ``name`` (complete mode — test harness only)."""
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def m4_hourly(events: DataFrame, *, watermark: str = "2 hours") -> DataFrame:
    """Streaming M4 downsampling — twin of the batch
    ``operators/temporal.m4_downsample`` (first/last/min/max value per
    series x hour). min/max over a (ts, value) struct are declarative
    aggregates, so the state per (window, series) key is four scalars
    + bounds; the watermark evicts closed windows. Ties on ts break on
    value — same deterministic rule as the batch operator. This is the
    live-dashboard form: the sink receives render-ready points, never
    raw events.
    """
    tv = F.struct(F.col("ts").alias("t"), F.col("value").alias("v"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.min(tv)["v"].alias("v_first"),
            F.max(tv)["v"].alias("v_last"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
            F.min("ts").alias("ts_first"),
            F.max("ts").alias("ts_last"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .select(
            F.col("win.start").alias("bucket"),
            "event_type",
            "v_first",
            "v_last",
            "v_min",
            "v_max",
            "ts_first",
            "ts_last",
            "n_points",
        )
    )


def funnel_state(
    events: DataFrame,
    *,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
) -> DataFrame:
    """Streaming funnel: per-user ordered-stage state machine via
    ``applyInPandasWithState`` — the live twin of the batch
    ``operators/temporal.funnel_stages``.

    State is one epoch-micros slot per stage (0 = not reached), set
    once when the stage's event arrives after the previous stage's
    time — bounded by user cardinality x |stages|, not stream length.
    Rows are sorted within each batch, so intra-batch disorder is
    handled; CROSS-batch disorder (an event older than anything
    already folded into state) cannot retroactively correct a
    set-once slot, so it is DETECTED instead of silently ignored: the
    state tracks the max event-time seen, and any user whose batch
    dips below it carries a sticky ``ooo=true`` flag — downstream
    consumers drop or re-derive those users from batch
    ``funnel_stages`` (ADVICE r05). In-order streams never set it.
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import

    from pyspark.sql.streaming.state import GroupState

    n = len(stages)
    out_schema = (
        "user_id long, stage int, "
        + ", ".join(f"t_{s} timestamp" for s in stages)
        + ", ooo boolean"
    )
    state_schema = (
        ", ".join(f"t{i} long" for i in range(n)) + ", tmax long, ooo int"
    )

    def update(key, pdfs, state: GroupState):
        if state.exists:
            *cur, tmax, ooo = state.get
            cur = list(cur)
        else:
            cur, tmax, ooo = [0] * n, 0, 0
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows):
            rows = rows.sort_values("ts")
            for ts, et in zip(rows["ts"], rows["event_type"]):
                micros = int(pd.Timestamp(ts).value // 1000)
                if micros < tmax:
                    ooo = 1  # older than already-folded state: sticky flag
                tmax = max(tmax, micros)
                for i, s in enumerate(stages):
                    if (
                        et == s
                        and cur[i] == 0
                        and (i == 0 or (cur[i - 1] != 0 and micros > cur[i - 1]))
                    ):
                        cur[i] = micros
                        break
        state.update((*cur, tmax, ooo))
        stage = 0
        for i in range(n):
            if cur[i] != 0:
                stage = i + 1
            else:
                break
        out = {"user_id": [key[0]], "stage": [stage]}
        for i, s in enumerate(stages):
            out[f"t_{s}"] = [
                pd.Timestamp(cur[i], unit="us") if cur[i] else pd.NaT
            ]
        out["ooo"] = [bool(ooo)]
        yield pd.DataFrame(out)

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def funnel_state_buffered(
    events: DataFrame,
    *,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
) -> DataFrame:
    """CORRECTNESS-FIRST streaming funnel (VERDICT r06 item 8): the
    watermark-buffered twin of :func:`funnel_state`. Where the sticky
    ``ooo`` flag only DETECTS cross-batch disorder, this variant
    eliminates it: events are buffered in state until the watermark
    passes them, then folded in EVENT-TIME order — so shuffled
    micro-batches produce the batch ``operators/temporal.
    funnel_stages`` result exactly once the watermark clears the data.

    ``events`` MUST carry ``withWatermark("ts", delay)``; the
    watermark is the completeness contract (Spark guarantees no
    accepted row is older), so folding the <=-watermark prefix can
    never need retraction. State is the folded stage slots plus the
    pending buffer — bounded by the disorder window (events inside the
    watermark delay), not stream length. Output rows carry
    ``n_pending`` so consumers can tell settled users (0) from
    provisional ones.
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import

    from pyspark.sql.streaming.state import GroupState

    n = len(stages)
    out_schema = (
        "user_id long, stage int, "
        + ", ".join(f"t_{s} timestamp" for s in stages)
        + ", n_pending int"
    )
    state_schema = (
        ", ".join(f"t{i} long" for i in range(n))
        + ", buf_ts array<long>, buf_et array<string>"
    )

    def update(key, pdfs, state: GroupState):
        if state.exists:
            got = state.get
            cur = list(got[:n])
            buf_ts = list(got[n] or [])
            buf_et = list(got[n + 1] or [])
        else:
            cur, buf_ts, buf_et = [0] * n, [], []
        # a timeout invocation (watermark passed a pending event)
        # arrives with no data frames — fold-only pass
        frames = [f for f in pdfs if len(f)]
        if frames:
            rows = pd.concat(frames, ignore_index=True)
            for ts, et in zip(rows["ts"], rows["event_type"]):
                buf_ts.append(int(pd.Timestamp(ts).value // 1000))
                buf_et.append(str(et))
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        mature = sorted(
            (t, e) for t, e in zip(buf_ts, buf_et) if t <= wm_us
        )
        pending = [(t, e) for t, e in zip(buf_ts, buf_et) if t > wm_us]
        for micros, et in mature:
            for i, s in enumerate(stages):
                if (
                    et == s
                    and cur[i] == 0
                    and (i == 0 or (cur[i - 1] != 0 and micros > cur[i - 1]))
                ):
                    cur[i] = micros
                    break
        state.update(
            (*cur, [t for t, _ in pending], [e for _, e in pending])
        )
        if pending:
            # re-invoke this user (data or not) once the watermark
            # passes its oldest buffered event, so buffered rows fold
            # without requiring fresh data for the key
            state.setTimeoutTimestamp(
                max(min(t for t, _ in pending) // 1000 + 1, wm_ms + 1)
            )
        stage = 0
        for i in range(n):
            if cur[i] != 0:
                stage = i + 1
            else:
                break
        out = {"user_id": [key[0]], "stage": [stage]}
        for i, s in enumerate(stages):
            out[f"t_{s}"] = [
                pd.Timestamp(cur[i], unit="us") if cur[i] else pd.NaT
            ]
        out["n_pending"] = [len(pending)]
        yield pd.DataFrame(out)

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="EventTimeTimeout",
    )


def cms_ingest_sink(store_dir: str, key_col: str = "user_id"):
    """Sketch-at-ingest (the streaming face of the CMS family): each
    micro-batch aggregates its keys once and appends its PARTIAL
    count-min cells, epoch-partitioned with dynamic overwrite — a
    replayed epoch overwrites its own partition, so the store is
    correct under at-least-once delivery. Because CMS cells are sums,
    the merged store (``groupBy (d, bucket) sum``) equals the sketch a
    single batch pass over all data would build — frequency queries
    never re-read raw events (twin test pins store == batch sketch
    cell-for-cell)."""
    from ..operators.sketches import cms_cells

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        counts = batch_df.groupBy(
            F.col(key_col).cast("string").alias("k")
        ).agg(F.count(F.lit(1)).alias("cnt"))
        cells = cms_cells(counts, key_col="k", count_col="cnt")
        (
            cells.withColumn("__epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch")
            .parquet(store_dir)
        )

    return sink


def pca_moments_ingest_sink(
    store_dir: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale_bits: int = 20,
):
    """Streaming face of the PCA moment store (the covariance member
    of the ingest family, mirroring cms/ivm_ingest_sink): each
    micro-batch runs its OWN exact int-moment pass
    (operators/similarity.embedding_moment_sums — d(d+1)/2 + d + 1
    tagged int64 sums) and appends the partial rows epoch-partitioned
    with dynamic overwrite, so a replayed epoch overwrites its own
    partition and the store stays correct under at-least-once
    delivery. Because the sums are EXACT integers, the merged store
    (``groupBy (i, j) sum``) equals a single batch pass over all data
    BIT-FOR-BIT regardless of batch order or count — the streaming
    index is always solvable (top_pc_power_iteration over ~d² rows)
    with zero corpus re-reads. coalesce(1): the partial is ~2k rows,
    and 32 near-empty task files per epoch ~doubles commit overhead
    (the CLAUDE.md micro-batch sink rule)."""
    from ..operators.similarity import embedding_moment_sums

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        m = embedding_moment_sums(
            batch_df, vec_col=vec_col, id_col=id_col, scale_bits=scale_bits
        )
        (
            m.coalesce(1)
            .withColumn("__epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch")
            .parquet(store_dir)
        )

    return sink


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """The ``transformWithStateInPandas`` twin of
    :func:`running_user_totals` — Spark 4's arbitrary-state API
    (successor to applyInPandasWithState): typed state handles
    (ValueState here; ListState/MapState, timers and TTL are the
    added surface), explicit init/close lifecycle, and per-key
    handleInputRows. Same semantics: lifetime per-user count + value
    sum, one updated row per user per micro-batch; twin test pins
    equality with the batch aggregate and with the old-API operator."""
    import pandas as pd  # noqa: PLC0415 — executor-side import

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            n, total = (
                self._state.get() if self._state.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )


def ivm_ingest_sink(store_dir: str):
    """Streaming face of incremental view maintenance (queries/cdcq.
    ivm_daily_revenue): each micro-batch appends its per-day PARTIAL
    aggregates (count + exact DECIMAL value sum), epoch-partitioned
    with dynamic overwrite so replays overwrite their own partition.
    The materialized daily rollup is the store re-aggregated by day —
    O(batch) per epoch, the base stream never re-read (twin test pins
    merged == one-pass batch aggregate)."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        partial = batch_df.groupBy(F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
        )
        (
            partial.withColumn("__epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch")
            .parquet(store_dir)
        )

    return sink


def cdc_apply_sink(store_dir: str, *, keys, version_col="version", op_col="op"):
    """foreachBatch sink for STREAMING CDC APPLY — log compaction at
    ingest, the streaming face of ``operators/cdc.changelog_compact``
    (the pattern that keeps a queryable snapshot current from a
    Debezium/Kafka change topic without a table format): each
    micro-batch compacts WITHIN itself (one max_by aggregate, keeping
    delete tombstones so later epochs still see the key died) and
    writes the survivors to its own ``__epoch`` partition. The store
    is therefore an epoch-partitioned, per-epoch-compacted changelog;
    :func:`cdc_current_snapshot` compacts across epochs on read with
    the lexicographic (epoch, version) order.

    Replay safety: the batch reads NO prior state — its output is a
    pure function of its input rows — and dynamic overwrite replaces
    only its own epoch partition, so at-least-once redelivery is
    idempotent by construction (no store-read epoch fencing needed,
    unlike dedup_ingest_sink).
    """
    from ..operators.cdc import changelog_compact

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        compacted = changelog_compact(
            batch_df,
            keys,
            version_col=version_col,
            op_col=op_col,
            keep_tombstones=True,
        )
        (
            compacted.withColumn("__epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch")
            .parquet(store_dir)
        )

    return sink


def cdc_current_snapshot(
    spark: SparkSession,
    store_dir: str,
    *,
    keys,
    version_col: str = "version",
    op_col: str = "op",
    epoch_width: int = 1_000_000_000,
) -> DataFrame:
    """Current table state from a :func:`cdc_apply_sink` store: compact
    across epochs with the composite version ``__epoch * width +
    version`` (later epochs always win; within an epoch the source
    version orders), dropping tombstones. One max_by aggregate over
    the store — cost O(store), and the store is already per-epoch
    compacted so it holds at most one row per (key, epoch), not the
    raw change stream. ``version_col`` values must stay below
    ``epoch_width``."""
    from ..operators.cdc import changelog_compact

    store = spark.read.parquet(store_dir).withColumn(
        "__cv",
        F.col("__epoch").cast("long") * F.lit(epoch_width)
        + F.col(version_col).cast("long"),
    ).drop("__epoch", version_col)
    return changelog_compact(
        store, keys, version_col="__cv", op_col=op_col
    ).withColumnRenamed("__cv", "composite_version")


def psi_ingest_sink(out_dir: str, *, edges, ref_counts, value_col: str):
    """foreachBatch sink for STREAMING DRIFT MONITORING — the
    population-stability-index screen (queries/analytics.
    price_psi_drift) run against every micro-batch: the REFERENCE
    population's equi-depth edges and bin counts are frozen at sink
    creation (tiny Python lists — the broadcast-literal analogue), each
    batch bins its rows by value, and one (epoch, n_cur, psi) row lands
    in the epoch's partition. This is how a feature store watches an
    arriving feed degrade in real time instead of discovering drift at
    the next batch audit.

    The 10-bin count table collapses to the driver (bounded by bin
    count, never rows) and PSI folds in ascending-bin order in exact
    Python floats — deterministic, replay-idempotent (pure function of
    the batch + dynamic epoch overwrite).
    """
    k = len(ref_counts)
    if len(edges) != k - 1:
        raise ValueError(f"need {k - 1} edges for {k} bins, got {len(edges)}")
    tr = float(sum(ref_counts))

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        edge_arr = F.array(*[F.lit(float(e)) for e in edges])
        v = F.col(value_col)
        binned = batch_df.select(
            (1 + F.size(F.filter(edge_arr, lambda e: v < e))).alias("bin")
        )
        rows = binned.groupBy("bin").count().collect()
        by_bin = {r["bin"]: r["count"] for r in rows}
        tc = float(sum(by_bin.values()))
        psi = 0.0
        for b in range(1, k + 1):
            n_cur, n_ref = by_bin.get(b, 0), ref_counts[b - 1]
            if n_cur > 0 and n_ref > 0 and tc > 0:
                import math

                pc, pr = n_cur / tc, n_ref / tr
                psi += (pc - pr) * math.log(pc / pr)
        out = spark.createDataFrame(
            [(int(tc), float(psi), int(epoch_id))],
            "n_cur long, psi double, __epoch int",
        )
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch")
            .parquet(out_dir)
        )

    return sink
