"""Round-2 surface widening: range join, unpivot, grouping sets,
deterministic stratified sampling, positional explode, regex scalar
surface, rank-statistics windows, conditional aggregates.

None of these exist in the reference (its surface is the fixed ETL
chain in data_process.py); they complete the engine's relational/text
coverage. Every query has a DuckDB oracle with identical column names
and engine-portable arithmetic (queries/_util.round_to / sql_round,
char_hash for portable hashing).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import textfns
from ._util import round_to, sql_char_hash, sql_round, sql_tokens, t
from .relational import ORACLES as _REL_ORACLES

# ---------------------------------------------------------------------------
# range (interval) join
# ---------------------------------------------------------------------------

PROMO_YEARS = range(1990, 2006)


def range_join_promos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders matched to first-half-year promo periods by a genuine
    range join (d BETWEEN start AND end). The period table is tiny and
    broadcast, so the non-equi join is a broadcast nested-loop over a
    handful of rows per partition — the scale-correct shape for
    interval enrichment against a small calendar dimension."""
    periods = spark.createDataFrame(
        [(f"promo_{y}", f"{y}-01-01", f"{y}-06-30") for y in PROMO_YEARS],
        "promo string, start_s string, end_s string",
    ).select(
        "promo",
        F.col("start_s").cast("date").alias("start"),
        F.col("end_s").cast("date").alias("end"),
    )
    o = t(spark, sf_dir, "orders").withColumn("d", F.to_date("o_orderdate"))
    joined = o.join(
        F.broadcast(periods),
        (F.col("d") >= F.col("start")) & (F.col("d") <= F.col("end")),
    )
    return joined.groupBy("promo").agg(
        F.count(F.lit(1)).alias("n_orders"),
        round_to(F.sum("o_totalprice"), 2).alias("revenue"),
    )


_RANGE_JOIN_SQL = f"""
SELECT 'promo_' || CAST(year(CAST(o_orderdate AS DATE)) AS VARCHAR) AS promo,
  count(*) AS n_orders,
  {sql_round("sum(o_totalprice)", 2)} AS revenue
FROM orders
WHERE month(CAST(o_orderdate AS DATE)) <= 6
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# unpivot / melt
# ---------------------------------------------------------------------------


def unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape of three lineitem measures via the native
    ``unpivot`` (no explode-of-structs detour; stays in whole-stage
    codegen as a single Expand node)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
    )
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="val",
    )


_UNPIVOT_SQL = """
SELECT l_orderkey, l_linenumber, metric, val FROM (
  UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                  l_discount FROM lineitem)
  ON l_quantity, l_extendedprice, l_discount
  INTO NAME metric VALUE val
)
"""


# ---------------------------------------------------------------------------
# grouping sets
# ---------------------------------------------------------------------------


def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube) with grouping()
    markers so subtotal rows are distinguishable from data nulls."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
          CAST(grouping(o_orderstatus) AS INT) AS g_status,
          CAST(grouping(o_orderpriority) AS INT) AS g_prio,
          count(*) AS n
        FROM v_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
  CAST(grouping(o_orderstatus) AS INT) AS g_status,
  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
  count(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------

SAMPLE_RATES = {"en": 60, "de": 30, "fr": 30, "es": 30}
SAMPLE_DEFAULT_RATE = 10


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible per-stratum sampling — the training-data form of
    sampling: membership is a pure function of the row key (portable
    char_hash of the id, modulo 100, compared to the stratum's rate),
    so reruns, backfills and the oracle agree row-for-row. Spark's
    ``sampleBy`` is seeded but engine-specific; a hash gate is the
    portable, restart-stable equivalent."""
    d = t(spark, sf_dir, "documents")
    bucket = textfns.char_hash(F.col("doc_id").cast("string")) % 100
    rate = F.lit(SAMPLE_DEFAULT_RATE)
    for lang, r in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return d.filter(bucket < rate).select("doc_id", "lang")


def _sample_sql() -> str:
    rate = str(SAMPLE_DEFAULT_RATE)
    for lang, r in SAMPLE_RATES.items():
        rate = f"CASE WHEN lang = '{lang}' THEN {r} ELSE {rate} END"
    return f"""
SELECT doc_id, lang FROM documents
WHERE {sql_char_hash("CAST(doc_id AS VARCHAR)")} % 100 < {rate}
"""


# ---------------------------------------------------------------------------
# positional explode
# ---------------------------------------------------------------------------

POSEXPLODE_MAX_POS = 3


def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading tokens of each document with their positions via
    ``posexplode`` (generator surface; position is part of the output
    contract, unlike plain explode)."""
    d = t(spark, sf_dir, "documents")
    out = d.select(
        "doc_id", F.posexplode(textfns.tokens(F.col("text"))).alias("pos", "tok")
    )
    return out.filter(F.col("pos") < POSEXPLODE_MAX_POS).select(
        "doc_id", F.col("pos").cast("int").alias("pos"), "tok"
    )


_POSEXPLODE_SQL = f"""
WITH base AS (SELECT doc_id, {sql_tokens("text")} AS toks FROM documents),
expl AS (
  SELECT doc_id,
    unnest(list_transform(range(1, length(toks) + 1),
                          i -> {{'pos': i - 1, 'tok': toks[i]}})) AS u
  FROM base
)
SELECT doc_id, CAST(u['pos'] AS INT) AS pos, u['tok'] AS tok
FROM expl WHERE u['pos'] < {POSEXPLODE_MAX_POS}
"""


# ---------------------------------------------------------------------------
# regex scalar surface
# ---------------------------------------------------------------------------


def regex_extract_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract / regexp_replace / regex predicate over part
    names (patterns chosen to always match, where Spark and DuckDB
    regex dialects agree)."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", "^[a-z]+", 0).alias("first_word"),
        F.regexp_extract("p_name", "[a-z]+$", 0).alias("last_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.col("p_name").rlike("widget").cast("int").alias("is_widget"),
    )


_REGEX_SQL = """
SELECT p_partkey,
  regexp_extract(p_name, '^[a-z]+') AS first_word,
  regexp_extract(p_name, '[a-z]+$') AS last_word,
  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
  CAST(regexp_matches(p_name, 'widget') AS INT) AS is_widget
FROM part
"""


# ---------------------------------------------------------------------------
# rank-statistics windows
# ---------------------------------------------------------------------------


def window_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / dense_rank per status by price — all
    tie-stable (equal inputs get equal outputs), so deterministic
    without a tiebreak column."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        round_to(F.percent_rank().over(w), 6).alias("pct_rank"),
        round_to(F.cume_dist().over(w), 6).alias("cume"),
        F.dense_rank().over(w).cast("long").alias("drank"),
    )


_RANK_STATS_SQL = f"""
SELECT o_orderkey, o_orderstatus,
  {sql_round("percent_rank() OVER w", 6)} AS pct_rank,
  {sql_round("cume_dist() OVER w", 6)} AS cume,
  CAST(dense_rank() OVER w AS BIGINT) AS drank
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice)
"""


# ---------------------------------------------------------------------------
# conditional aggregates
# ---------------------------------------------------------------------------

BIG_ORDER = 150_000.0
JUMBO_ORDER = 400_000.0


def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_if / FILTERed sum / bool_or — the conditional-aggregate
    surface, one pass over orders."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > BIG_ORDER).alias("n_big"),
        round_to(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice")
                    )
                ),
                F.lit(0.0),
            ),
            2,
        ).alias("urgent_revenue"),
        F.bool_or(F.col("o_totalprice") > JUMBO_ORDER).alias("any_jumbo"),
        F.count(F.lit(1)).alias("n"),
    )


_AGG_COND_SQL = f"""
SELECT o_orderstatus,
  count(*) FILTER (WHERE o_totalprice > {BIG_ORDER}) AS n_big,
  {sql_round(f"coalesce(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 0.0)", 2)}
    AS urgent_revenue,
  bool_or(o_totalprice > {JUMBO_ORDER}) AS any_jumbo,
  count(*) AS n
FROM orders GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# multi-table join (TPC-H Q5 shape)
# ---------------------------------------------------------------------------


def join_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table star join (TPC-H Q5 shape): lineitem ⋈ orders ⋈
    customer ⋈ supplier ⋈ nation ⋈ region, with the local-supplier
    condition (customer and supplier share a nation). The three
    dimension tables broadcast; only the two fact-fact joins shuffle —
    the join-order / broadcast-selection stress test."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(c.c_nationkey == s.s_nationkey)  # local supplier
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy("r_name", "n_name").agg(
        round_to(
            F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_REGIONAL_SQL = f"""
SELECT r_name, n_name,
  {sql_round("sum(l_extendedprice * (1.0 - l_discount))", 2)} AS revenue,
  count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY r_name, n_name
"""


# ---------------------------------------------------------------------------
# rolling range-frame window
# ---------------------------------------------------------------------------


def rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day revenue per day: aggregate to days FIRST (shrinks
    the window input from rows to days — the scale move), then a RANGE
    frame over the day number so calendar gaps are handled correctly
    (a ROWS frame would silently span gaps)."""
    o = t(spark, sf_dir, "orders")
    daily = (
        o.withColumn("day", F.to_date("o_orderdate"))
        .groupBy("day")
        .agg(F.sum("o_totalprice").alias("day_rev"))
    )
    # Overlapping-partition carry: a 6-day lookback crosses at most one
    # year boundary, so partition the window by year and replicate each
    # Dec 26-31 row into the NEXT year's partition (carry rows feed
    # January's frames, then drop out). No partition-less WindowExec
    # anywhere — the pattern that keeps range windows parallel at any
    # scale. Catalyst reuses the daily-aggregate exchange for both
    # branches of the union.
    daynum = F.datediff(F.col("day"), F.lit("1990-01-01").cast("date")).cast("long")
    d2 = daily.withColumn("dn", daynum).withColumn("yr", F.year("day"))
    main = d2.withColumn("part", F.col("yr")).withColumn(
        "is_carry", F.lit(False)
    )
    carry = (
        d2.filter((F.month("day") == 12) & (F.dayofmonth("day") >= 26))
        .withColumn("part", F.col("yr") + 1)
        .withColumn("is_carry", F.lit(True))
    )
    w = (
        Window.partitionBy("part")
        .orderBy("dn")
        .rangeBetween(-6, Window.currentRow)
    )
    return (
        main.unionByName(carry)
        .withColumn("__roll", F.sum("day_rev").over(w))
        .filter(~F.col("is_carry"))
        .select(
            "day",
            round_to(F.col("day_rev"), 2).alias("day_rev"),
            round_to(F.col("__roll"), 2).alias("rev_7d"),
        )
    )


_ROLLING_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS day_rev
  FROM orders GROUP BY 1
), numbered AS (
  SELECT day, day_rev, datediff('day', DATE '1990-01-01', day) AS dn FROM daily
)
SELECT day, {sql_round("day_rev", 2)} AS day_rev,
  {sql_round("sum(day_rev) OVER (ORDER BY dn RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)", 2)}
    AS rev_7d
FROM numbered
"""


# ---------------------------------------------------------------------------
# aggregation-based top-k (window-free twin of window_topk_orders)
# ---------------------------------------------------------------------------

TOPK_N = 3


def agg_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer WITHOUT a window: collect per-group
    structs, sort_array + slice inside the aggregate, explode back.
    Same results and oracle as ``window_topk_orders``, different
    physical shape — one hash aggregate (partial + final) instead of a
    full per-partition sort, which wins when groups are small and
    numerous (the common case at scale). The desc sort with an asc
    tiebreak rides on struct ordering: (price, -orderkey) sorted desc.
    """
    o = t(spark, sf_dir, "orders")
    item = F.struct(
        F.col("o_totalprice").alias("p"),
        (-F.col("o_orderkey")).cast("long").alias("nk"),
    )
    agged = o.groupBy("o_custkey").agg(
        F.slice(F.sort_array(F.collect_list(item), asc=False), 1, TOPK_N).alias(
            "top"
        )
    )
    return agged.select(
        "o_custkey", F.posexplode("top").alias("pos", "s")
    ).select(
        "o_custkey",
        (-F.col("s.nk")).alias("o_orderkey"),
        F.col("s.p").alias("o_totalprice"),
        (F.col("pos") + 1).cast("long").alias("rn"),
    )


# ---------------------------------------------------------------------------
# histogram
# ---------------------------------------------------------------------------

HIST_BIN, HIST_MAX_BUCKET = 200, 10


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-distribution histogram over documents (the corpus-shape
    diagnostic every curation run starts with): fixed-width bins with a
    clamped tail bucket, one aggregate pass."""
    d = t(spark, sf_dir, "documents")
    bucket = F.least(
        F.floor(F.col("n_chars") / F.lit(HIST_BIN)), F.lit(HIST_MAX_BUCKET)
    ).cast("long")
    return (
        d.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_HIST_SQL = f"""
SELECT least(floor(n_chars / {HIST_BIN}), {HIST_MAX_BUCKET})::BIGINT AS bucket,
  count(*) AS n
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# quantile-based outlier trim
# ---------------------------------------------------------------------------

TRIM_Q = 0.95


def docs_outlier_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation trim: keep documents at or below the p95 length.
    The quantile is one scalar aggregate broadcast back over the corpus
    (cross-join of a 1-row frame — no shuffle of the documents side)."""
    d = t(spark, sf_dir, "documents")
    p95 = d.agg(
        F.expr(f"percentile(n_chars, {TRIM_Q})").alias("__p95")
    )
    return (
        d.crossJoin(F.broadcast(p95))
        .filter(F.col("n_chars") <= F.col("__p95"))
        .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
    )


_TRIM_SQL = f"""
SELECT doc_id, n_chars::BIGINT AS n_chars FROM documents
WHERE n_chars <= (SELECT quantile_cont(n_chars, {TRIM_Q}) FROM documents)
"""


# ---------------------------------------------------------------------------
# fuzzy (edit-distance) join
# ---------------------------------------------------------------------------

FUZZY_PROBES = ("cold widget", "large bolt", "smal widget", "grean gear")
FUZZY_MAX_DIST = 2


def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy lookup of (possibly misspelled) probe strings against part
    names: broadcast the tiny probe list, levenshtein <= 2. The
    broadcast nested-loop is right when one side is a handful of
    probes; at corpus-vs-corpus scale the candidate generator would be
    the n-gram LSH in operators/dedup instead."""
    p = t(spark, sf_dir, "part")
    probes = spark.createDataFrame(
        [(q,) for q in FUZZY_PROBES], "probe string"
    )
    # stage the distance once (join-condition + projection would each
    # evaluate levenshtein; see the staging rule in CLAUDE.md)
    return (
        p.crossJoin(F.broadcast(probes))
        .withColumn(
            "dist", F.levenshtein(F.col("p_name"), F.col("probe")).cast("long")
        )
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
        .select("probe", "p_partkey", "p_name", "dist")
    )


def _fuzzy_sql() -> str:
    probes = " UNION ALL ".join(f"SELECT '{q}' AS probe" for q in FUZZY_PROBES)
    return f"""
WITH probes AS ({probes})
SELECT probe, p_partkey, p_name,
  levenshtein(p_name, probe)::BIGINT AS dist
FROM part JOIN probes ON levenshtein(p_name, probe) <= {FUZZY_MAX_DIST}
"""


def docs_sentences_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4): a table function splitting each
    document into '. '-separated segments with positions, applied via
    LATERAL join. API-surface demo with an exact oracle — for a literal
    split the SCALE path is the built-in split+posexplode (JVM-side,
    see posexplode_tokens); a UDTF earns its row-at-a-time Python cost
    only when the generator logic can't be a Column expression."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, sentence: string")
    class SplitSents:
        def eval(self, text: str):
            if text is None:
                return
            for i, s in enumerate(text.split(". ")):
                yield i, s

    spark.udtf.register("split_sents", SplitSents)
    d = t(spark, sf_dir, "documents")
    d.createOrReplaceTempView("__docs_udtf_v")
    return spark.sql(
        "SELECT d.doc_id, s.pos, s.sentence "
        "FROM __docs_udtf_v d, LATERAL split_sents(d.text) s "
        "WHERE d.text IS NOT NULL"
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "sentence")


_SENTS_SQL = """
WITH parts AS (
  SELECT doc_id, string_split(text, '. ') AS p
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
  CAST(u['pos'] AS BIGINT) AS pos,
  CAST(u['sentence'] AS VARCHAR) AS sentence
FROM (
  SELECT doc_id,
    unnest(list_transform(range(1, len(p) + 1),
                          i -> {'pos': i - 1, 'sentence': p[i]})) AS u
  FROM parts
)
"""


def events_grouped_center(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas`` surface: per event_type, center
    each value on the group median computed IN PANDAS (numpy median ==
    quantile_cont interpolation — identical IEEE arithmetic, so the
    oracle hash-checks it). The grouped-map form is for per-group logic
    a Column expression can't state; THIS particular computation's
    scale path is the built-in percentile + broadcast join — documented
    here as the trade-off, like the UDTF twin."""
    import numpy as np
    import pandas as pd

    e = t(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        med = float(np.median(pdf["value"].to_numpy()))
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "centered": pdf["value"].to_numpy() - med,
            }
        )

    out = e.groupBy("event_type").applyInPandas(
        center, "event_id long, event_type string, centered double"
    )
    return out.select(
        "event_id", "event_type", round_to(F.col("centered"), 6).alias("centered")
    )


def events_grouped_center_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInArrow`` twin of events_grouped_center (Spark 4 grouped
    Arrow API): the same per-group median centering, but the UDF
    receives/returns raw ``pyarrow.Table`` batches — no pandas object
    materialization, the lowest-overhead grouped Python hook. Shares
    the pandas twin's oracle: both decode paths must agree bit-wise."""
    import numpy as np
    import pyarrow as pa

    e = t(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def center(tbl: pa.Table) -> pa.Table:
        v = tbl.column("value").to_numpy(zero_copy_only=False)
        med = float(np.median(v))
        return pa.table(
            {
                "event_id": tbl.column("event_id"),
                "event_type": tbl.column("event_type"),
                "centered": pa.array(v - med),
            }
        )

    out = e.groupBy("event_type").applyInArrow(
        center, "event_id long, event_type string, centered double"
    )
    return out.select(
        "event_id", "event_type", round_to(F.col("centered"), 6).alias("centered")
    )


_GROUPED_CENTER_SQL = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
  {sql_round("e.value - med.m", 6)} AS centered
FROM events e JOIN med USING (event_type)
"""




def pyds_docs_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 Python DataSource FILTER PUSHDOWN, driver-verified:
    read the pure-Python connector (sources/pysource) under a doc_id
    range predicate that the reader CONSUMES — pushFilters narrows
    partition planning from 8 slices to the 4 intersecting the range,
    so pruned shards never generate a row (the Python-connector
    equivalent of parquet partition pruning; pruning itself is pinned
    by tests/test_sources.py). Aggregates per language over the
    surviving range. Deliberately sf-independent: the connector is the
    surface under test, not the corpus; the oracle regenerates the
    same rows arithmetically. Pushdown is a session setting
    (``session._DEFAULTS`` turns it on, and Spark refuses the reader
    without it); the query never writes it."""
    from ..sources import pysource

    pysource.register(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("rows", 2000)
        .option("partitions", 8)
        .load()
        .filter((F.col("doc_id") >= 500) & (F.col("doc_id") < 1500))
    )
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_id"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("n_tokens"),
    )


_PYDS_SQL = """
WITH r AS (SELECT unnest(range(500, 1500)) AS i),
d AS (
  SELECT i, ['en', 'de', 'fr', 'es'][i % 4 + 1] AS lang, 3 + i % 5 AS nt
  FROM r
)
SELECT lang, count(*)::BIGINT AS n_docs, sum(i)::BIGINT AS sum_id,
       sum(nt)::BIGINT AS n_tokens
FROM d GROUP BY lang
"""




SPATIAL_RADIUS = 2000  # metres; grid cell side == radius


def spatial_grid_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial distance join via GRID BUCKETING (operators/spatial):
    plant deterministic planar coordinates (integer metres in a 100 km
    square) for suppliers and customers, find every customer within
    {radius} m of each supplier through a 3x3 cell-neighborhood
    equi-join — candidates linear in the data, never the cross join —
    and report per supplier the count, the nearest customer
    (tie-break on key), and its exact squared distance. All integer
    arithmetic; the oracle is the brute-force quadratic join, so a
    green hash proves the grid join is complete. Real geodesic data
    swaps the verify for haversine; the bucketing algebra stands."""
    from ..operators import spatial

    sup = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 7919) % 100000).alias("x"),
        ((F.col("s_suppkey") * 104729) % 100000).alias("y"),
    )
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7907) % 100000).alias("x"),
        ((F.col("c_custkey") * 104717) % 100000).alias("y"),
    )
    pairs = spatial.grid_neighbors(
        sup, cust, id_left="s_suppkey", id_right="c_custkey",
        radius=SPATIAL_RADIUS,
    )
    agg = pairs.groupBy("s_suppkey").agg(
        F.count(F.lit(1)).alias("n_within"),
        F.min(F.struct("dist2", "c_custkey")).alias("__nearest"),
    )
    return (
        sup.select("s_suppkey")
        .join(agg, "s_suppkey", "left")
        .select(
            "s_suppkey",
            F.coalesce(F.col("n_within"), F.lit(0)).cast("long").alias("n_within"),
            F.col("__nearest.c_custkey").alias("nearest_cust"),
            F.col("__nearest.dist2").alias("min_dist2"),
        )
    )


_SPATIAL_SQL = f"""
WITH s AS (
  SELECT s_suppkey, (s_suppkey * 7919) % 100000 AS x,
         (s_suppkey * 104729) % 100000 AS y
  FROM supplier
),
c AS (
  SELECT c_custkey, (c_custkey * 7907) % 100000 AS x,
         (c_custkey * 104717) % 100000 AS y
  FROM customer
),
pr AS (
  SELECT * FROM (
    SELECT s.s_suppkey, c.c_custkey,
           (s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y) AS d2
    FROM s, c
  ) WHERE d2 <= {SPATIAL_RADIUS * SPATIAL_RADIUS}
),
agg AS (
  SELECT s_suppkey, count(*)::BIGINT AS n_within,
         (array_agg(c_custkey ORDER BY d2, c_custkey))[1] AS nearest_cust,
         min(d2)::BIGINT AS min_dist2
  FROM pr GROUP BY s_suppkey
)
SELECT s.s_suppkey, coalesce(a.n_within, 0)::BIGINT AS n_within,
       a.nearest_cust, a.min_dist2
FROM s LEFT JOIN agg a USING (s_suppkey)
"""




def lateral_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL LATERAL join surface: per-nation top-3 customers by account
    balance via a correlated LATERAL subquery with ORDER BY ... LIMIT —
    the "top-N per group without a window function" idiom SQL users
    port from warehouses. Catalyst rewrites the lateral into a ranked
    window under the hood; expressing it AS a lateral keeps warehouse
    SQL runnable verbatim. Tie-break on customer name; balances are
    2-decimal so the raw double is hash-stable."""
    t(spark, sf_dir, "nation").createOrReplaceTempView("v_lat_nation")
    t(spark, sf_dir, "customer").createOrReplaceTempView("v_lat_customer")
    return spark.sql(
        """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM v_lat_nation n
JOIN LATERAL (
  SELECT c_name, c_acctbal FROM v_lat_customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 3
) t
"""
    )


_LATERAL_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 3
) t
"""




def events_udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4): the table function computes
    its OUTPUT SCHEMA at plan time via a static ``analyze()`` from a
    constant column-spec argument — the schema-from-arguments contract
    a static-returnType UDTF (docs_sentences_udtf) cannot express.
    Each event row round-trips through to_json and back through the
    UDTF under the spec 'user_id:bigint,value:double', then aggregates
    per event type. Surface demo with an exact oracle: eval() is
    row-at-a-time Python, so the SCALE path for real JSON stays
    variant_get (events_variant_stats); a UDTF earns its cost only
    when per-row logic cannot be expressed in built-ins. Sums use
    per-row decimal casts (money convention)."""
    import json as _json

    from pyspark.sql.functions import to_json, struct, udtf
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class JsonCols:
        @staticmethod
        def analyze(js: AnalyzeArgument, spec: AnalyzeArgument) -> AnalyzeResult:
            fields = []
            for part in spec.value.split(","):
                name, typ = part.split(":")
                fields.append(
                    StructField(
                        name, LongType() if typ == "bigint" else DoubleType()
                    )
                )
            return AnalyzeResult(StructType(fields))

        def eval(self, js: str, spec: str):
            d = _json.loads(js) if js else {}
            out = []
            for part in spec.split(","):
                name, typ = part.split(":")
                v = d.get(name)
                if v is None:
                    out.append(None)
                else:
                    out.append(int(v) if typ == "bigint" else float(v))
            yield tuple(out)

    spark.udtf.register("json_cols", JsonCols)
    t(spark, sf_dir, "events").select(
        "event_type", to_json(struct("user_id", "value")).alias("js")
    ).createOrReplaceTempView("v_udtf_events")
    extracted = spark.sql(
        """
SELECT e.event_type, t.user_id, t.value
FROM v_udtf_events e,
LATERAL json_cols(js, 'user_id:bigint,value:double') t
"""
    )
    return extracted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").alias("sum_uid"),
        round_to(
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 2
        ).alias("sum_val"),
    )


_UDTF_POLY_SQL = f"""
SELECT event_type, count(*)::BIGINT AS n, sum(user_id)::BIGINT AS sum_uid,
       {sql_round("sum(value::DECIMAL(12,2))::DOUBLE", 2)} AS sum_val
FROM events GROUP BY event_type
"""




def customers_masked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-governance masking view — the privacy transform every
    shared dataset needs before leaving its trust boundary: direct
    identifiers are one-way hashed (SHA-256, joinable across masked
    datasets but irreversible), the quasi-identifier account balance
    generalizes to a coarse band (k-anonymity-style), and the market
    segment stays clear for analytics. Pure built-in expressions —
    masking at 100 TB is a projection, one scan, no shuffle."""
    c = t(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, F.lit("negative"))
        .when(F.col("c_acctbal") < 2500, F.lit("0-2.5k"))
        .when(F.col("c_acctbal") < 5000, F.lit("2.5k-5k"))
        .when(F.col("c_acctbal") < 7500, F.lit("5k-7.5k"))
        .otherwise(F.lit("7.5k+"))
    )
    return c.select(
        F.sha2(F.concat(F.lit("cust:"), F.col("c_custkey").cast("string")), 256)
        .alias("cust_token"),
        F.sha2(F.col("c_name"), 256).alias("name_hash"),
        F.col("c_nationkey").cast("long").alias("nation"),
        band.alias("acctbal_band"),
        "c_mktsegment",
    )


_MASKED_SQL = """
SELECT sha256('cust:' || c_custkey::VARCHAR) AS cust_token,
       sha256(c_name) AS name_hash,
       c_nationkey::BIGINT AS nation,
       CASE WHEN c_acctbal < 0 THEN 'negative'
            WHEN c_acctbal < 2500 THEN '0-2.5k'
            WHEN c_acctbal < 5000 THEN '2.5k-5k'
            WHEN c_acctbal < 7500 THEN '5k-7.5k'
            ELSE '7.5k+' END AS acctbal_band,
       c_mktsegment
FROM customer
"""


ER_JACCARD = 0.4


def parts_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution — the full published pipeline shape (blocking
    → pairwise similarity → transitive closure, the Fellegi-Sunter
    lineage every MDM/record-linkage system implements): part records
    BLOCK on (p_brand, p_size) so candidate pairs exist only within a
    block (an equi-join — never corpus × corpus); within-block pairs
    score token-set Jaccard over the name and match at >= {th}; matches
    close transitively via connected components; every record emits its
    canonical entity id (min partkey of its cluster) and whether it is
    the canonical survivor.

    Scale shape: blocking bounds the self-join (max block size 7 on
    this data — the blocking-key choice IS the scale knob; for fuzzy
    keys swap in the LSH band machinery from operators/dedup, the
    pipeline shape is unchanged); the Jaccard is staged once per pair
    (CLAUDE.md expression rule); the closure is the O(log d)
    pointer-jumping CC with per-round localCheckpoint."""
    from ..operators import graph

    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.array_distinct(
            textfns.tokens(F.lower(F.col("p_name")))
        ).alias("__toks"),
    )
    a = p.select(
        "p_brand", "p_size",
        F.col("p_partkey").alias("ka"), F.col("__toks").alias("ta"),
    )
    b = p.select(
        "p_brand", "p_size",
        F.col("p_partkey").alias("kb"), F.col("__toks").alias("tb"),
    )
    pairs = (
        a.join(b, ["p_brand", "p_size"])
        .filter(F.col("ka") < F.col("kb"))
        .withColumn(
            "__j",
            F.size(F.array_intersect("ta", "tb")).cast("double")
            / F.size(F.array_union("ta", "tb")).cast("double"),
        )
        .filter(F.col("__j") >= ER_JACCARD)
        .select(F.col("ka").alias("id_a"), F.col("kb").alias("id_b"))
    )
    comp = graph.connected_components(pairs)
    return (
        p.select("p_partkey")
        .join(comp.withColumnRenamed("node", "p_partkey"), "p_partkey", "left")
        .select(
            "p_partkey",
            F.coalesce(F.col("component"), F.col("p_partkey"))
            .cast("long")
            .alias("entity_id"),
            (
                F.coalesce(F.col("component"), F.col("p_partkey"))
                == F.col("p_partkey")
            ).alias("is_canonical"),
        )
    )


_ER_SQL = f"""
WITH p AS (
  SELECT p_partkey, p_brand, p_size,
         list_distinct({sql_tokens("lower(p_name)")}) AS toks
  FROM part
),
pairs AS (
  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
  FROM p a JOIN p b
    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
   AND a.p_partkey < b.p_partkey
  WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
        / len(list_distinct(list_concat(a.toks, b.toks)))::DOUBLE
        >= {ER_JACCARD}
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
comp AS (
  WITH RECURSIVE walk(node, reach) AS (
    SELECT s, s FROM (SELECT DISTINCT s FROM edges)
    UNION
    SELECT w.node, e.d FROM walk w JOIN edges e ON w.reach = e.s
  )
  SELECT node AS p_partkey, min(reach)::BIGINT AS component
  FROM walk GROUP BY node
)
SELECT p.p_partkey,
       coalesce(c.component, p.p_partkey)::BIGINT AS entity_id,
       coalesce(c.component, p.p_partkey) = p.p_partkey AS is_canonical
FROM p LEFT JOIN comp c USING (p_partkey)
"""


SNM_WINDOW = 4  # pair records within 3 sorted positions
SNM_JACCARD = 0.6


def parts_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the
    OTHER classic entity-resolution candidate generator: sort all
    records by a key (lowercased name, partkey tie-break), then pair
    each record with the next w−1 in sort order, regardless of any
    blocking attribute. Complements :func:`parts_entity_resolution`'s
    equi-blocking — SNM finds matches whose (brand, size) disagree but
    whose names collate together, at a candidate cost of exactly
    (w−1)·n pairs.

    Scale shape: the global sort rank comes from
    ``selection.global_row_numbers`` — per-bucket windows (bucket =
    2-char key prefix, an order-prefix) plus a one-row-per-bucket
    cumulative offset table, never a single-partition window;
    neighbor pairing is an equi-join on rank after a 3-way explode of
    offsets; the Jaccard is staged once per pair. Output: matched
    pairs with their rank distance and rounded score."""
    from ..operators import selection

    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        F.lower(F.col("p_name")).alias("__k"),
        F.array_distinct(
            textfns.tokens(F.lower(F.col("p_name")))
        ).alias("__toks"),
    ).withColumn("__b", F.substring("__k", 1, 2))
    ranked = selection.global_row_numbers(
        p, ["__k", "p_partkey"], bucket="__b"
    )
    a = ranked.select(
        F.col("rnk").alias("__ra"),
        F.col("p_partkey").alias("id_a"),
        F.col("__toks").alias("__ta"),
    )
    b = ranked.select(
        F.col("rnk").alias("__rb"),
        F.col("p_partkey").alias("id_b"),
        F.col("__toks").alias("__tb"),
    )
    cand = a.withColumn(
        "__d", F.explode(F.sequence(F.lit(1), F.lit(SNM_WINDOW - 1)))
    ).withColumn("__rb", F.col("__ra") + F.col("__d"))
    staged = cand.join(b, "__rb").withColumn(
        "__j",
        F.size(F.array_intersect("__ta", "__tb")).cast("double")
        / F.size(F.array_union("__ta", "__tb")).cast("double"),
    )
    return staged.filter(F.col("__j") >= SNM_JACCARD).select(
        "id_a",
        "id_b",
        F.col("__d").cast("long").alias("dist"),
        round_to(F.col("__j"), 6).alias("jaccard"),
    )


_SNM_SQL = f"""
WITH p AS (
  SELECT p_partkey, lower(p_name) AS k,
         list_distinct({sql_tokens("lower(p_name)")}) AS toks
  FROM part
),
r AS (
  SELECT p_partkey, toks,
         row_number() OVER (ORDER BY k, p_partkey) AS rnk
  FROM p
),
j AS (
  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
         (b.rnk - a.rnk)::BIGINT AS dist,
         len(list_intersect(a.toks, b.toks))::DOUBLE
           / len(list_distinct(list_concat(a.toks, b.toks)))::DOUBLE AS jac
  FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + {SNM_WINDOW - 1}
)
SELECT id_a, id_b, dist, {sql_round("jac", 6)} AS jaccard
FROM j WHERE jac >= {SNM_JACCARD}
"""


K_ANON = 5


def customers_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the masked customer view
    (:func:`customers_masked`): group sizes over the quasi-identifier
    (nation, acctbal_band, mktsegment). Any group smaller than k={k}
    re-identifies its members the moment the masked table joins an
    external dataset on those columns — so this is the release gate
    that runs AFTER masking and BEFORE shipping, and its output is the
    evidence a privacy review asks for. One map-side-combined
    aggregate to QI groups + one summary row; exact at any scale."""
    m = customers_masked(spark, sf_dir)
    groups = m.groupBy("nation", "acctbal_band", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    unsafe = F.col("n") < K_ANON
    rep = groups.agg(
        F.lit(K_ANON).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(unsafe.cast("long")).alias("n_unsafe_groups"),
        F.sum(F.when(unsafe, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_exposed_rows"),
    )
    return rep.select(
        "k",
        "n_rows",
        "n_groups",
        "n_unsafe_groups",
        "n_exposed_rows",
        round_to(
            F.col("n_exposed_rows").cast("double")
            / F.col("n_rows").cast("double"),
            6,
        ).alias("exposure_rate"),
    )


_K_ANON_SQL = f"""
WITH g AS (
  SELECT c_nationkey::BIGINT AS nation,
         CASE WHEN c_acctbal < 0 THEN 'negative'
              WHEN c_acctbal < 2500 THEN '0-2.5k'
              WHEN c_acctbal < 5000 THEN '2.5k-5k'
              WHEN c_acctbal < 7500 THEN '5k-7.5k'
              ELSE '7.5k+' END AS acctbal_band,
         c_mktsegment, count(*)::BIGINT AS n
  FROM customer GROUP BY 1, 2, 3
)
SELECT {K_ANON}::BIGINT AS k, sum(n)::BIGINT AS n_rows,
       count(*)::BIGINT AS n_groups,
       sum(CASE WHEN n < {K_ANON} THEN 1 ELSE 0 END)::BIGINT AS n_unsafe_groups,
       sum(CASE WHEN n < {K_ANON} THEN n ELSE 0 END)::BIGINT AS n_exposed_rows,
       {sql_round(
           "sum(CASE WHEN n < " + str(K_ANON) + " THEN n ELSE 0 END)::DOUBLE"
           " / sum(n)::DOUBLE", 6)} AS exposure_rate
FROM g
"""


DP_EPS = 0.5  # per-release privacy budget; sensitivity 1 (count query)
DP_B = 1.0 / DP_EPS  # Laplace scale b = sensitivity / epsilon
DP_UBITS = 20  # uniform granularity: u = odd/2^21, exactly representable
_LN2 = 0.6931471805599453  # closest double to ln 2 — identical literal
# salts are PREPENDED: a trailing salt only shifts the polynomial hash
# by the salt delta (last char has weight 31^0), leaving the two
# uniforms correlated (measured noise ~1e-6); a leading salt reweights
# every key character, decorrelating the draws
_DP_SALT_A, _DP_SALT_B = "dpa:", "dpb:"


def customers_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private COUNT release (Dwork et al. 2006's
    Laplace mechanism, the shape every DP SQL engine ships for
    histogram publication) — the companion to customers_k_anonymity:
    k-anonymity SUPPRESSES risky groups, DP perturbs every released
    count with Laplace(b = 1/ε) noise so the release carries a formal
    (ε={DP_EPS}, 0) guarantee regardless of an attacker's side data.
    Per market segment: the true count (kept here because the demo
    corpus is synthetic and the oracle must verify the mechanism — a
    real release ships ONLY n_released), the noise draw, the released
    value clamped at 0 (post-processing preserves DP), and the budget
    spent.

    Determinism without RNG (the docs_domain_mix stance — rerun-stable
    and engine-portable): the two uniforms come from char_hash of the
    salted group key, mapped to u = (2·(h mod 2^{DP_UBITS}) + 1) /
    2^{DP_UBITS + 1} — an exactly-representable dyadic rational in
    (0, 1), never 0 — and the Laplace draw is the difference of two
    exponentials, b·(ln u₁ − ln u₂), computed as b·ln2·(log2 u₁ −
    log2 u₂): log2 of exact dyadic rationals is the established
    cross-engine-portable transcendental (surprisal/DSIR/Holt
    precedents), and ln2 is a shared literal. A production deployment
    swaps the hash for a sealed RNG seed; the mechanism's dataflow —
    one keys-only aggregate, row-local noise, no shuffle beyond the
    groupBy — is identical."""
    c = t(spark, sf_dir, "customer")
    per = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )

    def log2u(salt: str):
        h = textfns.char_hash(F.concat(F.lit(salt), F.col("c_mktsegment")))
        odd = (h % F.lit(2**DP_UBITS)) * 2 + 1
        return F.log2(odd.cast("double")) - F.lit(float(DP_UBITS + 1))

    noise = (
        F.lit(DP_B) * F.lit(_LN2) * (log2u(_DP_SALT_A) - log2u(_DP_SALT_B))
    )
    staged = per.withColumn("__noise", noise)
    return staged.select(
        "c_mktsegment",
        "n_true",
        round_to(F.col("__noise"), 6).alias("noise"),
        round_to(
            F.greatest(
                F.lit(0.0), F.col("n_true").cast("double") + F.col("__noise")
            ),
            6,
        ).alias("n_released"),
        F.lit(DP_EPS).alias("epsilon"),
    )


def _dp_log2u(salt: str) -> str:
    h = sql_char_hash(f"'{salt}' || c_mktsegment")
    return (
        f"(log2(((({h}) % {2**DP_UBITS}) * 2 + 1)::DOUBLE)"
        f" - CAST({DP_UBITS + 1} AS DOUBLE))"
    )


_DP_RELEASE_SQL = f"""
WITH per AS (
  SELECT c_mktsegment, count(*)::BIGINT AS n_true
  FROM customer GROUP BY 1
),
staged AS (
  SELECT c_mktsegment, n_true,
    CAST({DP_B} AS DOUBLE) * CAST({_LN2!r} AS DOUBLE)
      * ({_dp_log2u(_DP_SALT_A)} - {_dp_log2u(_DP_SALT_B)}) AS noise
  FROM per
)
SELECT c_mktsegment, n_true,
  {sql_round("noise", 6)} AS noise,
  {sql_round("greatest(CAST(0 AS DOUBLE), n_true::DOUBLE + noise)", 6)}
    AS n_released,
  CAST({DP_EPS} AS DOUBLE) AS epsilon
FROM staged
"""


# --- sealed-seed DP twin (VERDICT r13 #7) -------------------------------
# customers_dp_release derives its noise from the DATA (hash of the
# group key) — rerun-stable and hash-checkable, but a deterministic
# function of the data is not (ε,0)-DP. This twin runs the IDENTICAL
# dataflow with the uniforms keyed by an EXTERNAL sealed seed
# (env SPARK_GRAFT_DP_SEED; rotated per release in deployment, then
# destroyed), and its oracle checks mechanism PROPERTIES — noise
# moments against Laplace theory, sign balance, clamping, budget
# accounting — all of which hold for ANY seed (pytest proves
# seed-invariance by rotating it; the catalog entry binds the import-
# time seed so the driver's exact-hash gate also applies). char_hash
# stands in for the PRF; deployment swaps in a keyed crypto PRF at the
# same seam — the injection point and audit, not the hash, are the
# contract.
DP_SEED = os.environ.get("SPARK_GRAFT_DP_SEED", "sealed-demo-seed-000")
DP_AUDIT_DRAWS = 4096  # per segment; tolerances sized to this N
# acceptance tolerances (≥ 5 sigma of the estimator at N=4096, so the
# audit is deterministic-in-practice for every seed):
#   mean ~ N(0, 2b²/N): sigma ≈ 0.044 at b=2 → tol 0.3
#   E|x| = b, var(|x|) = b²: sigma ≈ 0.031 → tol 0.3
#   var ~ 2b² ± b²·sqrt(20/N): sigma ≈ 0.28 → tol 2.0
#   P(x<0) = 0.5 ± sqrt(.25/N): sigma ≈ 0.0078 → tol 0.05
DP_TOL_MEAN, DP_TOL_MAD, DP_TOL_VAR, DP_TOL_SIGN = 0.3, 0.3, 2.0, 0.05


# murmur3-style finalizer over the char_hash output, in 31-bit-safe
# signed-int64 arithmetic (max intermediate (2^31-1)·0xC2B2AE35 < 2^63,
# so ANSI overflow checks never fire in either engine). char_hash alone
# CANNOT feed paired uniforms: it is an affine 31-polynomial mod p, so
# two inputs differing only at the salt position hash to a CONSTANT
# offset and u₁/u₂ move in lockstep — measured Laplace moments came out
# mean -4.3 / var 26 / P(neg) 0.98 against theory 0 / 8 / 0.5. The
# xor-shift-multiply rounds destroy the affine structure; with them
# every audit tolerance passes with >= 5x margin on every seed tried.
_FMIX_K1, _FMIX_K2 = 0x85EBCA6B, 0xC2B2AE35


def _fmix31(h):
    h = h.bitwiseXOR(F.shiftright(h, 16))
    h = ((h % F.lit(2**31)) * F.lit(_FMIX_K1)) % F.lit(2**31)
    h = h.bitwiseXOR(F.shiftright(h, 13))
    h = ((h % F.lit(2**31)) * F.lit(_FMIX_K2)) % F.lit(2**31)
    h = h.bitwiseXOR(F.shiftright(h, 16))
    return h % F.lit(2**DP_UBITS)


def _dp_seeded_frame(
    spark: SparkSession, sf_dir: str, seed: str
) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    per = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )

    def inner_hash(salt: str, idx) -> F.Column:
        return textfns.char_hash(
            F.concat(
                F.lit(seed + ":" + salt + ":"),
                F.col("c_mktsegment"),
                F.lit(":"),
                idx.cast("string"),
            )
        )

    def log2u(h) -> F.Column:
        odd = _fmix31(h) * 2 + 1
        return F.log2(odd.cast("double")) - F.lit(float(DP_UBITS + 1))

    def lap(ha, hb) -> F.Column:
        return F.lit(DP_B) * F.lit(_LN2) * (log2u(ha) - log2u(hb))

    # draw 0 is THE release; draws 1..N are the audit replays. The
    # noise is quantized to exact milli-units so per-segment moment
    # sums are integer (order-free — no sorted-fold machinery needed;
    # bounds: |noise| <= 2·21·ln2·b ≈ 58.2 → |milli| <= 58 200,
    # sum of squares <= N·3.4e9 ≈ 1.4e13 per segment, far under 2^63).
    # The char_hash folds are PROJECTED once per draw (__ha/__hb); the
    # fmix expression then references only those attrs (the staging
    # rule — the finalizer tree fans out 2^5 references).
    drawn = (
        per.withColumn(
            "__i", F.explode(F.sequence(F.lit(1), F.lit(DP_AUDIT_DRAWS)))
        )
        .withColumn("__ha", inner_hash("a", F.col("__i")))
        .withColumn("__hb", inner_hash("b", F.col("__i")))
        .select(
            "c_mktsegment",
            "n_true",
            F.floor(lap(F.col("__ha"), F.col("__hb")) * 1000.0)
            .cast("long")
            .alias("__m"),
        )
    )
    mom = drawn.groupBy("c_mktsegment", "n_true").agg(
        F.count(F.lit(1)).cast("long").alias("n_draws"),
        F.sum("__m").cast("long").alias("__s1"),
        F.sum(F.abs(F.col("__m"))).cast("long").alias("__sa"),
        F.sum(F.col("__m") * F.col("__m")).cast("long").alias("__s2"),
        F.sum((F.col("__m") < 0).cast("long")).cast("long").alias("__neg"),
    )
    rel = (
        per.withColumn("__ha", inner_hash("a", F.lit(0)))
        .withColumn("__hb", inner_hash("b", F.lit(0)))
        .select(
            "c_mktsegment",
            F.greatest(
                F.lit(0.0),
                F.col("n_true").cast("double")
                + lap(F.col("__ha"), F.col("__hb")),
            ).alias("__released"),
        )
    )
    n = F.col("n_draws").cast("double")
    mean = F.col("__s1").cast("double") / 1000.0 / n
    mad = F.col("__sa").cast("double") / 1000.0 / n
    var = F.col("__s2").cast("double") / 1000000.0 / n - mean * mean
    return (
        mom.join(F.broadcast(rel), "c_mktsegment")
        .select(
            "c_mktsegment",
            "n_true",
            "n_draws",
            round_to(F.col("__released"), 6).alias("n_released"),
            (F.col("__released") >= 0.0).alias("clamp_ok"),
            (F.abs(mean) <= DP_TOL_MEAN).alias("mean_ok"),
            (F.abs(mad - F.lit(DP_B)) <= DP_TOL_MAD).alias("mad_ok"),
            (F.abs(var - F.lit(2.0 * DP_B * DP_B)) <= DP_TOL_VAR).alias(
                "var_ok"
            ),
            (
                F.abs(
                    F.col("__neg").cast("double") / n - F.lit(0.5)
                )
                <= DP_TOL_SIGN
            ).alias("sign_ok"),
            # segments PARTITION customer rows, so the per-segment
            # count releases parallel-compose: total budget = ε, not
            # |segments|·ε
            F.lit(DP_EPS).alias("epsilon_total"),
        )
        .orderBy("c_mktsegment")
    )


def customers_dp_seeded_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SEALED-SEED twin of customers_dp_release, plus its own
    mechanism audit. Identical dataflow (keys-only aggregate →
    row-local Laplace noise → clamped release), but the uniforms are
    keyed by an external seed (env SPARK_GRAFT_DP_SEED) instead of
    the data, which is what makes the release actually (ε,0)-DP when
    the seed is secret and the PRF strong. Because the noise is no
    longer a function of the data alone, correctness is asserted at
    the MECHANISM level: per segment, {DP_AUDIT_DRAWS} audit replays
    of the noise generator are folded into exact integer moment sums
    (milli-unit quantization — order-free, no float-fold caveats) and
    checked against Laplace(b=1/ε) theory with >= 5-sigma tolerances:
    mean ≈ 0, E|x| ≈ b, var ≈ 2b², P(x<0) ≈ 1/2, release clamped at
    0, and parallel-composition budget accounting (segments partition
    the rows → ε_total = ε). Every boolean holds for ANY seed
    (tests/test_policies.py rotates it); the released value itself is
    seed-dependent by design and hash-checked only because the
    catalog binds the import-time seed."""
    return _dp_seeded_frame(spark, sf_dir, DP_SEED)


def _dp_seeded_sql(seed: str) -> str:
    # staged fmix: each xor/multiply round is its own subselect so the
    # huge char_hash list_reduce text appears ONCE per salt (inlining
    # the 5-round finalizer would duplicate it 2^5 times)
    def fmix_stages(src: str) -> str:
        s = src
        s = f"(SELECT c_mktsegment, n_true, i, xor(ha, ha >> 16) AS ha, xor(hb, hb >> 16) AS hb FROM {s})"
        s = f"(SELECT c_mktsegment, n_true, i, ((ha % {2**31}) * {_FMIX_K1}) % {2**31} AS ha, ((hb % {2**31}) * {_FMIX_K1}) % {2**31} AS hb FROM {s})"
        s = f"(SELECT c_mktsegment, n_true, i, xor(ha, ha >> 13) AS ha, xor(hb, hb >> 13) AS hb FROM {s})"
        s = f"(SELECT c_mktsegment, n_true, i, ((ha % {2**31}) * {_FMIX_K2}) % {2**31} AS ha, ((hb % {2**31}) * {_FMIX_K2}) % {2**31} AS hb FROM {s})"
        s = f"(SELECT c_mktsegment, n_true, i, xor(ha, ha >> 16) % {2**DP_UBITS} AS ha, xor(hb, hb >> 16) % {2**DP_UBITS} AS hb FROM {s})"
        return s

    def hashed(idx_src: str) -> str:
        ha = sql_char_hash(
            f"'{seed}:a:' || c_mktsegment || ':' || i::VARCHAR"
        )
        hb = sql_char_hash(
            f"'{seed}:b:' || c_mktsegment || ':' || i::VARCHAR"
        )
        return (
            f"(SELECT c_mktsegment, n_true, i, {ha} AS ha, {hb} AS hb"
            f" FROM {idx_src})"
        )

    lap = (
        f"(CAST({DP_B} AS DOUBLE) * CAST({_LN2!r} AS DOUBLE)"
        f" * ((log2((ha * 2 + 1)::DOUBLE) - CAST({DP_UBITS + 1} AS DOUBLE))"
        f" - (log2((hb * 2 + 1)::DOUBLE) - CAST({DP_UBITS + 1} AS DOUBLE))))"
    )
    audit_src = fmix_stages(
        hashed(
            f"(SELECT c_mktsegment, n_true, i FROM per,"
            f" generate_series(1, {DP_AUDIT_DRAWS}) AS gs(i))"
        )
    )
    rel_src = fmix_stages(
        hashed("(SELECT c_mktsegment, n_true, 0 AS i FROM per)")
    )
    return f"""
WITH per AS (
  SELECT c_mktsegment, count(*)::BIGINT AS n_true
  FROM customer GROUP BY 1
),
drawn AS (
  SELECT c_mktsegment, n_true,
    CAST(floor({lap} * 1000.0) AS BIGINT) AS m
  FROM {audit_src}
),
mom AS (
  SELECT c_mktsegment, n_true,
    count(*)::BIGINT AS n_draws,
    sum(m)::BIGINT AS s1, sum(abs(m))::BIGINT AS sa,
    sum(m * m)::BIGINT AS s2,
    sum((m < 0)::INT)::BIGINT AS neg
  FROM drawn GROUP BY 1, 2
),
rel AS (
  SELECT c_mktsegment,
    greatest(CAST(0 AS DOUBLE), n_true::DOUBLE + {lap})
      AS released
  FROM {rel_src}
)
SELECT mom.c_mktsegment, n_true, n_draws,
  {sql_round("released", 6)} AS n_released,
  (released >= CAST(0 AS DOUBLE)) AS clamp_ok,
  (abs(s1::DOUBLE / 1000.0 / n_draws::DOUBLE)
     <= CAST({DP_TOL_MEAN} AS DOUBLE)) AS mean_ok,
  (abs(sa::DOUBLE / 1000.0 / n_draws::DOUBLE - CAST({DP_B} AS DOUBLE))
     <= CAST({DP_TOL_MAD} AS DOUBLE)) AS mad_ok,
  (abs(s2::DOUBLE / 1000000.0 / n_draws::DOUBLE
       - (s1::DOUBLE / 1000.0 / n_draws::DOUBLE)
         * (s1::DOUBLE / 1000.0 / n_draws::DOUBLE)
       - CAST({2.0 * DP_B * DP_B} AS DOUBLE))
     <= CAST({DP_TOL_VAR} AS DOUBLE)) AS var_ok,
  (abs(neg::DOUBLE / n_draws::DOUBLE - CAST(0.5 AS DOUBLE))
     <= CAST({DP_TOL_SIGN} AS DOUBLE)) AS sign_ok,
  CAST({DP_EPS} AS DOUBLE) AS epsilon_total
FROM mom JOIN rel ON rel.c_mktsegment = mom.c_mktsegment
ORDER BY mom.c_mktsegment
"""


def parts_fs_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter (1969) match weights — the probabilistic scoring
    layer record-linkage systems put ON TOP of the blocking + rules
    pipeline (parts_entity_resolution is the deterministic lineage;
    this estimates how much EVIDENCE each comparison field carries).
    Within the (p_brand, p_size) blocked candidate pairs, pseudo-labels
    come from the ER match rule (name Jaccard >= {ER_JACCARD}); for
    each field (full p_type, its head token, the 100-unit retail-price
    bucket) we estimate m = P(agree | match) and u = P(agree |
    non-match) with add-one smoothing and emit the agreement weight
    log2(m/u) and disagreement weight log2((1-m)/(1-u)).

    Portability: every count is an exact BIGINT; m, u, and the weight
    arguments are divisions of exact integers computed in the same
    order in both engines, and log2 of such ratios is hash-portable
    with round_to 6 (the surprisal/DSIR precedent). Scale shape: one
    blocked equi-self-join (never corpus x corpus), a bounded 3-way
    explode of per-pair agreement flags, one keys-only aggregate."""
    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.col("p_type").alias("ty"),
        F.split(F.col("p_type"), " ").getItem(0).alias("th"),
        F.floor(F.col("p_retailprice") / F.lit(100.0))
        .cast("long")
        .alias("pb"),
        F.array_distinct(
            textfns.tokens(F.lower(F.col("p_name")))
        ).alias("__toks"),
    )
    a = p.select(
        "p_brand", "p_size",
        F.col("p_partkey").alias("ka"), F.col("__toks").alias("ta"),
        F.col("ty").alias("tya"), F.col("th").alias("tha"),
        F.col("pb").alias("pba"),
    )
    b = p.select(
        "p_brand", "p_size",
        F.col("p_partkey").alias("kb"), F.col("__toks").alias("tb"),
        F.col("ty").alias("tyb"), F.col("th").alias("thb"),
        F.col("pb").alias("pbb"),
    )
    jac = F.size(F.array_intersect("ta", "tb")).cast("double") / F.size(
        F.array_union("ta", "tb")
    ).cast("double")
    pairs = (
        a.join(b, ["p_brand", "p_size"])
        .filter(F.col("ka") < F.col("kb"))
        .select(
            (jac >= ER_JACCARD).cast("long").alias("is_match"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit("type").alias("field"),
                        (F.col("tya") == F.col("tyb"))
                        .cast("long")
                        .alias("agree"),
                    ),
                    F.struct(
                        F.lit("type_head").alias("field"),
                        (F.col("tha") == F.col("thb"))
                        .cast("long")
                        .alias("agree"),
                    ),
                    F.struct(
                        F.lit("price_bucket").alias("field"),
                        (F.col("pba") == F.col("pbb"))
                        .cast("long")
                        .alias("agree"),
                    ),
                )
            ).alias("u"),
        )
    )
    agg = pairs.groupBy(F.col("u.field").alias("field")).agg(
        F.sum("is_match").alias("n_match"),
        F.sum(F.lit(1) - F.col("is_match")).alias("n_unmatch"),
        F.sum(F.col("is_match") * F.col("u.agree")).alias("am"),
        F.sum((F.lit(1) - F.col("is_match")) * F.col("u.agree")).alias("au"),
    )
    m = (F.col("am") + 1).cast("double") / (F.col("n_match") + 2).cast(
        "double"
    )
    u = (F.col("au") + 1).cast("double") / (F.col("n_unmatch") + 2).cast(
        "double"
    )
    return agg.select(
        "field",
        F.col("n_match").cast("long").alias("n_match"),
        F.col("n_unmatch").cast("long").alias("n_unmatch"),
        round_to(m, 6).alias("m_agree"),
        round_to(u, 6).alias("u_agree"),
        round_to(F.log2(m / u), 6).alias("w_agree"),
        round_to(
            F.log2((F.lit(1.0) - m) / (F.lit(1.0) - u)), 6
        ).alias("w_disagree"),
    )


def _fs_weights_sql() -> str:
    m = "((am + 1)::DOUBLE / (n_match + 2)::DOUBLE)"
    u = "((au + 1)::DOUBLE / (n_unmatch + 2)::DOUBLE)"
    return f"""
WITH p AS (
  SELECT p_partkey, p_brand, p_size, p_type AS ty,
         string_split(p_type, ' ')[1] AS th,
         floor(p_retailprice / 100.0)::BIGINT AS pb,
         list_distinct({sql_tokens("lower(p_name)")}) AS toks
  FROM part
),
pairs AS (
  SELECT (len(list_intersect(a.toks, b.toks))::DOUBLE
          / len(list_distinct(list_concat(a.toks, b.toks)))::DOUBLE
          >= {ER_JACCARD})::BIGINT AS is_match,
         unnest([
           {{'field': 'type', 'agree': (a.ty = b.ty)::BIGINT}},
           {{'field': 'type_head', 'agree': (a.th = b.th)::BIGINT}},
           {{'field': 'price_bucket', 'agree': (a.pb = b.pb)::BIGINT}}
         ]) AS u
  FROM p a JOIN p b
    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
   AND a.p_partkey < b.p_partkey
),
agg AS (
  SELECT u.field AS field,
         sum(is_match)::BIGINT AS n_match,
         sum(1 - is_match)::BIGINT AS n_unmatch,
         sum(is_match * u.agree)::BIGINT AS am,
         sum((1 - is_match) * u.agree)::BIGINT AS au
  FROM pairs GROUP BY u.field
)
SELECT field, n_match, n_unmatch,
       {sql_round(m, 6)} AS m_agree,
       {sql_round(u, 6)} AS u_agree,
       {sql_round(f"log2({m} / {u})", 6)} AS w_agree,
       {sql_round(f"log2((1.0 - {m}) / (1.0 - {u}))", 6)} AS w_disagree
FROM agg
"""


QUERIES = {
    "parts_fs_weights": parts_fs_weights,
    "customers_masked": customers_masked,
    "customers_k_anonymity": customers_k_anonymity,
    "customers_dp_release": customers_dp_release,
    "customers_dp_seeded_audit": customers_dp_seeded_audit,
    "parts_entity_resolution": parts_entity_resolution,
    "parts_snm_pairs": parts_snm_pairs,
    "events_udtf_polymorphic": events_udtf_polymorphic,
    "lateral_top_customers": lateral_top_customers,
    "spatial_grid_neighbors": spatial_grid_neighbors,
    "pyds_docs_pushdown": pyds_docs_pushdown,
    "docs_sentences_udtf": docs_sentences_udtf,
    "events_grouped_center": events_grouped_center,
    "events_grouped_center_arrow": events_grouped_center_arrow,
    "range_join_promos": range_join_promos,
    "unpivot_lineitem": unpivot_lineitem,
    "grouping_sets_orders": grouping_sets_orders,
    "stratified_sample_docs": stratified_sample_docs,
    "posexplode_tokens": posexplode_tokens,
    "regex_extract_parts": regex_extract_parts,
    "window_rank_stats": window_rank_stats,
    "agg_conditional": agg_conditional,
    "doc_length_histogram": doc_length_histogram,
    "join_regional_revenue": join_regional_revenue,
    "rolling_7d_revenue": rolling_7d_revenue,
    "agg_topk_orders": agg_topk_orders,
    "docs_outlier_trim": docs_outlier_trim,
    "fuzzy_match_parts": fuzzy_match_parts,
}

ORACLES = {
    "parts_fs_weights": _fs_weights_sql(),
    "customers_masked": _MASKED_SQL,
    "customers_k_anonymity": _K_ANON_SQL,
    "customers_dp_release": _DP_RELEASE_SQL,
    "customers_dp_seeded_audit": _dp_seeded_sql(DP_SEED),
    "parts_entity_resolution": _ER_SQL,
    "parts_snm_pairs": _SNM_SQL,
    "events_udtf_polymorphic": _UDTF_POLY_SQL,
    "lateral_top_customers": _LATERAL_SQL,
    "spatial_grid_neighbors": _SPATIAL_SQL,
    "pyds_docs_pushdown": _PYDS_SQL,
    "docs_sentences_udtf": _SENTS_SQL,
    "events_grouped_center": _GROUPED_CENTER_SQL,
    # shares the pandas twin's oracle — both grouped decode paths must agree
    "events_grouped_center_arrow": _GROUPED_CENTER_SQL,
    "range_join_promos": _RANGE_JOIN_SQL,
    "unpivot_lineitem": _UNPIVOT_SQL,
    "grouping_sets_orders": _GROUPING_SETS_SQL,
    "stratified_sample_docs": _sample_sql(),
    "posexplode_tokens": _POSEXPLODE_SQL,
    "regex_extract_parts": _REGEX_SQL,
    "window_rank_stats": _RANK_STATS_SQL,
    "agg_conditional": _AGG_COND_SQL,
    "doc_length_histogram": _HIST_SQL,
    "join_regional_revenue": _REGIONAL_SQL,
    "rolling_7d_revenue": _ROLLING_SQL,
    # same semantics as the window form → same oracle; passing both
    # proves the two physical strategies agree bit-for-bit
    "agg_topk_orders": _REL_ORACLES["window_topk_orders"],
    "docs_outlier_trim": _TRIM_SQL,
    "fuzzy_match_parts": _fuzzy_sql(),
}
