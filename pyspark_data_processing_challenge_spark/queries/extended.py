"""Extended analytics queries: JSON extraction, advanced windows, cube,
corpus term statistics, TF-IDF, exact percentiles, IVF ANN search.

Wave 2 of the catalog — everything here keeps the engine-portable
arithmetic contract (no transcendental functions in hashed outputs:
TF-IDF uses a rational idf so Spark and the oracle agree bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import textfns, vectors
from ..operators import similarity
from ._util import (
    centroid_means,
    memo,
    round_to,
    spread,
    sql_char_hash,
    sql_round,
    sql_tokens,
    t,
)

# ---------------------------------------------------------------------------
# JSON surface
# ---------------------------------------------------------------------------


def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the props JSON column (semi-structured surface): per
    event_type stats over props.k. JSON path evaluation is JVM-side
    (get_json_object) — no UDF."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            round_to(F.avg("k"), 4).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def events_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT-path twin of events_json_stats (Spark 4 semi-structured
    type): parse_json once into a variant, variant_get the field.
    Shares the JSON twin's oracle — both decode paths must agree. At
    scale the variant binary encoding beats repeated string JSON-path
    evaluation when several fields are extracted per row."""
    e = t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            round_to(F.avg("k"), 4).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# advanced window functions
# ---------------------------------------------------------------------------


def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value delta vs previous event (lag with tie-break)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    delta = F.col("value") - F.lag("value").over(w)
    return e.select(
        "event_id", "user_id", round_to(delta, 6).alias("delta")
    )


def window_ntile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing of orders by price (global ntile; deterministic
    total order so bucket assignment is engine-independent)."""
    o = t(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return o.select(
        "o_orderkey", F.ntile(4).over(w).cast("long").alias("quartile")
    )


def agg_quartiles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale twin of window_ntile_orders: the SAME quartile assignment
    (shared oracle proves it) via distributed order statistics
    (operators/selection.py) — percentile_approx brackets the three cut
    ranks, a tiny exact top-k pins the boundary (price, key) elements,
    and buckets are a broadcast-literal comparison chain. No Exchange
    SinglePartition, no WindowExec; the plan is a narrow projection
    over the scan (pinned by tests/test_plan_shapes.py)."""
    from ..operators import selection

    o = t(spark, sf_dir, "orders")
    out = selection.ntile_assign(o, "o_totalprice", "o_orderkey", 4)
    return out.select("o_orderkey", F.col("bucket").alias("quartile"))


def percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of event value per type — the
    exact form (F.percentile); the scale path swaps in
    percentile_approx, trading the oracle for a tolerance check."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        round_to(F.percentile("value", 0.5), 6).alias("p50"),
        round_to(F.percentile("value", 0.9), 6).alias("p90"),
    )


PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profile (operators/quality.profile_table):
    rows / nulls / distincts / min / max per column in ONE aggregate
    (the reference ran one job per column for its null gate alone).
    String-portable columns only — float min/max formatting is
    engine-specific. The approx=True variant (HLL++, no Expand) is the
    100 TB default; exact here so the oracle can hash-check."""
    from ..operators import quality

    o = t(spark, sf_dir, "orders")
    return quality.profile_table(o, PROFILE_COLS)


_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""
SELECT '{c}' AS "column", count(*) AS n_rows,
  sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
  count(DISTINCT {c}) AS n_distinct,
  min({c})::VARCHAR AS min_str, max({c})::VARCHAR AS max_str
FROM orders"""
    for c in PROFILE_COLS
)


def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE surface (new in Spark 4.0 — WITH RECURSIVE): walk
    a synthetic org/BOM-style hierarchy where each customer's parent is
    ``custkey div 10`` (terminates at the single-digit roots, so the
    UNION ALL recursion is a DAG walk — Spark does not yet support the
    UNION-dedup fixpoint form). Emits per-customer depth-to-root and
    the root ancestor plus the ancestor-key sum — the rollup shape of
    bill-of-materials / org-chart queries. The oracle runs the same
    recursion in DuckDB (// there, div here — identical integer
    semantics)."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("__rec_cust")
    return spark.sql(
        """
WITH RECURSIVE up(custkey, anc, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM __rec_cust
  UNION ALL
  SELECT custkey, anc div 10, depth + 1 FROM up WHERE anc > 9
)
SELECT custkey, CAST(max(depth) AS BIGINT) AS depth,
       CAST(min(anc) AS BIGINT) AS root,
       CAST(sum(anc) AS BIGINT) AS anc_sum
FROM up GROUP BY custkey
"""
    )


_RECURSIVE_SQL = """
WITH RECURSIVE up(custkey, anc, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer
  UNION ALL
  SELECT custkey, anc // 10, depth + 1 FROM up WHERE anc > 9
)
SELECT custkey, max(depth)::BIGINT AS depth,
       min(anc)::BIGINT AS root,
       sum(anc)::BIGINT AS anc_sum
FROM up GROUP BY custkey
"""


EXPECT_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"]  # 4- omitted


def orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative DQ rule engine (operators/quality.run_expectations —
    the dbt-test / Great-Expectations surface): a rule list evaluated
    against orders in ONE shared aggregate pass for the row-local rules
    plus one keyed aggregate per uniqueness rule and one broadcast
    anti-join per FK rule. The accepted_values rule deliberately omits
    '4-NOT SPECIFIED', so the report exercises the violation-counting
    path, not just green checkmarks."""
    from ..operators import quality

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    rules = [
        {"rule": "not_null", "column": "o_custkey"},
        {"rule": "unique", "columns": ["o_orderkey"]},
        {"rule": "accepted_values", "column": "o_orderstatus",
         "values": ["F", "O", "P"]},
        {"rule": "accepted_values", "column": "o_orderpriority",
         "values": EXPECT_PRIORITIES},
        {"rule": "in_range", "column": "o_totalprice",
         "min": 0.0, "max": 1e7},
        {"rule": "relationship", "column": "o_custkey", "ref": c,
         "ref_column": "c_custkey"},
    ]
    return quality.run_expectations(o, rules)


def _expectations_sql() -> str:
    vals = ", ".join(f"'{v}'" for v in EXPECT_PRIORITIES)
    return f"""
SELECT 0 AS rule_id, 'not_null' AS rule, 'o_custkey' AS "column",
       sum((o_custkey IS NULL)::INT)::BIGINT = 0 AS passed,
       sum((o_custkey IS NULL)::INT)::BIGINT AS n_violations
FROM orders
UNION ALL
SELECT 1, 'unique', 'o_orderkey',
       coalesce(sum(n - 1), 0)::BIGINT = 0, coalesce(sum(n - 1), 0)::BIGINT
FROM (SELECT count(*)::BIGINT AS n FROM orders GROUP BY o_orderkey
      HAVING count(*) > 1)
UNION ALL
SELECT 2, 'accepted_values', 'o_orderstatus',
       sum((o_orderstatus NOT IN ('F', 'O', 'P')
            OR o_orderstatus IS NULL)::INT)::BIGINT = 0,
       sum((o_orderstatus NOT IN ('F', 'O', 'P')
            OR o_orderstatus IS NULL)::INT)::BIGINT
FROM orders
UNION ALL
SELECT 3, 'accepted_values', 'o_orderpriority',
       sum((o_orderpriority NOT IN ({vals})
            OR o_orderpriority IS NULL)::INT)::BIGINT = 0,
       sum((o_orderpriority NOT IN ({vals})
            OR o_orderpriority IS NULL)::INT)::BIGINT
FROM orders
UNION ALL
SELECT 4, 'in_range', 'o_totalprice',
       sum((o_totalprice IS NULL OR o_totalprice < 0.0
            OR o_totalprice > 1e7)::INT)::BIGINT = 0,
       sum((o_totalprice IS NULL OR o_totalprice < 0.0
            OR o_totalprice > 1e7)::INT)::BIGINT
FROM orders
UNION ALL
SELECT 5, 'relationship', 'o_custkey',
       count(*)::BIGINT = 0, count(*)::BIGINT
FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
  ON o.o_custkey = c.c_custkey
WHERE c.c_custkey IS NULL
"""


DRIFT_CUT = "1996-01-01"


def snapshot_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema/stats drift between two snapshots of the same table —
    the DQ gate that catches silent upstream changes (null-rate creep,
    cardinality collapse, range shifts) before they poison a training
    run. Snapshots here are the pre/post-{cut} halves of orders; each
    side profiles in ONE aggregate pass (operators/quality.
    profile_table) and the per-column drift report is a join of the
    two tiny profiles: null-rate delta, distinct-count ratio, min/max
    movement. All arithmetic is integer-derived doubles, rounded
    portably — the oracle replays both profiles and the join."""
    from ..operators import quality

    o = t(spark, sf_dir, "orders")
    cut = F.lit(DRIFT_CUT).cast("date")
    prof_a = quality.profile_table(
        o.filter(F.col("o_orderdate") < cut), PROFILE_COLS
    )
    prof_b = quality.profile_table(
        o.filter(F.col("o_orderdate") >= cut), PROFILE_COLS
    )
    a = prof_a.select(
        "column",
        F.col("n_rows").alias("n_rows_a"),
        F.col("n_nulls").alias("n_nulls_a"),
        F.col("n_distinct").alias("n_distinct_a"),
        F.col("min_str").alias("min_a"),
        F.col("max_str").alias("max_a"),
    )
    b = prof_b.select(
        "column",
        F.col("n_rows").alias("n_rows_b"),
        F.col("n_nulls").alias("n_nulls_b"),
        F.col("n_distinct").alias("n_distinct_b"),
        F.col("min_str").alias("min_b"),
        F.col("max_str").alias("max_b"),
    )
    j = a.join(b, "column")
    return j.select(
        "column",
        "n_rows_a",
        "n_rows_b",
        "n_distinct_a",
        "n_distinct_b",
        round_to(
            F.col("n_nulls_b").cast("double") / F.col("n_rows_b").cast("double")
            - F.col("n_nulls_a").cast("double")
            / F.col("n_rows_a").cast("double"),
            6,
        ).alias("null_rate_delta"),
        round_to(
            F.col("n_distinct_b").cast("double")
            / F.col("n_distinct_a").cast("double"),
            6,
        ).alias("distinct_ratio"),
        (F.col("min_a") != F.col("min_b")).alias("min_changed"),
        (F.col("max_a") != F.col("max_b")).alias("max_changed"),
    )


def _drift_sql() -> str:
    def side(name: str, cond: str) -> str:
        return "\nUNION ALL\n".join(
            f"""
SELECT '{c}' AS "column", count(*) AS n_rows,
  sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
  count(DISTINCT {c}) AS n_distinct,
  min({c})::VARCHAR AS min_str, max({c})::VARCHAR AS max_str
FROM orders WHERE {cond}"""
            for c in PROFILE_COLS
        )

    return f"""
WITH a AS ({side('a', f"o_orderdate < DATE '{DRIFT_CUT}'")}),
b AS ({side('b', f"o_orderdate >= DATE '{DRIFT_CUT}'")})
SELECT a."column", a.n_rows AS n_rows_a, b.n_rows AS n_rows_b,
       a.n_distinct AS n_distinct_a, b.n_distinct AS n_distinct_b,
       {sql_round(
           "b.n_nulls::DOUBLE / b.n_rows::DOUBLE"
           " - a.n_nulls::DOUBLE / a.n_rows::DOUBLE",
           6,
       )} AS null_rate_delta,
       {sql_round("b.n_distinct::DOUBLE / a.n_distinct::DOUBLE", 6)}
         AS distinct_ratio,
       (a.min_str != b.min_str) AS min_changed,
       (a.max_str != b.max_str) AS max_changed
FROM a JOIN b USING ("column")
"""


def approx_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented scale swap for percentiles_by_type, itself
    verified: percentile_approx (KLL-style sketch, constant memory per
    group — the 100 TB form) computed in the SAME aggregate as the
    exact percentiles, emitted as a tolerance contract the oracle can
    hash-check (exact values + booleans asserting the sketch landed
    within 5% relative error). Same pattern as approx_distinct_stats;
    raw sketch outputs are engine-specific so they can't be
    hash-compared directly."""
    e = t(spark, sf_dir, "events")
    d = e.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("__p50"),
        F.percentile("value", 0.9).alias("__p90"),
        F.percentile_approx("value", 0.5).alias("__a50"),
        F.percentile_approx("value", 0.9).alias("__a90"),
    )

    def ok(a: str, x: str):  # |approx - exact| <= 5% * |exact|
        return F.abs(F.col(a) - F.col(x)) <= F.lit(0.05) * F.abs(F.col(x))

    return d.select(
        "event_type",
        round_to(F.col("__p50"), 6).alias("p50"),
        round_to(F.col("__p90"), 6).alias("p90"),
        ok("__a50", "__p50").alias("approx_p50_ok"),
        ok("__a90", "__p90").alias("approx_p90_ok"),
    )


def agg_salted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase aggregate (operators/skew.py): revenue
    per order status via salted partial groups. Registers the SAME
    oracle as a direct GROUP BY — the equivalence proof that salting
    changes the physical plan, never the result. Note the sums are
    rounded only AFTER the final combine (per-phase rounding would
    change the value)."""
    from ..operators.skew import salted_sum_count

    o = t(spark, sf_dir, "orders")
    # integer cents: exact + associative, so partial-group order can't
    # perturb the total (double sums aren't associative)
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
    out = salted_sum_count(
        o,
        ["o_orderstatus"],
        {"cents": cents},
        buckets=16,
        count_alias="n",
    )
    return out.select(
        "o_orderstatus",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        "n",
    )


def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant JOIN (operators/skew.salted_join — the join twin
    of agg_salted_revenue): lineitem joined to orders with each order
    key's rows spread over 8 salt partitions and the orders side
    replicated 8x, then revenue per order priority. Registers the
    UNSALTED join's oracle — the equivalence proof that salting changes
    the physical plan, never the result. Integer-cents sums keep the
    total exact under any partial-group order."""
    from ..operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        F.floor(
            F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5)
        ).cast("long").alias("cents"),
    )
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    joined = salted_join(li, o, "okey", buckets=8)
    out = joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"), F.sum("cents").alias("cents")
    )
    return out.select(
        "o_orderpriority",
        "n_items",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
    )


_SALTED_JOIN_SQL = """
SELECT o.o_orderpriority, count(*)::BIGINT AS n_items,
       (sum(floor(l.l_extendedprice * 100.0 + 0.5)::BIGINT)::DOUBLE / 100.0)
         AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""


def approx_distinct_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate + exact aggregates side by side in ONE pass: HLL++
    distinct and KLL-style quantile sketches (constant memory per group,
    the 100 TB substitutes for exact distinct/quantiles) next to their
    exact counterparts. Used by approx_distinct_stats and the tolerance
    test; raw sketch values are algorithm-specific so they can't be
    hash-compared across engines."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_median_price"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
        F.count(F.lit(1)).alias("n"),
    )


def approx_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch correctness as a TOLERANCE CONTRACT the oracle can check:
    emit the exact values plus booleans asserting the sketch estimates
    (computed in the same aggregate) land within their error bounds
    (HLL++ default rsd 5% → 10% bound; percentile_approx default
    accuracy → 5% relative bound). The DuckDB oracle produces the exact
    values and literal ``true`` — a sketch outside tolerance fails the
    hash compare, so the driver row is a real verdict, not `no_oracle`.
    tests/test_approx_tolerance.py checks the raw estimates too."""
    d = approx_distinct_detail(spark, sf_dir)
    return d.select(
        "l_returnflag",
        "n_parts",
        "n",
        (
            F.abs(F.col("approx_parts") - F.col("n_parts"))
            <= F.lit(0.1) * F.col("n_parts")
        ).alias("approx_parts_ok"),
        (
            F.abs(F.col("approx_median_price") - F.col("exact_median_price"))
            <= F.lit(0.05) * F.abs(F.col("exact_median_price"))
        ).alias("approx_median_ok"),
    )


# ---------------------------------------------------------------------------
# cube
# ---------------------------------------------------------------------------


def array_agg_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation surface: per order, the sorted list of its
    line quantities (sorted → deterministic; collect_list alone has
    partition-dependent order) rendered as a string for engine-neutral
    comparison."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list(F.col("l_quantity").cast("string"))),
                ",",
            ).alias("quantities"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping combinations."""
    o = t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        round_to(F.sum("o_totalprice"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# corpus term statistics
# ---------------------------------------------------------------------------


def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 terms: explode → count → top-k. The explode
    fans out ~n_tokens rows per doc, the aggregate map-side combines —
    the canonical wordcount at scale."""
    d = spread(t(spark, sf_dir, "documents"))
    return (
        d.select(F.explode(textfns.tokens(F.lower(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term"))
        .limit(20)
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per doc by TF-IDF with a RATIONAL idf (N/df, no log)
    so the score is integer-ratio arithmetic — bit-identical in any
    engine.

    Tokenization runs ONCE, in one lazy plan: both marginals are
    windows over the per-doc tf aggregate — the corpus df a count over
    ``partitionBy("term")``, the doc length a sum over
    ``partitionBy("doc_id")`` — and the top-3 rank window reuses the
    doc_id partitioning, so there is no self-join for AQE to miss and
    no cache to own. The tf frame is O(distinct doc-term pairs) — far
    smaller than the exploded token stream. No spread(): this tokenizer
    is cheaper than the repartition it would ride behind (measured
    1.32 s vs 1.61 s at sf0.1). n_docs arrives as a broadcast
    single-row aggregate of the raw scan (no eager driver action, repo
    convention)."""
    d = t(spark, sf_dir, "documents")
    nd = t(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).cast("double").alias("__n_docs")
    )
    terms = d.select(
        "doc_id",
        F.explode(textfns.tokens(F.lower(F.col("text")))).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    score = (
        F.col("tf").cast("double")
        / F.col("len").cast("double")
        * (F.col("__n_docs") / F.col("df").cast("double"))
    )
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .withColumn("len", F.sum("tf").over(Window.partitionBy("doc_id")))
        .crossJoin(F.broadcast(nd))
        .select("doc_id", "term", score.alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", round_to(F.col("tfidf"), 6).alias("tfidf"), F.col("rn").cast("long").alias("rn"))
    )


def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function surface over part names: case, pad,
    slice, translate, reverse, edit distance — all JVM expressions."""
    p = t(spark, sf_dir, "part")
    name = F.col("p_name")
    return p.select(
        "p_partkey",
        F.upper(name).alias("up"),
        F.lpad(name, 12, "*").alias("padded"),
        F.substring(name, 2, 5).alias("mid"),
        F.translate(name, "ae", "43").alias("leet"),
        F.reverse(name).alias("rev"),
        F.length(F.replace(name, F.lit(" "), F.lit(""))).cast("long").alias("nospace_len"),
        F.levenshtein(name, F.col("p_brand")).cast("long").alias("dist_to_brand"),
        F.concat_ws("|", name, F.col("p_type")).alias("joined"),
    )


def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar date-function surface over order dates: parts extraction,
    arithmetic, boundaries (dayofweek excluded — Spark counts from
    Sunday=1, DuckDB from Sunday=0; an engine-semantics gap worth
    knowing, not worth papering over in a catalog query)."""
    o = t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("long").alias("y"),
        F.quarter(d).cast("long").alias("q"),
        F.month(d).cast("long").alias("m"),
        F.dayofmonth(d).cast("long").alias("dom"),
        F.dayofyear(d).cast("long").alias("doy"),
        F.weekofyear(d).cast("long").alias("iso_week"),
        F.date_add(d, 30).alias("plus30"),
        F.last_day(d).alias("month_end"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).cast("long").alias("days_to_ref"),
    )


def collection_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar array-function surface (sort, reverse, slice, contains,
    distinct, filter, HOF fold, zip_with, flatten) over per-row arrays
    built from the order key — all JVM expressions, shuffle-free."""
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    arr = F.array((k % 7).cast("int"), (k % 11).cast("int"), (k % 13).cast("int"))
    stage = o.select("o_orderkey", arr.alias("arr"))
    a = F.col("arr")
    total = F.aggregate(a, F.lit(0), lambda acc, x: acc + x)
    zipped = F.zip_with(a, F.reverse(a), lambda x, y: x * y)
    return stage.select(
        "o_orderkey",
        F.array_join(F.sort_array(a), ",").alias("sorted_csv"),
        F.array_join(F.reverse(a), ",").alias("rev_csv"),
        F.array_join(F.slice(a, 1, 2), ",").alias("head2_csv"),
        F.array_contains(a, 3).cast("int").alias("has3"),
        F.size(F.array_distinct(a)).cast("long").alias("n_distinct"),
        F.size(F.filter(a, lambda x: x % 2 == 0)).cast("long").alias("n_even"),
        total.cast("long").alias("total"),
        F.aggregate(zipped, F.lit(0), lambda acc, x: acc + x)
        .cast("long")
        .alias("zip_dot"),
        F.array_join(F.flatten(F.array(a, a)), ",").alias("doubled_csv"),
    )


_COLLECTION_SQL = """
WITH s AS (
  SELECT o_orderkey,
         [(o_orderkey % 7)::INTEGER, (o_orderkey % 11)::INTEGER,
          (o_orderkey % 13)::INTEGER] AS arr
  FROM orders
)
SELECT o_orderkey,
  array_to_string(list_sort(arr), ',') AS sorted_csv,
  array_to_string(list_reverse(arr), ',') AS rev_csv,
  array_to_string(arr[1:2], ',') AS head2_csv,
  list_contains(arr, 3)::INTEGER AS has3,
  length(list_distinct(arr))::BIGINT AS n_distinct,
  length(list_filter(arr, x -> x % 2 = 0))::BIGINT AS n_even,
  list_reduce(list_prepend(0, arr), (a, b) -> a + b)::BIGINT AS total,
  list_reduce(list_prepend(0, list_transform(range(1, 4),
    i -> arr[i::INTEGER] * list_reverse(arr)[i::INTEGER])),
    (a, b) -> a + b)::BIGINT AS zip_dot,
  array_to_string(flatten([arr, arr]), ',') AS doubled_csv
FROM s
"""


def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar map-function surface (map_from_arrays, element_at,
    map_keys/values, transform_values, map_concat, map_filter) over
    per-row maps built from the order key. The oracle computes the same
    OUTPUT scalars from the key directly — DuckDB's MAP vocabulary
    differs enough that mirroring the API calls would test DuckDB, not
    the semantics."""
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    m = F.map_from_arrays(
        F.array(F.lit("a"), F.lit("b"), F.lit("c")),
        F.array((k % 5).cast("long"), (k % 3).cast("long"), (k % 2).cast("long")),
    )
    stage = o.select("o_orderkey", m.alias("m"))
    mm = F.col("m")
    doubled = F.transform_values(mm, lambda _, v: v * 2)
    return stage.select(
        "o_orderkey",
        F.array_join(F.map_keys(mm), ",").alias("keys_csv"),
        F.aggregate(F.map_values(mm), F.lit(0).cast("long"), lambda acc, v: acc + v)
        .alias("vals_sum"),
        F.element_at(mm, F.lit("a")).alias("a_val"),
        F.aggregate(
            F.map_values(doubled), F.lit(0).cast("long"), lambda acc, v: acc + v
        ).alias("doubled_sum"),
        F.size(F.map_concat(mm, F.create_map(F.lit("d"), F.lit(9).cast("long"))))
        .cast("long")
        .alias("n_after_concat"),
        F.size(F.map_filter(mm, lambda _, v: v > 0)).cast("long").alias("n_positive"),
    )


_MAP_SQL = """
SELECT o_orderkey,
  'a,b,c' AS keys_csv,
  (o_orderkey % 5 + o_orderkey % 3 + o_orderkey % 2)::BIGINT AS vals_sum,
  (o_orderkey % 5)::BIGINT AS a_val,
  (2 * (o_orderkey % 5 + o_orderkey % 3 + o_orderkey % 2))::BIGINT AS doubled_sum,
  4::BIGINT AS n_after_concat,
  ((o_orderkey % 5 > 0)::INTEGER + (o_orderkey % 3 > 0)::INTEGER
    + (o_orderkey % 2 > 0)::INTEGER)::BIGINT AS n_positive
FROM orders
"""


# ---------------------------------------------------------------------------
# IVF ANN
# ---------------------------------------------------------------------------

IVF_NCENTROIDS, IVF_NPROBE, IVF_K = 8, 2, 5
EMB_DIM = 64  # embeddings.parquet vector width (same constant as llm.py)
IVF_QUERY_LO, IVF_QUERY_HI = 100, 110


def ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse assignment with a deterministic codebook (the first 8
    vectors) — every vector → nearest centroid by cosine."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    out = similarity.ivf_assign(
        emb, cent, centroid_id="cid", centroid_vec="cv"
    )
    return out.select(F.col("doc").alias("vec_id"), "centroid_id")


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: probe the 2 nearest centroid lists per query, exact
    top-5 within them."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS)
    queries = emb.filter(
        (F.col("vec_id") >= IVF_QUERY_LO) & (F.col("vec_id") < IVF_QUERY_HI)
    )
    out = similarity.ivf_topk(
        emb, queries, cent, k=IVF_K, nprobe=IVF_NPROBE
    )
    return out.select(
        "query_id", "neighbor_id", round_to(F.col("cosine"), 6).alias("cosine"), F.col("rank").cast("long").alias("rank")
    )


def ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUALITY GATE: recall@k of the IVF index against the exact
    brute-force neighbors for the same query set — the evaluation
    harness every production ANN deployment runs before trusting an
    approximate index. Per query: how many of the true top-5 cosine
    neighbors the nprobe=2 IVF probe recovered.

    Scale shape: both sides reuse the existing broadcast-query plans
    (no corpus shuffle); the recall join runs on two k-row-per-query
    frames — negligible next to the scans. At 100 TB this is the same
    query with a sampled query set. Output (query_id, n_hit, recall)
    is exact-integer + terminating-decimal, hash-stable."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS)
    queries = emb.filter(
        (F.col("vec_id") >= IVF_QUERY_LO) & (F.col("vec_id") < IVF_QUERY_HI)
    )
    approx = similarity.ivf_topk(
        emb, queries, cent, k=IVF_K, nprobe=IVF_NPROBE
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    exact = similarity.cosine_topk(emb, queries, k=IVF_K).select(
        "query_id", "neighbor_id"
    )
    joined = exact.join(F.broadcast(approx), ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias("n_hit"),
        round_to(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("double")
            / F.lit(float(IVF_K)),
            6,
        ).alias("recall"),
    )


def ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered ANN serving (operators/similarity.
    ivf_filtered_topk) — the production vector-store verb the catalog
    lacked (VERDICT r12 #3): "nearest neighbors in the SAME CATEGORY",
    here each query's own label over the embeddings table's label
    column (~10% selectivity at 10 uniform labels). PRE-filter: the
    label predicate rides as a second equi-key of the broadcast probe
    join, so distances are computed only on passing candidates and the
    top-k never truncates against the filter. Scale shape: one corpus
    assignment scan, everything else broadcast-bounded."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS)
    corpus = emb.select(
        "vec_id", "embedding", F.col("label").cast("long").alias("m")
    )
    queries = corpus.filter(
        (F.col("vec_id") >= IVF_QUERY_LO) & (F.col("vec_id") < IVF_QUERY_HI)
    ).select("vec_id", "embedding", F.col("m").alias("want"))
    out = similarity.ivf_filtered_topk(
        corpus,
        queries,
        cent,
        meta_col="m",
        want_col="want",
        k=IVF_K,
        nprobe=IVF_NPROBE,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        round_to(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def ivf_filtered_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-filter-vs-ground-truth quality gate for
    ivf_filtered_topk at TWO selectivities — 'label' (~10%: the
    query's own label) and 'parity' (~50%: label mod 2) — against the
    EXACT filtered brute force (operators/similarity.
    filtered_cosine_topk, where the predicate is itself the broadcast
    equi-key, so even the ground truth never scans-then-filters).
    Recall here isolates the COARSE-QUANTIZER loss (true filtered
    neighbors living outside the probed lists): pre-filtering can't
    lose to shortlist truncation by construction, which is the design
    claim this eval verifies with exact integers. Output one row per
    (selectivity, query): (sel, query_id, n_true, n_hit, recall)."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS)
    outs = []
    for sel, meta in (
        ("label", F.col("label").cast("long")),
        ("parity", (F.col("label") % 2).cast("long")),
    ):
        corpus = emb.select("vec_id", "embedding", meta.alias("m"))
        queries = corpus.filter(
            (F.col("vec_id") >= IVF_QUERY_LO)
            & (F.col("vec_id") < IVF_QUERY_HI)
        ).select("vec_id", "embedding", F.col("m").alias("want"))
        approx = similarity.ivf_filtered_topk(
            corpus,
            queries,
            cent,
            meta_col="m",
            want_col="want",
            k=IVF_K,
            nprobe=IVF_NPROBE,
        ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
        exact = similarity.filtered_cosine_topk(
            corpus, queries, meta_col="m", want_col="want", k=IVF_K
        ).select("query_id", "neighbor_id")
        j = exact.join(
            F.broadcast(approx), ["query_id", "neighbor_id"], "left"
        )
        per = j.groupBy("query_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_hit"),
        )
        outs.append(
            per.select(
                F.lit(sel).alias("sel"),
                "query_id",
                "n_true",
                "n_hit",
                round_to(
                    F.col("n_hit").cast("double")
                    / F.col("n_true").cast("double"),
                    6,
                ).alias("recall"),
            )
        )
    return outs[0].unionByName(outs[1])


def ivf_filtered_cost_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COST half of the filtered-ANN tradeoff (the recall half is
    ivf_filtered_recall_eval): how many (query, candidate) distances
    each strategy actually computes inside the probed lists.
    Pre-filtering scores only predicate-passing candidates, so its
    scored count ≈ selectivity × the unfiltered count — the claim
    'filtered probes are CHEAPER than unfiltered' as exact integers
    (scored_ratio ≈ 0.1 at the label filter, ≈ 0.5 at parity),
    instead of narration. One probe join per selectivity computes
    both counts (the pre count is a conditional sum over the same
    candidate frame — no second scan). Output: one row per
    selectivity."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS)
    cb = cent.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    outs = []
    for sel, meta in (
        ("label", F.col("label").cast("long")),
        ("parity", (F.col("label") % 2).cast("long")),
    ):
        c = emb.select(
            F.col("vec_id").alias("doc"),
            F.col("embedding").alias("vec"),
            meta.alias("__meta"),
        )
        scored = c.join(F.broadcast(cb)).select(
            "doc",
            "vec",
            "__meta",
            "cid",
            vectors.cosine_cols("vec", "cv").alias("cos"),
        )
        assigned = scored.groupBy("doc", "__meta").agg(
            F.max_by(
                F.struct(F.col("cid")),
                F.struct(F.col("cos"), (-F.col("cid")).alias("__nc")),
            ).alias("__best")
        ).select("doc", "__meta", F.col("__best.cid").alias("centroid_id"))
        q = emb.filter(
            (F.col("vec_id") >= IVF_QUERY_LO)
            & (F.col("vec_id") < IVF_QUERY_HI)
        ).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            meta.alias("__want"),
        )
        qscored = q.join(F.broadcast(cb)).select(
            "query_id",
            "__want",
            "cid",
            vectors.cosine_cols("qvec", "cv").alias("qcos"),
        )
        wq = Window.partitionBy("query_id").orderBy(
            F.col("qcos").desc(), F.col("cid")
        )
        probes = (
            qscored.withColumn("__rn", F.row_number().over(wq))
            .filter(F.col("__rn") <= IVF_NPROBE)
            .select("query_id", "__want", F.col("cid").alias("__pcid"))
        )
        ucand = assigned.join(
            F.broadcast(probes), F.col("centroid_id") == F.col("__pcid")
        ).filter(F.col("query_id") != F.col("doc"))
        agg = ucand.agg(
            F.count_distinct(F.col("query_id")).cast("long").alias(
                "n_queries"
            ),
            F.count(F.lit(1)).cast("long").alias("n_scored_unfiltered"),
            F.sum((F.col("__meta") == F.col("__want")).cast("long"))
            .cast("long")
            .alias("n_scored_prefilter"),
        )
        outs.append(
            agg.select(
                F.lit(sel).alias("sel"),
                "n_queries",
                "n_scored_unfiltered",
                "n_scored_prefilter",
                round_to(
                    F.col("n_scored_prefilter").cast("double")
                    / F.col("n_scored_unfiltered").cast("double"),
                    6,
                ).alias("scored_ratio"),
            )
        )
    return outs[0].unionByName(outs[1])


AD_MOD, AD_NP1, AD_NP2 = 4, 2, 6


def ivf_filtered_adaptive_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAPTIVE nprobe under a selective filter — the production
    escalation pattern (Milvus/FAISS serving loops): probe
    {AD_NP1} lists; any query whose PRE-filtered result under-fills
    (< k passing candidates — the failure mode selective predicates
    create that post-filtering hides) re-probes {AD_NP2} of 8 lists.
    The filter here is deliberately narrow — label x (vec_id mod
    {AD_MOD}), 40 groups of ~n/40 — so escalation actually fires on
    the synthetic corpus instead of being a dead code path. Expressed
    as pure DataFrame algebra (no driver loop): satisfied = first
    probe's exactly-k groups; escalated = anti-join of the query set;
    result = union with an `escalated` flag per row.

    Scale shape: both stages are the plan-pinned pre-filter probe
    (assignment scan + broadcast probes with the predicate as an
    equi-key); stage 2's query side is the under-filled SUBSET only.
    At 100 TB the first probe touches nprobe/|lists| of the postings
    and only hard queries pay the wider probe — the whole point of
    adaptive escalation."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS)
    meta = (
        F.col("label").cast("long") * AD_MOD
        + F.col("vec_id") % AD_MOD
    ).cast("long")
    corpus = emb.select("vec_id", "embedding", meta.alias("m"))
    queries = corpus.filter(
        (F.col("vec_id") >= IVF_QUERY_LO) & (F.col("vec_id") < IVF_QUERY_HI)
    ).select("vec_id", "embedding", F.col("m").alias("want"))
    r1 = similarity.ivf_filtered_topk(
        corpus, queries, cent,
        meta_col="m", want_col="want", k=IVF_K, nprobe=AD_NP1,
    )
    filled = (
        r1.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= IVF_K)
        .select("query_id")
    )
    esc_q = queries.join(
        F.broadcast(filled),
        queries.vec_id == filled.query_id,
        "left_anti",
    )
    r2 = similarity.ivf_filtered_topk(
        corpus, esc_q, cent,
        meta_col="m", want_col="want", k=IVF_K, nprobe=AD_NP2,
    )
    out = (
        r1.join(F.broadcast(filled), "query_id")
        .withColumn("escalated", F.lit(False))
        .unionByName(r2.withColumn("escalated", F.lit(True)))
    )
    return out.select(
        "query_id",
        "neighbor_id",
        round_to(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
        "escalated",
    )


def ivf_prefilter_vs_postfilter_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The pre-vs-POST-filter tradeoff, measured (the design argument
    behind ivf_filtered_topk made a number): 'post' runs the
    UNFILTERED IVF top-k and drops non-matching results afterwards —
    the naive composition every vector store warns about — while
    'pre' filters before scoring (the shipped operator). Post-filter
    loses twice: recall against the FILTERED ground truth collapses
    roughly with the selectivity (a ~10% filter leaves ~10% of the
    unfiltered shortlist), and it returns FEWER than k results
    (n_returned), the user-visible defect. Micro-averaged over the
    query set with exact integer counts; one row per
    (selectivity, strategy)."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS)
    outs = []
    for sel, meta in (
        ("label", F.col("label").cast("long")),
        ("parity", (F.col("label") % 2).cast("long")),
    ):
        corpus = emb.select("vec_id", "embedding", meta.alias("m"))
        queries = corpus.filter(
            (F.col("vec_id") >= IVF_QUERY_LO)
            & (F.col("vec_id") < IVF_QUERY_HI)
        ).select("vec_id", "embedding", F.col("m").alias("want"))
        exact = similarity.filtered_cosine_topk(
            corpus, queries, meta_col="m", want_col="want", k=IVF_K
        ).select("query_id", "neighbor_id")
        pre = similarity.ivf_filtered_topk(
            corpus,
            queries,
            cent,
            meta_col="m",
            want_col="want",
            k=IVF_K,
            nprobe=IVF_NPROBE,
        ).select("query_id", "neighbor_id")
        unfiltered = similarity.ivf_topk(
            emb, queries.select("vec_id", "embedding"), cent,
            k=IVF_K, nprobe=IVF_NPROBE,
        ).select("query_id", "neighbor_id")
        nmeta = corpus.select(
            F.col("vec_id").alias("neighbor_id"), F.col("m").alias("__nm")
        )
        wants = queries.select(
            F.col("vec_id").alias("query_id"), "want"
        )
        post = (
            unfiltered.join(F.broadcast(nmeta), "neighbor_id")
            .join(F.broadcast(wants), "query_id")
            .where(F.col("__nm") == F.col("want"))
            .select("query_id", "neighbor_id")
        )
        for strategy, approx in (("pre", pre), ("post", post)):
            hits = approx.withColumn("__hit", F.lit(1))
            j = exact.join(
                F.broadcast(hits), ["query_id", "neighbor_id"], "left"
            )
            agg = j.agg(
                F.count_distinct(F.col("query_id")).cast("long").alias(
                    "n_queries"
                ),
                F.count(F.lit(1)).cast("long").alias("n_true"),
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                .cast("long")
                .alias("n_hit"),
            )
            nret = approx.agg(
                F.count(F.lit(1)).cast("long").alias("n_returned")
            )
            outs.append(
                agg.crossJoin(nret).select(
                    F.lit(sel).alias("sel"),
                    F.lit(strategy).alias("strategy"),
                    "n_queries",
                    "n_true",
                    "n_hit",
                    round_to(
                        F.col("n_hit").cast("double")
                        / F.col("n_true").cast("double"),
                        6,
                    ).alias("recall_micro"),
                    "n_returned",
                )
            )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def ivf_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN RANKING-quality gate: nDCG@k of the IVF probe against the
    exact ranking — the companion to ivf_recall_eval's set-overlap
    recall. Recall treats all true neighbors equally; nDCG grades
    POSITION: returning the true #1 at rank 5 costs more than missing
    the true #5, which is what retrieval-augmented consumers actually
    feel. Graded relevance rel = k+1−exact_rank (0 for results outside
    the true top-k); DCG folds rel/log2(rank+1) over the IVF list in
    rank order; IDCG is the same fold over the perfect ranking —
    BOTH computed with the identical fold expression in each engine
    (log2 of exact small integers, sorted fold, round_to 6 — the
    surprisal rule). Scale shape: reuses the broadcast-query IVF and
    exact-topk plans; the grading join runs on two k-row-per-query
    frames."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS)
    queries = emb.filter(
        (F.col("vec_id") >= IVF_QUERY_LO) & (F.col("vec_id") < IVF_QUERY_HI)
    )
    approx = similarity.ivf_topk(
        emb, queries, cent, k=IVF_K, nprobe=IVF_NPROBE
    ).select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    exact = similarity.cosine_topk(emb, queries, k=IVF_K).select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("exact_rank"),
    )
    rel = F.coalesce(
        F.lit(IVF_K + 1) - F.col("exact_rank"), F.lit(0).cast("long")
    ).cast("long")
    terms = approx.join(
        F.broadcast(exact), ["query_id", "neighbor_id"], "left"
    ).select("query_id", "rank", rel.alias("rel"))
    per = terms.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_results"),
        F.sort_array(F.collect_list(F.struct("rank", "rel"))).alias("__t"),
    )
    dcg = F.aggregate(
        F.col("__t"),
        F.lit(0.0),
        lambda acc, s: acc
        + s["rel"].cast("double") / F.log2((s["rank"] + 1).cast("double")),
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.lit(IVF_K)),
        F.lit(0.0),
        lambda acc, i: acc
        + (F.lit(IVF_K + 1) - i).cast("double")
        / F.log2((i + 1).cast("double")),
    )
    return per.select(
        "query_id",
        "n_results",
        round_to(dcg, 6).alias("dcg"),
        round_to(dcg / idcg, 6).alias("ndcg"),
    )


_NDCG_FOLD = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(ts, s -> s.rel::DOUBLE / log2((s.rank + 1)::DOUBLE))), "
    "(a, b) -> a + b)"
)
_IDCG_FOLD = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    f"list_transform(range(1, {IVF_K + 1}), "
    f"i -> ({IVF_K + 1} - i)::DOUBLE / log2((i + 1)::DOUBLE))), "
    "(a, b) -> a + b)"
)


def kmeans_update_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration on DataFrames — the iterative-ML shape:
    E-step is the IVF assignment (broadcast codebook, linear scan),
    M-step the per-(centroid, dimension) mean in LONG format
    (posexplode + groupBy) so the 64-dim mean is one aggregate instead
    of 64 columns. At scale each iteration is one broadcast join + one
    shuffle on (centroid, dim) — no driver-side math."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assigned = similarity.ivf_assign(emb, cent, centroid_id="cid", centroid_vec="cv")
    expl = assigned.select("centroid_id", F.posexplode("vec").alias("dim", "v"))
    return (
        expl.groupBy("centroid_id", "dim")
        .agg(
            round_to(F.avg("v"), 6).alias("c"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "centroid_id", F.col("dim").cast("int").alias("dim"), "c", "n_members"
        )
    )


def kmeans_two_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO Lloyd iterations — the iterative-algorithm shape end to end:
    assign (broadcast codebook) → M-step means → rebuild the codebook →
    assign again. Each round is one broadcast join + one shuffle;
    at scale, rounds chain with localCheckpoint lineage cuts (see
    operators/graph.py for the pattern under AQE).

    Cross-engine determinism: the M-step means are ROUNDED (6 dp) before
    feeding iteration 2 in BOTH engines — double summation order differs
    between engines, and rounding re-synchronizes the inputs so the
    iteration-2 cosines (identical left-fold order) match bit-for-bit."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assigned = similarity.ivf_assign(emb, cent, centroid_id="cid", centroid_vec="cv")
    # M-step in ONE aggregate (r17): see _util.centroid_means
    cent2 = centroid_means(assigned, dim=EMB_DIM)
    out = similarity.ivf_assign(emb, cent2, centroid_id="cid", centroid_vec="cv")
    return out.select(F.col("doc").alias("vec_id"), "centroid_id")


def ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with a LLOYD-TRAINED coarse quantizer — the IVF face
    of pq_trained_topk: the convention codebook (first-N embeddings) is
    only the k-means init; one Lloyd iteration re-centers every
    centroid on its members (means ROUNDED so both engines feed
    iteration 2 identical inputs), the inverted lists are REBUILT
    against the trained centroids, and the probe runs against those.
    This is the production ANN indexing path: train, assign, then every
    query touches nprobe lists only."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assigned = similarity.ivf_assign(
        emb, cent, centroid_id="cid", centroid_vec="cv"
    )
    # M-step in ONE aggregate (r17): see _util.centroid_means
    cent2 = centroid_means(
        assigned, dim=EMB_DIM, out_id="vec_id", out_vec="embedding"
    )
    queries = emb.filter(
        (F.col("vec_id") >= IVF_QUERY_LO) & (F.col("vec_id") < IVF_QUERY_HI)
    )
    out = similarity.ivf_topk(emb, queries, cent2, k=IVF_K, nprobe=IVF_NPROBE)
    return out.select(
        "query_id",
        "neighbor_id",
        round_to(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def ivf_list_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-list BALANCE report — the operational table behind
    every IVF deployment decision (re-train the codebook? salt a hot
    list? raise nprobe?): per-list posting count, share of the corpus,
    and imbalance factor n·k/total (1.0 = perfectly balanced; a 100 TB
    index with a 20× hot list probes 20× the bytes whenever that list
    is hit). One broadcast-codebook assignment pass + one keys-only
    count; the total rides in as a broadcast single-row aggregate."""
    from ..functions import vectors  # noqa: F401 (doc parity)

    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assigned = similarity.ivf_assign(
        emb, cent, centroid_id="cid", centroid_vec="cv"
    )
    per_list = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    total = per_list.agg(F.sum("n_vecs").alias("__tot"))
    return per_list.crossJoin(F.broadcast(total)).select(
        "centroid_id",
        "n_vecs",
        round_to(
            F.col("n_vecs").cast("double") / F.col("__tot").cast("double"), 6
        ).alias("share"),
        round_to(
            F.col("n_vecs").cast("double")
            * F.lit(float(IVF_NCENTROIDS))
            / F.col("__tot").cast("double"),
            6,
        ).alias("imbalance"),
    )


KNN_K = 5
KNN_GRAPH_P = 2  # serving default: p=1 measured recall@5 0.18 vs 0.60 at p=2


def _knn_graph_frame(
    spark: SparkSession, sf_dir: str, p: int = KNN_GRAPH_P
) -> DataFrame:
    """The localCheckpointed k·n-edge graph three catalog queries
    consume (the graph itself, the health report, SNN clustering),
    built once per input through _util.memo."""

    def _compute() -> DataFrame:
        emb = spread(t(spark, sf_dir, "embeddings"))
        cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
        )
        # Arrow-kernel build: bit-identical to similarity.knn_graph
        # (twin-equality pinned in tests/test_extended_knn.py; the
        # DuckDB oracle is the second proof) at ~6x less wall on the
        # pair stage — the interpreted-HOF fold was the measured cost
        return similarity.knn_graph_arrow(
            emb, cent, k=KNN_K, p=p
        ).localCheckpoint()

    return memo(spark, sf_dir, f"knn_graph_p{p}", _compute)


def embedding_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide approximate kNN graph (operators/similarity.
    knn_graph): every vector's top-{KNN_K} cosine neighbors within its
    top-{KNN_GRAPH_P} IVF lists — the structure SemDeDup-style
    clustering, mutual-kNN community detection, and connectivity
    dedup consume. Per-list self-join bounded by quantizer balance
    (monitored by ivf_list_stats). p={KNN_GRAPH_P} membership is the
    serving default BECAUSE of the repo's own eval, not despite it:
    knn_graph_recall_eval measured recall@{KNN_K} 0.18 at p=1 vs
    0.60 at p=2 (VERDICT r13 #5), and snn_quality_eval re-measures
    the downstream clustering under both depths — the extra ~p²×
    pair cost plus one pair-grain dedup exchange buys a graph that
    actually finds cross-list neighbors."""
    out = _knn_graph_frame(spark, sf_dir)
    return out.select(
        "vec_id",
        "neighbor_id",
        round_to(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def knn_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kNN graph's health report as exact integers: node/edge
    counts, nodes short of k edges (their top-{KNN_GRAPH_P} candidate
    union is smaller than k+1 — a quantizer-balance symptom), and the
    MUTUAL edge count + rate
    (u in kNN(v) AND v in kNN(u)) — mutual-kNN is the edge set
    SNN-style clustering keeps, so its density decides whether the
    graph is usable before anyone runs components on it. One
    self-join of the k·n edge list on the reversed key."""
    g = embedding_knn_graph(spark, sf_dir).select("vec_id", "neighbor_id")
    rev = g.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("neighbor_id").alias("vec_id"),
        F.lit(1).alias("__mut"),
    )
    tagged = g.join(rev, ["vec_id", "neighbor_id"], "left")
    per_node = tagged.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("deg"),
        F.sum(F.coalesce(F.col("__mut"), F.lit(0))).alias("mut"),
    )
    return per_node.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("deg").cast("long").alias("n_edges"),
        F.sum((F.col("deg") < KNN_K).cast("long"))
        .cast("long")
        .alias("n_short_nodes"),
        F.sum("mut").cast("long").alias("n_mutual"),
        round_to(
            F.sum("mut").cast("double") / F.sum("deg").cast("double"), 6
        ).alias("mutual_rate"),
    )


KNN_EVAL_LO, KNN_EVAL_HI = 100, 110  # fixed-size eval sample


def knn_graph_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kNN graph's MEASURED recall curve over assignment depth —
    the docstring claim ("multi-assign to the top-p centroids raises
    recall at ~p²× the pair cost") as a number, the
    ivfpq_rerank_recall_eval pattern: for a fixed {KNN_EVAL_HI -
    KNN_EVAL_LO}-node sample, each node's graph edges under p=1
    (own-list only) and p=2 (each vector indexed in its top-2 lists —
    the embedding_knn_graph serving default, chosen BY this eval's
    numbers) are scored against the exact brute-force top-{KNN_K}.
    Output one row per (scheme, node): n_hit, recall.

    Scale shape: membership is the broadcast-codebook scan with a
    per-vector top-p window (p·n rows); the eval joins only the
    SAMPLE's membership against corpus membership on the list key;
    duplicate pairs from sharing two lists collapse through a
    max-aggregate before ranking; the exact side is the broadcast
    cosine_topk plan. The sample is fixed-size by construction — the
    gate stays O(sample·list), never quadratic."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    scored = emb.join(F.broadcast(cent)).select(
        "vec_id",
        "embedding",
        "cid",
        vectors.cosine_cols("embedding", "cv").alias("__cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("__cos").desc(), F.col("cid")
    )
    memb = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 2)
        .select("vec_id", "embedding", F.col("cid").alias("centroid_id"), "__rn")
    )
    sample = memb.filter(
        (F.col("vec_id") >= KNN_EVAL_LO) & (F.col("vec_id") < KNN_EVAL_HI)
    )
    exact = similarity.cosine_topk(
        emb,
        emb.filter(
            (F.col("vec_id") >= KNN_EVAL_LO) & (F.col("vec_id") < KNN_EVAL_HI)
        ),
        k=KNN_K,
    ).select(F.col("query_id").alias("vec_id"), "neighbor_id")

    def recall_of(p: int, scheme: str) -> DataFrame:
        s = sample.filter(F.col("__rn") <= p).select(
            "centroid_id", "vec_id", F.col("embedding").alias("__va")
        )
        c = memb.filter(F.col("__rn") <= p).select(
            "centroid_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("__vb"),
        )
        # the SAMPLE side is the bounded one — broadcast it so the
        # corpus membership streams through one scan
        pairs = c.join(F.broadcast(s), "centroid_id").filter(
            F.col("vec_id") != F.col("neighbor_id")
        )
        scored_p = pairs.select(
            "vec_id",
            "neighbor_id",
            vectors.cosine_cols("__va", "__vb").alias("__c"),
        ).groupBy("vec_id", "neighbor_id").agg(F.max("__c").alias("__c"))
        wp = Window.partitionBy("vec_id").orderBy(
            F.col("__c").desc(), F.col("neighbor_id")
        )
        edges = (
            scored_p.withColumn("__r", F.row_number().over(wp))
            .filter(F.col("__r") <= KNN_K)
            .select("vec_id", "neighbor_id", F.lit(1).alias("__hit"))
        )
        j = exact.join(F.broadcast(edges), ["vec_id", "neighbor_id"], "left")
        return j.groupBy("vec_id").agg(
            F.lit(scheme).alias("scheme"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_hit"),
            round_to(
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("double")
                / F.lit(float(KNN_K)),
                6,
            ).alias("recall"),
        )

    return (
        recall_of(1, "p1")
        .unionByName(recall_of(2, "p2"))
        .select("scheme", "vec_id", "n_hit", "recall")
    )


SNN_MIN_SHARED = 1  # Jarvis-Patrick kt: mutual + >= 1 shared neighbor


def _mutual_edges(g: DataFrame) -> DataFrame:
    """Mutual (u < v) edges of a (vec_id, neighbor_id) kNN edge list:
    one self-join on the reversed key."""
    rev = g.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("neighbor_id").alias("vec_id"),
    )
    return (
        g.join(rev, ["vec_id", "neighbor_id"])
        .filter(F.col("vec_id") < F.col("neighbor_id"))
        .select(
            F.col("vec_id").alias("id_a"), F.col("neighbor_id").alias("id_b")
        )
    )


def _strong_edges(g: DataFrame, min_shared: int) -> DataFrame:
    """Jarvis-Patrick strength filter: keep mutual edges whose
    endpoints SHARE >= min_shared out-neighbors. Two equi-joins of
    the pair-bounded mutual set against the k·n edge list (work
    |mutual|·k), then a map-side-combining count — never touches the
    corpus."""
    mutual = _mutual_edges(g)
    a = g.select(F.col("vec_id").alias("id_a"), F.col("neighbor_id").alias("__x"))
    b = g.select(F.col("vec_id").alias("id_b"), F.col("neighbor_id").alias("__x"))
    return (
        mutual.join(a, "id_a")
        .join(b, ["id_b", "__x"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__shared"))
        .filter(F.col("__shared") >= min_shared)
        .select("id_a", "id_b")
    )


def embedding_snn_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-nearest-neighbor clustering (Ertöz/Steinbach/Kumar 2003
    / Jarvis-Patrick 1973): connected components over the mutual kNN
    edges whose endpoints also share >= {SNN_MIN_SHARED} out-
    neighbor(s). BOTH filters are load-bearing, by this repo's own
    measurements (snn_quality_eval): mutuality alone does NOT prevent
    blob collapse on a near-isotropic corpus — plain mutual-CC gave
    497 nodes in 8 components on the p=1 graph and ONE 495-node
    component on the p=2 graph (mutual_rate ~0.73 means most edges
    survive), while the shared-neighbor strength filter yields ~67
    small, tight communities (max size ~7) on the same p=2 graph.
    Division of labor, also measured there: isolated near-dup PAIRS
    (each other's top neighbor but sharing no neighborhood) are
    deliberately NOT this operator's job — cosine-threshold grouping
    (docs_semantic_dedup) catches those; SNN finds density-based
    communities. Output: (node, component = min reachable id) per
    node with at least one strong edge.

    Scale shape: mutual filter = one self-join of the k·n edge list
    on the reversed key; strength = two equi-joins bounded by
    |mutual|·k; components run on the pair-bounded strong set with
    localCheckpointed iterations (the iterative-operator rule). The
    oracle replays the closure as a recursive CTE."""
    from ..operators import graph

    g = embedding_knn_graph(spark, sf_dir).select("vec_id", "neighbor_id")
    return graph.connected_components(_strong_edges(g, SNN_MIN_SHARED))


SNNQ_NQ = 100  # fixed-size truth anchor sample (scale-safe gate rule)
SNNQ_TAU = 0.4  # near-dup truth threshold (embedding_near_dup's τ)
SNNQ_SALT = ":snnq"


def snn_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measurement that DECIDED the r14 clustering defaults
    (VERDICT r13 #5): knn_graph_recall_eval showed the p=1 graph's
    edges miss most true neighbors (recall@{KNN_K} 0.18 vs 0.60 at
    p=2); this measures what each choice costs DOWNSTREAM, where the
    clusters are consumed. Truth = exact cosine >= {SNNQ_TAU} pairs
    anchored on a fixed {SNNQ_NQ}-vector sample (smallest portable
    char_hash — TakeOrdered, never a fraction, so the gate stays
    O(sample·n) at any corpus). Three schemes: plain mutual-CC on
    the p=1 graph (the r13 behavior), plain mutual-CC on the p=2
    graph, and mutual + shared-neighbor strength on the p=2 graph
    (the serving default). Per scheme: the fraction of true near-dup
    pairs landing in the same cluster (pair_recall) AND the cluster
    structure (count, coverage, max size) — the max_cluster column
    is the blob detector: p2_mutual scores pair_recall 1.0 only by
    collapsing 495 nodes into ONE component (vacuous), p1_mutual is
    quietly near-degenerate too (8 components covering 497 nodes),
    while p2_snn keeps tight communities and leaves isolated
    neighborhood-free pairs to docs_semantic_dedup by design.

    Scale shape: the truth side is a broadcast nested-loop of the
    fixed sample against one spread corpus scan; the three schemes'
    edge sets are namespaced into disjoint id ranges and solved by
    ONE connected-components loop (per-round overhead paid once, not
    three times), then the pair-bounded label table is broadcast onto
    the truth pairs per scheme. Output: one row per scheme."""
    from ..functions.textfns import char_hash
    from ..operators import graph

    emb = spread(t(spark, sf_dir, "embeddings"))
    qsample = (
        emb.select(
            "vec_id",
            "embedding",
            char_hash(
                F.concat(F.col("vec_id").cast("string"), F.lit(SNNQ_SALT))
            ).alias("__h"),
        )
        .orderBy("__h", "vec_id")
        .limit(SNNQ_NQ)
        .select(
            F.col("vec_id").alias("id_a"), F.col("embedding").alias("__vq")
        )
    )
    truth = (
        emb.select(
            F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vn")
        )
        .join(F.broadcast(qsample), F.col("id_a") != F.col("id_b"))
        .filter(
            vectors.cosine_cols("__vq", "__vn") >= SNNQ_TAU
        )
        # truth set = the id_a < id_b HALF-SPACE of the sampled
        # anchors' near-dup pairs (r14 advice corrected the earlier
        # "dedup doubly-sampled pairs" description): besides collapsing
        # both-endpoints-sampled duplicates, this drops an anchor's
        # pairs whose unsampled neighbor has the SMALLER id (~half of
        # each anchor's true pairs). The eval's recall denominator is
        # therefore that half-space — a deterministic, scheme-neutral
        # subsample (every scheme is scored against the same set, and
        # the DuckDB oracle applies the identical filter), so relative
        # scheme comparisons are unbiased even though absolute recall
        # is measured on half the anchor pairs.
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .localCheckpoint()  # consumed by both schemes' tag joins
    )

    # ONE components run for all three schemes: each scheme's edge set
    # is namespaced into its own id range (node + si·2^40) and the
    # union graph solved in a single CC loop — the per-round
    # localCheckpoint/job overhead (the dominant cost on these tiny
    # pair-bounded graphs) is paid max(rounds) times instead of
    # sum(rounds) times (measured 11.2 s → ~2x less at sf0.01). Labels
    # stay exact per scheme: a component's nodes share one offset, so
    # min-id survives the % recovery.
    off = F.lit(1 << 40)
    schemes = [
        ("p1_mutual", 1, 0),
        ("p2_mutual", 2, 0),
        ("p2_snn", 2, SNN_MIN_SHARED),
    ]
    union_edges = None
    for si, (_, p, ms) in enumerate(schemes):
        g = _knn_graph_frame(spark, sf_dir, p).select(
            "vec_id", "neighbor_id"
        )
        e = _mutual_edges(g) if ms == 0 else _strong_edges(g, ms)
        e = e.select(
            (F.col("id_a") + F.lit(si) * off).alias("id_a"),
            (F.col("id_b") + F.lit(si) * off).alias("id_b"),
        )
        union_edges = e if union_edges is None else union_edges.unionByName(e)
    comp3 = (
        graph.connected_components(union_edges)
        .select(
            F.shiftright(F.col("node"), 40).alias("__si"),
            (F.col("node") % off).alias("node"),
            (F.col("component") % off).alias("component"),
        )
        .localCheckpoint()  # consumed by 3 scheme branches x 3 joins
    )

    def scheme_row(si: int, scheme: str) -> DataFrame:
        comp = comp3.filter(F.col("__si") == si).select("node", "component")
        la = comp.select(
            F.col("node").alias("id_a"), F.col("component").alias("__ca")
        )
        lb = comp.select(
            F.col("node").alias("id_b"), F.col("component").alias("__cb")
        )
        hit = (
            truth.join(F.broadcast(la), "id_a", "left")
            .join(F.broadcast(lb), "id_b", "left")
            .select(
                (
                    F.col("__ca").isNotNull()
                    & (F.col("__ca") == F.col("__cb"))
                )
                .cast("long")
                .alias("__hit")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_true_pairs"),
                F.sum("__hit").cast("long").alias("n_same_cluster"),
                round_to(
                    F.sum("__hit").cast("double")
                    / F.count(F.lit(1)).cast("double"),
                    6,
                ).alias("pair_recall"),
            )
        )
        per_comp = comp.groupBy("component").agg(
            F.count(F.lit(1)).alias("__sz")
        )
        cl = per_comp.agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("__sz").cast("long").alias("n_clustered_nodes"),
            F.max("__sz").cast("long").alias("max_cluster"),
        )
        return (
            hit.crossJoin(cl)  # two 1-row frames — the Gini-scalar shape
            .select(
                F.lit(scheme).alias("scheme"),
                "n_true_pairs",
                "n_same_cluster",
                "pair_recall",
                "n_clusters",
                "n_clustered_nodes",
                "max_cluster",
            )
        )

    out = None
    for si, (scheme, _, _ms) in enumerate(schemes):
        row = scheme_row(si, scheme)
        out = row if out is None else out.unionByName(row)
    return out


TS_MOD, TS_RES = 17, 5  # tombstones: vec_id % 17 == 5 (~5.9% deleted)
TS_COMPACT_FRAC = 0.06  # rewrite a list once >= 6% of it is deleted


def _ivf_tombstone() -> Column:
    return (F.col("doc") % TS_MOD) == TS_RES


def ivf_tombstone_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE lifecycle for the ANN store — the maintenance verb every
    production vector database ships (FAISS remove_ids, Milvus
    compaction): deletes arrive as TOMBSTONES (the posting store is
    append-only parquet; in-place deletes don't exist), probes mask
    them, and a background compaction rewrites a list once its dead
    fraction crosses a threshold. This query is the compaction
    SCHEDULER's table: per inverted list, live/dead counts, the dead
    fraction, whether this cycle rewrites it (frac >=
    {TS_COMPACT_FRAC}), the post-cycle posting count, and the
    tombstones left pending on unrewritten lists (the probe-time mask
    cost that remains).

    Scale shape: one broadcast-codebook assignment pass + one
    keys-only 8-row aggregate — identical cost to ivf_list_stats; the
    tombstone predicate is a pure row-local function of the id. The
    threshold compare runs on doubles derived from the same exact
    integers in both engines."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assigned = similarity.ivf_assign(
        emb, cent, centroid_id="cid", centroid_vec="cv"
    )
    per = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_before"),
        F.sum(_ivf_tombstone().cast("long")).cast("long").alias(
            "n_tombstoned"
        ),
    )
    frac = F.col("n_tombstoned").cast("double") / F.col("n_before").cast(
        "double"
    )
    compacted = frac >= F.lit(TS_COMPACT_FRAC)
    return per.select(
        "centroid_id",
        "n_before",
        "n_tombstoned",
        round_to(frac, 6).alias("frac_deleted"),
        compacted.alias("compacted"),
        F.when(compacted, F.col("n_before") - F.col("n_tombstoned"))
        .otherwise(F.col("n_before"))
        .cast("long")
        .alias("n_after"),
        F.when(compacted, F.lit(0))
        .otherwise(F.col("n_tombstoned"))
        .cast("long")
        .alias("n_pending"),
    )


def ivf_tombstone_probe_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving under deletes, measured: (a) n_stale — how many of each
    query's UNMASKED top-{IVF_K} are tombstoned, i.e. the wrong results
    a probe that ignores deletes would return (non-zero by
    construction of the ~5.9% tombstone rate); (b) recall of the
    MASKED probe against the exact brute-force top-{IVF_K} over the
    surviving corpus — deletes thin the probed lists, so post-delete
    recall is a number to watch, not assume. Masking at the candidate
    stage (before any distance work) is plan-equivalent to probing a
    compacted store: assignment is per-vector, so filter-then-assign
    == assign-then-filter.

    Scale shape: both probe sides reuse the broadcast-query IVF plan;
    the exact baseline is the broadcast cosine_topk plan over one
    surviving-corpus scan; all joins are k-row-per-query frames."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS)
    queries = emb.filter(
        (F.col("vec_id") >= IVF_QUERY_LO) & (F.col("vec_id") < IVF_QUERY_HI)
    )
    tomb_of = lambda c: (c % TS_MOD) == TS_RES  # noqa: E731
    surviving = emb.filter(~tomb_of(F.col("vec_id")))
    unmasked = similarity.ivf_topk(
        emb, queries, cent, k=IVF_K, nprobe=IVF_NPROBE
    )
    stale = unmasked.groupBy("query_id").agg(
        F.sum(tomb_of(F.col("neighbor_id")).cast("long"))
        .cast("long")
        .alias("n_stale")
    )
    masked = similarity.ivf_topk(
        surviving, queries, cent, k=IVF_K, nprobe=IVF_NPROBE
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    exact = similarity.cosine_topk(surviving, queries, k=IVF_K).select(
        "query_id", "neighbor_id"
    )
    joined = exact.join(
        F.broadcast(masked), ["query_id", "neighbor_id"], "left"
    )
    rec = joined.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
        .cast("long")
        .alias("n_hit"),
        round_to(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("double")
            / F.lit(float(IVF_K)),
            6,
        ).alias("recall"),
    )
    return rec.join(F.broadcast(stale), "query_id").select(
        "query_id", "n_stale", "n_hit", "recall"
    )


def ivf_silhouette_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-ASSIGNMENT-quality gate: the simplified-silhouette
    margin of every vector against the codebook — a = cosine distance
    to its OWN centroid, b = distance to the nearest OTHER centroid,
    s = (b − a)/max(a, b) ∈ [0, 1] (0 = sitting on a list boundary,
    1 = unambiguous) — reported as an exact-integer histogram per
    list: (centroid_id, bucket floor(s·10) capped at 9, n). The
    companion to ivf_list_stats (balance) and ivf_staleness_eval
    (drift): a list whose mass piles into bucket 0 is a quantizer
    that cannot separate its region, and nprobe must cover the
    ambiguity. Counts only — s is a deterministic double computed
    identically in both engines, and only floor/compare touch it
    (the ivf_staleness rule), so no float reaches the hash.

    Scale shape: ONE corpus scan × broadcast codebook; the top-2
    selection is a per-doc sort of the |codebook|-element collected
    array (bounded by the codebook contract, not the corpus), then a
    keys-only two-level count. Nothing corpus-sized shuffles except
    the per-doc groupBy that ivf_assign itself needs."""
    from ..functions import vectors

    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    c = emb.select(F.col("vec_id").alias("doc"), F.col("embedding").alias("vec"))
    scored = c.join(F.broadcast(cent)).select(
        "doc",
        "cid",
        vectors.cosine_cols("vec", "cv").alias("cos"),
    )
    top2 = scored.groupBy("doc").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("cos"), (-F.col("cid")).alias("nc"))),
            asc=False,
        ).alias("__arr")
    )
    a = F.lit(1.0) - F.col("__arr")[0]["cos"]
    b = F.lit(1.0) - F.col("__arr")[1]["cos"]
    staged = top2.select(
        (-F.col("__arr")[0]["nc"]).alias("centroid_id"),
        a.alias("__a"),
        b.alias("__b"),
    )
    s = F.when(F.greatest("__a", "__b") == F.lit(0.0), F.lit(0.0)).otherwise(
        (F.col("__b") - F.col("__a")) / F.greatest("__a", "__b")
    )
    return (
        staged.select(
            "centroid_id",
            F.least(
                F.floor(s * F.lit(10.0)).cast("long"), F.lit(9).cast("long")
            ).alias("bucket"),
        )
        .groupBy("centroid_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _ivf_silhouette_sql() -> str:
    # function, not module constant: _IVF_COS is defined further down
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings
         WHERE vec_id < {IVF_NCENTROIDS}),
scored AS (
  SELECT v.vec_id, cent.cid,
    {_IVF_COS.format(a="v.e", b="cent.cv")} AS cos
  FROM v, cent
),
rk AS (
  SELECT vec_id, cid, cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, cid) AS rn
  FROM scored
),
top2 AS (
  SELECT x.vec_id, x.cid,
         CAST(1.0 AS DOUBLE) - x.cos AS da,
         CAST(1.0 AS DOUBLE) - y.cos AS db
  FROM rk x JOIN rk y ON y.vec_id = x.vec_id AND y.rn = 2
  WHERE x.rn = 1
),
sil AS (
  SELECT cid,
         CASE WHEN greatest(da, db) = CAST(0.0 AS DOUBLE)
              THEN CAST(0.0 AS DOUBLE)
              ELSE (db - da) / greatest(da, db) END AS s
  FROM top2
)
SELECT cid AS centroid_id,
       least(CAST(floor(s * CAST(10.0 AS DOUBLE)) AS BIGINT), 9) AS bucket,
       count(*)::BIGINT AS n
FROM sil GROUP BY 1, 2
"""


def ivf_staleness_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index STALENESS gate for the incremental-ingest story: as
    batches accumulate under a static codebook, how stale is the
    geometry? Measured as the fraction of the corpus whose nearest
    centroid CHANGES under a one-M-step retrained codebook, plus the
    count whose assigned cosine would improve — the two numbers an
    operator reads to schedule a re-index. Counts only (n_reassigned,
    n_cos_improved are comparisons of identically-computed doubles —
    exact in both engines); no float averages ride in the hash."""
    from ..functions import vectors

    emb = spread(t(spark, sf_dir, "embeddings"))
    cent0 = emb.filter(F.col("vec_id") < IVF_NCENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )

    def assign_cos(cent):
        a = similarity.ivf_assign(
            emb, cent, centroid_id="cid", centroid_vec="cv"
        )
        return a.join(
            F.broadcast(cent), a.centroid_id == F.col("cid")
        ).select(
            "doc",
            "centroid_id",
            vectors.cosine_cols("vec", "cv").alias("cos"),
        )

    a0 = assign_cos(cent0)
    # M-step in ONE aggregate (r17): see _util.centroid_means
    cent1 = centroid_means(
        similarity.ivf_assign(
            emb, cent0, centroid_id="cid", centroid_vec="cv"
        ),
        dim=EMB_DIM,
    )
    a1 = assign_cos(cent1)
    j = a0.select(
        "doc",
        F.col("centroid_id").alias("c0"),
        F.col("cos").alias("cos0"),
    ).join(
        a1.select(
            "doc",
            F.col("centroid_id").alias("c1"),
            F.col("cos").alias("cos1"),
        ),
        "doc",
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum((F.col("c0") != F.col("c1")).cast("long")).alias(
            "n_reassigned"
        ),
        round_to(
            F.sum((F.col("c0") != F.col("c1")).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("reassign_rate"),
        F.sum((F.col("cos1") > F.col("cos0")).cast("long")).alias(
            "n_cos_improved"
        ),
    )


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------

_EVENTS_JSON_SQL = f"""
WITH ek AS (
  SELECT event_type, json_extract(props, '$.k')::BIGINT AS k FROM events
)
SELECT event_type, count(*) AS n, sum(k)::BIGINT AS sum_k,
  {sql_round("avg(k)", 4)} AS avg_k,
  min(k) AS min_k, max(k) AS max_k
FROM ek GROUP BY event_type
"""

_LAG_SQL = f"""
WITH e AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
)
SELECT event_id, user_id,
  {sql_round("value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)", 6)}
    AS delta
FROM e
"""

_NTILE_SQL = """
SELECT o_orderkey,
  ntile(4) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS quartile
FROM orders
"""

_PCT_SQL = f"""
SELECT event_type,
  {sql_round("quantile_cont(value, 0.5)", 6)} AS p50,
  {sql_round("quantile_cont(value, 0.9)", 6)} AS p90
FROM events GROUP BY event_type
"""

_CUBE_SQL = f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
  {sql_round("sum(o_totalprice)", 2)} AS revenue
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

_TOP_TERMS_SQL = f"""
SELECT term, count(*) AS n
FROM (SELECT unnest({sql_tokens("lower(text)")}) AS term FROM documents)
GROUP BY term ORDER BY n DESC, term LIMIT 20
"""

_TFIDF_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest({sql_tokens("lower(text)")}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
), doc_len AS (
  SELECT doc_id, count(*) AS len FROM terms GROUP BY 1
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1
), n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
    tf.tf::DOUBLE / doc_len.len::DOUBLE * (n.n_docs / df.df::DOUBLE) AS tfidf
  FROM tf JOIN doc_len USING (doc_id) JOIN df USING (term), n
), ranked AS (
  SELECT doc_id, term, tfidf,
    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
  FROM scored
)
SELECT doc_id, term, {sql_round("tfidf", 6)} AS tfidf, rn
FROM ranked WHERE rn <= 3
"""

_IVF_COS = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(1, 65), i -> {a}[i] * {b}[i])), (x, y) -> x + y) / "
    "(sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(1, 65), i -> {a}[i] * {a}[i])), (x, y) -> x + y)) * "
    "sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(1, 65), i -> {b}[i] * {b}[i])), (x, y) -> x + y)))"
)

_IVF_ASSIGN_CTE = f"""
  v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
  cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings
           WHERE vec_id < {IVF_NCENTROIDS}),
  scored AS (
    SELECT v.vec_id, v.e, cent.cid,
      {_IVF_COS.format(a="v.e", b="cent.cv")} AS cos
    FROM v, cent
  ),
  assigned AS (
    SELECT vec_id, e, cid AS centroid_id FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, cid) AS rn
      FROM scored
    ) WHERE rn = 1
  )
"""

_IVF_ASSIGN_SQL = "WITH" + _IVF_ASSIGN_CTE + "SELECT vec_id, centroid_id FROM assigned"

_KMEANS_SQL = (
    "WITH"
    + _IVF_ASSIGN_CTE
    + f""",
  expl AS (
    SELECT centroid_id,
      unnest(list_transform(range(1, 65), i -> {{'dim': i - 1, 'v': e[i]}})) AS u
    FROM assigned
  )
SELECT centroid_id, CAST(u['dim'] AS INT) AS dim,
  {sql_round("avg(u['v'])", 6)} AS c, count(*) AS n_members
FROM expl GROUP BY 1, 2
"""
)

_KMEANS2_SQL = (
    "WITH"
    + _IVF_ASSIGN_CTE
    + f""",
  expl AS (
    SELECT centroid_id,
      unnest(list_transform(range(1, 65), i -> {{'dim': i - 1, 'v': e[i]}})) AS u
    FROM assigned
  ),
  means AS (
    SELECT centroid_id, CAST(u['dim'] AS INT) AS dim,
      {sql_round("avg(u['v'])", 6)} AS c
    FROM expl GROUP BY 1, 2
  ),
  cent2 AS (
    SELECT centroid_id AS cid, list(c ORDER BY dim) AS cv
    FROM means GROUP BY 1
  ),
  scored2 AS (
    SELECT v.vec_id, cent2.cid,
      {_IVF_COS.format(a="v.e", b="cent2.cv")} AS cos
    FROM v, cent2
  )
SELECT vec_id, cid AS centroid_id FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
  FROM scored2
) WHERE rn = 1
"""
)

_IVF_LIST_STATS_SQL = (
    "WITH"
    + _IVF_ASSIGN_CTE
    + f""",
  per_list AS (
    SELECT centroid_id, count(*)::BIGINT AS n_vecs FROM assigned GROUP BY 1
  ),
  tot AS (SELECT sum(n_vecs)::BIGINT AS t FROM per_list)
SELECT centroid_id, n_vecs,
  {sql_round("n_vecs::DOUBLE / t::DOUBLE", 6)} AS share,
  {sql_round(f"n_vecs::DOUBLE * {IVF_NCENTROIDS} / t::DOUBLE", 6)} AS imbalance
FROM per_list, tot
"""
)

_KNN_GRAPH_CTES = (
    _IVF_ASSIGN_CTE
    + f""",
  kmemb AS (
    SELECT vec_id, e, cid AS centroid_id FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, cid) AS rn
      FROM scored
    ) WHERE rn <= {KNN_GRAPH_P}
  ),
  kpairs AS (
    SELECT a.vec_id, b.vec_id AS neighbor_id,
           max({_IVF_COS.format(a="a.e", b="b.e")}) AS cos
    FROM kmemb a JOIN kmemb b
      ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
    GROUP BY 1, 2
  ),
  kranked AS (
    SELECT vec_id, neighbor_id, cos,
      row_number() OVER (PARTITION BY vec_id
                         ORDER BY cos DESC, neighbor_id) AS rank
    FROM kpairs
  ),
  kgraph AS (
    SELECT vec_id, neighbor_id, cos, rank FROM kranked
    WHERE rank <= {KNN_K}
  )
"""
)

_KNN_GRAPH_SQL = (
    "WITH"
    + _KNN_GRAPH_CTES
    + f"""
SELECT vec_id, neighbor_id, {sql_round("cos", 6)} AS cosine,
       rank::BIGINT AS rank
FROM kgraph
"""
)

_KNN_STATS_SQL = (
    "WITH"
    + _KNN_GRAPH_CTES
    + f""",
  tagged AS (
    SELECT g.vec_id,
           (r.vec_id IS NOT NULL)::INT AS mut
    FROM kgraph g LEFT JOIN kgraph r
      ON r.vec_id = g.neighbor_id AND r.neighbor_id = g.vec_id
  ),
  per_node AS (
    SELECT vec_id, count(*)::BIGINT AS deg, sum(mut)::BIGINT AS mut
    FROM tagged GROUP BY 1
  )
SELECT count(*)::BIGINT AS n_nodes,
  sum(deg)::BIGINT AS n_edges,
  sum((deg < {KNN_K})::INT)::BIGINT AS n_short_nodes,
  sum(mut)::BIGINT AS n_mutual,
  {sql_round("sum(mut)::DOUBLE / sum(deg)::DOUBLE", 6)} AS mutual_rate
FROM per_node
"""
)

_SNN_CLUSTERS_SQL = (
    "WITH RECURSIVE"
    + _KNN_GRAPH_CTES
    + f""",
  mutual AS MATERIALIZED (
    SELECT g.vec_id AS u, g.neighbor_id AS v
    FROM kgraph g JOIN kgraph r
      ON r.vec_id = g.neighbor_id AND r.neighbor_id = g.vec_id
    WHERE g.vec_id < g.neighbor_id
  ),
  strong AS MATERIALIZED (
    SELECT m.u, m.v FROM mutual m
    JOIN kgraph a ON a.vec_id = m.u
    JOIN kgraph b ON b.vec_id = m.v AND b.neighbor_id = a.neighbor_id
    GROUP BY m.u, m.v HAVING count(*) >= {SNN_MIN_SHARED}
  ),
  sym AS MATERIALIZED (
    SELECT u, v FROM strong UNION SELECT v AS u, u AS v FROM strong
  ),
  reach(id, label) AS (
    SELECT u AS id, u AS label FROM (SELECT DISTINCT u FROM sym)
    UNION
    SELECT s.v AS id, r.label FROM reach r JOIN sym s ON s.u = r.id
  )
SELECT id AS node, min(label) AS component FROM reach GROUP BY id
"""
)

def _knn_recall_eval_sql() -> str:
    lo, hi = KNN_EVAL_LO, KNN_EVAL_HI
    ctes = (
        "WITH"
        + _IVF_ASSIGN_CTE
        + f""",
  pmemb AS (
    SELECT vec_id, e, cid AS centroid_id, rn FROM (
      SELECT v.vec_id, v.e, cent.cid,
        row_number() OVER (PARTITION BY v.vec_id
          ORDER BY {_IVF_COS.format(a="v.e", b="cent.cv")} DESC,
                   cent.cid) AS rn
      FROM v, cent
    ) WHERE rn <= 2
  ),
  exact_r AS (
    SELECT vec_id, neighbor_id FROM (
      SELECT q.vec_id, c.vec_id AS neighbor_id,
        row_number() OVER (PARTITION BY q.vec_id
          ORDER BY {_IVF_COS.format(a="q.e", b="c.e")} DESC,
                   c.vec_id) AS r
      FROM (SELECT * FROM v WHERE vec_id >= {lo} AND vec_id < {hi}) q
      JOIN v c ON c.vec_id <> q.vec_id
    ) WHERE r <= {KNN_K}
  )"""
    )
    blocks, finals = [], []
    for p, s in ((1, "p1"), (2, "p2")):
        blocks.append(f""",
  {s}pairs AS (
    SELECT sm.vec_id, m.vec_id AS neighbor_id,
           max({_IVF_COS.format(a="sm.e", b="m.e")}) AS c
    FROM (SELECT * FROM pmemb WHERE rn <= {p}
          AND vec_id >= {lo} AND vec_id < {hi}) sm
    JOIN (SELECT * FROM pmemb WHERE rn <= {p}) m
      ON m.centroid_id = sm.centroid_id AND m.vec_id <> sm.vec_id
    GROUP BY 1, 2
  ),
  {s}edges AS (
    SELECT vec_id, neighbor_id FROM (
      SELECT vec_id, neighbor_id,
        row_number() OVER (PARTITION BY vec_id
                           ORDER BY c DESC, neighbor_id) AS r
      FROM {s}pairs
    ) WHERE r <= {KNN_K}
  ),
  {s}rec AS (
    SELECT '{s}' AS scheme, e.vec_id,
      sum(CASE WHEN g.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        AS n_hit
    FROM exact_r e LEFT JOIN {s}edges g
      ON g.vec_id = e.vec_id AND g.neighbor_id = e.neighbor_id
    GROUP BY 1, 2
  )""")
        finals.append(
            f"SELECT scheme, vec_id, n_hit,"
            f" {sql_round(f'n_hit::DOUBLE / CAST({KNN_K} AS DOUBLE)', 6)}"
            f" AS recall FROM {s}rec"
        )
    return ctes + "".join(blocks) + "\n" + "\nUNION ALL\n".join(finals)


def _snn_quality_sql() -> str:
    """Two independent recursive closures (p1/p2 mutual graphs) in one
    statement: every non-recursive CTE a recursion consumes is AS
    MATERIALIZED (the chained-recursive-CTE rule — un-materialized,
    DuckDB re-inlines the upstream into every recursion step)."""
    qhash = sql_char_hash(f"vec_id::VARCHAR || '{SNNQ_SALT}'")
    head = (
        "WITH RECURSIVE"
        + _IVF_ASSIGN_CTE
        + f""",
  sq AS MATERIALIZED (
    SELECT vec_id AS id_a, e AS vq FROM (
      SELECT vec_id, e, {qhash} AS h FROM v
      ORDER BY h, vec_id LIMIT {SNNQ_NQ}
    )
  ),
  struth AS MATERIALIZED (
    SELECT q.id_a, c.vec_id AS id_b
    FROM sq q JOIN v c ON q.id_a <> c.vec_id
    WHERE {_IVF_COS.format(a="q.vq", b="c.e")} >= {SNNQ_TAU}
      AND q.id_a < c.vec_id
  ),
  smemb AS MATERIALIZED (
    SELECT vec_id, e, cid AS centroid_id, rn FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, cid) AS rn
      FROM scored
    ) WHERE rn <= 2
  )"""
    )
    graph_blocks, blocks, finals = [], [], []
    for p in (1, 2):
        graph_blocks.append(f""",
  g{p}pairs AS MATERIALIZED (
    SELECT a.vec_id, b.vec_id AS neighbor_id,
           max({_IVF_COS.format(a="a.e", b="b.e")}) AS c
    FROM (SELECT * FROM smemb WHERE rn <= {p}) a
    JOIN (SELECT * FROM smemb WHERE rn <= {p}) b
      ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
    GROUP BY 1, 2
  ),
  g{p}edges AS MATERIALIZED (
    SELECT vec_id, neighbor_id FROM (
      SELECT vec_id, neighbor_id,
        row_number() OVER (PARTITION BY vec_id
                           ORDER BY c DESC, neighbor_id) AS r
      FROM g{p}pairs
    ) WHERE r <= {KNN_K}
  ),
  g{p}mutual AS MATERIALIZED (
    SELECT g.vec_id AS u, g.neighbor_id AS w
    FROM g{p}edges g JOIN g{p}edges r
      ON r.vec_id = g.neighbor_id AND r.neighbor_id = g.vec_id
  )""")
    for p, ms, s in ((1, 0, "p1_mutual"), (2, 0, "p2_mutual"), (2, SNN_MIN_SHARED, "p2_snn")):
        if ms == 0:
            edge_cte = f"SELECT u, w FROM g{p}mutual"
        else:
            # strength filter on the u<w half, then re-symmetrize
            edge_cte = f"""
    SELECT u, w FROM (
      SELECT m.u, m.w FROM g{p}mutual m
      JOIN g{p}edges a ON a.vec_id = m.u
      JOIN g{p}edges b ON b.vec_id = m.w AND b.neighbor_id = a.neighbor_id
      WHERE m.u < m.w
      GROUP BY m.u, m.w HAVING count(*) >= {ms}
    ) h
    UNION ALL SELECT w AS u, u AS w FROM (
      SELECT m.u, m.w FROM g{p}mutual m
      JOIN g{p}edges a ON a.vec_id = m.u
      JOIN g{p}edges b ON b.vec_id = m.w AND b.neighbor_id = a.neighbor_id
      WHERE m.u < m.w
      GROUP BY m.u, m.w HAVING count(*) >= {ms}
    ) h2"""
        blocks.append(f""",
  {s}_sym AS MATERIALIZED ({edge_cte}),
  {s}_reach(id, label) AS (
    SELECT u AS id, u AS label FROM (SELECT DISTINCT u FROM {s}_sym)
    UNION
    SELECT y.w AS id, r.label
    FROM {s}_reach r JOIN {s}_sym y ON y.u = r.id
  ),
  {s}_comp AS MATERIALIZED (
    SELECT id AS node, min(label) AS component FROM {s}_reach GROUP BY id
  ),
  {s}_hits AS (
    SELECT count(*)::BIGINT AS n_true_pairs,
      sum(CASE WHEN ca.component IS NOT NULL
                AND ca.component = cb.component
               THEN 1 ELSE 0 END)::BIGINT AS n_same_cluster
    FROM struth t2
    LEFT JOIN {s}_comp ca ON ca.node = t2.id_a
    LEFT JOIN {s}_comp cb ON cb.node = t2.id_b
  ),
  {s}_cl AS (
    SELECT count(*)::BIGINT AS n_clusters,
           sum(sz)::BIGINT AS n_clustered_nodes,
           max(sz)::BIGINT AS max_cluster
    FROM (SELECT component, count(*) AS sz FROM {s}_comp GROUP BY 1)
  )""")
        finals.append(
            f"SELECT '{s}' AS scheme, n_true_pairs, n_same_cluster,"
            f" {sql_round('n_same_cluster::DOUBLE / n_true_pairs::DOUBLE', 6)}"
            f" AS pair_recall, n_clusters, n_clustered_nodes, max_cluster"
            f" FROM {s}_hits, {s}_cl"
        )
    return (
        head + "".join(graph_blocks) + "".join(blocks)
        + "\n" + "\nUNION ALL\n".join(finals)
    )


_TS_PRED = f"(vec_id % {TS_MOD} = {TS_RES})"
_TS_FRAC = "n_tombstoned::DOUBLE / n_before::DOUBLE"
_TS_GATE = f"{_TS_FRAC} >= CAST({TS_COMPACT_FRAC} AS DOUBLE)"

_IVF_TOMBSTONE_COMPACT_SQL = (
    "WITH"
    + _IVF_ASSIGN_CTE
    + f""",
  per AS (
    SELECT centroid_id, count(*)::BIGINT AS n_before,
           sum({_TS_PRED}::INT)::BIGINT AS n_tombstoned
    FROM assigned GROUP BY 1
  )
SELECT centroid_id, n_before, n_tombstoned,
  {sql_round(_TS_FRAC, 6)} AS frac_deleted,
  {_TS_GATE} AS compacted,
  (CASE WHEN {_TS_GATE} THEN n_before - n_tombstoned
        ELSE n_before END)::BIGINT AS n_after,
  (CASE WHEN {_TS_GATE} THEN 0 ELSE n_tombstoned END)::BIGINT AS n_pending
FROM per
"""
)


def _ivf_tombstone_eval_sql() -> str:
    def cand(extra: str) -> str:
        return f"""
      SELECT p.query_id, p.qv, a.vec_id AS neighbor_id, a.e
      FROM qprobe p JOIN assigned a USING (centroid_id)
      WHERE p.query_id <> a.vec_id{extra}
    """

    def ranked(src: str) -> str:
        return f"""
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY {_IVF_COS.format(a="qv", b="e")} DESC,
                                  neighbor_id) AS rank
    FROM ({src})
  """

    tomb = f"(a.vec_id % {TS_MOD} = {TS_RES})"
    return (
        "WITH"
        + _IVF_ASSIGN_CTE
        + f""",
  q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
        WHERE vec_id >= {IVF_QUERY_LO} AND vec_id < {IVF_QUERY_HI}),
  qprobe AS (
    SELECT query_id, qv, cid AS centroid_id FROM (
      SELECT q.query_id, q.qv, cent.cid,
        row_number() OVER (PARTITION BY q.query_id
                           ORDER BY {_IVF_COS.format(a="q.qv", b="cent.cv")} DESC,
                                    cent.cid) AS rn
      FROM q, cent
    ) WHERE rn <= {IVF_NPROBE}
  ),
  un_ranked AS ({ranked(cand(""))}),
  stale AS (
    SELECT query_id,
           sum((neighbor_id % {TS_MOD} = {TS_RES})::INT)::BIGINT AS n_stale
    FROM un_ranked WHERE rank <= {IVF_K} GROUP BY 1
  ),
  m_ranked AS ({ranked(cand(f" AND NOT {tomb}"))}),
  ex_ranked AS (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id) AS rank
    FROM (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             {_IVF_COS.format(a="q.qv", b="v.e")} AS cos
      FROM q JOIN v ON v.vec_id <> q.query_id
      WHERE NOT (v.vec_id % {TS_MOD} = {TS_RES})
    )
  ),
  rec AS (
    SELECT e.query_id,
           sum(CASE WHEN m.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_hit
    FROM (SELECT * FROM ex_ranked WHERE rank <= {IVF_K}) e
    LEFT JOIN (SELECT * FROM m_ranked WHERE rank <= {IVF_K}) m
      USING (query_id, neighbor_id)
    GROUP BY 1
  )
SELECT r.query_id, s.n_stale, r.n_hit,
  {sql_round(f"r.n_hit::DOUBLE / CAST({IVF_K} AS DOUBLE)", 6)} AS recall
FROM rec r JOIN stale s USING (query_id)
"""
    )


_IVF_STALENESS_SQL = (
    "WITH"
    + _IVF_ASSIGN_CTE
    + f""",
  a0 AS (
    SELECT vec_id, cid AS c0, cos AS cos0 FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, cid) AS rn
      FROM scored) WHERE rn = 1
  ),
  texpl AS (
    SELECT centroid_id,
      unnest(list_transform(range(1, 65), i -> {{'dim': i - 1, 'v': e[i]}})) AS u
    FROM assigned
  ),
  tmeans AS (
    SELECT centroid_id, CAST(u['dim'] AS INT) AS dim,
      {sql_round("avg(u['v'])", 6)} AS c
    FROM texpl GROUP BY 1, 2
  ),
  cent1 AS (
    SELECT centroid_id AS cid, list(c ORDER BY dim) AS cv FROM tmeans GROUP BY 1
  ),
  scored1 AS (
    SELECT v.vec_id, cent1.cid,
      {_IVF_COS.format(a="v.e", b="cent1.cv")} AS cos
    FROM v, cent1
  ),
  a1 AS (
    SELECT vec_id, cid AS c1, cos AS cos1 FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, cid) AS rn
      FROM scored1) WHERE rn = 1
  )
SELECT count(*)::BIGINT AS n_vecs,
  sum((c0 <> c1)::INT)::BIGINT AS n_reassigned,
  {sql_round("sum((c0 <> c1)::INT)::DOUBLE / count(*)::DOUBLE", 6)}
    AS reassign_rate,
  sum((cos1 > cos0)::INT)::BIGINT AS n_cos_improved
FROM a0 JOIN a1 USING (vec_id)
"""
)

_IVF_TOPK_SQL = (
    "WITH"
    + _IVF_ASSIGN_CTE
    + f""",
  q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
        WHERE vec_id >= {IVF_QUERY_LO} AND vec_id < {IVF_QUERY_HI}),
  qprobe AS (
    SELECT query_id, qv, cid AS centroid_id FROM (
      SELECT q.query_id, q.qv, cent.cid,
        {_IVF_COS.format(a="q.qv", b="cent.cv")} AS qcos,
        row_number() OVER (PARTITION BY q.query_id
                           ORDER BY {_IVF_COS.format(a="q.qv", b="cent.cv")} DESC,
                                    cent.cid) AS rn
      FROM q, cent
    ) WHERE rn <= {IVF_NPROBE}
  ),
  cand AS (
    SELECT qprobe.query_id, qprobe.qv, assigned.vec_id AS neighbor_id, assigned.e
    FROM qprobe JOIN assigned USING (centroid_id)
    WHERE qprobe.query_id <> assigned.vec_id
  ),
  ranked AS (
    SELECT query_id, neighbor_id,
      {_IVF_COS.format(a="qv", b="e")} AS cos_raw,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY {_IVF_COS.format(a="qv", b="e")} DESC,
                                  neighbor_id) AS rank
    FROM cand
  )
SELECT query_id, neighbor_id, {sql_round("cos_raw", 6)} AS cosine, rank
FROM ranked WHERE rank <= {IVF_K}
"""
)

def _ivf_filtered_ctes(
    meta_sql: str, p: str, nprobe: int = IVF_NPROBE
) -> str:
    """Filtered-IVF CTE chain with prefix ``p`` so two selectivities
    (or two nprobe stages) can share one WITH block: assignment
    carries the metadata column, the candidate join requires
    meta = want (pre-filter), and the exact ground truth joins the
    raw corpus on the same predicate."""
    return f"""
  {p}v AS (SELECT vec_id, embedding::DOUBLE[] AS e, {meta_sql} AS meta
           FROM embeddings),
  {p}sc AS (
    SELECT v.vec_id, v.e, v.meta, cent.cid,
      {_IVF_COS.format(a="v.e", b="cent.cv")} AS cos
    FROM {p}v v, cent
  ),
  {p}assigned AS (
    SELECT vec_id, e, meta, cid AS centroid_id FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, cid) AS rn
      FROM {p}sc
    ) WHERE rn = 1
  ),
  {p}q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                  {meta_sql} AS want
           FROM embeddings
           WHERE vec_id >= {IVF_QUERY_LO} AND vec_id < {IVF_QUERY_HI}),
  {p}qprobe AS (
    SELECT query_id, qv, want, cid AS centroid_id FROM (
      SELECT q.query_id, q.qv, q.want, cent.cid,
        row_number() OVER (PARTITION BY q.query_id
                           ORDER BY {_IVF_COS.format(a="q.qv", b="cent.cv")} DESC,
                                    cent.cid) AS rn
      FROM {p}q q, cent
    ) WHERE rn <= {nprobe}
  ),
  {p}cand AS (
    SELECT p.query_id, p.qv, a.vec_id AS neighbor_id, a.e
    FROM {p}qprobe p JOIN {p}assigned a
      ON p.centroid_id = a.centroid_id AND a.meta = p.want
    WHERE p.query_id <> a.vec_id
  ),
  {p}ranked AS (
    SELECT query_id, neighbor_id,
      {_IVF_COS.format(a="qv", b="e")} AS cos_raw,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY {_IVF_COS.format(a="qv", b="e")} DESC,
                                  neighbor_id) AS rank
    FROM {p}cand
  )
"""


_IVF_FILTERED_TOPK_SQL = (
    "WITH cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv"
    f" FROM embeddings WHERE vec_id < {IVF_NCENTROIDS}),"
    + _ivf_filtered_ctes("label::BIGINT", "f_")
    + f"""
SELECT query_id, neighbor_id, {sql_round("cos_raw", 6)} AS cosine, rank
FROM f_ranked WHERE rank <= {IVF_K}
"""
)


def _ivf_filtered_eval_block(p: str, sel: str) -> str:
    recall = sql_round(
        "CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)"
        " AS DOUBLE) / CAST(count(*) AS DOUBLE)",
        6,
    )
    return f"""
SELECT '{sel}' AS sel, e.query_id, count(*)::BIGINT AS n_true,
  sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
  {recall} AS recall
FROM (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, v.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY q.query_id
                         ORDER BY {_IVF_COS.format(a="q.qv", b="v.e")} DESC,
                                  v.vec_id) AS rank
    FROM {p}q q JOIN {p}v v ON v.meta = q.want
    WHERE q.query_id <> v.vec_id
  ) WHERE rank <= {IVF_K}
) e
LEFT JOIN (SELECT query_id, neighbor_id FROM {p}ranked
           WHERE rank <= {IVF_K}) a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


_IVF_FILTERED_EVAL_SQL = (
    "WITH cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv"
    f" FROM embeddings WHERE vec_id < {IVF_NCENTROIDS}),"
    + _ivf_filtered_ctes("label::BIGINT", "l_")
    + ","
    + _ivf_filtered_ctes("(label % 2)::BIGINT", "y_")
    + _ivf_filtered_eval_block("l_", "label")
    + " UNION ALL "
    + _ivf_filtered_eval_block("y_", "parity")
)


def _ivf_cost_block(p: str, sel: str) -> str:
    pre = "sum(CASE WHEN u.meta = u.want THEN 1 ELSE 0 END)"
    return f"""
SELECT '{sel}' AS sel,
  count(DISTINCT u.query_id)::BIGINT AS n_queries,
  count(*)::BIGINT AS n_scored_unfiltered,
  {pre}::BIGINT AS n_scored_prefilter,
  {sql_round(f"CAST({pre} AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)}
    AS scored_ratio
FROM (
  SELECT pr.query_id, pr.want, a.meta
  FROM {p}qprobe pr JOIN {p}assigned a ON pr.centroid_id = a.centroid_id
  WHERE pr.query_id <> a.vec_id
) u
"""


_IVF_COST_SQL = (
    "WITH cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv"
    f" FROM embeddings WHERE vec_id < {IVF_NCENTROIDS}),"
    + _ivf_filtered_ctes("label::BIGINT", "l_")
    + ","
    + _ivf_filtered_ctes("(label % 2)::BIGINT", "y_")
    + _ivf_cost_block("l_", "label")
    + " UNION ALL "
    + _ivf_cost_block("y_", "parity")
)


_AD_META_SQL = f"(label::BIGINT * {AD_MOD} + vec_id % {AD_MOD})::BIGINT"

_IVF_ADAPTIVE_SQL = (
    "WITH cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv"
    f" FROM embeddings WHERE vec_id < {IVF_NCENTROIDS}),"
    + _ivf_filtered_ctes(_AD_META_SQL, "a_", nprobe=AD_NP1)
    + ","
    + _ivf_filtered_ctes(_AD_META_SQL, "b_", nprobe=AD_NP2)
    + f""",
filled AS (
  SELECT query_id FROM a_ranked WHERE rank <= {IVF_K}
  GROUP BY query_id HAVING count(*) >= {IVF_K}
)
SELECT r.query_id, r.neighbor_id, {sql_round("r.cos_raw", 6)} AS cosine,
       r.rank, FALSE AS escalated
FROM a_ranked r JOIN filled f ON f.query_id = r.query_id
WHERE r.rank <= {IVF_K}
UNION ALL
SELECT r.query_id, r.neighbor_id, {sql_round("r.cos_raw", 6)} AS cosine,
       r.rank, TRUE AS escalated
FROM b_ranked r
WHERE r.rank <= {IVF_K}
  AND r.query_id NOT IN (SELECT query_id FROM filled)
"""
)


def _ivf_prepost_ctes(p: str) -> str:
    """Adds to the prefixed filtered chain: unfiltered probe ranking
    (post-filter strategy input), the pre/post result sets at k, and
    the exact filtered ground truth."""
    return f"""
  {p}ucand AS (
    SELECT pr.query_id, pr.qv, pr.want, a.vec_id AS neighbor_id, a.e, a.meta
    FROM {p}qprobe pr JOIN {p}assigned a ON pr.centroid_id = a.centroid_id
    WHERE pr.query_id <> a.vec_id
  ),
  {p}uranked AS (
    SELECT query_id, neighbor_id, meta, want,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY {_IVF_COS.format(a="qv", b="e")} DESC,
                                  neighbor_id) AS rank
    FROM {p}ucand
  ),
  {p}post AS (SELECT query_id, neighbor_id FROM {p}uranked
              WHERE rank <= {IVF_K} AND meta = want),
  {p}pre AS (SELECT query_id, neighbor_id FROM {p}ranked
             WHERE rank <= {IVF_K}),
  {p}exact AS (
    SELECT query_id, neighbor_id FROM (
      SELECT q.query_id, v.vec_id AS neighbor_id,
        row_number() OVER (PARTITION BY q.query_id
                           ORDER BY {_IVF_COS.format(a="q.qv", b="v.e")} DESC,
                                    v.vec_id) AS rank
      FROM {p}q q JOIN {p}v v ON v.meta = q.want
      WHERE q.query_id <> v.vec_id
    ) WHERE rank <= {IVF_K}
  )
"""


def _ivf_prepost_block(p: str, sel: str, strategy: str) -> str:
    tbl = f"{p}{strategy}"
    recall = sql_round(
        "CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)"
        " AS DOUBLE) / CAST(count(*) AS DOUBLE)",
        6,
    )
    return f"""
SELECT '{sel}' AS sel, '{strategy}' AS strategy,
  count(DISTINCT e.query_id)::BIGINT AS n_queries,
  count(*)::BIGINT AS n_true,
  sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
  {recall} AS recall_micro,
  (SELECT count(*) FROM {tbl})::BIGINT AS n_returned
FROM {p}exact e LEFT JOIN {tbl} a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
"""


_IVF_PREPOST_SQL = (
    "WITH cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv"
    f" FROM embeddings WHERE vec_id < {IVF_NCENTROIDS}),"
    + _ivf_filtered_ctes("label::BIGINT", "l_")
    + ","
    + _ivf_prepost_ctes("l_")
    + ","
    + _ivf_filtered_ctes("(label % 2)::BIGINT", "y_")
    + ","
    + _ivf_prepost_ctes("y_")
    + _ivf_prepost_block("l_", "label", "pre")
    + " UNION ALL "
    + _ivf_prepost_block("l_", "label", "post")
    + " UNION ALL "
    + _ivf_prepost_block("y_", "parity", "pre")
    + " UNION ALL "
    + _ivf_prepost_block("y_", "parity", "post")
)


def _ivf_ndcg_sql() -> str:
    return (
        "WITH"
        + _IVF_ASSIGN_CTE
        + f""",
  q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
        WHERE vec_id >= {IVF_QUERY_LO} AND vec_id < {IVF_QUERY_HI}),
  qprobe AS (
    SELECT query_id, qv, cid AS centroid_id FROM (
      SELECT q.query_id, q.qv, cent.cid,
        row_number() OVER (PARTITION BY q.query_id
                           ORDER BY {_IVF_COS.format(a="q.qv", b="cent.cv")} DESC,
                                    cent.cid) AS rn
      FROM q, cent
    ) WHERE rn <= {IVF_NPROBE}
  ),
  cand AS (
    SELECT qprobe.query_id, qprobe.qv, assigned.vec_id AS neighbor_id,
           assigned.e
    FROM qprobe JOIN assigned USING (centroid_id)
    WHERE qprobe.query_id <> assigned.vec_id
  ),
  approx AS (
    SELECT query_id, neighbor_id, rank FROM (
      SELECT query_id, neighbor_id,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY {_IVF_COS.format(a="qv", b="e")} DESC,
                                    neighbor_id) AS rank
      FROM cand
    ) WHERE rank <= {IVF_K}
  ),
  exact AS (
    SELECT query_id, neighbor_id, rank AS exact_rank FROM (
      SELECT q.query_id, v.vec_id AS neighbor_id,
        row_number() OVER (PARTITION BY q.query_id
                           ORDER BY {_IVF_COS.format(a="q.qv", b="v.e")} DESC,
                                    v.vec_id) AS rank
      FROM q, v WHERE q.query_id <> v.vec_id
    ) WHERE rank <= {IVF_K}
  ),
  terms AS (
    SELECT a.query_id, a.rank::BIGINT AS rank,
           coalesce({IVF_K + 1} - e.exact_rank, 0)::BIGINT AS rel
    FROM approx a LEFT JOIN exact e USING (query_id, neighbor_id)
  ),
  per AS (
    SELECT query_id, count(*)::BIGINT AS n_results,
           list(struct_pack(rank := rank, rel := rel) ORDER BY rank) AS ts
    FROM terms GROUP BY 1
  )
SELECT query_id, n_results,
  {sql_round(_NDCG_FOLD, 6)} AS dcg,
  {sql_round(f"({_NDCG_FOLD}) / ({_IDCG_FOLD})", 6)} AS ndcg
FROM per
"""
    )


def _ivf_recall_sql() -> str:
    return (
        "WITH"
        + _IVF_ASSIGN_CTE
        + f""",
  q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
        WHERE vec_id >= {IVF_QUERY_LO} AND vec_id < {IVF_QUERY_HI}),
  qprobe AS (
    SELECT query_id, qv, cid AS centroid_id FROM (
      SELECT q.query_id, q.qv, cent.cid,
        row_number() OVER (PARTITION BY q.query_id
                           ORDER BY {_IVF_COS.format(a="q.qv", b="cent.cv")} DESC,
                                    cent.cid) AS rn
      FROM q, cent
    ) WHERE rn <= {IVF_NPROBE}
  ),
  cand AS (
    SELECT qprobe.query_id, qprobe.qv, assigned.vec_id AS neighbor_id,
           assigned.e
    FROM qprobe JOIN assigned USING (centroid_id)
    WHERE qprobe.query_id <> assigned.vec_id
  ),
  approx AS (
    SELECT query_id, neighbor_id FROM (
      SELECT query_id, neighbor_id,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY {_IVF_COS.format(a="qv", b="e")} DESC,
                                    neighbor_id) AS rank
      FROM cand
    ) WHERE rank <= {IVF_K}
  ),
  exact AS (
    SELECT query_id, neighbor_id FROM (
      SELECT q.query_id, v.vec_id AS neighbor_id,
        row_number() OVER (PARTITION BY q.query_id
                           ORDER BY {_IVF_COS.format(a="q.qv", b="v.e")} DESC,
                                    v.vec_id) AS rank
      FROM q, v WHERE q.query_id <> v.vec_id
    ) WHERE rank <= {IVF_K}
  )
SELECT e.query_id,
  sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
  {sql_round(
      "sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / "
      + str(float(IVF_K)), 6)} AS recall
FROM exact e LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""
    )


_IVF_TRAINED_SQL = (
    "WITH"
    + _IVF_ASSIGN_CTE
    + f""",
  expl AS (
    SELECT centroid_id,
      unnest(list_transform(range(1, 65), i -> {{'dim': i - 1, 'v': e[i]}})) AS u
    FROM assigned
  ),
  means AS (
    SELECT centroid_id, CAST(u['dim'] AS INT) AS dim,
      {sql_round("avg(u['v'])", 6)} AS c
    FROM expl GROUP BY 1, 2
  ),
  cent2 AS (
    SELECT centroid_id AS cid, list(c ORDER BY dim) AS cv
    FROM means GROUP BY 1
  ),
  assigned2 AS (
    SELECT vec_id, cid AS centroid_id, e FROM (
      SELECT v.vec_id, v.e, cent2.cid,
        row_number() OVER (PARTITION BY v.vec_id
                           ORDER BY {_IVF_COS.format(a="v.e", b="cent2.cv")} DESC,
                                    cent2.cid) AS rn
      FROM v, cent2
    ) WHERE rn = 1
  ),
  q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
        WHERE vec_id >= {IVF_QUERY_LO} AND vec_id < {IVF_QUERY_HI}),
  qprobe AS (
    SELECT query_id, qv, cid AS centroid_id FROM (
      SELECT q.query_id, q.qv, cent2.cid,
        row_number() OVER (PARTITION BY q.query_id
                           ORDER BY {_IVF_COS.format(a="q.qv", b="cent2.cv")} DESC,
                                    cent2.cid) AS rn
      FROM q, cent2
    ) WHERE rn <= {IVF_NPROBE}
  ),
  cand AS (
    SELECT qprobe.query_id, qprobe.qv, assigned2.vec_id AS neighbor_id,
           assigned2.e
    FROM qprobe JOIN assigned2 USING (centroid_id)
    WHERE qprobe.query_id <> assigned2.vec_id
  ),
  ranked AS (
    SELECT query_id, neighbor_id,
      {_IVF_COS.format(a="qv", b="e")} AS cos_raw,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY {_IVF_COS.format(a="qv", b="e")} DESC,
                                  neighbor_id) AS rank
    FROM cand
  )
SELECT query_id, neighbor_id, {sql_round("cos_raw", 6)} AS cosine, rank
FROM ranked WHERE rank <= {IVF_K}
"""
)

IVF_NPROBE_GRID = (1, 2, 4)


def ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF capacity curve: mean recall@{IVF_K} at nprobe = 1, 2, 4
    in ONE pass (operators/similarity.ivf_topk_curve — candidates
    generated once at the deepest probe, shallower depths are a
    probe-rank filter). This is the table an operator reads to PICK an
    nprobe (recall gained per extra list probed) instead of guessing —
    the ANN twin of minhash_threshold_sweep. Recall divides exact
    integer hit counts by the constant {IVF_K}*|queries|."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(F.col("vec_id") < IVF_NCENTROIDS)
    queries = emb.filter(
        (F.col("vec_id") >= IVF_QUERY_LO) & (F.col("vec_id") < IVF_QUERY_HI)
    )
    approx = similarity.ivf_topk_curve(
        emb, queries, cent, k=IVF_K, nprobes=IVF_NPROBE_GRID
    ).select("nprobe", "query_id", "neighbor_id")
    exact = similarity.cosine_topk(emb, queries, k=IVF_K).select(
        "query_id", "neighbor_id"
    )
    hits = approx.join(
        F.broadcast(exact), ["query_id", "neighbor_id"], "left_semi"
    )
    nq = IVF_QUERY_HI - IVF_QUERY_LO
    grid = spark.createDataFrame(
        [(int(p),) for p in IVF_NPROBE_GRID], "nprobe long"
    )
    counted = hits.groupBy("nprobe").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        grid.join(counted, "nprobe", "left")
        .select(
            "nprobe",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            round_to(
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.lit(float(IVF_K * nq)),
                6,
            ).alias("recall"),
        )
    )


def _ivf_nprobe_curve_sql() -> str:
    pmax = max(IVF_NPROBE_GRID)
    nq = IVF_QUERY_HI - IVF_QUERY_LO
    branches = []
    for p in IVF_NPROBE_GRID:
        branches.append(
            f"""
  approx_{p} AS (
    SELECT query_id, neighbor_id FROM (
      SELECT query_id, neighbor_id,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY {_IVF_COS.format(a="qv", b="e")} DESC,
                                    neighbor_id) AS rank
      FROM cand WHERE probe_rank <= {p}
    ) WHERE rank <= {IVF_K}
  ),
  r_{p} AS (
    SELECT {p}::BIGINT AS nprobe, count(*)::BIGINT AS n_hit
    FROM exact e JOIN approx_{p} a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  )"""
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT nprobe, n_hit,"
        f" {sql_round(f'n_hit::DOUBLE / {float(IVF_K * nq)}', 6)} AS recall"
        f" FROM r_{p}"
        for p in IVF_NPROBE_GRID
    )
    return (
        "WITH"
        + _IVF_ASSIGN_CTE
        + f""",
  q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
        WHERE vec_id >= {IVF_QUERY_LO} AND vec_id < {IVF_QUERY_HI}),
  qprobe AS (
    SELECT query_id, qv, cid AS centroid_id, rn AS probe_rank FROM (
      SELECT q.query_id, q.qv, cent.cid,
        row_number() OVER (PARTITION BY q.query_id
                           ORDER BY {_IVF_COS.format(a="q.qv", b="cent.cv")} DESC,
                                    cent.cid) AS rn
      FROM q, cent
    ) WHERE rn <= {pmax}
  ),
  cand AS (
    SELECT qprobe.query_id, qprobe.qv, qprobe.probe_rank,
           assigned.vec_id AS neighbor_id, assigned.e
    FROM qprobe JOIN assigned USING (centroid_id)
    WHERE qprobe.query_id <> assigned.vec_id
  ),
  exact AS (
    SELECT query_id, neighbor_id FROM (
      SELECT q.query_id, v.vec_id AS neighbor_id,
        row_number() OVER (PARTITION BY q.query_id
                           ORDER BY {_IVF_COS.format(a="q.qv", b="v.e")} DESC,
                                    v.vec_id) AS rank
      FROM q, v WHERE q.query_id <> v.vec_id
    ) WHERE rank <= {IVF_K}
  ),{",".join(branches)}
{unions}
"""
    )


QUERIES = {
    "ivf_nprobe_curve": ivf_nprobe_curve,
    "events_json_stats": events_json_stats,
    "ivf_trained_topk": ivf_trained_topk,
    "ivf_list_stats": ivf_list_stats,
    "ivf_tombstone_compact": ivf_tombstone_compact,
    "ivf_tombstone_probe_eval": ivf_tombstone_probe_eval,
    "embedding_knn_graph": embedding_knn_graph,
    "knn_graph_stats": knn_graph_stats,
    "embedding_snn_clusters": embedding_snn_clusters,
    "snn_quality_eval": snn_quality_eval,
    "knn_graph_recall_eval": knn_graph_recall_eval,
    "ivf_silhouette_histogram": ivf_silhouette_histogram,
    "ivf_staleness_eval": ivf_staleness_eval,
    "window_lag_delta": window_lag_delta,
    "window_ntile_orders": window_ntile_orders,
    "agg_quartiles_orders": agg_quartiles_orders,
    "percentiles_by_type": percentiles_by_type,
    "approx_percentiles_by_type": approx_percentiles_by_type,
    "profile_orders": profile_orders,
    "snapshot_drift_report": snapshot_drift_report,
    "orders_expectations": orders_expectations,
    "sql_recursive_hierarchy": sql_recursive_hierarchy,
    "agg_salted_revenue": agg_salted_revenue,
    "salted_join_revenue": salted_join_revenue,
    "approx_distinct_stats": approx_distinct_stats,
    "array_agg_lineitems": array_agg_lineitems,
    "cube_orders": cube_orders,
    "top_terms": top_terms,
    "tfidf_top_terms": tfidf_top_terms,
    "string_functions": string_functions,
    "collection_functions": collection_functions,
    "map_functions": map_functions,
    "date_functions": date_functions,
    "ivf_assignments": ivf_assignments,
    "ivf_topk": ivf_topk,
    "ivf_recall_eval": ivf_recall_eval,
    "ivf_filtered_topk": ivf_filtered_topk,
    "ivf_filtered_recall_eval": ivf_filtered_recall_eval,
    "ivf_filtered_cost_eval": ivf_filtered_cost_eval,
    "ivf_prefilter_vs_postfilter_eval": ivf_prefilter_vs_postfilter_eval,
    "ivf_filtered_adaptive_topk": ivf_filtered_adaptive_topk,
    "ivf_ndcg_eval": ivf_ndcg_eval,
    "kmeans_update_centroids": kmeans_update_centroids,
    "kmeans_two_step": kmeans_two_step,
    "events_variant_stats": events_variant_stats,
}

ORACLES = {
    "events_json_stats": _EVENTS_JSON_SQL,
    "window_lag_delta": _LAG_SQL,
    "window_ntile_orders": _NTILE_SQL,
    # scale twin shares the ntile oracle: both strategies must produce
    # the identical assignment or the driver hash fails
    "agg_quartiles_orders": _NTILE_SQL,
    "percentiles_by_type": _PCT_SQL,
    # tolerance contract: exact percentiles + literal true — an
    # out-of-bounds sketch estimate breaks the hash compare
    "approx_percentiles_by_type": f"""
        SELECT event_type,
          {sql_round("quantile_cont(value, 0.5)", 6)} AS p50,
          {sql_round("quantile_cont(value, 0.9)", 6)} AS p90,
          true AS approx_p50_ok,
          true AS approx_p90_ok
        FROM events GROUP BY event_type
    """,
    "profile_orders": _PROFILE_SQL,
    "snapshot_drift_report": _drift_sql(),
    "salted_join_revenue": _SALTED_JOIN_SQL,
    "ivf_trained_topk": _IVF_TRAINED_SQL,
    "ivf_list_stats": _IVF_LIST_STATS_SQL,
    "ivf_tombstone_compact": _IVF_TOMBSTONE_COMPACT_SQL,
    "ivf_tombstone_probe_eval": _ivf_tombstone_eval_sql(),
    "embedding_knn_graph": _KNN_GRAPH_SQL,
    "knn_graph_stats": _KNN_STATS_SQL,
    "embedding_snn_clusters": _SNN_CLUSTERS_SQL,
    "snn_quality_eval": _snn_quality_sql(),
    "knn_graph_recall_eval": _knn_recall_eval_sql(),
    "ivf_silhouette_histogram": _ivf_silhouette_sql(),
    "ivf_staleness_eval": _IVF_STALENESS_SQL,
    "orders_expectations": _expectations_sql(),
    "sql_recursive_hierarchy": _RECURSIVE_SQL,
    "agg_salted_revenue": """
        SELECT o_orderstatus,
          sum(floor(o_totalprice * 100.0 + 0.5)::BIGINT)::DOUBLE / 100.0 AS revenue,
          count(*) AS n
        FROM orders GROUP BY o_orderstatus
    """,
    # tolerance contract: exact values + literal true; the Spark side
    # computes the booleans from its own sketches vs the same exact
    # aggregates, so an out-of-bounds sketch breaks the hash compare
    "approx_distinct_stats": """
        SELECT l_returnflag,
          count(DISTINCT l_partkey) AS n_parts,
          count(*) AS n,
          true AS approx_parts_ok,
          true AS approx_median_ok
        FROM lineitem GROUP BY l_returnflag
    """,
    "array_agg_lineitems": """
        SELECT l_orderkey,
          array_to_string(list_sort(list(l_quantity::VARCHAR)), ',') AS quantities,
          count(*) AS n_lines
        FROM lineitem GROUP BY l_orderkey
    """,
    "cube_orders": _CUBE_SQL,
    "top_terms": _TOP_TERMS_SQL,
    "tfidf_top_terms": _TFIDF_SQL,
    "collection_functions": _COLLECTION_SQL,
    "map_functions": _MAP_SQL,
    "string_functions": """
        SELECT p_partkey,
          upper(p_name) AS up,
          lpad(p_name, 12, '*') AS padded,
          substr(p_name, 2, 5) AS mid,
          translate(p_name, 'ae', '43') AS leet,
          reverse(p_name) AS rev,
          length(replace(p_name, ' ', '')) AS nospace_len,
          levenshtein(p_name, p_brand) AS dist_to_brand,
          concat_ws('|', p_name, p_type) AS joined
        FROM part
    """,
    "date_functions": """
        SELECT o_orderkey,
          year(CAST(o_orderdate AS DATE)) AS y,
          quarter(CAST(o_orderdate AS DATE)) AS q,
          month(CAST(o_orderdate AS DATE)) AS m,
          day(CAST(o_orderdate AS DATE)) AS dom,
          dayofyear(CAST(o_orderdate AS DATE)) AS doy,
          week(CAST(o_orderdate AS DATE)) AS iso_week,
          CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus30,
          last_day(CAST(o_orderdate AS DATE)) AS month_end,
          datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_ref
        FROM orders
    """,
    "ivf_assignments": _IVF_ASSIGN_SQL,
    "ivf_topk": _IVF_TOPK_SQL,
    "ivf_recall_eval": _ivf_recall_sql(),
    "ivf_filtered_topk": _IVF_FILTERED_TOPK_SQL,
    "ivf_filtered_recall_eval": _IVF_FILTERED_EVAL_SQL,
    "ivf_filtered_cost_eval": _IVF_COST_SQL,
    "ivf_prefilter_vs_postfilter_eval": _IVF_PREPOST_SQL,
    "ivf_filtered_adaptive_topk": _IVF_ADAPTIVE_SQL,
    "ivf_nprobe_curve": _ivf_nprobe_curve_sql(),
    "ivf_ndcg_eval": _ivf_ndcg_sql(),
    "kmeans_update_centroids": _KMEANS_SQL,
    "kmeans_two_step": _KMEANS2_SQL,
    # same oracle as the JSON-path twin — both decode paths must agree
    "events_variant_stats": _EVENTS_JSON_SQL,
}
