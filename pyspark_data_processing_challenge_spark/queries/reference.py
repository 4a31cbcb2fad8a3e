"""Reference-operator queries (SURVEY.md §2.2/§2.3, R1-R11 + Q1-Q3).

Each reference operator re-expressed over the driver's synthetic tables
(the reference's own table doesn't exist in testdata; ``lineitem`` plays
the role of the deliveries table — SURVEY.md §7.2). Every query has a
DuckDB oracle with identical column names and engine-portable arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dedup_ops
from ..operators import quality, relational
from ._util import sql_round, t

# Shared flagship parameters (ship-date window + returnflag sets play the
# reference's date-range / delivery-type roles; linestatus 'F' plays the
# convertible unit 'CS' with factor 20 — reference config.yaml:95-108).
DATE_LO, DATE_HI = "1995-01-01", "1996-12-31"
FLAG_SETS = {"flag_a": ("A",), "flag_r": ("R",)}
FACTOR = 20.0


def _flagship_filters(df: DataFrame) -> DataFrame:
    """R2+R3+R5: date cast, range filter, membership filter."""
    df = df.withColumn("ship_date", F.to_date("l_shipdate"))  # R2
    df = relational.filter_date_range(df, "ship_date", DATE_LO, DATE_HI)  # R3
    return relational.filter_membership(df, "l_returnflag", [("A",), ("R",)])  # R5


def _flagship_tail(df: DataFrame) -> DataFrame:
    """R6–R10: everything in the flagship after dedup + filters."""
    df = relational.with_indicators(df, "l_returnflag", FLAG_SETS)  # R6
    df = relational.fill_nulls(  # R7 (no-op on this data; plan parity)
        df,
        text_value="NOT INFO",
        text_cols=("l_returnflag",),
        numeric_value=0.0,
        numeric_cols=("l_extendedprice",),
    )
    df = relational.standardize_units(  # R8
        df,
        qty_col="l_quantity",
        price_col="l_extendedprice",
        unit_col="l_linestatus",
        from_unit="F",
        factor=FACTOR,
        to_unit="ST",
        qty_out="qty_std",
        price_out="price_std",
        unit_out="unit_std",
    )
    df = relational.with_total(df, "total_std", "qty_std", "price_std")  # R9
    return relational.rename_and_order(  # R10
        df,
        {
            "l_quantity": "qty_origin",
            "l_extendedprice": "price_origin",
            "l_linestatus": "unit_origin",
        },
        [
            "l_orderkey",
            "l_linenumber",
            "ship_date",
            "flag_a",
            "flag_r",
            "qty_origin",
            "price_origin",
            "unit_origin",
            "qty_std",
            "price_std",
            "unit_std",
            "total_std",
        ],
    )


def ref_flagship_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full transform chain (data_process.py:235-265) on
    lineitem: dedup → date cast+filter → membership filter → indicators
    → null fill → unit standardization → total → rename/reorder.

    R1 here is the reference's all-column ``dropDuplicates`` — kept
    bug-compatible for golden parity, but it hash-aggregates on every
    column of the wide row; ``ref_flagship_pipeline_keyed`` is the
    scale path.
    """
    li = t(spark, sf_dir, "lineitem")
    df = relational.dedup(li)  # R1 (all-column, reference order)
    return _flagship_tail(_flagship_filters(df))


def ref_flagship_pipeline_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe flagship twin — identical results to
    ``ref_flagship_pipeline`` (same oracle), restructured for scale:

    - filters run BEFORE dedup (legal: whole-row dedup commutes with
      deterministic row-level predicates), so the date/flag predicates
      reach the parquet scan and only surviving rows shuffle — this is
      the dominant measured win (≈2× at sf0.1) and grows with filter
      selectivity at scale;
    - R1 is operators/dedup.drop_duplicate_rows' default whole-row
      form: one keys-only hash aggregate over the filtered rows (its
      fingerprint-keyed forms serve the narrow-shuffle and incremental
      paths).
    """
    li = t(spark, sf_dir, "lineitem")
    df = _flagship_filters(li)
    df = dedup_ops.drop_duplicate_rows(df)  # R1
    return _flagship_tail(df)


_FLAGSHIP_SQL = f"""
WITH dd AS (SELECT DISTINCT * FROM lineitem),
flt AS (
  SELECT *, CAST(l_shipdate AS DATE) AS ship_date FROM dd
  WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '{DATE_LO}' AND DATE '{DATE_HI}'
    AND upper(l_returnflag) IN ('A', 'R')
),
ind AS (
  SELECT l_orderkey, l_linenumber, ship_date,
    CASE WHEN upper(l_returnflag) IN ('A') THEN 1 ELSE 0 END AS flag_a,
    CASE WHEN upper(l_returnflag) IN ('R') THEN 1 ELSE 0 END AS flag_r,
    l_quantity AS qty_origin,
    l_extendedprice AS price_origin,
    l_linestatus AS unit_origin,
    CASE WHEN upper(l_linestatus) = 'F' THEN l_quantity * {FACTOR}
         ELSE l_quantity END AS qty_std
  FROM flt
),
std AS (
  SELECT *,
    CASE WHEN upper(unit_origin) = 'F'
         THEN {sql_round("price_origin / qty_std", 2)}
         ELSE price_origin END AS price_std,
    'ST' AS unit_std
  FROM ind
)
SELECT l_orderkey, l_linenumber, ship_date, flag_a, flag_r,
       qty_origin, price_origin, unit_origin,
       qty_std, price_std, unit_std,
       qty_std * price_std AS total_std
FROM std
"""


def op_dedup_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 with an explicit key subset — the scale-correct form."""
    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus")
    return relational.dedup(li)


def op_date_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2+R3: date cast + inclusive range filter."""
    li = t(spark, sf_dir, "lineitem").withColumn(
        "ship_date", F.to_date("l_shipdate")
    )
    out = relational.filter_date_range(li, "ship_date", DATE_LO, DATE_HI)
    return out.select("l_orderkey", "l_linenumber", "ship_date")


def op_equality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 with a real (non-sentinel) value — case-sensitive equality."""
    c = t(spark, sf_dir, "customer")
    out = relational.filter_equality(c, "c_mktsegment", "BUILDING")
    return out.select("c_custkey", "c_mktsegment")


def op_sentinel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 sentinel pass-through: value TODOS (any case) disables the filter."""
    n = t(spark, sf_dir, "nation")
    out = relational.filter_equality(n, "n_name", "todos")
    return out.select("n_nationkey", "n_name")


def op_membership_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5, idiomatic single-scan form over the union of condition sets."""
    o = t(spark, sf_dir, "orders")
    out = relational.filter_membership(
        o, "o_orderpriority", [("1-URGENT", "2-HIGH"), ("3-MEDIUM",)]
    )
    return out.select("o_orderkey", "o_orderpriority")


def op_union_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 bug-compatible union semantics: overlapping condition sets
    DUPLICATE matching rows (reference data_process.py:128-134)."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return relational.filter_membership(
        o,
        "o_orderpriority",
        [("1-URGENT", "2-HIGH"), ("2-HIGH", "3-MEDIUM")],
        union_semantics=True,
    )


def op_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6: 0/1 indicator columns from membership conditions."""
    o = t(spark, sf_dir, "orders")
    out = relational.with_indicators(
        o,
        "o_orderpriority",
        {"is_urgent": ("1-URGENT",), "is_high": ("2-HIGH",)},
    )
    return out.select("o_orderkey", "o_orderpriority", "is_urgent", "is_high")


def op_fill_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7: typed null fill. Testdata has no nulls, so nulls are derived
    first (nullif) — exercised identically in the oracle."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("rflag"),
        F.nullif(F.col("l_tax"), F.lit(0.0)).alias("tax"),
    )
    return relational.fill_nulls(
        li,
        text_value="NOT INFO",
        text_cols=("rflag",),
        numeric_value=-1.0,
        numeric_cols=("tax",),
    )


def op_standardize_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8 in isolation (incl. the portable rounding + try_divide policy)."""
    li = t(spark, sf_dir, "lineitem")
    out = relational.standardize_units(
        li,
        qty_col="l_quantity",
        price_col="l_extendedprice",
        unit_col="l_linestatus",
        from_unit="F",
        factor=FACTOR,
        to_unit="ST",
        qty_out="qty_std",
        price_out="price_std",
        unit_out="unit_std",
    )
    return out.select(
        "l_orderkey", "l_linenumber", "qty_std", "price_std", "unit_std"
    )


def op_null_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 as a single-pass aggregate (vs the reference's job-per-column)."""
    li = t(spark, sf_dir, "lineitem").select(
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("rflag"),
        F.nullif(F.col("l_tax"), F.lit(0.0)).alias("tax"),
        F.col("l_orderkey").alias("okey"),
    )
    return quality.null_counts(li, ["rflag", "tax", "okey"])


QUERIES = {
    "ref_flagship_pipeline": ref_flagship_pipeline,
    "ref_flagship_pipeline_keyed": ref_flagship_pipeline_keyed,
    "op_dedup_subset": op_dedup_subset,
    "op_date_filter": op_date_filter,
    "op_equality_filter": op_equality_filter,
    "op_sentinel_filter": op_sentinel_filter,
    "op_membership_filter": op_membership_filter,
    "op_union_membership": op_union_membership,
    "op_indicators": op_indicators,
    "op_fill_nulls": op_fill_nulls,
    "op_standardize_units": op_standardize_units,
    "op_null_counts": op_null_counts,
}

ORACLES = {
    "ref_flagship_pipeline": _FLAGSHIP_SQL,
    # identical semantics (fingerprint groups hold identical rows) →
    # identical oracle
    "ref_flagship_pipeline_keyed": _FLAGSHIP_SQL,
    "op_dedup_subset": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "op_date_filter": f"""
        SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE)
              BETWEEN DATE '{DATE_LO}' AND DATE '{DATE_HI}'
    """,
    "op_equality_filter": """
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_mktsegment = 'BUILDING'
    """,
    "op_sentinel_filter": "SELECT n_nationkey, n_name FROM nation",
    "op_membership_filter": """
        SELECT o_orderkey, o_orderpriority FROM orders
        WHERE upper(o_orderpriority) IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
    """,
    "op_union_membership": """
        SELECT o_orderkey, o_orderpriority FROM orders
        WHERE upper(o_orderpriority) IN ('1-URGENT', '2-HIGH')
        UNION ALL
        SELECT o_orderkey, o_orderpriority FROM orders
        WHERE upper(o_orderpriority) IN ('2-HIGH', '3-MEDIUM')
    """,
    "op_indicators": """
        SELECT o_orderkey, o_orderpriority,
          CASE WHEN upper(o_orderpriority) IN ('1-URGENT') THEN 1 ELSE 0 END
            AS is_urgent,
          CASE WHEN upper(o_orderpriority) IN ('2-HIGH') THEN 1 ELSE 0 END
            AS is_high
        FROM orders
    """,
    "op_fill_nulls": """
        SELECT l_orderkey, l_linenumber,
          coalesce(nullif(l_returnflag, 'N'), 'NOT INFO') AS rflag,
          coalesce(nullif(l_tax, 0.0), -1.0) AS tax
        FROM lineitem
    """,
    "op_standardize_units": f"""
        SELECT l_orderkey, l_linenumber,
          CASE WHEN upper(l_linestatus) = 'F' THEN l_quantity * {FACTOR}
               ELSE l_quantity END AS qty_std,
          CASE WHEN upper(l_linestatus) = 'F'
               THEN {sql_round(f"l_extendedprice / (CASE WHEN upper(l_linestatus) = 'F' THEN l_quantity * {FACTOR} ELSE l_quantity END)", 2)}
               ELSE l_extendedprice END AS price_std,
          'ST' AS unit_std
        FROM lineitem
    """,
    "op_null_counts": """
        SELECT
          sum(CASE WHEN nullif(l_returnflag, 'N') IS NULL THEN 1 ELSE 0 END)::BIGINT AS rflag,
          sum(CASE WHEN nullif(l_tax, 0.0) IS NULL THEN 1 ELSE 0 END)::BIGINT AS tax,
          sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS okey
        FROM lineitem
    """,
}
