"""Data-quality gates — single-pass, scale-safe.

Re-expresses the reference's three gates (SURVEY.md §2.3):

- Q1 input row-count gate (reference: data_process.py:267-294) — the
  reference ran a full ``df.count()``; at 100 TB that is a complete
  extra scan just to check ">= 10 rows". Here: a LIMIT-probe that stops
  after finding ``min_rows`` rows.
- Q2 required-columns gate (reference: :283-292) — metadata only.
- Q3 output not-null gate (reference: :296-313) — the reference ran ONE
  JOB PER COLUMN; here one set of sum(isNull) expressions counts every
  column's nulls in one pass. ``pipeline.run`` hangs those expressions
  on the write itself as an ``Observation`` (the output is staged,
  gated, then published), so the gate costs no job of its own;
  ``check_no_nulls`` is the eager form for frames that are not
  written. It also names columns post-rename explicitly instead of
  leaning on analyzer missing-reference resolution.

Gates raise ``QualityError`` (or return a report) instead of the
reference's log-and-exit-0 contract (SURVEY §2.1 S7).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class QualityError(ValueError):
    """A data-quality gate failed."""


@dataclass
class QualityReport:
    passed: bool
    checks: dict[str, object] = field(default_factory=dict)


def has_min_rows(df: DataFrame, min_rows: int) -> bool:
    """True iff df has at least ``min_rows`` rows.

    ``limit(n).count()`` lets Spark stop scanning once n rows are found
    (CollectLimit short-circuits) — O(min_rows), not O(table).
    """
    if min_rows <= 0:
        return True
    return df.limit(min_rows).count() >= min_rows


def missing_columns(df: DataFrame, required: Sequence[str]) -> list[str]:
    """Required-columns check — pure metadata, no job."""
    have = set(df.columns)
    return [c for c in required if c not in have]


def null_count_exprs(cols: Sequence[str]) -> list[Column]:
    """One ``sum(isNull)`` aggregate per listed column, aliased by the
    column's name — usable in a ``select`` or an ``observe``."""
    return [F.sum(F.col(c).isNull().cast("long")).alias(c) for c in cols]


def null_counts(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """One-row DataFrame with a null-count per listed column, computed in
    a SINGLE aggregate pass (vs the reference's one filter+count job per
    column). Map-side partial aggregation makes this a near-free scan.
    """
    return df.select(null_count_exprs(cols))


def profile_table(
    df: DataFrame, cols: Sequence[str], *, approx: bool = False
) -> DataFrame:
    """Per-column profile — the first thing anyone runs on an unknown
    table: row count, null count, distinct count, min/max (as strings)
    for each listed column, computed in ONE aggregate pass and emitted
    in long format (one row per column).

    ``approx=False`` uses exact countDistinct: Spark plans an Expand
    (one pass over the scan, one buffered row per (row, column)) — fine
    for profiling runs, and oracle-checkable. ``approx=True`` swaps in
    HLL++ approx_count_distinct: no Expand, constant memory — the
    100 TB default. The long-format pivot happens on the single
    aggregated row, so it costs nothing.

    Callers pick string-portable columns (integers, strings, dates) if
    they hash-compare the output across engines — float formatting is
    engine-specific.
    """
    distinct = F.approx_count_distinct if approx else F.countDistinct
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"__{c}_rows"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__{c}_nulls"),
            distinct(c).alias(f"__{c}_distinct"),
            F.min(c).cast("string").alias(f"__{c}_min"),
            F.max(c).cast("string").alias(f"__{c}_max"),
        ]
    wide = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"__{c}_rows").alias("n_rows"),
            F.col(f"__{c}_nulls").alias("n_nulls"),
            F.col(f"__{c}_distinct").cast("long").alias("n_distinct"),
            F.col(f"__{c}_min").alias("min_str"),
            F.col(f"__{c}_max").alias("max_str"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*per_col)).alias("p")).select("p.*")


def duplicate_key_probe(
    df: DataFrame, keys: Sequence[str], *, max_report: int = 5
) -> list[tuple]:
    """Up to ``max_report`` key tuples that appear more than once —
    empty means the keys are unique. One aggregate + a LIMIT, so the
    scan stops materializing output after the first few offenders (the
    aggregate itself is the unavoidable full pass; there is no cheaper
    honest uniqueness check).

    This is the precondition ``cdc.merge_upsert`` documents (duplicate
    source keys make MERGE ambiguous; Delta raises at runtime) — run it
    on the change set before merging.
    """
    rows = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(max_report)
        .collect()
    )
    return [tuple(r[k] for k in keys) for r in rows]


def check_unique_keys(df: DataFrame, keys: Sequence[str]) -> QualityReport:
    """Uniqueness gate. Raises QualityError naming sample offenders."""
    dupes = duplicate_key_probe(df, keys)
    if dupes:
        raise QualityError(f"duplicate keys on {list(keys)}: sample {dupes}")
    return QualityReport(True, {"unique_on": list(keys)})


def check_input(
    df: DataFrame, *, min_rows: int = 0, required_columns: Sequence[str] = ()
) -> QualityReport:
    """Input gate = Q1 + Q2. Raises QualityError on failure."""
    missing = missing_columns(df, required_columns)
    if missing:
        raise QualityError(f"missing required columns: {missing}")
    if not has_min_rows(df, min_rows):
        raise QualityError(f"fewer than {min_rows} input rows")
    return QualityReport(True, {"min_rows": min_rows, "required": list(required_columns)})


def require_no_nulls(counts: Mapping[str, int | None], cols: Sequence[str]) -> QualityReport:
    """Q3 verdict on already-computed null counts (a ``null_counts`` row
    or an ``Observation`` over ``null_count_exprs``). Raises
    QualityError listing offending columns."""
    bad = {c: int(counts[c]) for c in cols if counts[c]}
    if bad:
        raise QualityError(f"null values present: {bad}")
    return QualityReport(True, {c: 0 for c in cols})


def check_no_nulls(df: DataFrame, cols: Sequence[str]) -> QualityReport:
    """Output gate = Q3 as its own eager job. Raises QualityError listing
    offending columns."""
    if not cols:
        return QualityReport(True, {})
    return require_no_nulls(null_counts(df, cols).first().asDict(), cols)


def run_expectations(df: DataFrame, rules: Sequence[dict]) -> DataFrame:
    """Declarative DQ rule engine (the dbt-test / Great-Expectations
    surface): evaluate a rule list against one DataFrame and return a
    per-rule violations report — NEVER raising, so a scheduler can
    route on the counts. Rule dicts:

      {"rule": "not_null",        "column": c}
      {"rule": "unique",          "columns": [c, ...]}
      {"rule": "accepted_values", "column": c, "values": [...]}
      {"rule": "in_range",        "column": c, "min": lo, "max": hi}
      {"rule": "relationship",    "column": c, "ref": DataFrame,
                                  "ref_column": rc}   # FK containment

    Cost model (the 100 TB contract): every row-local rule (not_null /
    accepted_values / in_range) folds into ONE shared aggregate pass
    over the scan; each ``unique`` adds one keyed aggregate; each
    ``relationship`` adds one broadcast-able anti-join against the
    distinct reference keys. Returns (rule_id, rule, column, passed,
    n_violations) — deterministic row order by rule_id."""
    row_local_aggs = []
    meta: list[tuple[int, str, str]] = []
    extra: list[tuple[int, str, str, DataFrame]] = []
    for i, r in enumerate(rules):
        kind = r["rule"]
        if kind == "not_null":
            c = r["column"]
            row_local_aggs.append(
                F.sum(F.col(c).isNull().cast("long")).alias(f"__r{i}")
            )
            meta.append((i, kind, c))
        elif kind == "accepted_values":
            c = r["column"]
            row_local_aggs.append(
                F.sum(
                    (~F.col(c).isin(list(r["values"])) | F.col(c).isNull())
                    .cast("long")
                ).alias(f"__r{i}")
            )
            meta.append((i, kind, c))
        elif kind == "in_range":
            c = r["column"]
            bad = (
                F.col(c).isNull()
                | (F.col(c) < F.lit(r["min"]))
                | (F.col(c) > F.lit(r["max"]))
            )
            row_local_aggs.append(F.sum(bad.cast("long")).alias(f"__r{i}"))
            meta.append((i, kind, c))
        elif kind == "unique":
            cols = list(r["columns"])
            dup = (
                df.groupBy(*cols)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .agg(
                    F.coalesce(F.sum(F.col("__n") - 1), F.lit(0))
                    .cast("long")
                    .alias("n_violations")
                )
            )
            extra.append((i, kind, ",".join(cols), dup))
        elif kind == "relationship":
            c, ref, rc = r["column"], r["ref"], r["ref_column"]
            keys = ref.select(F.col(rc).alias("__k")).distinct()
            miss = (
                df.select(F.col(c).alias("__k"))
                .join(F.broadcast(keys), "__k", "left_anti")
                .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
            )
            extra.append((i, kind, c, miss))
        else:
            raise ValueError(f"unknown expectation rule: {kind!r}")

    parts = []
    if row_local_aggs:
        wide = df.agg(*row_local_aggs)
        structs = [
            F.struct(
                F.lit(i).alias("rule_id"),
                F.lit(kind).alias("rule"),
                F.lit(col).alias("column"),
                F.col(f"__r{i}").cast("long").alias("n_violations"),
            )
            for (i, kind, col), _ in zip(meta, row_local_aggs)
        ]
        parts.append(
            wide.select(F.explode(F.array(*structs)).alias("p")).select("p.*")
        )
    for i, kind, col, agg_df in extra:
        parts.append(
            agg_df.select(
                F.lit(i).alias("rule_id"),
                F.lit(kind).alias("rule"),
                F.lit(col).alias("column"),
                F.col("n_violations"),
            )
        )
    if not parts:  # empty rule list: honor the never-raises contract
        return df.sparkSession.createDataFrame(
            [],
            "rule_id int, rule string, column string, "
            "passed boolean, n_violations long",
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        F.col("rule_id").cast("int").alias("rule_id"),
        "rule",
        "column",
        (F.col("n_violations") == 0).alias("passed"),
        "n_violations",
    )
