"""Config-driven pipeline runner — the reference's whole job as a
composable library call, driven by the reference's own config format.

Reproduces the reference's end-to-end flow (SURVEY.md §3.1, reference:
data_process.py:332-369): read with declared schema (+ lineage) → input
DQ gate → transform chain (dedup, date cast+filter, country filter,
delivery membership filter, indicators, null fill, unit standardization,
total, rename/reorder) → output DQ gate → partitioned write. The config
dict is the reference's ``config.yaml`` structure verbatim (environment,
run_parameters, input_data, data_quality, derived_cols, data_filling,
unit_conversion, additional_fields, columns_config), so a reference user
can point this runner at their existing config.

Differences by design (SURVEY.md §4.2/§7.5):
- typed raises (QualityError) instead of log-and-exit-0 on DQ failure;
- single-scan membership filter (``reference_semantics`` restores the
  double-scan union, which duplicates rows on overlapping sets);
- the output null gate rides on the write as an ``Observation`` (no
  job of its own, the lineage runs once): the write goes to a hidden
  sibling staging directory, and only a clean gate publishes it over
  the target, so a failed gate leaves the previous output untouched.
  Config's pre-rename column names are translated through
  columns_rename instead of leaning on the analyzer's
  missing-reference resolution (reference Q3 subtlety);
- LIMIT-probe input row gate instead of a full count;
- ``observe`` metrics instead of eager mid-chain count() actions;
- null-tolerant date parse + division by default (``strict`` opt-in);
- portable rounding by default; ``reference_semantics`` switches to
  Spark's BigDecimal ``round`` for golden-output bit parity.
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass, field
from typing import Any

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators import quality, relational
from .sources import read_table, write_table


@dataclass
class PipelineResult:
    df: DataFrame
    metrics: dict[str, Any] = field(default_factory=dict)


def load_config(path: str) -> dict:
    import yaml

    with open(path, encoding="utf-8") as fh:
        return yaml.safe_load(fh)


def read_input(
    spark: SparkSession, conf: Mapping[str, Any], *, base_dir: str = "."
) -> DataFrame:
    """Reference read path (data_process.py:48-89): config-driven format/
    options/schema + lineage basename column. The reference's lineage
    value is URL-encoded (input_file_name returns a URI); bug-compatible
    ``url_decode=False`` is the default here for golden parity, opt in
    to decoding with ``input_data.url_decode: true``."""
    inp = conf["input_data"]
    lineage = conf.get("additional_fields", {}).get("file", "filename")
    return read_table(
        spark,
        {
            "path": f"{base_dir}/{inp['file_path']}",
            "format": inp.get("file_format", "csv"),
            "options": inp.get("options", {"header": True}),
            "schema": inp.get("schema", {}).get("fields"),
            "lineage_col": lineage,
            "url_decode": inp.get("url_decode", False),
        },
    )


def transform(
    df: DataFrame, conf: Mapping[str, Any], *, reference_semantics: bool = False
) -> tuple[DataFrame, Observation]:
    """The reference transform chain (data_process.py:235-265), with an
    ``observe`` node standing in for its two eager count() actions."""
    rp = conf["run_parameters"]
    derived = conf.get("derived_cols", {})
    filling = conf.get("data_filling", {})
    units = conf.get("unit_conversion", {})
    extra = conf.get("additional_fields", {})
    colcfg = conf.get("columns_config", {})

    date_col = rp.get("date_filter_column", "fecha_proceso")
    date_policy = "strict" if reference_semantics else rp.get("date_policy", "try")

    df = relational.dedup(df)  # R1 (all columns, incl. lineage — ref parity)
    df = relational.with_date(df, date_col, "yyyyMMdd", policy=date_policy)  # R2
    df = relational.filter_date_range(  # R3
        df, date_col, str(rp["start_date"]), str(rp["end_date"])
    )
    df = relational.filter_equality(  # R4
        df,
        rp.get("country_filter_column", "pais"),
        str(rp.get("country_filter_value", "TODOS")),
    )

    dcols = [derived[k] for k in sorted(derived)]  # col1, col2, ...
    src = dcols[0]["source"] if dcols else None
    if src:
        df = relational.filter_membership(  # R5
            df,
            src,
            [d.get("conditions", []) for d in dcols],
            union_semantics=reference_semantics,
        )

    obs = Observation("pipeline")
    df = df.observe(obs, F.count(F.lit(1)).alias("rows_after_filters"))

    if src:
        df = relational.with_indicators(  # R6
            df, src, {d["name"]: d.get("conditions", []) for d in dcols}
        )
    df = relational.fill_nulls(  # R7
        df,
        text_value=filling.get("text", {}).get("value"),
        text_cols=filling.get("text", {}).get("columns", []),
        numeric_value=filling.get("number", {}).get("value"),
        numeric_cols=filling.get("number", {}).get("columns", []),
    )
    if units:
        df = relational.standardize_units(  # R8
            df,
            qty_col=units["quantity"]["name"],
            price_col=units["price"]["name"],
            unit_col=units["unit"]["name"],
            from_unit=str(units["unit"]["value"]),
            factor=float(units["unit"]["factor"]),
            to_unit=str(units["unit"]["new_value"]),
            qty_out=units["quantity"]["new_name"],
            price_out=units["price"]["new_name"],
            unit_out=units["unit"]["new_name"],
            reference_round=reference_semantics,
        )
        df = relational.with_total(  # R9
            df,
            extra.get("total", "total_estandar"),
            units["quantity"]["new_name"],
            units["price"]["new_name"],
        )
    df = relational.rename_and_order(  # R10
        df, colcfg.get("columns_rename", {}), colcfg.get("columns_order", [])
    )
    return df, obs


def run(
    spark: SparkSession,
    conf: Mapping[str, Any],
    *,
    base_dir: str = ".",
    output_path: str | None = None,
    write: bool = True,
    reference_semantics: bool = False,
) -> PipelineResult:
    """Full job: read → DQ-in → transform → DQ-out → (write).

    With ``write`` the DQ-out counts are observed on the write itself,
    into a staging sibling of the output path that is published (old
    output deleted, staging renamed onto it) only if the gate passes;
    without it the gate is one eager aggregate."""
    dq = conf.get("data_quality", {})
    df = read_input(spark, conf, base_dir=base_dir)
    quality.check_input(
        df,
        min_rows=int(dq.get("input", {}).get("min_expected_rows", 0)),
        required_columns=dq.get("input", {}).get("required_columns", []),
    )
    out, obs = transform(df, conf, reference_semantics=reference_semantics)
    # Q3: the reference config lists PRE-rename names; translate them
    # explicitly (the reference relied on analyzer missing-ref resolution)
    rename = conf.get("columns_config", {}).get("columns_rename", {})
    not_nulls = [
        rename.get(c, c) for c in dq.get("output", {}).get("not_nulls", [])
    ]
    if not write:  # no write for the gate to ride on
        quality.check_no_nulls(out, not_nulls)
        return PipelineResult(out, {})
    gated = out
    if not_nulls:
        gate = Observation()
        gated = out.observe(gate, *quality.null_count_exprs(not_nulls))
    rp = conf["run_parameters"]
    env = conf.get("environment", {}).get("name", "DEV")
    path = output_path or f"{base_dir}/{rp['output_base_path']}/{env}"
    target, staging, fs = _staging_paths(spark, path)
    try:
        write_table(
            gated,
            {
                "path": staging.toString(),
                "partition_by": rp.get("partition_columns", []),
                "mode": "overwrite",
            },
        )
        metrics = _observed(obs)
        counts = _observed(gate) if not_nulls else {}
        if not metrics or (not_nulls and not counts):
            # AQE swaps a shuffle stage that produced no rows for an
            # empty relation, and the observations inside it are lost
            # with it: recount exactly from the staged output instead.
            # Everything after the filters is row-preserving, so the
            # written row count is rows_after_filters.
            counts = (
                spark.read.schema(gated.schema)
                .parquet(staging.toString())
                .select(
                    F.count(F.lit(1)).alias("rows_after_filters"),
                    *quality.null_count_exprs(not_nulls),
                )
                .first()
                .asDict()
            )
            metrics = {"rows_after_filters": counts["rows_after_filters"]}
        quality.require_no_nulls(counts, not_nulls)
        fs.delete(target, True)
        if not fs.rename(staging, target):
            raise OSError(f"could not publish {staging} as {target}")
    finally:
        fs.delete(staging, True)  # no-op once published
    return PipelineResult(out, metrics)


def _observed(obs: Observation) -> dict[str, Any]:
    """``obs.get`` after its action, or ``{}`` if the action delivered
    no metrics row (``get`` then fails inside py4j)."""
    try:
        return obs.get
    except Py4JJavaError:
        return {}


def _staging_paths(spark: SparkSession, path: str):
    """(target, staging, FileSystem) for a staged write to ``path``: the
    staging directory is the hidden sibling ``.<name>.staging`` (readers
    skip dot-prefixed entries), on the same Hadoop FileSystem so the
    publish is a rename on any scheme."""
    jvm = spark.sparkContext._jvm
    raw = jvm.org.apache.hadoop.fs.Path(path)
    fs = raw.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    target = fs.makeQualified(raw)
    staging = jvm.org.apache.hadoop.fs.Path(
        target.getParent(), f".{target.getName()}.staging"
    )
    return target, staging, fs
