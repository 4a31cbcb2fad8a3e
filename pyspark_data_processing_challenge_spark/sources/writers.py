"""Batch sinks: partitioned columnar writes.

Matches the reference's parquet sink (reference: data_process.py:315-330
— mode=overwrite, partitionBy(fecha_proceso, pais)) and generalizes it:
any format, any partition columns, and a guard against high-cardinality
partition columns (SURVEY.md §7.5.3 — a partitionBy on a
million-distinct key creates a million directories and kills the
namenode/listing at scale).

A partitioned write is rebalanced on its partition columns first (the
``REBALANCE`` hint): without it every write task opens one file per
partition directory it touches, so N tasks spread over D directories
leave up to N×D small files. With it each directory's rows land in one
task and one file, while AQE still splits a skewed directory across
several tasks. Unpartitioned writes keep their input's plan.
"""

from __future__ import annotations

from collections.abc import Mapping
from typing import Any

from pyspark.sql import DataFrame

# Above this many projected partition-dir combinations, refuse: at 100 TB
# a runaway partitionBy is an outage, not a warning.
DEFAULT_MAX_PARTITIONS = 100_000


def write_table(
    df: DataFrame,
    conf: Mapping[str, Any],
    *,
    max_partitions: int = DEFAULT_MAX_PARTITIONS,
) -> None:
    """Config-driven sink.

    conf keys: ``path``, ``format`` (default parquet), ``mode`` (default
    overwrite), ``partition_by`` (list), ``options`` (dict),
    ``check_partition_cardinality`` (bool, default False — costs one
    aggregate job; enable for untrusted configs).
    """
    fmt = str(conf.get("format", "parquet")).lower()
    partition_by = list(conf.get("partition_by") or [])
    if partition_by and conf.get("check_partition_cardinality"):
        # approx distinct over the partition tuple — one cheap pass,
        # no full count, no collect of the keys themselves.
        from pyspark.sql import functions as F

        n = df.select(
            F.approx_count_distinct(F.struct(*partition_by)).alias("n")
        ).first()["n"]
        if n > max_partitions:
            raise ValueError(
                f"partition_by {partition_by} would create ~{n} partitions "
                f"(> {max_partitions}); repartition or bucket instead"
            )
    if partition_by:
        df = df.hint("rebalance", *partition_by)
    writer = df.write.format(fmt).mode(str(conf.get("mode", "overwrite")))
    options = dict(conf.get("options") or {})
    if options:
        writer = writer.options(**{k: str(v) for k, v in options.items()})
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(str(conf["path"]))
