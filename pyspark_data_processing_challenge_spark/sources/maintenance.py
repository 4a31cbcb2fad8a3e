"""Table maintenance: small-file compaction + sorted rewrite.

The 100 TB failure mode these address: streaming sinks and
per-partition appends leave thousands of KB-sized parquet files, and
every downstream scan then pays file-open + footer-read per file while
the scheduler drowns in splits. Compaction rewrites a directory into
size-targeted files; the optional range-sorted rewrite additionally
gives parquet row-group min/max stats that let scans skip files
entirely (poor-man's clustering — the same idea as Z-ordering on one
key prefix).
"""

from __future__ import annotations

import math
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def input_file_stats(df: DataFrame) -> tuple[int, int]:
    """(n_files, total_bytes) of the files backing a file-scan frame.

    Sizes come from the local filesystem (``inputFiles`` returns URIs);
    on a real cluster swap the stat for the Hadoop FileSystem API — the
    compaction math is unchanged.
    """
    files = df.inputFiles()
    total = 0
    for uri in files:
        p = urlparse(uri)
        total += os.path.getsize(unquote(p.path))
    return len(files), total


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    *,
    target_file_mb: float = 256,
    sort_by: str | None = None,
) -> int:
    """Rewrite ``src_dir`` into ``dst_dir`` with files sized toward
    ``target_file_mb``; returns the output file count.

    File count is derived from the ACTUAL input bytes (not row counts —
    compression ratio is what matters). ``sort_by`` switches the
    repartition to a range partitioning plus a within-partition sort, so
    each output file covers a disjoint key range and carries tight
    min/max stats for scan pruning.
    """
    df = spark.read.parquet(src_dir)
    _, total_bytes = input_file_stats(df)
    n_out = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    if sort_by:
        out = df.repartitionByRange(n_out, sort_by).sortWithinPartitions(sort_by)
    else:
        out = df.repartition(n_out)
    out.write.mode("overwrite").parquet(dst_dir)
    return n_out


# --------------------------------------------------------------------------
# Z-order clustered rewrite (multi-dimensional data skipping)
# --------------------------------------------------------------------------


def minmax_bucket(c, cmin: float, cmax: float, bits: int):
    """Scale a numeric column into an integer bucket in [0, 2^bits).

    Pure IEEE arithmetic (double subtract/divide, floor) so the DuckDB
    oracle reproduces it bit-exactly. ``cmin``/``cmax`` are driver-side
    scalars (one tiny aggregate — the same pattern as quantile
    broadcast in docs_outlier_trim).
    """
    from pyspark.sql import functions as F

    frac = (c.cast("double") - float(cmin)) / (float(cmax) - float(cmin) + 1.0)
    return F.floor(frac * float(1 << bits)).cast("long")


def interleave_bits(b1, b2, bits: int):
    """Morton (Z-curve) interleave of two bucket columns: bit i of b1 →
    bit 2i+1, bit i of b2 → bit 2i. A sum of 2*bits static shift terms —
    whole-stage-codegen-friendly, no UDF."""
    from pyspark.sql import functions as F

    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(b1, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
        terms.append(
            F.shiftleft(F.shiftright(b2, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    out = terms[0]
    for t_ in terms[1:]:
        out = out + t_
    return out.cast("long")


def zorder_rewrite(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    col1: str,
    col2: str,
    *,
    bits: int = 16,
    num_files: int = 8,
    curve: str = "morton",
) -> None:
    """Rewrite a parquet directory clustered along the Z-curve of two
    columns, so parquet min/max stats bound BOTH dimensions per file and
    scans with predicates on either (or both) columns skip most files —
    the multi-dimensional generalization of the range-sorted rewrite
    above (Delta/Iceberg's OPTIMIZE ZORDER, on plain parquet).

    repartitionByRange on the z-value gives disjoint per-file z-ranges;
    sortWithinPartitions clusters row groups inside each file. One
    scalar aggregate + one range shuffle — linear, scale-safe.
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(src_dir)
    stats = df.agg(
        F.min(col1).alias("min1"),
        F.max(col1).alias("max1"),
        F.min(col2).alias("min2"),
        F.max(col2).alias("max2"),
    ).first()
    b1 = minmax_bucket(F.col(col1), stats["min1"], stats["max1"], bits)
    b2 = minmax_bucket(F.col(col2), stats["min2"], stats["max2"], bits)
    if curve == "hilbert":
        staged = df.withColumns({"__b1": b1, "__b2": b2})
        clustered = hilbert_index(
            staged, "__b1", "__b2", bits=bits, out_col="__z"
        ).drop("__b1", "__b2")
    elif curve == "morton":
        clustered = df.withColumn("__z", interleave_bits(b1, b2, bits))
    else:
        raise ValueError(f"unknown curve: {curve!r}")
    (
        clustered
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(dst_dir)
    )


def hilbert_index(df: DataFrame, x_col: str, y_col: str, *, bits: int, out_col: str) -> DataFrame:
    """Hilbert-curve index of two bucket columns in [0, 2^bits) — the
    space-filling curve with strictly better locality than Morton
    (every curve-adjacent pair is grid-adjacent; Z-order jumps).

    The classic iterative xy2d, unrolled: each of the ``bits`` steps is
    staged as its own projection updating (x, y, d) with pure integer
    CASE/bit arithmetic — codegen-friendly, no UDF, and reproducible
    verbatim by the DuckDB oracle (the same unrolled CTE chain).
    """
    from pyspark.sql import functions as F

    cur = df.withColumns(
        {
            "__hx": F.col(x_col).cast("long"),
            "__hy": F.col(y_col).cast("long"),
            "__hd": F.lit(0).cast("long"),
        }
    )
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = F.when(F.col("__hx").bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(
            F.lit(0)
        ).cast("long")
        ry = F.when(F.col("__hy").bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(
            F.lit(0)
        ).cast("long")
        staged = cur.withColumns({"__rx": rx, "__ry": ry})
        d2 = F.col("__hd") + F.lit(s) * F.lit(s) * (
            (F.lit(3) * F.col("__rx")).bitwiseXOR(F.col("__ry"))
        )
        # rotation: when ry==0, (x,y) -> reflect-if-rx then swap
        x_ref = F.when(
            F.col("__rx") == 1, F.lit(s - 1) - F.col("__hx")
        ).otherwise(F.col("__hx"))
        y_ref = F.when(
            F.col("__rx") == 1, F.lit(s - 1) - F.col("__hy")
        ).otherwise(F.col("__hy"))
        new_x = F.when(F.col("__ry") == 0, y_ref).otherwise(F.col("__hx"))
        new_y = F.when(F.col("__ry") == 0, x_ref).otherwise(F.col("__hy"))
        cur = staged.withColumns(
            {"__hd": d2, "__hx2": new_x, "__hy2": new_y}
        ).withColumns(
            {"__hx": F.col("__hx2"), "__hy": F.col("__hy2")}
        ).drop("__hx2", "__hy2", "__rx", "__ry")
    return cur.withColumn(out_col, F.col("__hd")).drop("__hx", "__hy", "__hd")


def zone_map_report(
    df: DataFrame,
    file_col: str,
    stat_col: str,
    lo,
    hi,
) -> DataFrame:
    """Data-skipping simulation: per-file zone maps (min/max of
    ``stat_col`` per ``file_col`` group — what parquet footers /
    Delta & Iceberg manifests store) and the scan set for the range
    predicate ``stat_col BETWEEN lo AND hi``. A file is scanned iff
    its [min, max] overlaps the predicate interval.

    Returns ONE row: (n_files, files_scanned, rows_total,
    rows_scanned). This quantifies what a clustering rewrite
    (zorder_rewrite / hilbert_index) buys: on a layout clustered by
    ``stat_col`` the predicate touches O(matching) files; on an
    arrival-order layout every zone straddles the predicate and
    nothing prunes. Zone-map math is one aggregate over the file
    listing — never a data scan."""
    zones = df.groupBy(file_col).agg(
        F.min(stat_col).alias("zmin"),
        F.max(stat_col).alias("zmax"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    scanned = (F.col("zmin") <= F.lit(hi)) & (F.col("zmax") >= F.lit(lo))
    return zones.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(scanned.cast("long")).alias("files_scanned"),
        F.sum("n_rows").cast("long").alias("rows_total"),
        F.sum(F.when(scanned, F.col("n_rows")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_scanned"),
    )
