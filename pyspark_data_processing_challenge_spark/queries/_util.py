"""Shared helpers for the query catalog and its DuckDB oracles."""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.textfns import HASH_MOD, MINHASH_P, minhash_coeffs


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Timestamp semantics are session-TZ dependent (to_date, collect);
    # the oracle's timestamps are TZ-naive (UTC). Pin UTC on whatever
    # session the host hands us so date truncation can't shift a day.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        return events_table(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_MEMO: dict = {}


def _stamp(sf_dir: str) -> tuple:
    """Sorted (relpath, size, mtime_ns) of every file under ``sf_dir``,
    following symlinks (bench re-reps read through symlinked twins)."""
    out = []
    for root, _dirs, files in os.walk(sf_dir, followlinks=True):
        for f in files:
            path = os.path.join(root, f)
            st = os.stat(path)
            out.append((os.path.relpath(path, sf_dir), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def memo(spark: SparkSession, sf_dir: str, name: str, compute):
    """``compute()``, reused across catalog queries that share a
    build-time sub-result (a PCA eigensolve, a localCheckpointed kNN
    graph or component table). Plan-lint sweeps and full-catalog parity
    runs build every query, so each sub-result is paid once per input.

    The entry belongs to one Spark application and one state of the
    input files: it is keyed by (applicationId, sf_dir, name) and
    stamped with every file's (relpath, size, mtime_ns). A restarted
    session or a rewritten parquet file recomputes instead of reading a
    dead checkpoint or a stale answer. Timed reps start from
    :func:`reset`, so bench numbers pay the real work."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    stamp = _stamp(sf_dir)
    hit = _MEMO.get(key)
    if hit is None or hit[0] != stamp:
        hit = _MEMO[key] = (stamp, compute())
    return hit[1]


def reset(spark: SparkSession) -> None:
    """The state every timed rep starts from: no memoized sub-result
    and no persisted frame (catalog queries return lazily, so
    operator-internal persist()s outlive their query and a re-rep of a
    canonically identical plan would read the previous rep's cache)."""
    _MEMO.clear()
    spark.catalog.clearCache()


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet holds TIMESTAMP(NANOS); normalize ``ts`` to a µs
    session-TZ timestamp matching the oracle's ``CAST(ts AS TIMESTAMP)``
    (TIMESTAMP_NS → µs truncation).

    Two reader behaviors exist across Spark 4.1.x: older builds honor
    ``spark.sql.legacy.parquet.nanosAsLong`` (nanos surface as BIGINT);
    4.1.2+ ignores that conf and infers TIMESTAMP_NTZ natively (already
    µs-truncated, verified equal to DuckDB's cast). Branch on the
    inferred type so both work; the caller's session conf is never
    written (``session.get_session`` sets the legacy conf at build).
    """
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if isinstance(df.schema["ts"].dataType, T.LongType):
        # integer division: epoch-nanos (~1.7e18) don't fit a double mantissa
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # NTZ → TIMESTAMP: with the session TZ pinned to UTC (see t()) this
    # relabels the same wall-clock instant, keeping the output schema
    # identical to the legacy path.
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def spread(df: DataFrame) -> DataFrame:
    """Spread a small scan across cores before CPU-heavy per-row work
    (tokenize/hash/explode pipelines).

    Parquet only splits at row-group boundaries, so a single-row-group
    file scans as ONE task no matter how many cores exist, and
    everything before the first shuffle serializes on one core
    (measured 2.4x on span dedup at sf0.1). A real 100 TB table has
    thousands of splits, so this is a NO-OP whenever the scan already
    carries >= default-parallelism partitions — the repartition exists
    to recreate cluster-like input parallelism on single-file test
    data, never to add a shuffle at scale.
    """
    from ..session import default_parallelism

    n = default_parallelism()
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def round_to(c: Column, scale: int) -> Column:
    """Engine-portable half-up rounding (see relational.round2, incl.
    the >=1e15 overflow guard)."""
    from ..operators.relational import round2

    return round2(c, scale)


def centroid_means(
    assigned: DataFrame,
    *,
    dim: int,
    id_col: str = "centroid_id",
    vec_col: str = "vec",
    out_id: str = "cid",
    out_vec: str = "cv",
) -> Column:
    """Per-centroid member-mean vector (the k-means M-step), rounded
    6 dp, in ONE aggregate: ``dim`` column avgs over the vector
    elements instead of posexplode + groupBy(cid, dim) +
    collect_list/array_sort re-assembly (r17, guide §2.4: the long
    form paid a dim-x explode plus TWO exchanges and an extra AQE
    stage job per retrain — one exchange now). Values are identical:
    the same Average aggregate over the same member rows per
    (centroid, dimension), with the same 6-dp re-synchronization both
    engines round through."""
    return (
        assigned.groupBy(id_col)
        .agg(
            F.array(
                *[round_to(F.avg(F.col(vec_col)[i]), 6) for i in range(dim)]
            ).alias(out_vec)
        )
        .select(F.col(id_col).alias(out_id), out_vec)
    )


def sql_round(expr: str, scale: int) -> str:
    """The DuckDB-side twin of :func:`round_to` — identical IEEE ops,
    identical overflow guard."""
    m = float(10**scale)
    return (
        f"(CASE WHEN abs({expr}) >= 1e15 THEN ({expr}) "
        f"ELSE floor(({expr}) * {m} + 0.5) / {m} END)"
    )


# ---------------------------------------------------------------------------
# SQL fragments mirroring functions/textfns.py (verified bit-identical
# against the Spark expressions — see tests/test_oracle_parity.py)
# ---------------------------------------------------------------------------


def sql_char_hash(s: str) -> str:
    """DuckDB twin of textfns.char_hash."""
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(string_split({s}, ''), c -> ascii(c)::BIGINT)), "
        f"(a, b) -> (a * 31 + b) % {HASH_MOD})"
    )


def sql_tokens(s: str) -> str:
    """DuckDB twin of textfns.tokens (whitespace split, blank → [])."""
    return (
        f"(case when length(trim({s})) = 0 then []::VARCHAR[] "
        f"else regexp_split_to_array(trim({s}), '\\s+') end)"
    )


def sql_token_count(s: str) -> str:
    return f"length({sql_tokens(s)})::BIGINT"


def sql_fingerprint(s: str) -> str:
    """DuckDB twin of textfns.fingerprint (md5 of normalized text)."""
    return f"md5(regexp_replace(lower(trim({s})), '\\s+', ' ', 'g'))"


def sql_shingles(s: str, n: int) -> str:
    """DuckDB twin of textfns.shingles: distinct word n-grams of the
    lowercased text; <n tokens → one shingle of all tokens."""
    toks = sql_tokens(f"lower({s})")
    grams = (
        f"list_transform(range(1, greatest(length(__t) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(__t[i:i+{n - 1}], ' '))"
    )
    return (
        f"(select case when length(__t) = 0 then []::VARCHAR[] "
        f"else list_distinct({grams}) end from (select {toks} as __t))"
    )


def sql_minhash_slots(hashes_expr: str, num_hashes: int) -> list[str]:
    """Per-slot MinHash SQL over a BIGINT[] column of shingle hashes."""
    return [
        f"coalesce(list_min(list_transform({hashes_expr}, "
        f"h -> ({a}::BIGINT * h + {b}) % {MINHASH_P})), {MINHASH_P})::BIGINT"
        for a, b in minhash_coeffs(num_hashes)
    ]


def sql_simhash(hashes_expr: str, bits: int) -> str:
    """DuckDB twin of textfns.simhash over a BIGINT[] of token hashes."""
    terms = [
        f"(case when list_reduce(list_prepend(0::BIGINT, "
        f"list_transform({hashes_expr}, h -> ((h >> {i}) & 1) * 2 - 1)), "
        f"(a, b) -> a + b) > 0 then {1 << i}::BIGINT else 0 end)"
        for i in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def sql_dot(a: str, b: str, dim: int) -> str:
    """Left-to-right fold dot product — same op order as vectors.dot."""
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {dim + 1}), i -> {a}[i] * {b}[i])), "
        f"(x, y) -> x + y)"
    )


def sql_cosine(a: str, b: str, dim: int) -> str:
    return (
        f"({sql_dot(a, b, dim)} / "
        f"(sqrt({sql_dot(a, a, dim)}) * sqrt({sql_dot(b, b, dim)})))"
    )
