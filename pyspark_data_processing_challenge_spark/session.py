"""SparkSession factory with scale-appropriate defaults.

Replaces the reference's ``setup_environment``
(reference: data_process.py:35-46), which set only appName/master and
relied on stock defaults. Here every session gets the configuration a
large-cluster deployment wants: AQE (runtime coalesce + skew-join
handling), Arrow for any pandas-UDF exchange, UTC session timezone
(so timestamps compare bit-identically against external engines), and
a shuffle-partition count sized to the actual parallelism instead of
the legacy 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones. Essential at 100 TB where static partition counts are wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batch transfer for pandas UDFs / toPandas (10-100x vs pickle).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics across engines (duckdb oracle,
    # parquet readers) — session-TZ-free comparisons.
    "spark.sql.session.timeZone": "UTC",
    # Keep parquet scans pruned + pushed down (defaults, pinned explicitly
    # so a misconfigured cluster profile can't silently disable them).
    "spark.sql.parquet.filterPushdown": "true",
    # Same for Python data sources (sources/pysource): off by default in
    # Spark 4.1, and a reader implementing pushFilters() is refused
    # unless it is on.
    "spark.sql.python.filterPushdown.enabled": "true",
    # The synthetic events table stores TIMESTAMP(NANOS) parquet, which
    # Spark rejects by default; read as epoch-nanos long and convert
    # explicitly (see queries/_util.events_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
}


# Minimum free bytes before /dev/shm is elected as shuffle scratch
# (VERDICT r16 #7 / ADVICE r16): Docker's default /dev/shm is 64 MB, and
# a tmpfs fill converts "disk" spill into RAM pressure — on a small shm
# the ENOSPC lands mid-job. 8 GiB covers the ~4 GiB live shuffle
# scratch a full sf0.1 bench run holds at peak, with headroom.
_SHM_MIN_FREE_BYTES = 8 * 1024**3


def scratch_dir() -> str | None:
    """Directory for shuffle/spill intermediates (``spark.local.dir``).

    Shuffle files are run-internal scratch — written and deleted within
    a single job, never reused across runs — so they belong on the
    fastest local storage available (optimization guide §2.1: "local
    disk bandwidth for shuffle files can be the tighter limit").  On a
    production node that is provisioned node-local NVMe, configured
    here via ``SPARK_GRAFT_LOCAL_DIR`` (created if missing; an
    uncreatable path raises rather than silently falling back — an
    operator who set the knob must not get a different disk).  On this
    sandbox the shared root disk's fsync bandwidth was measured
    anywhere from 6 to 88 MB/s across a day (BENCH r15/r16
    ``disk_write_mbps``), which made every shuffle-bound timing hostage
    to neighbor I/O; the RAM-backed ``/dev/shm`` (126 GiB, vs <4 GiB of
    live shuffle scratch at sf0.1) removes that dependency
    deterministically — but only when it has >= ``_SHM_MIN_FREE_BYTES``
    free (a 64 MB Docker-default shm would ENOSPC mid-job, and spilling
    into a small tmpfs worsens the memory pressure the spill exists to
    relieve).  Falls back to Spark's stock temp dir otherwise.
    """
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        os.makedirs(env, exist_ok=True)  # raises loudly on a bad path
        return env
    cand = "/dev/shm/spark-graft-local"
    if not os.path.isdir("/dev/shm") or not os.access("/dev/shm", os.W_OK):
        return None
    try:
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize < _SHM_MIN_FREE_BYTES:
            return None
    except OSError:
        return None
    os.makedirs(cand, exist_ok=True)
    return cand


def default_parallelism() -> int:
    """Local parallelism knob; on a real cluster this is executor cores."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


def spread_partitions(spark: SparkSession) -> int:
    """Partition count for a keyed repartition that must stay spread
    across every core: ``max(defaultParallelism, shuffle partitions)``.
    The count must be EXPLICIT — the inputs it serves (planted id lists,
    banded hash tables, IVF assignments) are only KBs to MBs, so AQE's
    size-based coalescing would fold an unnumbered repartition back to
    one post-shuffle partition and serialize the expensive stage on one
    core (measured 24 s vs ~2 s for the codec stage of the sf0.1 pHash
    corpus, 6 s vs ~1.5 s for its Hamming verify)."""
    return max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
    )


def get_session(
    app_name: str = "pyspark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``shuffle_partitions`` defaults to the local core count — correct for
    local[(N)] testing; a cluster deployment passes ~2-3x total cores, or
    leaves AQE's coalescing to shrink the default.
    """
    cores = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cores}]")
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cores)
    conf["spark.driver.memory"] = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    scratch = scratch_dir()
    if scratch:
        conf["spark.local.dir"] = scratch
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
