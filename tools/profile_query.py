"""Profile one catalog query: wall time + per-job breakdown.

Usage:
    python tools/profile_query.py <query> [reps]

Times qs[name](spark, sf_dir) -> noop sink like bench.run_once, with a
job-level report from the driver's AppStatusStore (job id, description,
wall seconds) for the LAST rep, so the cost of a multi-job query
(localCheckpoints, iterative loops, collects) is attributable. Each
rep starts from ``_util.reset(spark)`` like the bench.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark_data_processing_challenge_spark.queries import _util  # noqa: E402
from pyspark_data_processing_challenge_spark.session import get_session  # noqa: E402


def job_report(spark, min_job_id: int) -> list[tuple[int, float, str]]:
    """(job id, wall sec, description) for every completed job with
    id >= min_job_id, from the driver's AppStatusStore (the same data
    the UI's /api/v1/applications/.../jobs endpoint serves)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        if j.jobId() < min_job_id:
            continue
        sub = j.submissionTime()
        comp = j.completionTime()
        if sub.isEmpty() or comp.isEmpty():
            continue
        ms = comp.get().getTime() - sub.get().getTime()
        desc = j.description().isDefined() and j.description().get() or j.name()
        out.append((j.jobId(), ms / 1000.0, str(desc)[:100]))
    return sorted(out)


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("profile-query")
    sc = spark.sparkContext
    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    # same warmup as bench
    spark.range(1000).selectExpr("sum(id)").collect()
    for wt in ("lineitem", "orders", "events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{wt}.parquet").count()
    spark.range(10).write.format("noop").mode("overwrite").save()

    statusTracker = sc.statusTracker()
    for r in range(reps):
        _util.reset(spark)
        prior = statusTracker.getJobIdsForGroup(None) or []
        first_new_job = (max(prior) + 1) if prior else 0
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        print(f"rep {r}: {wall:.3f} s")
        if r == reps - 1:
            jobs = job_report(spark, first_new_job)
            print(f"  jobs this rep: {len(jobs)}")
            for jid, sec, desc in jobs:
                print(f"    job {jid:4d}  {sec:7.3f} s  {desc}")
    spark.stop()


if __name__ == "__main__":
    main()
