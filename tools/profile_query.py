"""Profile one catalog query: build and run time + per-job breakdown.

Usage:
    python tools/profile_query.py <query> [reps]

Times qs[name](spark, sf_dir) -> noop sink like bench.run_once, split
into two layers per rep: the BUILD (seconds and Spark jobs until the
query returns its DataFrame — schema inference, eager checkpoints,
driver-side collects) and the RUN (seconds and jobs of the noop
write). Jobs are counted by job group. The LAST rep also prints a
job-level report from the driver's AppStatusStore (job id, layer, wall
seconds, description), so the cost of a multi-job query
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


def job_report(spark, job_ids) -> list[tuple[int, float, str]]:
    """(job id, wall sec, description) for every completed job in
    ``job_ids``, from the driver's AppStatusStore (the same data the
    UI's /api/v1/applications/.../jobs endpoint serves)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        if j.jobId() not in job_ids:
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

    tracker = sc.statusTracker()
    for r in range(reps):
        _util.reset(spark)
        t0 = time.perf_counter()
        # the group id alone: a group description would replace every
        # job's own call-site name in the report
        sc.setLocalProperty("spark.jobGroup.id", f"profile-build-{r}")
        df = qs[name](spark, sf_dir)
        t1 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", f"profile-run-{r}")
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        layer = {
            jid: kind
            for kind in ("build", "run")
            for jid in tracker.getJobIdsForGroup(f"profile-{kind}-{r}")
        }
        n_build = sum(1 for k in layer.values() if k == "build")
        print(
            f"rep {r}: {t2 - t0:.3f} s = build {t1 - t0:.3f} s ({n_build} jobs)"
            f" + run {t2 - t1:.3f} s ({len(layer) - n_build} jobs)"
        )
        if r == reps - 1:
            jobs = job_report(spark, layer)
            print(f"  jobs this rep: {len(jobs)}")
            for jid, sec, desc in jobs:
                print(f"    job {jid:4d}  {layer[jid]:5s}  {sec:7.3f} s  {desc}")
    spark.stop()


if __name__ == "__main__":
    main()
