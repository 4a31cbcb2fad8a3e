"""End-to-end benchmark of the engine on three seeded workloads.

Usage, from the repository root:

    python3 perfbench/run.py --workload etl_reference --seed 1 --seconds 6 --trace 0

Workloads (see BENCHMARK.json for why each exists): ``etl_reference``
(the paper's config-driven CSV -> Parquet job), ``corpus_dedup``
(exact + MinHash + perceptual-hash dedup of a multimodal corpus) and
``vector_ann`` (IVF-PQ serving plus SemDeDup over embeddings).

One run: start the Spark session (timed as ``setup_s``), generate or
reuse the seed's inputs, make one untimed warm-up pass, then timed
passes until ``--seconds`` have elapsed. Every pass reads its inputs
through its own symlink alias after ``clearCache()``, so no pass can
reuse another's shuffle output or cached frames; passes must agree on
shuffle-write bytes and job count. With ``--trace 1`` a further pass
runs with a span around every layer call and the run reports per-layer
metrics instead of end-to-end ones. Outputs of every pass are checked
after the timed window; the last stdout line is the JSON result, and
the exit code is non-zero when any check failed.

Run state (input cache, Spark scratch, outputs, span files) lives in
``.perfbench_work/`` under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"
MIN_TIMED_PASSES = 2

sys.path[:0] = [HERE, ROOT]

import generators  # noqa: E402
import tracing  # noqa: E402

LAYERS = (
    "sources.readers", "operators.quality", "operators.relational", "sources.writers",
    "operators.dedup", "operators.multimodal", "operators.graph", "operators.similarity",
    "queries",
)
# (metric suffix, span field, unit); session reports the first five
LAYER_FIELDS = (
    ("wall_s", "wall_s", "s"), ("jobs", "jobs", "count"), ("gc_s", "gc_s", "s"),
    ("jvm_cpu_s", "jvm_cpu_s", "s"), ("py_cpu_s", "py_cpu_s", "s"),
    ("rows_out", "rows_out", "rows"), ("shuffle_write_mb", "shuffle_write_mb", "MB"),
    ("spill_mb", "spill_mb", "MB"),
)
EXTRA_UNITS = {
    "sources.readers.mb_read": "MB",
    "sources.writers.files": "count",
    "sources.writers.mb_written": "MB",
    "operators.dedup.candidate_pairs": "pairs",
    "operators.dedup.pair_yield": "ratio",
    "operators.similarity.pairs_scored": "pairs",
    "operators.similarity.pair_yield": "ratio",
    "operators.graph.edges": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "trace_overhead_s": "s",
}
END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "peak_rss_mb": "MB",
    "out_bytes_per_in_byte": "ratio",
    "recall": "ratio",
}
# spans whose output rows are the pairs a layer produced
PAIR_CALLS = {
    "operators.dedup": ("minhash_near_duplicates",),
    "operators.similarity": ("semdedup_pairs",),
}
EDGE_CALLS = ("minhash_near_duplicates", "phash_hamming_pairs", "semdedup_pairs")


def per_layer_units() -> dict[str, str]:
    units = {f"session.{s}": u for s, _f, u in LAYER_FIELDS[:5]}
    for layer in LAYERS:
        units.update({f"{layer}.{s}": u for s, _f, u in LAYER_FIELDS})
    units.update(EXTRA_UNITS)
    return units


def _data_bytes(path: str) -> int:
    total = 0
    for dp, _dn, files in os.walk(path, followlinks=True):
        for f in files:
            if not f.startswith((".", "_")) and f != "truth.json":
                total += os.path.getsize(os.path.join(dp, f))
    return total


def _data_files(path: str) -> int:
    return sum(
        1 for _dp, _dn, files in os.walk(path) for f in files if not f.startswith((".", "_"))
    )


def _environment(nproc: int) -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def _setup(nproc: int):
    """Session up, JVM and a Python worker warm, noop sink warm."""
    from pyspark_data_processing_challenge_spark.session import get_session

    spark = get_session(
        "perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    spark.sparkContext.setJobGroup("setup", "warm-up")
    spark.range(nproc).write.format("noop").mode("overwrite").save()
    spark.sparkContext.parallelize(range(nproc), nproc).map(lambda x: x + 1).sum()
    return spark


def _stop(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _layer_metrics(tracer: tracing.Tracer, session: dict, overhead_s: float, out_dir: str) -> dict:
    layers = tracer.layers()
    zero = dict.fromkeys(tracing.SPAN_SUMS, 0.0)
    m: dict[str, float] = {f"session.{s}": session[f] for s, f, _u in LAYER_FIELDS[:5]}
    for layer in LAYERS:
        rec = layers.get(layer, zero)
        m.update({f"{layer}.{s}": rec[f] for s, f, _u in LAYER_FIELDS})

    def spans(names):
        return [s for s in tracer.spans if s["call"].rsplit(".", 1)[-1] in names]

    for layer, names in PAIR_CALLS.items():
        got = spans(names)
        cand = sum(s["join_rows"] for s in got)
        key = "candidate_pairs" if layer == "operators.dedup" else "pairs_scored"
        m[f"{layer}.{key}"] = cand
        m[f"{layer}.pair_yield"] = sum(s["rows_out"] for s in got) / cand if cand else 0.0
    m["sources.readers.mb_read"] = layers.get("sources.readers", zero)["input_mb"]
    m["sources.writers.files"] = _data_files(out_dir)
    m["sources.writers.mb_written"] = layers.get("sources.writers", zero)["output_mb"]
    m["operators.graph.edges"] = sum(s["rows_out"] for s in spans(EDGE_CALLS))
    m["queries.build_s"] = layers.get("queries", zero)["build_s"]
    m["queries.build_jobs"] = layers.get("queries", zero)["build_jobs"]
    m["trace_overhead_s"] = overhead_s
    return m


def main(argv: list[str] | None = None) -> int:
    age0 = tracing.process_age_s()
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt", action="store_true",
        help="damage every pass's output before its check (proves the checks bite)",
    )
    args = ap.parse_args(argv)
    pass_fn, check_cls = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    _environment(nproc)
    ext_pre = tracing.busy_cores(0.25)

    t0 = time.perf_counter()
    spark = _setup(nproc)
    setup_s = age0 + (time.perf_counter() - t0)
    try:
        result, context = _run(args, spark, setup_s, pass_fn, check_cls)
    finally:
        _stop(spark)
    context.update(
        nproc=nproc,
        ext_busy_cores_pre=round(ext_pre, 2),
        ext_busy_cores_post=round(tracing.busy_cores(0.25), 2),
    )
    print(json.dumps({"context": context}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def _run(args, spark, setup_s, pass_fn, check_cls) -> tuple[dict, dict]:
    """Passes, checks and metrics; returns (result, context)."""
    import pyspark

    from pyspark_data_processing_challenge_spark.session import scratch_dir

    probe = tracing.Probe(spark)
    warm_jobs = probe.jobs("setup")
    session = {
        "wall_s": setup_s,
        "jobs": len(warm_jobs),
        "gc_s": probe.gc_s(),
        "jvm_cpu_s": probe.stage_totals(warm_jobs)["jvm_cpu_s"],
        "py_cpu_s": probe.procs.py_cpu_s(),
    }
    in_dir, truth, gen_s = generators.cached(os.path.join(WORK, "inputs"), args.workload, args.seed)
    in_bytes = _data_bytes(in_dir)
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    passes: list[dict] = []

    def one_pass(kind: str, tracer=None) -> dict:
        i = len(passes)
        alias = os.path.join(run_dir, f"in{i}")
        os.symlink(in_dir, alias)
        out = os.path.join(run_dir, f"out{i}")
        spark.catalog.clearCache()
        group = f"pass{i}"
        spark.sparkContext.setJobGroup(group, kind)
        t = time.perf_counter()
        pass_fn(spark, tracer or tracing.Passthrough(), alias, out, tracer is not None)
        wall = time.perf_counter() - t
        jobs = probe.jobs(group)
        if tracer is not None:
            jobs = [j for s in tracer.spans for j in probe.jobs(s["tag"])] + jobs
        rec = {
            "kind": kind, "wall_s": wall, "out": out, "jobs": len(jobs),
            "shuffle_write_mb": probe.stage_totals(jobs)["shuffle_write_mb"],
        }
        passes.append(rec)
        return rec

    one_pass("warmup")
    t_window = time.perf_counter()
    while True:
        one_pass("timed")
        timed = [p for p in passes if p["kind"] == "timed"]
        if len(timed) >= MIN_TIMED_PASSES and time.perf_counter() - t_window >= args.seconds:
            break
    wall_s = statistics.median(p["wall_s"] for p in timed)

    tracer = None
    if args.trace:
        tracer = tracing.Tracer(probe, "traced", time.perf_counter())
        traced = one_pass("traced", tracer)
    jvm_rss_mb, worker_rss_mb = probe.procs.peak_rss_mb()

    # ---- checks, outside the timed window
    checker = check_cls(in_dir, truth)
    ref = passes[0]
    failed = 0
    scores = []
    for p in passes:
        if args.corrupt:
            victim = next(
                os.path.join(dp, f) for dp, _dn, fs in sorted(os.walk(p["out"]))
                for f in sorted(fs) if f.endswith(".parquet")
            )
            os.remove(victim)
        ok, score = checker.check(p["out"])
        if p["kind"] != "traced":
            # independent passes do identical work
            ok = ok and ref["shuffle_write_mb"] > 0 and (p["jobs"], p["shuffle_write_mb"]) == (
                ref["jobs"], ref["shuffle_write_mb"],
            )
        p["ok"] = ok
        failed += not ok
        scores.append(score)

    if tracer is not None:
        overhead = traced["wall_s"] - wall_s
        metrics = _layer_metrics(tracer, session, overhead, traced["out"])
        units = per_layer_units()
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json")
        with open(trace_path, "w", encoding="utf-8") as fh:
            json.dump({"spans": tracer.spans, "layers": tracer.layers(), "session": session,
                       "trace_overhead_s": overhead}, fh, indent=1)
    else:
        trace_path = None
        timed_outs = [_data_bytes(p["out"]) / in_bytes for p in passes if p["kind"] == "timed"]
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "peak_rss_mb": jvm_rss_mb + sum(worker_rss_mb),
            "out_bytes_per_in_byte": statistics.median(timed_outs),
            "recall": min(scores),
        }
        units = END_TO_END_UNITS

    shutil.rmtree(run_dir, ignore_errors=True)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "pyspark": pyspark.__version__,
        "driver_memory": DRIVER_MEMORY,
        "scratch_dir": scratch_dir(),
        "generation_s": round(gen_s, 3),
        "input_mb": round(in_bytes / tracing.MB, 3),
        "input_rows": truth["raw_rows"],
        "rows_per_s": truth["raw_rows"] / wall_s,
        "pass_kinds": [p["kind"] for p in passes],
        "pass_walls_s": [round(p["wall_s"], 4) for p in passes],
        "pass_jobs": [p["jobs"] for p in passes],
        "pass_shuffle_write_mb": [round(p["shuffle_write_mb"], 4) for p in passes],
        "pass_ok": [p["ok"] for p in passes],
        "jvm_hwm_mb": round(jvm_rss_mb, 1),
        "worker_hwm_mb": [round(x, 1) for x in worker_rss_mb],
        "fail_ratio": failed / len(passes),
        "trace_file": trace_path and os.path.relpath(trace_path, ROOT),
    }
    result = {
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return result, context


if __name__ == "__main__":
    sys.exit(main())
