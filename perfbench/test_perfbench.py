"""The benchmark's own tests: seeded generators, BENCHMARK.json agreeing
with what ``run.py`` prints, and checks that reject a damaged output.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import generators  # noqa: E402
import run  # noqa: E402


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dp, dn, files in os.walk(root):
        dn.sort()
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(dp, f), root).encode())
            with open(os.path.join(dp, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate(tmp_path, workload: str, seed: int, tag: str) -> str:
    out = tmp_path / f"{workload}-{seed}-{tag}"
    out.mkdir()
    truth = generators.GENERATORS[workload](str(out), seed)
    (out / "truth.json").write_text(json.dumps(truth))
    return str(out)


@pytest.mark.parametrize("workload", sorted(generators.GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    a = _digest(_generate(tmp_path, workload, 7, "a"))
    b = _digest(_generate(tmp_path, workload, 7, "b"))
    c = _digest(_generate(tmp_path, workload, 8, "c"))
    assert a == b
    assert a != c


@pytest.mark.parametrize("workload", sorted(generators.GENERATORS))
def test_scans_are_split(tmp_path, workload):
    """Several files, and Parquet files with several row groups, so a
    scan is never one task on one core."""
    root = _generate(tmp_path, workload, 3, "x")
    files = [
        f for f in glob.glob(f"{root}/**/*.*", recursive=True)
        if os.path.isfile(f) and not f.endswith("truth.json")
    ]
    assert len(files) >= 4
    for f in files:
        if f.endswith(".parquet"):
            assert pq.ParquetFile(f).num_row_groups >= 2


def test_cache_reuses_a_seed_and_keys_by_seed(tmp_path):
    root = str(tmp_path / "cache")
    d1, t1, s1 = generators.cached(root, "vector_ann", 1)
    d2, t2, s2 = generators.cached(root, "vector_ann", 1)
    d3, _t3, _s3 = generators.cached(root, "vector_ann", 2)
    assert (d1, t1) == (d2, t2) and s1 > 0 and s2 == 0.0
    assert d3 != d1 and f"g{generators.GEN_VERSION}" in d1


def test_benchmark_json_lists_what_run_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_corrupted_output_fails_the_run():
    """A damaged output file must fail every pass's check and the run."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "vector_ann",
         "--seed", "11", "--seconds", "1", "--trace", "0", "--corrupt"],
        capture_output=True, text=True, timeout=600, check=False,
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert proc.returncode != 0
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] >= 3
