"""The catalog's one build-time memo (queries/_util.memo): a memoized
sub-result belongs to one Spark application and one state of the input
files, and nothing outside _util keeps or clears a memo by name."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pyarrow.parquet as pq

from pyspark_data_processing_challenge_spark.queries import _util, advanced, extended
from tests.conftest import SF_DIR

ROOT = Path(__file__).resolve().parents[1]


def test_memo_follows_input_rewrite(spark, tmp_path):
    """Rewriting embeddings.parquet in place must change the answer of
    every memoized consumer: after the rewrite, a dir that was already
    queried answers exactly like a fresh dir holding the new file."""
    src = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    live, fresh = tmp_path / "live", tmp_path / "fresh"
    live.mkdir()
    fresh.mkdir()
    pq.write_table(src, live / "embeddings.parquet")
    consumers = (advanced.embedding_top_pc, extended.embedding_knn_graph)

    def answers(d):
        return [sorted(q(spark, str(d)).collect()) for q in consumers]

    before = answers(live)
    small = src.slice(0, src.num_rows * 3 // 5)
    pq.write_table(small, live / "embeddings.parquet")
    pq.write_table(small, fresh / "embeddings.parquet")
    after = answers(live)
    assert after == answers(fresh)
    assert after[0] != before[0] and len(after[1]) < len(before[1])


def test_memo_stamp_follows_symlinked_twins(tmp_path):
    """bench re-reps read through symlinked twin dirs: a rewrite of the
    target file must show through the link."""
    real, twin = tmp_path / "real", tmp_path / "twin"
    real.mkdir()
    twin.mkdir()
    (real / "t.parquet").write_bytes(b"abc")
    os.symlink(real / "t.parquet", twin / "t.parquet")
    stamp = _util._stamp(str(twin))
    assert [(p, size) for p, size, _ in stamp] == [("t.parquet", 3)]
    (real / "t.parquet").write_bytes(b"abcdef")
    assert _util._stamp(str(twin)) != stamp


def test_memo_does_not_outlive_its_session():
    """A localCheckpointed memo entry belongs to the SparkContext that
    built it: building the kNN graph on session A, stopping A, then
    counting it on session B must recompute, not read A's dead blocks.
    Runs in its own interpreter because it stops its sessions."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from pyspark_data_processing_challenge_spark.queries import extended
        from pyspark_data_processing_challenge_spark.session import get_session

        counts = []
        for app in ("memo-session-a", "memo-session-b"):
            s = get_session(app, master="local[2]", shuffle_partitions=2)
            counts.append(extended.embedding_knn_graph(s, {SF_DIR!r}).count())
            s.stop()
        print("COUNTS", *counts)
        """
    )
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    run = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    line = next(x for x in run.stdout.splitlines() if x.startswith("COUNTS"))
    n_a, n_b = map(int, line.split()[1:])
    assert n_a == n_b > 0


def test_memo_lives_only_in_util():
    """One memo scope: no query module keeps its own memo dict, and the
    bench and profiler reset state only through _util.reset."""
    queries = ROOT / "pyspark_data_processing_challenge_spark" / "queries"
    files = [p for p in queries.glob("*.py") if p.name != "_util.py"]
    files += [ROOT / "bench.py", *(ROOT / "tools").glob("*.py")]
    offenders = [str(p.relative_to(ROOT)) for p in files if "_MEMO" in p.read_text()]
    assert not offenders, f"memo dicts outside queries/_util.py: {offenders}"
