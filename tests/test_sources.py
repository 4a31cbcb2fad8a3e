"""Source/sink round-trip tests: CSV and JSON scans with declared
schemas + lineage, partitioned writes, cardinality guard, logging setup."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from pyspark_data_processing_challenge_spark import logging_setup
from pyspark_data_processing_challenge_spark.sources import read_table, write_table
from tests.conftest import SF_DIR

SCHEMA = [
    {"name": "pais", "type": "string"},
    {"name": "fecha_proceso", "type": "string"},
    {"name": "precio", "type": "double"},
    {"name": "cantidad", "type": "double"},
]

ROWS = [
    ("GT", "20250114", 12.5, 3.0),
    ("PE", "20250115", 0.0, 10.0),
    ("EC", "20250116", 7.25, 1.0),
]


@pytest.fixture()
def csv_dir(tmp_path):
    p = tmp_path / "raw csv dir"
    p.mkdir()
    f = p / "deliveries (part 1).csv"  # space in name: lineage URL-decode case
    f.write_text(
        "pais,fecha_proceso,precio,cantidad\n"
        + "\n".join(",".join(str(x) for x in r) for r in ROWS)
        + "\n"
    )
    return str(p)


def test_csv_read_with_schema_and_lineage(spark, csv_dir):
    df = read_table(
        spark,
        {
            "path": csv_dir,
            "format": "csv",
            "options": {"header": True},
            "schema": SCHEMA,
            "lineage_col": "filename",
        },
    )
    rows = df.collect()
    assert len(rows) == 3
    assert df.schema["precio"].dataType.simpleString() == "double"
    # url_decode=True default: raw filename with the space restored
    assert rows[0]["filename"] == "deliveries (part 1).csv"

    # bug-compatible reference mode: URL-encoded basename
    enc = read_table(
        spark,
        {
            "path": csv_dir,
            "format": "csv",
            "options": {"header": True},
            "schema": SCHEMA,
            "lineage_col": "filename",
            "url_decode": False,
        },
    ).first()["filename"]
    assert enc == "deliveries%20(part%201).csv"


def test_json_roundtrip(spark, tmp_path):
    src = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    out = str(tmp_path / "nation_json")
    write_table(src, {"path": out, "format": "json"})
    back = read_table(
        spark,
        {
            "path": out,
            "format": "json",
            "schema": [
                {"name": "n_nationkey", "type": "int"},
                {"name": "n_name", "type": "string"},
                {"name": "n_regionkey", "type": "int"},
            ],
        },
    )
    assert sorted(r["n_name"] for r in back.collect()) == sorted(
        r["n_name"] for r in src.collect()
    )


def test_partitioned_write_layout(spark, tmp_path):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").withColumn(
        "flag", F.col("l_returnflag")
    )
    out = str(tmp_path / "part_out")
    # four input partitions, each holding every flag: without the
    # rebalance each task writes its own file into every directory
    write_table(li.repartition(4), {"path": out, "partition_by": ["flag"]})
    dirs = {d for d in os.listdir(out) if d.startswith("flag=")}
    assert dirs == {"flag=A", "flag=N", "flag=R"}
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(out, d)) if not f.startswith((".", "_"))]
        assert len(files) == 1, (d, files)
    back = spark.read.parquet(out)
    assert back.count() == li.count()


def test_partition_cardinality_guard(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    with pytest.raises(ValueError, match="partitions"):
        write_table(
            li,
            {
                "path": "/tmp/should_not_exist",
                "partition_by": ["l_orderkey"],
                "check_partition_cardinality": True,
            },
            max_partitions=100,
        )


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError, match="format"):
        read_table(spark, {"path": "/tmp/x", "format": "avro"})


def test_logging_setup(tmp_path):
    log_file = str(tmp_path / "logs" / "run.log")
    logger = logging_setup.setup_logging(log_file=log_file, log_level="INFO")
    logger.info("hello pipeline")
    logger2 = logging_setup.setup_logging(log_file=log_file)  # idempotent
    logger2.info("second line")
    content = open(log_file).read()
    assert "hello pipeline" in content and "second line" in content
    assert len(logger2.handlers) == 2  # file + stdout, no duplicates


def test_compaction_reduces_files_and_preserves_rows(spark, tmp_path):
    from pyspark_data_processing_challenge_spark.sources import maintenance

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    li.repartition(40).write.parquet(src)  # simulate a small-file mess

    frag = spark.read.parquet(src)
    n_in, total_bytes = maintenance.input_file_stats(frag)
    assert n_in >= 40 and total_bytes > 0

    n_out = maintenance.compact_parquet(spark, src, dst, target_file_mb=256)
    out = spark.read.parquet(dst)
    n_files, _ = maintenance.input_file_stats(out)
    assert n_out == 1  # sf0.001 lineitem is far below 256 MB
    assert n_files < n_in
    assert out.count() == li.count()


def test_sorted_compaction_gives_disjoint_ranges(spark, tmp_path):
    from pyspark_data_processing_challenge_spark.sources import maintenance

    src = str(tmp_path / "frag2")
    dst = str(tmp_path / "sorted")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    li.repartition(16).write.parquet(src)
    # force >1 output file to exercise the range partitioning
    _, total = maintenance.input_file_stats(spark.read.parquet(src))
    target_mb = (total / 3) / (1024 * 1024)
    maintenance.compact_parquet(
        spark, src, dst, target_file_mb=target_mb, sort_by="l_orderkey"
    )
    out = spark.read.parquet(dst)
    assert out.count() == li.count()
    # per-file key ranges must not overlap (the pruning property)
    ranges = (
        out.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("l_orderkey").alias("lo"), F.max("l_orderkey").alias("hi"))
        .collect()
    )
    spans = sorted((r["lo"], r["hi"]) for r in ranges)
    assert len(spans) >= 2
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert lo_next >= hi_prev


@pytest.fixture()
def corrupt_csv_dir(tmp_path):
    p = tmp_path / "corrupt"
    p.mkdir()
    (p / "data.csv").write_text(
        "pais,fecha_proceso,precio,cantidad\n"
        "GT,20250114,12.5,3.0\n"
        "PE,20250115,not_a_number,10.0\n"  # malformed double
        "EC,20250116,7.25,1.0\n"
    )
    return str(p)


def test_csv_malformed_row_policies(spark, corrupt_csv_dir):
    """The three production stances toward bad rows, all config-driven
    through the same reader (at 100 TB a single bad row must be a
    POLICY decision, not a surprise):
    PERMISSIVE nulls the bad field, DROPMALFORMED removes the row,
    FAILFAST aborts the job."""
    base = {
        "path": corrupt_csv_dir,
        "format": "csv",
        "schema": SCHEMA,
    }
    permissive = read_table(
        spark, {**base, "options": {"header": True, "mode": "PERMISSIVE"}}
    ).collect()
    assert len(permissive) == 3
    assert any(r["precio"] is None for r in permissive)

    dropped = read_table(
        spark, {**base, "options": {"header": True, "mode": "DROPMALFORMED"}}
    ).collect()
    assert len(dropped) == 2
    assert all(r["precio"] is not None for r in dropped)

    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_table(
            spark, {**base, "options": {"header": True, "mode": "FAILFAST"}}
        ).collect()


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """A filter on the partition column must prune directories at plan
    time — the scan's partition count, not a post-scan filter, is what
    makes date-partitioned layouts work at 100 TB."""
    from pyspark_data_processing_challenge_spark import plans

    out = str(tmp_path / "by_year")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    li.withColumn("ship_year", F.year(F.to_date("l_shipdate"))).write.partitionBy(
        "ship_year"
    ).parquet(out)

    df = spark.read.parquet(out).filter(F.col("ship_year") == 1995)
    plan = plans.executed_plan(df)
    assert "PartitionFilters: [" in plan
    assert "ship_year" in plan.split("PartitionFilters:")[1].split("]")[0]
    got_years = {r["ship_year"] for r in df.select("ship_year").distinct().collect()}
    assert got_years == {1995}


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Evolving tables: files written before a column existed must
    still union into the widened schema (mergeSchema) with nulls for
    the missing column — the 100 TB reality of append-only datasets."""
    out = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(
        f"{out}/batch=1"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.parquet(f"{out}/batch=2")
    df = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(df.columns) >= {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in df.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_aqe_coalesces_small_shuffles(spark):
    """AQE must shrink the configured 32 shuffle partitions down to
    what the data actually needs — the runtime re-plan this session
    enables (session.py) and the reason static partition tuning isn't
    load-bearing at small scale."""
    from pyspark_data_processing_challenge_spark import plans

    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .groupBy("o_orderstatus")
        .count()
    )
    df.collect()  # materialize so AQE finalizes the plan
    plan = plans.executed_plan(df)
    assert "AQEShuffleRead" in plan and "coalesced" in plan


def test_python_datasource_connector(spark):
    """Spark 4 Python DataSource API: the custom connector plans its own
    partitions driver-side and generates rows executor-side, and the
    result is deterministic across reads."""
    from pyspark_data_processing_challenge_spark.sources import pysource

    # the reader implements pushFilters(), and Spark 4.1.2 REFUSES to
    # even initialize such a reader unless python filter pushdown is on
    # — the engine's session turns it on (session._DEFAULTS); pin it
    # here so the test doesn't depend on what an earlier test left set
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    pysource.register(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("rows", 97)
        .option("partitions", 5)
        .load()
    )
    assert df.count() == 97
    assert df.rdd.getNumPartitions() == 5
    assert df.columns == ["doc_id", "text", "lang"]
    a = sorted(tuple(r) for r in df.collect())
    b = sorted(tuple(r) for r in df.collect())
    assert a == b
    assert a[0][0] == 0 and a[-1][0] == 96
    langs = {r[2] for r in a}
    assert langs == {"en", "de", "fr", "es"}


def test_jsonl_malformed_policies(spark, tmp_path):
    """The three JSON malformed-record policies: PERMISSIVE quarantines,
    DROPMALFORMED drops, FAILFAST raises."""
    import pytest as _pytest

    from pyspark_data_processing_challenge_spark.sources.readers import (
        quarantine_corrupt,
        read_jsonl,
    )

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"id": 1, "body": "ok"}\n'
        "this is not json\n"
        '{"id": 2, "body": "also ok"}\n'
        '{"id": "NaNope", "body": 3}\n'
    )
    schema_conf = [
        {"name": "id", "type": "long", "nullable": True},
        {"name": "body", "type": "string", "nullable": True},
    ]
    perm = read_jsonl(spark, str(p), schema_conf)
    clean, quarantined = quarantine_corrupt(perm)
    assert sorted((r["id"], r["body"]) for r in clean.collect()) == [
        (1, "ok"),
        (2, "also ok"),
    ]
    bad = [r["raw_line"] for r in quarantined.collect()]
    assert "this is not json" in bad and len(bad) == 2

    # engine subtlety worth pinning: materialized DROPMALFORMED drops
    # BOTH the syntax error and the type-mismatch row — but a bare
    # count() says 3, because column pruning strips the schema from the
    # scan and the parser then only checks SYNTAX. Row-count gates over
    # DROPMALFORMED JSON must count a materialized column, not count().
    dropped = read_jsonl(spark, str(p), schema_conf, mode="DROPMALFORMED")
    assert len(dropped.collect()) == 2
    assert dropped.count() == 3  # pruned-scan count sees syntax only

    with _pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_jsonl(spark, str(p), schema_conf, mode="FAILFAST").collect()

    with _pytest.raises(ValueError, match="unknown JSON mode"):
        read_jsonl(spark, str(p), schema_conf, mode="LENIENT")


def test_orc_round_trip(spark, tmp_path):
    # ORC in the format vocabulary is real, not just listed: write via
    # the config-driven writer, read back via the config-driven reader,
    # contents and dtypes survive
    from pyspark_data_processing_challenge_spark.sources import readers, writers

    src = spark.read.parquet(f"{SF_DIR}/orders.parquet").limit(200)
    path = str(tmp_path / "orders_orc")
    writers.write_table(src, {"path": path, "format": "orc"})
    back = readers.read_table(spark, {"path": path, "format": "orc"})
    assert back.schema == src.schema
    assert back.exceptAll(src).count() == 0
    assert src.exceptAll(back).count() == 0


def test_pyds_docs_pushdown_leaves_session_conf_alone(spark, sf_dir):
    """Building and running the pushdown query writes no session conf:
    python filter pushdown comes from the session (session._DEFAULTS),
    and the query returns the same range as before."""
    from pyspark_data_processing_challenge_spark.queries import extra

    def conf():
        return sorted(tuple(r) for r in spark.sql("SET").collect())

    before = conf()
    rows = extra.pyds_docs_pushdown(spark, sf_dir).collect()
    assert conf() == before
    assert sum(r[1] for r in rows) == 1000  # doc_id in [500, 1500)


def test_python_datasource_filter_pushdown_prunes_partitions(spark):
    """Spark 4.1 pushFilters: a consumed doc_id range must shrink the
    PLANNED partitions (pruned shards never generate rows), and the
    filtered result must equal post-hoc filtering of the full read."""
    from pyspark.sql import functions as F

    from pyspark_data_processing_challenge_spark.sources import pysource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    pysource.register(spark)

    def rd():
        return (
            spark.read.format("synthetic_docs")
            .option("rows", 2000)
            .option("partitions", 8)
            .load()
        )

    rng = (F.col("doc_id") >= 500) & (F.col("doc_id") < 1500)
    pushed = rd().filter(rng)
    assert pushed.rdd.getNumPartitions() == 4  # 8 planned -> 4 survive
    assert rd().rdd.getNumPartitions() == 8
    got = sorted(tuple(r) for r in pushed.collect())
    want = sorted(tuple(r) for r in rd().collect() if 500 <= r[0] < 1500)
    assert got == want
    # a non-consumable filter (lang) stays with Spark and still works
    mixed = rd().filter(rng & (F.col("lang") == "en"))
    assert mixed.count() == len([r for r in want if r[2] == "en"])
