"""The config-driven runner on NON-reference data: a user pointing the
reference's config format at their own table (lineitem-as-CSV) gets the
full pipeline — proof the runner is general, not a replay."""

from __future__ import annotations

import copy
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from pyspark_data_processing_challenge_spark import pipeline
from pyspark_data_processing_challenge_spark.operators import quality
from pyspark_data_processing_challenge_spark.operators.relational import apply_pipeline
from tests.conftest import SF_DIR


def _write_csv(spark, path, *, null_ruta=False):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(500)
    ruta = F.col("l_suppkey").cast("int")
    if null_ruta:  # empty CSV field -> null under the declared schema
        ruta = F.when(F.col("l_linenumber") != 2, ruta)
    (
        li.select(
            F.col("l_returnflag").alias("pais"),
            F.date_format("l_shipdate", "yyyyMMdd").alias("fecha_proceso"),
            F.col("l_linenumber").alias("transporte"),
            ruta.alias("ruta"),
            F.col("l_linestatus").alias("tipo_entrega"),
            F.col("l_shipdate").cast("string").alias("material"),
            F.col("l_extendedprice").alias("precio"),
            F.col("l_quantity").alias("cantidad"),
            F.when(F.col("l_returnflag") == "A", "CS").otherwise("ST").alias("unidad"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )


CONF = {
    "environment": {"name": "DEV"},
    "run_parameters": {
        "start_date": "1992-01-01",
        "end_date": "1998-12-31",
        "output_base_path": "out",
        "date_filter_column": "fecha_proceso",
        "country_filter_column": "pais",
        "country_filter_value": "TODOS",
        "partition_columns": ["pais"],
    },
    "input_data": {
        "file_path": "raw",
        "file_format": "csv",
        "options": {"header": True},
        "schema": {
            "fields": [
                {"name": "pais", "type": "string"},
                {"name": "fecha_proceso", "type": "string"},
                {"name": "transporte", "type": "integer"},
                {"name": "ruta", "type": "integer"},
                {"name": "tipo_entrega", "type": "string"},
                {"name": "material", "type": "string"},
                {"name": "precio", "type": "double"},
                {"name": "cantidad", "type": "double"},
                {"name": "unidad", "type": "string"},
            ]
        },
    },
    "data_quality": {
        "input": {"min_expected_rows": 10, "required_columns": ["pais", "precio"]},
        "output": {"not_nulls": ["precio", "material"]},
    },
    "derived_cols": {
        "col1": {"source": "tipo_entrega", "name": "entrega_rutina", "conditions": ["F"]},
        "col2": {
            "source": "tipo_entrega",
            "name": "entrega_bonificada",
            "conditions": ["O"],
        },
    },
    "data_filling": {
        "text": {"columns": ["material"], "value": "NOT INFO"},
        "number": {"columns": ["precio"], "value": 0},
    },
    "unit_conversion": {
        "quantity": {"new_name": "cantidad_estandar", "name": "cantidad"},
        "price": {"new_name": "precio_estandar", "name": "precio"},
        "unit": {
            "new_name": "unidad_estandar",
            "new_value": "ST",
            "name": "unidad",
            "value": "CS",
            "factor": 20,
        },
    },
    "additional_fields": {"total": "total_estandar", "file": "filename"},
    "columns_config": {
        "columns_order": [
            "fecha_proceso",
            "pais",
            "material",
            "tipo_entrega",
            "entrega_rutina",
            "entrega_bonificada",
            "precio_origen",
            "cantidad_origen",
            "unidad_origen",
            "precio_estandar",
            "cantidad_estandar",
            "unidad_estandar",
            "total_estandar",
            "filename",
        ],
        "columns_rename": {
            "precio": "precio_origen",
            "cantidad": "cantidad_origen",
            "unidad": "unidad_origen",
        },
    },
}


def test_pipeline_on_generic_data(spark, tmp_path):
    _write_csv(spark, str(tmp_path / "raw"))
    result = pipeline.run(spark, CONF, base_dir=str(tmp_path), write=True)
    assert result.metrics["rows_after_filters"] > 0
    out = spark.read.parquet(str(tmp_path / "out" / "DEV"))
    assert set(out.columns) == set(CONF["columns_config"]["columns_order"])
    # unit conversion applied: CS rows (returnflag A) scaled by 20
    cs = out.filter(F.col("unidad_origen") == "CS").first()
    if cs is not None:
        assert cs["cantidad_estandar"] == cs["cantidad_origen"] * 20
        assert cs["unidad_estandar"] == "ST"
    # partition dirs by pais
    dirs = {d for d in os.listdir(tmp_path / "out" / "DEV") if d.startswith("pais=")}
    assert dirs


def _tree(root):
    """{relative path: sha256} of every file under root, dot-files too."""
    out = {}
    for dp, _dn, files in os.walk(root):
        for f in files:
            full = os.path.join(dp, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_output_gate_failure_keeps_previous_output(spark, tmp_path):
    """The not-null gate runs on the write: a failing gate raises with
    the column and its count, the existing output stays byte-identical,
    and no staging directory is left behind."""
    _write_csv(spark, str(tmp_path / "raw"))
    pipeline.run(spark, CONF, base_dir=str(tmp_path))
    out_root = tmp_path / "out"
    before = _tree(out_root)
    assert before

    _write_csv(spark, str(tmp_path / "raw"), null_ruta=True)
    conf = copy.deepcopy(CONF)
    conf["data_quality"]["output"]["not_nulls"] = ["ruta", "precio"]
    conf["columns_config"]["columns_order"].append("ruta")
    out, _ = pipeline.transform(pipeline.read_input(spark, conf, base_dir=str(tmp_path)), conf)
    n_null = quality.null_counts(out, ["ruta"]).first()["ruta"]
    assert n_null > 0
    with pytest.raises(quality.QualityError, match=rf"'ruta': {n_null}\b"):
        pipeline.run(spark, conf, base_dir=str(tmp_path))
    assert _tree(out_root) == before
    assert sorted(os.listdir(out_root)) == ["DEV"]


def test_rerun_replaces_every_partition(spark, tmp_path):
    """A re-run publishes its own partition set only: a partition the
    new run does not produce must not survive from the old output."""
    _write_csv(spark, str(tmp_path / "raw"))
    pipeline.run(spark, CONF, base_dir=str(tmp_path))
    dev = tmp_path / "out" / "DEV"
    assert {d for d in os.listdir(dev) if d.startswith("pais=")} == {
        "pais=A", "pais=N", "pais=R"
    }
    conf = copy.deepcopy(CONF)
    conf["run_parameters"]["country_filter_value"] = "R"
    pipeline.run(spark, conf, base_dir=str(tmp_path))
    assert {d for d in os.listdir(dev) if d.startswith("pais=")} == {"pais=R"}
    assert sorted(os.listdir(tmp_path / "out")) == ["DEV"]


def test_empty_output_still_gated_and_counted(spark, tmp_path):
    """No row survives the filters: AQE prunes the empty rebalance stage
    and the observations inside it, so the run must recount from the
    staged output and still publish an (empty) output."""
    _write_csv(spark, str(tmp_path / "raw"))
    conf = copy.deepcopy(CONF)
    conf["run_parameters"]["start_date"] = "2100-01-01"
    conf["run_parameters"]["end_date"] = "2100-12-31"
    result = pipeline.run(spark, conf, base_dir=str(tmp_path))
    assert result.metrics == {"rows_after_filters": 0}
    assert os.path.isdir(tmp_path / "out" / "DEV")
    assert sorted(os.listdir(tmp_path / "out")) == ["DEV"]


def test_pipeline_scans_input_once(spark, tmp_path):
    """Besides the LIMIT probe of the input gate, exactly one SQL
    execution reads the CSV: the output gate rides on the write instead
    of re-running the lineage as its own action."""
    _write_csv(spark, str(tmp_path / "raw"))
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        execs = store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    seen = {e.executionId() for e in executions()}
    pipeline.run(spark, CONF, base_dir=str(tmp_path))
    plans = [
        e.physicalPlanDescription()
        for e in executions()
        if e.executionId() not in seen and e.executionId() == e.rootExecutionId()
    ]
    csv = [p for p in plans if "Scan csv" in p]
    probes = [p for p in csv if "GlobalLimit" in p]
    assert len(probes) == 1
    assert len(csv) - len(probes) == 1


def test_apply_pipeline_composition(spark):
    df = spark.range(10).withColumnRenamed("id", "x")
    out = apply_pipeline(
        df,
        [
            lambda d: d.filter(F.col("x") % 2 == 0),
            lambda d: d.withColumn("y", F.col("x") * 10),
        ],
    )
    rows = out.collect()
    assert [r["y"] for r in rows] == [0, 20, 40, 60, 80]
