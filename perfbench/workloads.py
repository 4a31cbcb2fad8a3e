"""The three workloads: one pass each, plus the correctness checks.

A pass takes a :class:`tracing.Passthrough` (timed passes) or a
:class:`tracing.Tracer` (the traced pass) and calls the package only
through public functions. Every check recomputes the expected answer
independently on this host: DuckDB replays the ETL config, the corpus
check reads the generator's planted truth, and numpy replays the vector
search and the semantic-dedup pairs.
"""

from __future__ import annotations

import copy
import os

import numpy as np

import generators as g

# ---------------------------------------------------------------- passes


def etl_pass(spark, tr, in_dir: str, out_dir: str, traced: bool) -> None:
    """The paper's job. Timed passes make the one ``pipeline.run``
    call; the traced pass makes the same calls ``run`` makes, one span
    each, so every layer's output materializes at its boundary."""
    from pyspark_data_processing_challenge_spark import pipeline
    from pyspark_data_processing_challenge_spark.operators import quality
    from pyspark_data_processing_challenge_spark.sources import write_table

    conf = copy.deepcopy(g.ETL_CONFIG)
    conf["input_data"]["file_path"] = "raw"
    if not traced:
        pipeline.run(spark, conf, base_dir=in_dir, output_path=out_dir)
        return
    dq = conf["data_quality"]
    df = tr.call("sources.readers", pipeline.read_input, spark, conf, base_dir=in_dir)
    tr.call(
        "operators.quality", quality.check_input, df,
        min_rows=dq["input"]["min_expected_rows"],
        required_columns=dq["input"]["required_columns"],
    )
    out, _obs = tr.call("operators.relational", pipeline.transform, df, conf)
    rename = conf["columns_config"]["columns_rename"]
    tr.call("operators.quality", quality.check_no_nulls, out, [rename.get(c, c) for c in dq["output"]["not_nulls"]])
    part = conf["run_parameters"]["partition_columns"]
    tr.call("sources.writers", write_table, out, {"path": out_dir, "partition_by": part, "mode": "overwrite"})


def corpus_pass(spark, tr, in_dir: str, out_dir: str, traced: bool) -> None:
    from pyspark.sql import functions as F

    from pyspark_data_processing_challenge_spark.operators import dedup, graph, multimodal
    from pyspark_data_processing_challenge_spark.sources import read_table, write_table

    df = tr.call("sources.readers", read_table, spark, {"path": f"{in_dir}/corpus", "format": "parquet"})
    rows = tr.call("operators.dedup", dedup.drop_duplicate_rows, df)
    text_pairs = tr.call(
        "operators.dedup", dedup.minhash_near_duplicates, rows, "text", "doc_id",
        num_hashes=g.MINHASH_HASHES, bands=g.MINHASH_BANDS, threshold=g.MINHASH_THRESHOLD,
    )
    hashes = tr.call(
        "operators.multimodal", multimodal.phash_batch,
        rows.select(F.col("doc_id").alias("media_id"), "payload"),
    )
    image_pairs = tr.call(
        "operators.multimodal", multimodal.phash_hamming_pairs, hashes,
        max_distance=g.PHASH_MAX_DISTANCE,
    )
    edges = text_pairs.select("id_a", "id_b").unionByName(image_pairs.select("id_a", "id_b"))
    comp = tr.call("operators.graph", graph.connected_components, edges)
    best = tr.call("operators.graph", graph.cluster_keep_best, rows, comp, "doc_id", "quality")
    kept = best.filter(F.col("keep")).drop("keep")
    tr.call("sources.writers", write_table, kept, {"path": out_dir, "mode": "overwrite"})


def vector_pass(spark, tr, in_dir: str, out_dir: str, traced: bool) -> None:
    from pyspark.sql import functions as F

    from pyspark_data_processing_challenge_spark.operators import graph, similarity
    from pyspark_data_processing_challenge_spark.queries import advanced
    from pyspark_data_processing_challenge_spark.sources import read_table, write_table

    top = tr.call("queries", advanced.ivfpq_topk, spark, in_dir)
    tr.call("sources.writers", write_table, top, {"path": f"{out_dir}/topk", "mode": "overwrite"})
    emb = tr.call("sources.readers", read_table, spark, {"path": f"{in_dir}/embeddings.parquet"})
    cent = emb.filter(F.col("vec_id") < g.SEMDEDUP_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assigned = tr.call(
        "operators.similarity", similarity.ivf_assign, emb, cent, centroid_id="cid", centroid_vec="cv"
    )
    pairs = tr.call(
        "operators.similarity", similarity.semdedup_pairs, assigned,
        threshold=g.SEMDEDUP_THRESHOLD, max_cluster=g.SEMDEDUP_MAX_CLUSTER,
    )
    comp = tr.call("operators.graph", graph.connected_components, pairs)
    tr.call("sources.writers", write_table, comp, {"path": f"{out_dir}/components", "mode": "overwrite"})


# ---------------------------------------------------------------- checks


class EtlCheck:
    """DuckDB replay of the ETL config over the same CSV files,
    compared with the written Parquet by row count and an
    order-independent digest (sum of per-row hashes)."""

    _COLS = g.ETL_CONFIG["columns_config"]["columns_order"]

    def __init__(self, in_dir: str, truth: dict) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        raw = os.path.join(in_dir, "raw")
        cols = ", ".join(
            f"'{f['name']}': '{ {'string': 'VARCHAR', 'integer': 'INTEGER', 'double': 'DOUBLE'}[f['type']] }'"
            for f in g.ETL_CONFIG["input_data"]["schema"]["fields"]
        )
        parts = []
        for name in sorted(os.listdir(raw)):
            # Spark's input_file_name() is a URI: the basename keeps %20
            lineage = name.replace(" ", "%20").replace("'", "''")
            path = os.path.join(raw, name).replace("'", "''")
            parts.append(
                f"SELECT *, '{lineage}' AS filename FROM read_csv('{path}', header=true, "
                f"columns={{{cols}}}, auto_detect=false, quote='\"')"
            )
        self.con.execute(f"CREATE TEMP VIEW raw AS {' UNION ALL '.join(parts)}")
        self.con.execute(f"""
            CREATE TEMP TABLE expected AS
            WITH d AS (SELECT DISTINCT * FROM raw),
            f AS (
              SELECT * REPLACE (try_strptime(fecha_proceso, '%Y%m%d')::DATE AS fecha_proceso) FROM d
            )
            SELECT fecha_proceso, pais,
                   coalesce(material, 'NOT INFO') AS material, transporte, ruta, tipo_entrega,
                   CASE WHEN upper(tipo_entrega) IN ('ZPRE', 'ZVE1') THEN 1 ELSE 0 END AS entrega_rutina,
                   CASE WHEN upper(tipo_entrega) IN ('Z04', 'Z05') THEN 1 ELSE 0 END AS entrega_bonificada,
                   p AS precio_origen, cantidad AS cantidad_origen, unidad AS unidad_origen,
                   CASE WHEN cs THEN {_round2("p / nullif(q, 0)")} ELSE p END AS precio_estandar,
                   q AS cantidad_estandar, 'ST' AS unidad_estandar,
                   q * (CASE WHEN cs THEN {_round2("p / nullif(q, 0)")} ELSE p END) AS total_estandar,
                   filename
            FROM (
              SELECT *, coalesce(precio, 0.0) AS p, upper(unidad) = 'CS' AS cs,
                     CASE WHEN upper(unidad) = 'CS' THEN cantidad * 20.0 ELSE cantidad END AS q
              FROM f
              WHERE fecha_proceso BETWEEN DATE '{g.ETL_START}' AND DATE '{g.ETL_END}'
                AND upper(tipo_entrega) IN ('ZPRE', 'ZVE1', 'Z04', 'Z05')
            )
        """)
        self.expected = self._digest("expected")
        self.raw_rows = truth["raw_rows"]

    def _digest(self, table: str) -> tuple[int, int]:
        cols = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '<null>')" for c in self._COLS)
        n, h = self.con.execute(
            f"SELECT count(*), coalesce(sum(hash(concat_ws('|', {cols}))::HUGEINT), 0) FROM {table}"
        ).fetchone()
        return int(n), int(h)

    def check(self, out_dir: str) -> tuple[bool, float]:
        """(correct, share of expected rows present in the output)."""
        glob = os.path.join(out_dir, "**", "*.parquet").replace("'", "''")
        self.con.execute(
            f"CREATE OR REPLACE TEMP VIEW got AS SELECT * FROM read_parquet('{glob}', hive_partitioning=true)"
        )
        ok = self._digest("got") == self.expected
        if ok:
            return True, 1.0
        cols = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '<null>')" for c in self._COLS)
        (hit,) = self.con.execute(f"""
            WITH e AS (SELECT hash(concat_ws('|', {cols})) AS k, count(*) AS n FROM expected GROUP BY 1),
                 o AS (SELECT hash(concat_ws('|', {cols})) AS k, count(*) AS n FROM got GROUP BY 1)
            SELECT coalesce(sum(least(e.n, o.n)), 0) FROM e JOIN o USING (k)
        """).fetchone()
        return False, int(hit) / max(1, self.expected[0])


def _round2(x: str) -> str:
    """SQL twin of the package's portable half-up rounding."""
    return f"(CASE WHEN abs({x}) >= 1e15 THEN {x} ELSE floor({x} * 100.0 + 0.5) / 100.0 END)"


class CorpusCheck:
    """Kept rows and their cluster ids against the planted truth."""

    def __init__(self, in_dir: str, truth: dict) -> None:
        self.keep = {int(k): int(v) for k, v in truth["keep"].items()}
        self.raw_rows = truth["raw_rows"]

    def check(self, out_dir: str) -> tuple[bool, float]:
        import pyarrow.parquet as pq

        got = pq.read_table(out_dir, columns=["doc_id", "component"]).to_pydict()
        pairs = dict(zip(got["doc_id"], got["component"]))
        ok = len(pairs) == len(got["doc_id"]) == len(self.keep) and pairs == self.keep
        hit = sum(1 for k, v in self.keep.items() if pairs.get(k) == v)
        return ok, hit / len(self.keep)


def _left_fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot products summed strictly left to right, as the
    package's ``aggregate(zip_with(...))`` folds them (cumsum is a
    sequential fold; ``sum`` would pair up terms)."""
    return np.cumsum(a * b, axis=-1)[..., -1]


def _cosine(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return _left_fold_dot(a, b) / (np.sqrt(_left_fold_dot(a, a)) * np.sqrt(_left_fold_dot(b, b)))


class VectorCheck:
    """numpy brute force: the exact top-10 of the served query, and a
    replay of SemDeDup (nearest-centroid assignment, the skew cap's id
    sub-split, within-bucket cosine pairs, min-id components)."""

    def __init__(self, in_dir: str, truth: dict) -> None:
        import pyarrow.parquet as pq
        from pyspark_data_processing_challenge_spark.queries.advanced import PQ_QID, PQ_TOPK

        t = pq.read_table(os.path.join(in_dir, "embeddings.parquet")).to_pydict()
        order = np.argsort(t["vec_id"])
        ids = np.asarray(t["vec_id"], dtype=np.int64)[order]
        vec = np.asarray(t["embedding"], dtype=np.float32)[order].astype(np.float64)
        self.raw_rows = truth["raw_rows"]
        q = vec[ids == PQ_QID][0]
        cos = _cosine(vec, q[None, :])
        cand = [(-c, int(i)) for c, i in zip(cos, ids) if i != PQ_QID]
        self.exact_top = {i for _c, i in sorted(cand)[:PQ_TOPK]}
        self.components = self._semdedup(ids, vec)

    @staticmethod
    def _semdedup(ids: np.ndarray, vec: np.ndarray) -> dict[int, int]:
        cents = vec[ids < g.SEMDEDUP_CENTROIDS]
        cids = ids[ids < g.SEMDEDUP_CENTROIDS]
        scores = np.stack([_cosine(vec, c[None, :]) for c in cents], axis=1)
        best = scores.max(axis=1, keepdims=True)
        # ties go to the smallest centroid id
        assign = np.where(scores == best, cids[None, :], np.iinfo(np.int64).max).min(axis=1)
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for cid in np.unique(assign):
            members = np.flatnonzero(assign == cid)
            nsplits = -(-len(members) // g.SEMDEDUP_MAX_CLUSTER)
            for sub in range(nsplits):
                m = members[ids[members] % nsplits == sub]
                for i in range(len(m)):
                    hits = m[i + 1 :][_cosine(vec[m[i + 1 :]], vec[m[i]][None, :]) >= g.SEMDEDUP_THRESHOLD]
                    for j in hits:
                        a, b = find(int(ids[m[i]])), find(int(ids[j]))
                        parent.setdefault(a, a)
                        parent.setdefault(b, b)
                        parent[max(a, b)] = min(a, b)
        return {node: find(node) for node in parent}

    def check(self, out_dir: str) -> tuple[bool, float]:
        import pyarrow.parquet as pq

        top = pq.read_table(os.path.join(out_dir, "topk"), columns=["vec_id"]).column(0).to_pylist()
        comp = pq.read_table(os.path.join(out_dir, "components"), columns=["node", "component"]).to_pydict()
        got = dict(zip(comp["node"], comp["component"]))
        recall = len(set(top) & self.exact_top) / len(self.exact_top)
        ok = len(top) == len(self.exact_top) and recall >= 0.9 and got == self.components
        return ok, recall


WORKLOADS = {
    "etl_reference": (etl_pass, EtlCheck),
    "corpus_dedup": (corpus_pass, CorpusCheck),
    "vector_ann": (vector_pass, VectorCheck),
}
