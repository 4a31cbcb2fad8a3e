"""Seeded input generators, one per workload.

Each generator writes its inputs into a fresh directory and returns the
planted truth the correctness checks compare against. The same seed
gives byte-identical files; :func:`cached` keys a directory by workload,
seed and ``GEN_VERSION`` so a repeated seed reuses its files.

Nothing here imports Spark. The JPEG payloads are encoded with the
package's own baseline codec, so the program decodes what it wrote.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generator's output for a given seed changes.
GEN_VERSION = 1

# Cache entries kept per checkout; older ones are removed on insert.
CACHE_KEEP = 6

# ---------------------------------------------------------------- etl

ETL_FILES = 8
ETL_ROWS = 160_000  # raw CSV rows over all files
ETL_DUP_SHARE = 0.6  # share of raw rows that repeat an earlier row
ETL_START, ETL_END = "2024-12-01", "2025-07-30"
_ETL_DATES_IN = [
    "20241215", "20250105", "20250114", "20250203", "20250228", "20250317",
    "20250408", "20250430", "20250515", "20250602", "20250618", "20250711",
]
_ETL_DATES_OUT = ["20241120", "20250815"]
_ETL_DATES_BAD = ["garbage", "20251301"]
_PAISES = ["GT", "PE", "EC", "SV", "HN", "JM"]
_PAIS_P = [0.03, 0.01, 0.13, 0.43, 0.31, 0.09]
_TIPOS = ["ZPRE", "Z04", "COBR", "Z05", "ZVE1", "zpre"]
_TIPO_P = [0.47, 0.20, 0.12, 0.10, 0.10, 0.01]

# The reference config.yaml (FIXTURES.md F2), pointed at the generated
# CSV directory. ``run.py`` fills in ``input_data.file_path``.
ETL_CONFIG = {
    "environment": {"name": "BENCH"},
    "run_parameters": {
        "start_date": ETL_START,
        "end_date": ETL_END,
        "output_base_path": "out",
        "date_filter_column": "fecha_proceso",
        "country_filter_column": "pais",
        "country_filter_value": "TODOS",
        "partition_columns": ["fecha_proceso", "pais"],
    },
    "input_data": {
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
        "input": {
            "min_expected_rows": 10,
            "required_columns": ["pais", "fecha_proceso", "precio", "material"],
        },
        "output": {"not_nulls": ["precio", "material"]},
    },
    "derived_cols": {
        "col1": {"source": "tipo_entrega", "name": "entrega_rutina", "conditions": ["ZPRE", "ZVE1"]},
        "col2": {"source": "tipo_entrega", "name": "entrega_bonificada", "conditions": ["Z04", "Z05"]},
    },
    "data_filling": {
        "text": {"columns": ["material"], "value": "NOT INFO"},
        "number": {"columns": ["precio"], "value": 0},
    },
    "unit_conversion": {
        "quantity": {"name": "cantidad", "new_name": "cantidad_estandar"},
        "price": {"name": "precio", "new_name": "precio_estandar"},
        "unit": {"name": "unidad", "new_name": "unidad_estandar", "value": "CS", "new_value": "ST", "factor": 20},
    },
    "additional_fields": {"total": "total_estandar", "file": "filename"},
    "columns_config": {
        "columns_order": [
            "fecha_proceso", "pais", "material", "transporte", "ruta", "tipo_entrega",
            "entrega_rutina", "entrega_bonificada", "precio_origen", "cantidad_origen",
            "unidad_origen", "precio_estandar", "cantidad_estandar", "unidad_estandar",
            "total_estandar", "filename",
        ],
        "columns_rename": {
            "precio": "precio_origen",
            "cantidad": "cantidad_origen",
            "unidad": "unidad_origen",
        },
    },
}


def gen_etl(out_dir: str, seed: int) -> dict:
    """Multi-file ``deliveries`` CSV (FIXTURES.md F1) scaled to
    ``ETL_ROWS`` raw rows. Duplicates repeat a row of the SAME file, so
    the whole-row dedup (which includes the file name) collapses them.
    One file name carries a space, as in the reference's input."""
    rng = np.random.default_rng([seed, 1])
    csv_dir = os.path.join(out_dir, "raw")
    os.makedirs(csv_dir)
    per_file = ETL_ROWS // ETL_FILES
    n_base = int(per_file * (1 - ETL_DUP_SHARE))
    for f in range(ETL_FILES):
        pais = rng.choice(_PAISES, n_base, p=_PAIS_P)
        u = rng.random(n_base)
        dates_in = rng.choice(_ETL_DATES_IN, n_base)
        fecha = np.where(
            u < 0.03,
            rng.choice(_ETL_DATES_OUT, n_base),
            np.where(u < 0.035, rng.choice(_ETL_DATES_BAD, n_base), dates_in),
        )
        transporte = rng.integers(10_000_000, 99_999_999, n_base).astype(str)
        ruta = rng.integers(100_000, 9_999_999, n_base).astype(str)
        tipo = rng.choice(_TIPOS, n_base, p=_TIPO_P)
        material = np.char.add(
            rng.choice(["AA", "BA"], n_base),
            np.char.zfill(rng.integers(0, 1_000_000, n_base).astype(str), 6),
        )
        material = np.where(rng.random(n_base) < 0.05, "", material)
        cents = rng.integers(1, 5_000_000, n_base)
        precio = np.char.add(
            np.char.add((cents // 100).astype(str), "."),
            np.char.zfill((cents % 100).astype(str), 2),
        )
        v = rng.random(n_base)
        precio = np.where(v < 0.20, "0E-18", np.where(v < 0.21, "", precio))
        cantidad = np.char.add(rng.integers(1, 504, n_base).astype(str), ".0")
        unidad = np.where(rng.random(n_base) < 0.72, "CS", "ST")
        cols = [pais, fecha, transporte, ruta, tipo, material, precio, cantidad, unidad]
        rows = np.array([",".join(r) for r in zip(*cols)], dtype=object)
        # duplicates: resample rows of this file, then shuffle the file
        extra = rng.integers(0, n_base, per_file - n_base)
        lines = np.concatenate([rows, rows[extra]])
        lines = lines[rng.permutation(len(lines))]
        name = f"entrega_productos (part {f:02d}).csv" if f == 0 else f"entrega_productos_{f:02d}.csv"
        with open(os.path.join(csv_dir, name), "w", encoding="utf-8", newline="\n") as fh:
            fh.write("pais,fecha_proceso,transporte,ruta,tipo_entrega,material,precio,cantidad,unidad\n")
            fh.write("\n".join(lines))
            fh.write("\n")
    return {"raw_rows": ETL_FILES * per_file}


# ------------------------------------------------------------- corpus

CORPUS_FILES = 8
CORPUS_BASE_DOCS = 600
CORPUS_TOKENS = 128  # distinct tokens per doc
CORPUS_VOCAB = 1 << 20
CORPUS_IMG = 32  # square grayscale JPEG side
CORPUS_TEXT_COPY_SHARE = 0.10  # base docs that get a near-duplicate text copy
CORPUS_IMAGE_COPY_SHARE = 0.10  # base docs that get a perturbed image copy
CORPUS_EXACT_SHARE = 0.10  # rows repeated verbatim
# operator settings the check's truth depends on (see run.py)
MINHASH_HASHES, MINHASH_BANDS, MINHASH_THRESHOLD = 32, 8, 0.7
PHASH_MAX_DISTANCE = 3


def _raster(rng: np.random.Generator, levels: np.ndarray, side: int) -> np.ndarray:
    """Piecewise-constant raster over dHash's 9x8 sample grid plus light
    texture. Each sample pixel sits inside a flat cell whose level
    differs from its right neighbour by >= 24, so the JPEG round trip
    and a small perturbation cannot flip a dHash bit."""
    xs = [i * side // 9 for i in range(9)] + [side]
    ys = [j * side // 8 for j in range(8)] + [side]
    img = np.empty((side, side), dtype=np.int16)
    for j in range(8):
        for i in range(9):
            img[ys[j] : ys[j + 1], xs[i] : xs[i + 1]] = levels[j, i]
    img += rng.integers(-2, 3, img.shape, dtype=np.int16)
    return img


def _levels(rng: np.random.Generator) -> np.ndarray:
    lv = np.empty((8, 9), dtype=np.int16)
    lv[:, 0] = rng.integers(40, 216, 8)
    for i in range(1, 9):
        step = rng.integers(24, 80, 8) * rng.choice([-1, 1], 8)
        nxt = lv[:, i - 1] + step
        flip = (nxt < 30) | (nxt > 225)
        lv[:, i] = np.where(flip, lv[:, i - 1] - step, nxt)
    return lv


def _tokens(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.choice(CORPUS_VOCAB, n, replace=False)


def _text(tokens: np.ndarray) -> str:
    return " ".join(f"w{t:x}" for t in tokens)


def gen_corpus(out_dir: str, seed: int) -> dict:
    """Multimodal corpus: ``doc_id``, ``text``, ``quality``, ``payload``
    (grayscale JPEG). Planted families are a base doc plus a copy with
    one token replaced (text near-duplicate, fresh image) and/or a copy
    with a brightened, re-noised image (image near-duplicate, fresh
    text). A share of rows is repeated verbatim (exact duplicates).
    Truth: the doc ids of each family and the rows kept by the dedup."""
    from pyspark_data_processing_challenge_spark.operators.multimodal import encode_jpeg_gray

    rng = np.random.default_rng([seed, 2])
    docs = []  # (family, tokens, levels, raster)
    for b in range(CORPUS_BASE_DOCS):
        lv = _levels(rng)
        docs.append((b, _tokens(rng, CORPUS_TOKENS), lv, _raster(rng, lv, CORPUS_IMG)))
    n_base = len(docs)
    text_copies = rng.choice(n_base, int(n_base * CORPUS_TEXT_COPY_SHARE), replace=False)
    image_copies = rng.choice(n_base, int(n_base * CORPUS_IMAGE_COPY_SHARE), replace=False)
    for b in text_copies:
        toks = docs[b][1].copy()
        fresh = _tokens(rng, 1)[0]
        while fresh in toks:
            fresh = _tokens(rng, 1)[0]
        toks[rng.integers(0, CORPUS_TOKENS)] = fresh
        lv = _levels(rng)
        docs.append((b, toks, lv, _raster(rng, lv, CORPUS_IMG)))
    for b in image_copies:
        lv = docs[b][2]
        img = _raster(rng, lv, CORPUS_IMG) + rng.integers(2, 6)
        docs.append((b, _tokens(rng, CORPUS_TOKENS), lv, img))
    n = len(docs)
    ids = rng.permutation(np.arange(1, n + 1) * 7 + rng.integers(0, 7, n))
    quality = np.round(rng.random(n), 6)
    payloads = [
        encode_jpeg_gray(CORPUS_IMG, CORPUS_IMG, np.clip(d[3], 0, 255).astype(np.uint8).tobytes())
        for d in docs
    ]
    texts = [_text(d[1]) for d in docs]
    fams: dict[int, list[int]] = {}
    for i, d in enumerate(docs):
        fams.setdefault(d[0], []).append(int(ids[i]))
    keep = {}
    best = {}
    for i, d in enumerate(docs):
        key = (quality[i], -int(ids[i]))
        if d[0] not in best or key > best[d[0]][0]:
            best[d[0]] = (key, int(ids[i]))
    for f, members in fams.items():
        keep[best[f][1]] = min(members)  # kept id -> component (min id)
    rows = np.arange(n)
    exact = rng.choice(n, int(n * CORPUS_EXACT_SHARE), replace=False)
    order = rng.permutation(np.concatenate([rows, exact]))
    os.makedirs(os.path.join(out_dir, "corpus"))
    for f, part in enumerate(np.array_split(order, CORPUS_FILES)):
        table = pa.table(
            {
                "doc_id": pa.array(ids[part], pa.int64()),
                "text": pa.array([texts[i] for i in part], pa.string()),
                "quality": pa.array(quality[part], pa.float64()),
                "payload": pa.array([payloads[i] for i in part], pa.binary()),
            }
        )
        pq.write_table(
            table, os.path.join(out_dir, "corpus", f"part-{f:05d}.parquet"),
            row_group_size=max(1, len(part) // 2),
        )
    return {
        "raw_rows": int(len(order)),
        "docs": n,
        "families": {str(min(m)): sorted(m) for m in fams.values() if len(m) > 1},
        "keep": {str(k): v for k, v in sorted(keep.items())},
    }


# ------------------------------------------------------------- vectors

VEC_FILES = 8
VEC_N = 1_500
VEC_DIM = 64
VEC_CLUSTERS = 64  # true clusters; ids 0..63 sit at their centres
VEC_QUERY_LO, VEC_QUERY_HI = 100, 110  # the catalog's IVF query ids
VEC_QUERY_FAMILY = 10  # near copies planted around each query
VEC_SEM_FAMILIES = 60  # extra planted semantic-duplicate groups
SEMDEDUP_CENTROIDS = 64  # ids 0..63 seed the SemDeDup codebook
SEMDEDUP_THRESHOLD = 0.95
SEMDEDUP_MAX_CLUSTER = 100
# family members sit 60 ids apart: equal id % k for every sub-split
# count k in 1..6, so the skew cap's id split never separates them
_SPLIT_LCM = 60


def gen_vectors(out_dir: str, seed: int) -> dict:
    """Clustered 64-dim embeddings (``vec_id``, ``embedding``,
    ``label``) in the catalog's schema. Each IVF query id has a tight
    family of near copies, so its exact top-10 is unambiguous; extra
    families of 2-4 near copies are planted for SemDeDup."""
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(size=(VEC_CLUSTERS, VEC_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, VEC_CLUSTERS, VEC_N)
    label[:VEC_CLUSTERS] = np.arange(VEC_CLUSTERS)
    vecs = centers[label] + rng.normal(scale=0.16, size=(VEC_N, VEC_DIM))
    vecs[:VEC_CLUSTERS] = centers + rng.normal(scale=0.02, size=(VEC_CLUSTERS, VEC_DIM))
    taken = set(range(SEMDEDUP_CENTROIDS)) | set(range(VEC_QUERY_LO, VEC_QUERY_HI))

    def family_ids(base: int, size: int) -> list[int] | None:
        out = [base + _SPLIT_LCM * k for k in range(1, size + 1)]
        if out[-1] >= VEC_N or any(i in taken for i in out):
            return None
        return out

    families = []
    for q in range(VEC_QUERY_LO, VEC_QUERY_HI):
        members = family_ids(q, VEC_QUERY_FAMILY)
        taken.update(members)
        families.append([q] + members)
    while len(families) < (VEC_QUERY_HI - VEC_QUERY_LO) + VEC_SEM_FAMILIES:
        base = int(rng.integers(SEMDEDUP_CENTROIDS, VEC_N))
        members = family_ids(base, int(rng.integers(1, 4)))
        if base in taken or members is None:
            continue
        taken.update([base] + members)
        families.append([base] + members)
    for fam in families:
        for m in fam[1:]:
            vecs[m] = vecs[fam[0]] + rng.normal(scale=0.004, size=VEC_DIM)
            label[m] = label[fam[0]]
    emb = vecs.astype(np.float32)
    os.makedirs(os.path.join(out_dir, "embeddings.parquet"))
    order = rng.permutation(VEC_N)
    for f, part in enumerate(np.array_split(order, VEC_FILES)):
        table = pa.table(
            {
                "vec_id": pa.array(part.astype(np.int64), pa.int64()),
                "embedding": pa.array(list(emb[part]), pa.list_(pa.float32())),
                "label": pa.array(label[part].astype(np.int32), pa.int32()),
            }
        )
        pq.write_table(
            table,
            os.path.join(out_dir, "embeddings.parquet", f"part-{f:05d}.parquet"),
            row_group_size=max(1, len(part) // 2),
        )
    return {"raw_rows": VEC_N, "families": families}


GENERATORS = {"etl_reference": gen_etl, "corpus_dedup": gen_corpus, "vector_ann": gen_vectors}


def cached(root: str, workload: str, seed: int) -> tuple[str, dict, float]:
    """(input dir, truth, generation seconds — 0.0 on a cache hit).

    The directory is built under a temporary name and renamed into
    place, so an interrupted generation never leaves a half-written
    entry behind."""
    key = f"{workload}-s{seed}-g{GEN_VERSION}"
    final = os.path.join(root, key)
    truth_path = os.path.join(final, "truth.json")
    if os.path.exists(truth_path):
        os.utime(final)
        with open(truth_path, encoding="utf-8") as fh:
            return final, json.load(fh), 0.0
    os.makedirs(root, exist_ok=True)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    truth = GENERATORS[workload](tmp, seed)
    with open(os.path.join(tmp, "truth.json"), "w", encoding="utf-8") as fh:
        json.dump(truth, fh)
    secs = time.perf_counter() - t0
    os.rename(tmp, final)
    entries = sorted(
        (os.path.join(root, e) for e in os.listdir(root) if "-g" in e and ".tmp" not in e),
        key=os.path.getmtime,
    )
    for old in entries[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return final, truth, secs
