"""Arrow-batched (pandas UDF) twins of the textfns hash functions.

The Column-expression forms in textfns.py stay inside the JVM but
higher-order functions are interpreted per element — good enough for
mid-size corpora, but at 100 TB the per-row constant matters. These
UDFs compute the SAME values (bit-identical: same tokenization, same
31-ary polynomial mod 1e9+7, same (a*h+b) mod p permutations) in
numpy-vectorized batches over Arrow, trading a Python worker hop for
~an-order-of-magnitude less per-row work. The DuckDB oracles don't
change — that's the proof of equivalence.

Tokenization parity notes: Spark's ``split(trim(s), '\\s+')`` splits on
ASCII+Unicode whitespace per Java regex; Python's ``re`` \\s matches the
same set for the synthetic corpora here. ``char_hash`` parity requires
ord(ch) == Java ascii(ch) semantics — true for BMP text since Spark's
``ascii`` returns the first code point (these corpora are ASCII).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from .textfns import HASH_MOD, MINHASH_P, minhash_coeffs

_WS = re.compile(r"\s+")


def _py_char_hash(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % HASH_MOD
    return h


def _py_shingles(text: str, n: int) -> list[str]:
    toks = _WS.split(text.strip().lower()) if text.strip() else []
    if not toks:
        return []
    k = max(len(toks) - (n - 1), 1)
    seen: dict[str, None] = {}
    for i in range(k):
        seen.setdefault(" ".join(toks[i : i + n]), None)
    return list(seen)


def _sig_batch(texts: pd.Series, num_hashes: int, shingle_n: int) -> pd.Series:
    coeffs = np.array(minhash_coeffs(num_hashes), dtype=np.int64)
    a, b = coeffs[:, 0][:, None], coeffs[:, 1][:, None]
    out = []
    sentinel = np.full(num_hashes, MINHASH_P, dtype=np.int64)
    for text in texts:
        if text is None:
            out.append(sentinel.copy())
            continue
        hs = np.array(
            [_py_char_hash(s) for s in _py_shingles(text, shingle_n)],
            dtype=np.int64,
        )
        if hs.size == 0:
            out.append(sentinel.copy())
            continue
        # (k, |shingles|) permuted hashes; object dtype not needed:
        # a,h < 2^31 so a*h < 2^62 fits int64 before the mod
        out.append(((a * hs[None, :] + b) % MINHASH_P).min(axis=1))
    return pd.Series(out)


def minhash_signature_udf(num_hashes: int = 16, shingle_n: int = 3):
    """Vectorized MinHash: returns a pandas UDF Column factory."""

    @F.pandas_udf("array<long>")
    def _udf(texts: pd.Series) -> pd.Series:
        return _sig_batch(texts, num_hashes, shingle_n)

    return _udf


def with_minhash_fast(
    df, text_col: str, *, num_hashes: int = 16, shingle_n: int = 3,
    out_col: str = "minhash",
):
    """DataFrame helper mirroring operators.dedup.with_minhash, on the
    Arrow path. Values are bit-identical to the expression form."""
    udf = minhash_signature_udf(num_hashes, shingle_n)
    return df.withColumn(out_col, udf(F.col(text_col)))


def simhash_udf(bits: int = 32, shingle_n: int | None = None):
    """Vectorized SimHash twin of textfns.simhash."""

    @F.pandas_udf("long")
    def _udf(texts: pd.Series) -> pd.Series:
        weights = (1 << np.arange(bits, dtype=np.int64))
        out = np.zeros(len(texts), dtype=np.int64)
        for i, text in enumerate(texts):
            if text is None:
                continue
            units = (
                _py_shingles(text, shingle_n)
                if shingle_n
                else (_WS.split(text.strip().lower()) if text.strip() else [])
            )
            if not units:
                continue
            hs = np.array([_py_char_hash(u) for u in units], dtype=np.int64)
            # votes[b] = sum over units of +-1 by bit b of the hash
            bitmat = (hs[:, None] >> np.arange(bits)) & 1  # (units, bits)
            votes = (2 * bitmat - 1).sum(axis=0)
            out[i] = int(weights[votes > 0].sum())
        return pd.Series(out)

    return _udf
