"""MinHash signatures + LSH band hashing.

Replaces the reference's SBERT embedding substrate
(``cluster_news.py:33-34``, ``create_silver_label.py:173-174``) with a
deterministic signature, per SURVEY.md §2.9 G1a.

Split of labor (the idiomatic Spark shape):

1. **JVM side** — shingle strings are hashed to 64-bit ints with
   ``xxhash64`` inside ``transform(...)`` (codegen'd, no Python).
2. **Python side** — a scalar Arrow ``pandas_udf`` turns each row's
   ragged int64 shingle-hash array into a ``num_perm``-long MinHash
   signature using fixed-seed multiply-shift universal hashing,
   fully vectorized with ``np.minimum.reduceat`` over the whole batch
   (no per-row Python loop).
3. **JVM side** — band hashes are ``xxhash64(band_id, slice(sig))``
   inside another ``transform`` — again codegen'd.

Determinism: all randomness comes from ``np.random.default_rng(seed)``
materialized once per executor; Python's ``hash()`` is never used
(PYTHONHASHSEED varies across workers).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..conf import DedupConfig
from . import text as X

_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)
_EMPTY_SENTINEL = np.uint64(0x9E3779B97F4A7C15)  # signature slot for empty docs


def _perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(a, b) multiply-shift parameters; a forced odd for bijectivity."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 63, size=num_perm, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64)
    return a, b


def shingle_hashes(shingles: Column) -> Column:
    """array<string> -> array<bigint> via JVM xxhash64 (codegen'd)."""
    return F.transform(shingles, lambda s: F.xxhash64(s))


def make_minhash_udf(num_perm: int, seed: int):
    """Scalar pandas_udf: array<long> shingle hashes -> array<long> signature.

    Batch-vectorized: concatenates every row's hashes, then for each of
    the ``num_perm`` permutations does one uint64 affine pass + one
    ``minimum.reduceat`` over row offsets.
    """
    a, b = _perm_params(num_perm, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash(hashes: pd.Series) -> pd.Series:
        n_rows = len(hashes)
        if n_rows == 0:
            return pd.Series([], dtype=object)
        lengths = np.fromiter((len(h) if h is not None else 0 for h in hashes), dtype=np.int64, count=n_rows)
        offsets = np.zeros(n_rows, dtype=np.int64)
        np.cumsum(lengths[:-1], out=offsets[1:])
        total = int(lengths.sum())
        flat = np.empty(total, dtype=np.uint64)
        pos = 0
        for h in hashes:
            if h is None or len(h) == 0:
                continue
            arr = np.asarray(h, dtype=np.int64).view(np.uint64)
            flat[pos : pos + len(arr)] = arr
            pos += len(arr)

        sig = np.empty((n_rows, len(a)), dtype=np.uint64)
        nonempty = lengths > 0
        if total > 0:
            ne_offsets = offsets[nonempty]
            for i in range(len(a)):
                vals = flat * a[i] + b[i]  # uint64 wrap-around is intended
                sig[nonempty, i] = np.minimum.reduceat(vals, ne_offsets)
        sig[~nonempty, :] = _EMPTY_SENTINEL
        out = sig.view(np.int64)
        return pd.Series(list(out))

    return minhash


def band_hashes(sig: Column, bands: int, rows_per_band: int) -> Column:
    """array<long> signature -> array<long> of ``bands`` LSH band hashes.

    Band i = xxhash64(i, sig[i*r : (i+1)*r]) — JVM-side, no shuffle.
    """
    r = rows_per_band
    return F.array(
        *[F.xxhash64(F.lit(i), F.slice(sig, i * r + 1, r)) for i in range(bands)]
    )


def with_text_signatures(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Add ``shingle_hashes``, ``minhash_sig`` and ``bands`` to a frame
    with ``transcript_norm``: the one definition of a text signature,
    shared by the pipeline's signatures stage and
    ``incremental.sign_batch``, so index and batch signatures always
    compare."""
    mh = make_minhash_udf(cfg.num_perm, cfg.seed)
    return (
        df.withColumn(
            "shingle_hashes",
            shingle_hashes(X.char_shingles(F.col("transcript_norm"), cfg.shingle_k)),
        )
        .withColumn("minhash_sig", mh(F.col("shingle_hashes")))
        .withColumn(
            "bands", band_hashes(F.col("minhash_sig"), cfg.bands, cfg.rows_per_band)
        )
    )


def estimated_jaccard(sig_a: Column, sig_b: Column, num_perm: int) -> Column:
    """Fraction of agreeing MinHash slots — the signature Jaccard estimate."""
    agree = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v))
    return agree / F.lit(float(num_perm))


def exact_jaccard(shingles_a: Column, shingles_b: Column) -> Column:
    """Exact Jaccard over two distinct-shingle arrays (verify stage)."""
    inter = F.size(F.array_intersect(shingles_a, shingles_b))
    union = F.size(shingles_a) + F.size(shingles_b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))
