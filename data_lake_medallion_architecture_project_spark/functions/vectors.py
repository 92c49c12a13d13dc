"""Vector math over ``array<float>`` embedding columns — pure column
expressions (``transform``/``zip_with``/``aggregate``), no Python boundary.

Floats are widened to double before any arithmetic (exact), products of
identical doubles are IEEE-deterministic, and the fold order of ``aggregate``
is the array order — the same sequential order DuckDB's ``list_sum`` uses, so
dot products and norms agree bit-for-bit with the oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    return dot(a, b) / (norm_a * norm_b)


def fold_sum(prods: np.ndarray) -> np.ndarray:
    """Row sums of an ``(n, d)`` double matrix in the fold's order: the
    strictly sequential running sum ``((0+p0)+p1)+…`` that :func:`dot`'s
    ``aggregate`` and DuckDB's ``list_sum`` compute. The leading 0.0 column
    reproduces the fold's 0.0 seed exactly (down to +0.0 vs -0.0 on
    all-negative-zero products), and ``np.add.accumulate`` is defined as the
    sequential running sum, so its last element is bit-identical to the
    fold's."""
    seeded = np.concatenate(
        [np.zeros((prods.shape[0], 1), dtype=np.float64), prods], axis=1
    )
    return np.add.accumulate(seeded, axis=1, dtype=np.float64)[:, -1]


def dot_arrow(a: Column, b: Column) -> Column:
    """Sequential-fold dot product, Arrow-vectorized — bit-equal to
    :func:`dot`; use on pair-grain relations where the interpreted fold is
    the bottleneck (round 15, guide §4.2).

    ``aggregate``/``zip_with`` lambdas are CodegenFallback — INTERPRETED
    per element (~100 µs·core per 128-d pair, measured round 11) — which
    made the SemDeDup pair filter the single most expensive bench stage
    (3.4 s over 250 k candidate pairs at sf0.1). This pandas_udf computes
    the SAME sequential left fold at C speed: elementwise products are one
    IEEE double multiply each (identical to the JVM's), summed by
    :func:`fold_sum`. Verified: oracle hash unchanged at sf0.001/0.01/0.1.

    The udf is built per call, not cached: its JVM function holds the
    Python accumulator of the SparkContext it was first used in, and reused
    after ``spark.stop()`` in a new session every task logged "Failed to
    update accumulator" (tests/test_vectors.py)."""

    @F.pandas_udf("double")
    def dot_seq_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            # np.stack raises on an empty batch; an empty Series is the
            # correct (and only) answer for one.
            return pd.Series(np.empty(0, dtype=np.float64))
        return pd.Series(fold_sum(np.stack(a.to_numpy()) * np.stack(b.to_numpy())))

    return dot_seq_arrow(a, b)
