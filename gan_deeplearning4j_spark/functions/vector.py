"""Vector (array-column) math: argmax, dot, norms, cosine.

The load-bearing type of this engine is ``array<float>`` / ``array<double>``
(pixel vectors, latent vectors, weight slices, document embeddings — SURVEY
§1.2).  These helpers are pure higher-order-function expressions: Catalyst
codegens the fold, nothing leaves the JVM.

At 100 TB scale: dot/cosine over 64-1024-dim arrays is O(dim) per row with no
shuffle; the expressions below are used by the brute-force ANN path where the
query side is broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def argmax_index(col: Column) -> Column:
    """W1 row-wise argmax, 0-based, first-occurrence ties (pandas idxmax
    parity — gan.ipynb raw 405)."""
    return F.array_position(col, F.array_max(col)) - F.lit(1)


def as_double(col: Column) -> Column:
    """Widen array<float> → array<double> (exact) before folds, so results are
    bit-stable across engines."""
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm_sq(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(l2_norm_sq(a))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def vec_scale(a: Column, s: Column | float) -> Column:
    s = F.lit(s) if not isinstance(s, Column) else s
    return F.transform(a, lambda v: v * s)
