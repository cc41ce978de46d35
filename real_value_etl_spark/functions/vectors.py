"""Vector (embedding) column functions — Spark expressions + DuckDB mirrors.

Cosine/dot are sequential left-folds over the array in BOTH engines
(`F.aggregate` in Spark, `list_dot_product` in DuckDB iterate in index
order), so double-precision results are bit-identical — verified empirically
across the full sf0.01 embeddings table. Everything stays JVM-side
(higher-order array expressions, no UDFs) so ANN scans participate in
whole-stage codegen.

Scale design: brute-force top-k is O(n·q) with the query side broadcast —
the right baseline up to ~10^5 queries; the IVF path (operators/similarity)
prunes candidates by centroid assignment for the 100 TB story.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (index order => deterministic doubles)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """dot/(|a|*|b|) with the exact operation order of the oracle mirror."""
    return dot(a, b) / (norm(a) * norm(b))


# --------------------------- DuckDB SQL mirrors ---------------------------


def cosine_sql(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )


# ----------------------- random-hyperplane (sign) LSH ----------------------
# Constants generated once here and embedded in BOTH the Spark plan and the
# DuckDB oracle SQL, so the two sides share the exact same doubles. Sign
# tests (dot >= 0) on identical fold results are bit-exact decisions.

import random as _random

LSH_DIM = 64  # driver embeddings table dimension
LSH_NBITS = 16
LSH_BAND_BITS = 8  # 256 values/band: collision rate ~1/256 per band
LSH_NBANDS = LSH_NBITS // LSH_BAND_BITS

_rng = _random.Random(20260813)
HYPERPLANES: list[list[float]] = [
    [round(_rng.gauss(0.0, 1.0), 6) for _ in range(LSH_DIM)]
    for _ in range(LSH_NBITS)
]


def hyperplane_signature(v: Column) -> Column:
    """All LSH_NBITS hyperplane dot-products in one expression: the plane
    matrix enters the plan as a SINGLE from_json literal (constant-folded
    once), not NBITS*DIM literal nodes — keeps codegen source small, which
    dominates latency on small inputs."""
    import json as _json

    planes = F.from_json(
        F.lit(_json.dumps(HYPERPLANES)), "array<array<double>>"
    )
    return F.transform(
        planes,
        lambda p: F.aggregate(
            F.zip_with(v, p, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def hyperplane_band(sig: Column, band: int) -> Column:
    """Pack LSH_BAND_BITS sign bits of a (materialized) signature array into
    one small int: bit j set iff sig[band*B+j] >= 0."""
    out = None
    for j in range(LSH_BAND_BITS):
        bit = F.when(
            F.element_at(sig, band * LSH_BAND_BITS + j + 1) >= 0, F.lit(1 << j)
        ).otherwise(F.lit(0))
        out = bit if out is None else out + bit
    return out.cast("int")


def hyperplane_band_sql(vec: str, band: int) -> str:
    """DuckDB mirror of hyperplane_band — same constants, same fold order."""
    terms = []
    for j in range(LSH_BAND_BITS):
        arr = "[" + ", ".join(
            repr(x) for x in HYPERPLANES[band * LSH_BAND_BITS + j]
        ) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec}, {arr}) >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"
