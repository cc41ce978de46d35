"""Distributed Lloyd's k-means over an embedding column (IVF training).

The IVF ANN query (queries/llm.py sim_ann_ivf) probes pre-existing
cluster seeds; this operator TRAINS those centroids at corpus scale —
the index-build half of the similarity-search story. It is the repo's
iterative-algorithm pattern: per-iteration work is two narrow Spark jobs
(assign = pure codegen expressions; update = one hash-agg), and only the
k x dim centroid matrix ever reaches the driver — never the data.

Plan shape per iteration:
- ASSIGN: centroids ship as ONE `from_json` literal (constant-folded;
  k separate fold expressions would explode codegen — measured on the
  LSH hyperplanes) and a single `F.transform` computes all k squared
  distances; `array_position(min)` picks the cluster. No UDF, no shuffle.
- UPDATE: `posexplode` the vectors into (cluster, dim, value) and one
  groupBy(cluster, dim) average rebuilds centroids — a single shuffle of
  k*dim partial aggregates (map-side combined), collected to the driver
  (k*dim doubles, bytes not gigabytes).

Empty clusters keep their previous centroid. Iteration count is fixed by
the caller (deterministic plans; convergence is monitored by WCSS, which
is non-increasing for Lloyd's).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .scan import _persist_tracked


def _assign(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Add `cluster` (argmin squared distance) and `dist2` columns."""
    cents = F.from_json(
        F.lit(json.dumps(centroids)), "array<array<double>>"
    )
    dists = F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(c, F.col(vec_col), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return (
        df.withColumn("__d", dists)
        .withColumn("dist2", F.array_min("__d"))
        .withColumn(
            "cluster", (F.array_position("__d", F.col("dist2")) - 1).cast("int")
        )
        .drop("__d")
    )


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    init: list[list[float]],
    n_iter: int = 3,
) -> tuple[list[list[float]], DataFrame]:
    """Run `n_iter` Lloyd's iterations from `init`; returns the trained
    centroids and the final assigned DataFrame (cluster, dist2 added)."""
    centroids = [list(map(float, c)) for c in init]
    k, dim = len(centroids), len(centroids[0])
    assigned = _assign(df, vec_col, centroids)
    for _ in range(n_iter):
        parts = (
            assigned.select(
                "cluster", F.posexplode(F.col(vec_col)).alias("dim", "val")
            )
            .groupBy("cluster", "dim")
            .agg(F.avg("val").alias("mean"))
            .collect()
        )
        new = [row[:] for row in centroids]  # empty clusters keep position
        for r in parts:
            new[r.cluster][r.dim] = r.mean
        centroids = new
        assigned = _assign(df, vec_col, centroids)
    return centroids, assigned


def kmeans_wcss(assigned: DataFrame) -> float:
    """Within-cluster sum of squares of an assignment (monitoring)."""
    return assigned.agg(F.sum("dist2")).collect()[0][0]


# ---------------------------------------------------------------------------
# Fixed-point Lloyd's — bit-exact across engines (oracle-checkable)
# ---------------------------------------------------------------------------
# 2^20 fixed-point scale: embeddings are ~unit-range (|v| <= 0.6 in the
# test corpora), so quantized values are <= ~6.3e5, per-dim squared diffs
# <= ~1.6e12, a 64-dim dist2 <= ~1e14, and a corpus WCSS sum stays ~16x
# under int64 max even at the theoretical worst case — while 2^20 steps on
# a unit range is far finer than any clustering decision needs.
FX_SCALE = 1 << 20


def quantize_fx(vec_col: Column) -> Column:
    """int64 fixed-point quantization of a float-vector column.

    CAST to double first (float32 -> double is exact), multiply by the
    scale (one correctly-rounded IEEE op, identical on every engine), then
    round half-away-from-zero — verified identical between Spark's
    HALF_UP `round` and DuckDB's double `round`. From here on all k-means
    arithmetic is int64: sums are order-independent, so the iteration is
    reproducible on any partitioning and replayable by a SQL oracle."""
    return F.transform(
        vec_col,
        lambda v: F.round(v.cast("double") * F.lit(float(FX_SCALE)), 0).cast(
            "long"
        ),
    )


def _assign_fx(df: DataFrame, qvec_col: str, centroids: list[list[int]]) -> DataFrame:
    """Add `cluster`/`dist2` (int64 squared distance) for quantized vectors.

    Same constant-folded literal + single-transform shape as `_assign`;
    ties on dist2 resolve to the LOWEST cluster index (array_position
    returns the first match), which the oracle mirrors with a
    (dist2, cluster) ordering."""
    cents = F.from_json(F.lit(json.dumps(centroids)), "array<array<bigint>>")
    dists = F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(c, F.col(qvec_col), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    return (
        df.withColumn("__d", dists)
        .withColumn("dist2", F.array_min("__d"))
        .withColumn(
            "cluster", (F.array_position("__d", F.col("dist2")) - 1).cast("int")
        )
        .drop("__d")
    )


def kmeans_fit_fx(
    df: DataFrame,
    vec_col: str,
    init_fx: list[list[int]],
    n_iter: int = 3,
) -> tuple[list[list[int]], DataFrame]:
    """Lloyd's k-means in int64 fixed-point: bit-exact on any engine,
    partitioning, or cluster size — which is what makes an ITERATIVE
    algorithm driver-checkable against a SQL oracle (same trick as the
    PageRank operator, operators/pagerank.py).

    Centroid update: new centroid dim = floor(sum(val) / n) where the
    division is one IEEE double op over an int64 sum (exact: sums stay
    far under 2^53) — floor(correctly-rounded division) is deterministic
    and identical across engines. Empty clusters keep their previous
    centroid. Per iteration: assign is pure codegen (no shuffle), update
    is ONE hash-agg of k*dim partial means; only the k x dim int matrix
    reaches the driver.

    The quantized-vector frame is PERSISTED: every iteration's update
    action (and the final assignment) re-reads it, and without a cache
    each of those n_iter+1 actions would re-scan and re-quantize the
    source. The returned assignment is lazy and reads it too, so it is
    persisted into the request scope (operators/scan.py) and released
    when the request ends."""
    centroids = [[int(v) for v in c] for c in init_fx]
    q = _persist_tracked(df.withColumn("__q", quantize_fx(F.col(vec_col))))
    assigned = _assign_fx(q, "__q", centroids)
    for _ in range(n_iter):
        parts = (
            assigned.select(
                "cluster", F.posexplode(F.col("__q")).alias("dim", "val")
            )
            .groupBy("cluster", "dim")
            .agg(
                F.floor(
                    F.sum("val").cast("double") / F.count("*")
                ).alias("m")
            )
            .collect()
        )
        new = [row[:] for row in centroids]  # empty clusters keep position
        for r in parts:
            new[r.cluster][r.dim] = int(r.m)
        centroids = new
        assigned = _assign_fx(q, "__q", centroids)
    return centroids, assigned
