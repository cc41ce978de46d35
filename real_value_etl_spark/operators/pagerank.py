"""PageRank as iterated joins (Pregel-on-DataFrames), exact-arithmetic.

Beyond connected components (operators/components.py), the other graph
primitive a corpus pipeline wants is influence/centrality — e.g. ranking
documents in a near-dup cluster or suppliers in a purchase graph. The
scalable Spark shape is the standard Pregel-as-join loop: each iteration
is (ranks JOIN edges) -> shuffle on dst -> sum, i.e. one hash shuffle per
superstep, with the driver holding nothing but the loop counter.

Everything is FIXED-POINT INTEGER arithmetic (rank scaled by 10^12,
truncating integer division exactly as written): integer sums are
order-independent, so the result is bit-identical to a sequential
evaluation — which is what lets the driver's DuckDB oracle replay the
same three unrolled iterations and hash-match exactly. (Float PageRank
would diverge in the last ulps across engines and shuffle orders.)

Graph convention: callers pass a directed edge list; every node must
appear as a source (symmetrize first for undirected graphs — also
removes dangling-node rank leakage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scan import _persist_tracked

SCALE = 10**12  # fixed-point unit
DAMP_NUM, DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio


def pagerank_fixed_point(
    edges: DataFrame,
    n_iter: int = 3,
    pre_partitioned: bool = False,
) -> DataFrame:
    """`edges` = (src, dst). Returns (node, rank) after `n_iter`
    supersteps, rank in SCALE fixed-point units.

    Per iteration: share = rank div deg (per source), shuffle-sum shares
    by dst, then rank' = teleport + 85% of inflow — all integer ops.

    The edge list and degree table are PERSISTED — and the edges are
    HASH-PARTITIONED ON `src` before caching: every superstep joins
    edges on src, and a cached InMemoryRelation preserves its
    outputPartitioning, so the per-iteration join re-uses the cached
    layout instead of re-shuffling the (large) edge side each superstep.
    deg/ranks inherit the same hash(src) partitioning from the groupBy,
    so the superstep join is fully co-partitioned and the ONLY shuffle
    per iteration is the groupBy(dst) inflow sum — the Pregel minimum.
    (Measured at sf0.1: 14.8s -> 3.6s cold for 3 iterations.)

    Without a cache Spark would also re-execute the caller's (often
    expensive — e.g. a distinct over a fact table) edge derivation once
    per iteration plus once for degrees. The result is lazy, so the
    caches must outlive this function: they are persisted into the
    request scope (operators/scan.py) and released when the request
    ends. At warehouse scale the edge list is a checkpointed/bucketed
    intermediate instead.

    Callers whose edge derivation already ends hash-partitioned on `src`
    pass `pre_partitioned=True` to skip the redundant exchange (an
    explicit repartition is never elided by Catalyst) — e.g. the
    lineitem query dedups with a partition-local groupBy AFTER its
    repartition, so the cached frame is already laid out correctly.
    """
    if not pre_partitioned:
        edges = edges.repartition("src")
    edges = _persist_tracked(edges)
    deg = _persist_tracked(
        edges.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .select(F.col("src").alias("node"), "deg")
    )
    n = deg.agg(F.count("*").alias("n"))
    # (node, deg, r): r0 = SCALE div N
    ranks = deg.crossJoin(F.broadcast(n)).select(
        "node", "deg", F.expr(f"{SCALE} div n").alias("r")
    )
    for _ in range(n_iter):
        inflow = (
            edges.join(ranks, edges.src == ranks.node)
            .select(F.col("dst"), F.expr("r div deg").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("c"))
        )
        ranks = (
            deg.crossJoin(F.broadcast(n))
            .join(inflow, deg.node == inflow.dst, "left")
            .select(
                "node",
                "deg",
                F.expr(
                    f"({DAMP_DEN - DAMP_NUM} * {SCALE} div {DAMP_DEN}) div n"
                    f" + ({DAMP_NUM} * coalesce(c, 0)) div {DAMP_DEN}"
                ).alias("r"),
            )
        )
    return ranks.select("node", F.col("r").alias("rank"))


HITS_SCALE = 10**6  # fixed-point unit for HITS (smaller than PageRank's:
# normalization multiplies a degree-weighted sum by SCALE before the
# integer division, so deg_max * SCALE^2 must stay < 2^63 — 10^6 admits
# deg_max ~ 9.2e6, comfortably above any per-node degree through sf10)


def hits_fixed_point(
    edges: DataFrame,
    n_iter: int = 3,
    pre_partitioned: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """HITS (Kleinberg) hubs & authorities on a directed edge list.

    Returns (hubs, auths): (node, h) / (node, a) in HITS_SCALE
    fixed-point units after `n_iter` mutual-reinforcement rounds:
    a(p) = sum of h over in-edges, h(s) = sum of a over out-edges, each
    side re-normalized to max = SCALE with a truncating integer
    division. MAX-normalization (not the usual L2) keeps every step in
    exact integer arithmetic — order-independent sums, so shuffle order
    can't perturb results and a SQL oracle can replay the iteration
    bit-for-bit. The normalizer is a 1-row broadcast, like PageRank's
    node count.

    Scale shape: each round is two shuffle-sums (groupBy dst, groupBy
    src) over the persisted edge list — the Pregel minimum for a
    two-sided recurrence; score frames stay node-sized. Same cache
    lifecycle contract as pagerank_fixed_point.

    The raw score frame of each half-round is eagerly localCheckpoint-ed
    (the components_star trick): the MAX normalizer and the normalized
    projection both consume it, and without the checkpoint that fork
    doubles the logical plan TWICE per round — 4^n growth that OOMs the
    driver on plan strings by iteration 3. Checkpointed frames are
    node-sized, and the truncation also stops Spark re-executing the
    whole prior round under each scalar-max action.

    The edge list is cached TWICE, hash-partitioned on `src` AND on
    `dst`: each round joins edges on src (authority inflow) and on dst
    (hub outflow), and a single-layout cache would re-shuffle the whole
    edge list on the other key EVERY round — n_iter edge-sized
    exchanges that the second cached layout eliminates (the same
    cached-outputPartitioning reuse as pagerank's src-side cache).
    """
    if not pre_partitioned:
        edges = edges.repartition("src")
    edges = _persist_tracked(edges)
    edges_by_dst = _persist_tracked(edges.repartition("dst"))
    hubs = (
        edges.select("src").distinct().select(
            F.col("src").alias("node"), F.lit(HITS_SCALE).cast("long").alias("h")
        )
    )
    auths = None
    for _ in range(n_iter):
        raw_a = (
            edges.join(hubs, edges.src == hubs.node)
            .groupBy("dst")
            .agg(F.sum("h").alias("ra"))
            .localCheckpoint(eager=True)
        )
        ma = raw_a.agg(F.max("ra").alias("m"))
        auths = raw_a.crossJoin(F.broadcast(ma)).select(
            F.col("dst").alias("node"),
            F.expr(f"(ra * {HITS_SCALE}) div m").alias("a"),
        )
        raw_h = (
            edges_by_dst.join(auths, edges_by_dst.dst == auths.node)
            .groupBy("src")
            .agg(F.sum("a").alias("rh"))
            .localCheckpoint(eager=True)
        )
        mh = raw_h.agg(F.max("rh").alias("m"))
        hubs = raw_h.crossJoin(F.broadcast(mh)).select(
            F.col("src").alias("node"),
            F.expr(f"(rh * {HITS_SCALE}) div m").alias("h"),
        )
    return hubs, auths


def ppr_fixed_point(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    pre_partitioned: bool = False,
) -> DataFrame:
    """Personalized PageRank (random walk with restart): all teleport
    mass returns to the SEED set instead of spreading uniformly —
    the seeded-relevance primitive behind "expand from these known-good
    documents" selection. `seeds` is a 1-column (node) frame, assumed
    small (it broadcasts into the teleport term). Same fixed-point
    integer arithmetic, caching and shuffle shape as
    pagerank_fixed_point: one inflow shuffle per superstep; the only
    difference is the teleport term, which is SCALE-div-|seeds| on seed
    nodes and zero elsewhere (so total mass stays ~SCALE with the same
    truncation behavior the oracle replays).

    The node universe is the SOURCE set (`deg` is built from edge
    sources, like pagerank_fixed_point): a seed that never appears as an
    edge source is not a node of the walk graph and is EXCLUDED — both
    from the output and from the teleport denominator `ns`, which counts
    only seeds that survive the join into `deg` (r7 advice: counting
    absent seeds would under-weight the teleport mass of every real
    seed, silently). Callers wanting sink-only seeds ranked must add
    them as sources (e.g. with self-loops) first."""
    if not pre_partitioned:
        edges = edges.repartition("src")
    edges = _persist_tracked(edges)
    deg = _persist_tracked(
        edges.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .select(F.col("src").alias("node"), "deg")
    )
    seed_flags = seeds.select(F.col("node"), F.lit(1).alias("__is_seed"))
    flagged = deg.join(F.broadcast(seed_flags), "node", "left").select(
        "node",
        "deg",
        F.coalesce("__is_seed", F.lit(0)).alias("__is_seed"),
    )
    # ns rides the flagged frame (not `seeds.count()`), so absent seeds
    # can't dilute the teleport mass; `base` is persisted because every
    # superstep references it and the ns aggregate now hangs off the
    # node-sized subtree — one node-sized materialization, same order as
    # the `deg` persist above, instead of n_iter re-expansions.
    ns = flagged.agg(F.sum("__is_seed").alias("ns"))
    base = _persist_tracked(
        flagged.crossJoin(F.broadcast(ns)).select(
            "node", "deg", "ns", "__is_seed"
        )
    )
    ranks = base.select(
        "node",
        "deg",
        F.expr(f"CASE WHEN __is_seed = 1 THEN {SCALE} div ns ELSE 0 END").alias(
            "r"
        ),
    )
    teleport = (
        f"CASE WHEN __is_seed = 1 THEN "
        f"({DAMP_DEN - DAMP_NUM} * {SCALE} div {DAMP_DEN}) div ns "
        f"ELSE 0 END"
    )
    for _ in range(n_iter):
        inflow = (
            edges.join(ranks, edges.src == ranks.node)
            .select(F.col("dst"), F.expr("r div deg").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("c"))
        )
        ranks = base.join(inflow, base.node == inflow.dst, "left").select(
            "node",
            "deg",
            F.expr(
                f"{teleport} + ({DAMP_NUM} * coalesce(c, 0)) div {DAMP_DEN}"
            ).alias("r"),
        )
    return ranks.select("node", F.col("r").alias("rank"))
