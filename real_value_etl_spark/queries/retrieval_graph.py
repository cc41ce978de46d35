"""Retrieval-graph and sketch operators: kNN graph construction,
leakage-safe splitting, count-min frequency sketching, and containment
(asymmetric near-dup) detection.

These extend the LLM-pipeline surface (SURVEY.md §2.12 north-star; no
reference analogue) with the graph/sketch shapes a training-data platform
runs between dedup and training:

- sim_knn_graph — the k-nearest-neighbor graph over the embedding corpus
  (cluster-blocked, mutual edges flagged): the input to graph-based
  semantic clustering, diversity sampling, and label propagation.
- docs_leakage_safe_split — train/val/test assignment where every
  near-dup CLUSTER lands in one split (split by the cluster
  representative's hash, not the document's): the fix for eval
  contamination that per-document hashing cannot give.
- text_countmin_freq — Count-Min frequency sketch with deterministic
  portable hashes: the bounded-memory token-frequency estimator, and —
  because every hash is the shared md5-prefix hash — the sketch itself is
  hash-checkable against the oracle, like text_kmv_distinct.
- docs_containment — asymmetric containment |A∩B|/|A| over banded-LSH
  candidates: catches quotes/subsets/truncated copies whose Jaccard is
  tiny because the union is dominated by the longer document.
- graph_label_propagation — semi-supervised label propagation over the
  kNN graph (seeds keep their labels, unlabeled nodes adopt the majority
  neighbor label; rounds unrolled bit-exactly in both engines).
- multimodal_phash_dedup — perceptual-hash near-dup over binary payloads:
  Arrow feature kernel → sign-bit pHash → banded hamming self-join.

Oracle conventions follow queries/llm.py: shared constants and SQL
builders from functions/text.py / functions/vectors.py, integer
arithmetic where possible, single pinned expressions for every double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions import vectors as V
from ..operators import dedup as D
from ..operators import similarity as S
from ..operators.scan import _persist_tracked
from .llm import (
    IVF_CENTROID_MOD,
    JACCARD_THRESHOLD,
    _JACCARD_TAIL_SQL,
    _SHINGLE_IDX_CTE,
)
from .registry import register, table

# ---------------------------------------------------------------------------
# kNN graph over embeddings (cluster-blocked, mutual edges flagged)
# ---------------------------------------------------------------------------
KNN_GRAPH_K = 5
# The blocked self-join needs cluster sizes BOUNDED (fine cells stay
# corpus-proportional, every ~25th id), but flat nearest-fine assignment
# is then N x N/25 — the quadratic stage the r5 scale rehearsal measured
# at 44x for 10x data. Assignment therefore routes through a COARSE
# codebook (every 625th id, so |coarse| = |fine|/25): vector -> nearest
# coarse cell -> nearest fine centroid within that cell. At sf <= 0.01
# (vec_id < 625) there is a single coarse seed, the cell spans the whole
# fine codebook, and assignment is bit-identical to the flat version —
# driver correctness rows are unaffected; only at bench scales does the
# routing (and the measured near-linear cost) kick in.
KNN_COARSE_MOD = 625
# The sf1->sf10 probe measured the two-level router's corpus x coarse
# stage at 56x for 10x data (N x N/625 — the next quadratic term). A
# THIRD level prunes it: the coarse stage routes through a SUPER grid of
# ~|coarse|/25 seeds, selected from the coarse seeds by the portable
# md5 hash (id-mod selection breaks on strided/sparse id spaces; the
# hash works for any id distribution and replays exactly in DuckDB).
# Super routing is a LEFT join: an EMPTY super grid (every driver scale:
# sf <= 0.01 has one coarse seed hashing off-class) degrades to parent
# cell -1 on all sides — result-identical to the two-level router, so
# the fixed oracle text stays green at correctness scales while bench
# scales get log-depth pruning (operators/similarity.py:ivf_assign_tree).
KNN_SUPER_SELECT = 25
# ADAPTIVE ROUTER GATE (r6 verdict asks #2/#6): the super level replaces
# the N x |coarse| coarse-routing stage with two extra corpus-wide
# groupBys (the parent() stages) — a win only once |coarse| is large
# enough that the stage it removes dominates the fixed cost it adds.
# Measured crossover: |coarse| = 4 (sf0.1) the two-level plan wins
# (tree cost the whole +29% r6 regression); |coarse| = 40 (sf1) the
# tree wins (ratio 1.77 vs 5.58); |coarse| = 400 (sf10) the tree is
# mandatory (26.3 s vs 571 s). The gate therefore sits between the
# measured points, NOT at the r6 verdict's suggested ~500 (which would
# flip sf10 back onto the quadratic two-level path). Both sides switch
# on the SAME condition — Spark branches to `ivf_assign_hier`, the
# oracle CTE empties its supergrid via a scalar-subquery gate, and the
# three-level text with an EMPTY supergrid is result-identical to the
# two-level router (the degradation theorem, regression-gated by
# test_ivf_assign_tree_degrades_to_hier) — so correctness holds at
# every scale regardless of which branch runs.
KNN_TREE_MIN_COARSE = 25


def _knn_edges_cte() -> str:
    """Shared CTE chain (e, cents, coarse, supergrid, grid_p, vec_p,
    cent_p, vec_cell, cent_cell, assigned, scored, edges) producing the
    directed kNN edge list — mirrors `_knn_edges` (three-level assignment
    via operators/similarity.py:ivf_assign_tree) exactly."""
    cos_gs = V.cosine_sql("g.gv", "s.sv")
    cos_vs = V.cosine_sql("x.v", "s.sv")
    cos_cs = V.cosine_sql("c.cv", "s.sv")
    cos_cg = V.cosine_sql("c.cv", "g.gv")
    cos_xg = V.cosine_sql("x.v", "g.gv")
    cos_xc = V.cosine_sql("x.v", "c.cv")
    cos_ab = V.cosine_sql("a.v", "b.v")
    sel = T.portable_hash32_sql("CAST(gid AS VARCHAR)")
    return f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e
              WHERE vec_id % {IVF_CENTROID_MOD} = 0),
    coarse AS (SELECT vec_id AS gid, v AS gv FROM e
               WHERE vec_id % {KNN_COARSE_MOD} = 0),
    supergrid AS (SELECT gid AS sid, gv AS sv FROM coarse
                  WHERE {sel} % {KNN_SUPER_SELECT} = 0
                    AND (SELECT COUNT(*) FROM coarse)
                        > {KNN_TREE_MIN_COARSE}),
    grid_p AS (
      SELECT gid, gv, COALESCE(sid, -1) AS pid FROM (
        SELECT g.gid, g.gv, s.sid,
               ROW_NUMBER() OVER (PARTITION BY g.gid
                                  ORDER BY {cos_gs} DESC, s.sid) AS r
        FROM coarse g LEFT JOIN supergrid s ON TRUE
      ) WHERE r = 1
    ),
    vec_p AS (
      SELECT vec_id, v, COALESCE(sid, -1) AS pid FROM (
        SELECT x.vec_id, x.v, s.sid,
               ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                  ORDER BY {cos_vs} DESC, s.sid) AS r
        FROM e x LEFT JOIN supergrid s ON TRUE
      ) WHERE r = 1
    ),
    cent_p AS (
      SELECT cid, cv, COALESCE(sid, -1) AS pid FROM (
        SELECT c.cid, c.cv, s.sid,
               ROW_NUMBER() OVER (PARTITION BY c.cid
                                  ORDER BY {cos_cs} DESC, s.sid) AS r
        FROM cents c LEFT JOIN supergrid s ON TRUE
      ) WHERE r = 1
    ),
    vec_cell AS (
      SELECT vec_id, v, gid FROM (
        SELECT x.vec_id, x.v, g.gid,
               ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                  ORDER BY {cos_xg} DESC, g.gid) AS r
        FROM vec_p x JOIN grid_p g ON x.pid = g.pid
      ) WHERE r = 1
    ),
    cent_cell AS (
      SELECT cid, cv, gid FROM (
        SELECT c.cid, c.cv, g.gid,
               ROW_NUMBER() OVER (PARTITION BY c.cid
                                  ORDER BY {cos_cg} DESC, g.gid) AS r
        FROM cent_p c JOIN grid_p g ON c.pid = g.pid
      ) WHERE r = 1
    ),
    assigned AS (
      SELECT vec_id, v, cid AS cluster_id FROM (
        SELECT x.vec_id, x.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                  ORDER BY {cos_xc} DESC, c.cid) AS r
        FROM vec_cell x JOIN cent_cell c ON x.gid = c.gid
      ) WHERE r = 1
    ),
    scored AS (
      SELECT a.vec_id AS src, b.vec_id AS dst, {cos_ab} AS sim
      FROM assigned a JOIN assigned b
        ON a.cluster_id = b.cluster_id AND a.vec_id <> b.vec_id
    ),
    edges AS (
      SELECT src, dst, sim, rnk FROM (
        SELECT src, dst, sim,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY sim DESC, dst) AS rnk
        FROM scored
      ) WHERE rnk <= {KNN_GRAPH_K}
    )"""


def _knn_graph_oracle() -> str:
    return f"""
    WITH {_knn_edges_cte()}
    SELECT e.src, e.dst, e.sim, e.rnk,
           (m.src IS NOT NULL) AS mutual
    FROM edges e
    LEFT JOIN edges m ON m.src = e.dst AND m.dst = e.src
    """


def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed kNN edge list (src, dst, sim, rnk) — cluster-blocked: IVF
    assignment (three-level: super -> coarse -> fine routing keeps every
    stage's fan-out bounded over the measured decades — see
    KNN_COARSE_MOD / KNN_SUPER_SELECT), per-cluster pair join,
    two-phase-free per-source top-k (the window runs inside a cluster's
    block). Shared by the kNN-graph and label-propagation queries, and by
    `_mutual_edges`, the edge set of the mutual-kNN graph queries."""
    emb = table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") % IVF_CENTROID_MOD == 0)
    coarse = emb.filter(F.col("vec_id") % KNN_COARSE_MOD == 0)
    # Adaptive: count the coarse codebook (one column-pruned scan of a
    # k-sized filter — the only driver action in the builder) and take
    # the two-level plan outright below the measured crossover; the
    # oracle empties its supergrid under the SAME gate, and empty-super
    # three-level == two-level (see KNN_TREE_MIN_COARSE).
    coarse_n = coarse.select("vec_id").count()
    if coarse_n > KNN_TREE_MIN_COARSE:
        sup = coarse.filter(
            T.portable_hash32(F.col("vec_id").cast("string"))
            % KNN_SUPER_SELECT
            == 0
        )
        assigned = S.ivf_assign_tree(emb, cents, coarse, sup)
    else:
        assigned = S.ivf_assign_hier(emb, cents, coarse)
    a = assigned.select(
        F.col("vec_id").alias("src"),
        F.col("v").alias("va"),
        F.col("nv").alias("na"),
        "cluster_id",
    )
    b = assigned.select(
        F.col("vec_id").alias("dst"),
        F.col("v").alias("vb"),
        F.col("nv").alias("nb"),
        "cluster_id",
    )
    scored = (
        a.join(b, "cluster_id")
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            (V.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "sim"
            ),
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_GRAPH_K)
    )


def _mutual_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The undirected mutual-kNN graph as `(a, b)` with a < b: the
    `_knn_edges` pairs whose reverse is also a kNN edge (both endpoints in
    each other's top-k), one row per pair. A left-semi self join on
    (src=dst, dst=src); no edge weight is carried."""
    edges = _knn_edges(spark, sf_dir).select("src", "dst")
    rev = edges.select(F.col("src").alias("m_src"), F.col("dst").alias("m_dst"))
    return (
        edges.join(
            rev,
            (F.col("m_src") == F.col("dst")) & (F.col("m_dst") == F.col("src")),
            "left_semi",
        )
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
    )


@register(
    "sim_knn_graph",
    oracle=_knn_graph_oracle(),
    tags=("similarity", "llm", "graph", "ann"),
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor graph over the embedding corpus, the substrate
    for graph-based semantic clustering / diversity sampling / label
    propagation. Candidates are CLUSTER-BLOCKED (IVF assignment to the
    seeded centroids, neighbors searched within a vector's own cluster
    only), so the pair join is |cluster|^2 per cluster, never corpus^2 —
    at 100 TB the assignment is written bucketed by cluster_id and each
    cluster's block joins co-located. Edges carry the exact cosine, the
    per-source rank, and the MUTUAL flag (both endpoints in each other's
    top-k — the standard edge filter that drops hub-induced asymmetric
    edges before community detection). Mutuality is a self equi-join of
    the edge list on (src=dst, dst=src): O(n*k) rows, keyed both sides.
    """
    edges = _knn_edges(spark, sf_dir)
    rev = edges.select(
        F.col("src").alias("m_src"), F.col("dst").alias("m_dst")
    )
    return (
        edges.join(
            rev,
            (F.col("m_src") == F.col("dst")) & (F.col("m_dst") == F.col("src")),
            "left",
        )
        .select(
            "src",
            "dst",
            "sim",
            "rnk",
            F.col("m_src").isNotNull().alias("mutual"),
        )
    )


# ---------------------------------------------------------------------------
# Leakage-safe split: near-dup clusters assigned to ONE split
# ---------------------------------------------------------------------------
SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 90  # [80, 90) = val, [90, 100) = test


def _leakage_split_oracle() -> str:
    bucket = (
        "CAST(('0x' || substring(md5(CAST(component AS VARCHAR)), 1, 8)) "
        "AS BIGINT) % 100"
    )
    return f"""
    WITH RECURSIVE {_SHINGLE_IDX_CTE}, {_JACCARD_TAIL_SQL},
    pairs_t AS (SELECT doc_a, doc_b FROM jac WHERE jac >= {JACCARD_THRESHOLD}),
    e2 AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs_t
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs_t
    ),
    reach(src, node) AS (
      SELECT a, a FROM e2
      UNION
      SELECT r.src, e.b FROM reach r JOIN e2 e ON e.a = r.node
    ),
    comp AS (SELECT src AS node, MIN(node) AS component FROM reach GROUP BY src),
    withc AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT doc_id, component,
           CASE WHEN {bucket} < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN {bucket} < {SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split
    FROM withc
    """


@register(
    "docs_leakage_safe_split",
    oracle=_leakage_split_oracle(),
    tags=("llm", "sampling", "split", "dedup", "iterative"),
)
def docs_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that cannot leak near-duplicates across
    splits: documents are grouped into near-dup CLUSTERS (connected
    components over the exact-Jaccard pair graph), and the split bucket
    is the hash of the CLUSTER id, not the document id — every member of
    a cluster lands in the same split by construction. Per-document
    hash splitting (docs_train_test_split) puts ~37% of near-dup pairs
    astride the train/eval boundary (1 - 0.8² - 0.1² - 0.1²); this is
    the standard fix. Docs in no pair are their own singleton cluster
    (left join + coalesce). Plan: the pair graph and min-label
    propagation reuse the dedup machinery (all shuffles keyed on doc id
    or shingle); the final assignment is one broadcast-join of the
    cluster map onto the corpus + a map-only hash bucket."""
    d = table(spark, sf_dir, "documents")
    from ..operators.components import connected_components

    pairs = D.ngram_jaccard_pairs(d, "doc_id", "text", JACCARD_THRESHOLD)
    comp = connected_components(pairs.select("doc_a", "doc_b"))
    withc = d.select("doc_id").join(
        comp.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("component").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 100
    )
    return withc.select(
        "doc_id",
        "component",
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# Count-Min frequency sketch (deterministic, hash-checkable)
# ---------------------------------------------------------------------------
CMS_W = 512  # counters per row
CMS_D = 4  # hash rows
CMS_TOPN = 20  # candidates whose estimates are evaluated


def _cms_oracle() -> str:
    toks = T.tokens_sql("text")

    def bucket(d: int) -> str:
        salted = "('" + str(d) + "|' || token)"
        return f"{T.portable_hash32_sql(salted)} % {CMS_W}"

    sketch_rows = "\n      UNION ALL ".join(
        f"SELECT {d} AS depth, {bucket(d)} AS bucket, token FROM tok"
        for d in range(CMS_D)
    )
    cand_rows = "\n      UNION ALL ".join(
        f"SELECT token, n_exact, {d} AS depth, {bucket(d)} AS bucket FROM cand"
        for d in range(CMS_D)
    )
    return f"""
    WITH tok AS (
      SELECT unnest({toks}) AS token FROM documents
    ),
    hashed AS ({sketch_rows}),
    sketch AS (
      SELECT depth, bucket, COUNT(*) AS cnt
      FROM hashed GROUP BY depth, bucket
    ),
    exact AS (
      SELECT token, COUNT(*) AS n_exact FROM tok GROUP BY token
    ),
    cand AS (
      SELECT token, n_exact FROM (
        SELECT token, n_exact,
               ROW_NUMBER() OVER (ORDER BY n_exact DESC, token) AS r
        FROM exact
      ) WHERE r <= {CMS_TOPN}
    ),
    probes AS ({cand_rows})
    SELECT p.token, ANY_VALUE(p.n_exact) AS n_exact,
           MIN(s.cnt) AS n_est,
           MIN(s.cnt) - ANY_VALUE(p.n_exact) AS overcount
    FROM probes p JOIN sketch s
      ON s.depth = p.depth AND s.bucket = p.bucket
    GROUP BY p.token
    """


@register(
    "text_countmin_freq",
    oracle=_cms_oracle(),
    tags=("llm", "text", "sketch"),
)
def text_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch over the token stream: {CMS_D} hash
    rows x {CMS_W} counters, estimate = min over rows of the counter each
    hash lands in (always >= the true count — one-sided error). Because
    every hash is the shared deterministic md5-prefix hash (salted per
    row), the sketch — not just its answers — is reproducible on any
    engine/partitioning, so this "approximate" operator is exactly
    verifiable, like text_kmv_distinct. Output: the top-{CMS_TOPN} exact
    tokens with their estimates and overcounts (the sketch's measured
    collision error on this corpus). Scale: the sketch is a fixed
    {CMS_D}x{CMS_W} table built by one map-side-combined groupBy over
    the exploded stream (the {CMS_D}x expansion happens AFTER the narrow
    explode, inside the same stage); estimation joins the
    broadcast-sized sketch. Memory is O(d*w) regardless of corpus size —
    the point of the sketch."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(F.explode(T.tokens(F.col("text"))).alias("token"))
    bucket = lambda dd: (  # noqa: E731
        T.portable_hash32(F.concat(F.lit(f"{dd}|"), F.col("token"))) % CMS_W
    )
    hashed = tok.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dd).alias("depth"), bucket(dd).alias("bucket")
                    )
                    for dd in range(CMS_D)
                ]
            )
        ).alias("db")
    ).select(F.col("db.depth").alias("depth"), F.col("db.bucket").alias("bucket"))
    sketch = hashed.groupBy("depth", "bucket").agg(F.count("*").alias("cnt"))
    exact = tok.groupBy("token").agg(F.count("*").alias("n_exact"))
    # orderBy().limit() plans TakeOrderedAndProject (per-partition top-N
    # then a merge of N-row heaps) — NOT a row_number over an
    # unpartitioned Window, which would Exchange SinglePartition and sort
    # the whole vocabulary on one task (ADVICE r3).
    cand = exact.orderBy(F.desc("n_exact"), F.asc("token")).limit(CMS_TOPN)
    probes = cand.select(
        "token",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dd).alias("depth"), bucket(dd).alias("bucket")
                    )
                    for dd in range(CMS_D)
                ]
            )
        ).alias("db"),
    ).select(
        "token",
        "n_exact",
        F.col("db.depth").alias("depth"),
        F.col("db.bucket").alias("bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["depth", "bucket"])
        .groupBy("token")
        .agg(
            F.any_value("n_exact").alias("n_exact"),
            F.min("cnt").alias("n_est"),
            (F.min("cnt") - F.any_value("n_exact")).alias("overcount"),
        )
    )


# ---------------------------------------------------------------------------
# Containment (asymmetric near-dup) over LSH candidates
# ---------------------------------------------------------------------------
CONTAIN_THRESHOLD = 0.7


def _containment_oracle() -> str:
    sig_cols = ",\n         ".join(
        f"min({T.minhash_sql('h', i)}) AS mh{i}" for i in range(T.MINHASH_K)
    )
    band_selects = "\n      UNION ALL ".join(
        "SELECT did, {b} AS band, {key} AS bkey FROM sig".format(
            b=b,
            key="CAST(mh{0} AS VARCHAR) || '_' || CAST(mh{1} AS VARCHAR)".format(
                b * T.LSH_ROWS, b * T.LSH_ROWS + 1
            ),
        )
        for b in range(T.LSH_BANDS)
    )
    return f"""
    WITH {_SHINGLE_IDX_CTE},
    hashes AS (SELECT did, {T.portable_hash32_sql('sh')} AS h FROM idx),
    sig AS (SELECT did, {sig_cols} FROM hashes GROUP BY did),
    bands AS ({band_selects}),
    cand AS (
      SELECT DISTINCT x.did AS doc_a, y.did AS doc_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bkey = y.bkey AND x.did < y.did
    ),
    sizes AS (SELECT did, COUNT(*) AS n FROM idx GROUP BY did),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
      FROM cand c
      JOIN idx a ON a.did = c.doc_a
      JOIN idx b ON b.did = c.doc_b AND b.sh = a.sh
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.inter AS DOUBLE) / na.n AS cont_a,
           CAST(i.inter AS DOUBLE) / nb.n AS cont_b
    FROM inter i
    JOIN sizes na ON na.did = i.doc_a
    JOIN sizes nb ON nb.did = i.doc_b
    WHERE GREATEST(CAST(i.inter AS DOUBLE) / na.n,
                   CAST(i.inter AS DOUBLE) / nb.n) >= {CONTAIN_THRESHOLD}
    """


@register(
    "docs_containment",
    oracle=_containment_oracle(),
    tags=("dedup", "llm", "containment"),
)
def docs_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (|A∩B|/|A|, |A∩B|/|B|) over banded
    MinHash-LSH candidates, kept where either side >= {CONTAIN_THRESHOLD}.
    The quote/subset detector: a short document embedded in a long one has
    near-zero Jaccard (union dominated by the long doc) but containment
    ~1.0 on the short side — symmetric dedup never flags it. Same LSH
    candidate machinery and set-at-a-time array_intersect verify as the
    Jaccard paths (operators/dedup.py:containment_pairs)."""
    return D.containment_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", CONTAIN_THRESHOLD
    )


# ---------------------------------------------------------------------------
# Multimodal perceptual-hash dedup (feature kernel -> sign bits -> bands)
# ---------------------------------------------------------------------------
PHASH_BITS = 16  # one bit per spatial block-mean feature (FEATURE_DIM)
PHASH_BAND_BITS = 8  # 2 bands of 8 bits: hamming<=1 implies one equal band
PHASH_MAX_HAMMING = 1


def _phash_oracle() -> str:
    # mirrors operators/multimodal.py:_feature_batches — REAL features
    # since round 12: feature b is the mean of spatial block b of the
    # decoded pixel grid; bit b = block at-least-average brightness,
    # decided by exact integer cross-multiply (bsum * tn >= tsum * bn) so
    # neither engine touches a float on the quantization path.
    from .llm import _BLOCK_FEATURES_CTE

    return f"""
    WITH {_BLOCK_FEATURES_CTE},
    ph AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN bsum * tn >= tsum * bn
                           THEN (CAST(1 AS BIGINT) << b)
                           ELSE 0 END) AS BIGINT) AS phash
      FROM f GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, phash, 0 AS band, phash % 256 AS bkey FROM ph
      UNION ALL
      SELECT doc_id, phash, 1 AS band, phash // 256 AS bkey FROM ph
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, x.phash AS ph_a,
                      y.doc_id AS doc_b, y.phash AS ph_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(ph_a, ph_b)) <= {PHASH_MAX_HAMMING}
    """


@register(
    "multimodal_phash_dedup",
    oracle=_phash_oracle(),
    tags=("multimodal", "dedup", "llm", "pandas_udf"),
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup over BINARY payloads — REAL pHash since
    round 12: payloads are wrapped into real grayscale PNGs, the Arrow
    feature kernel (operators/multimodal.py:extract_features) DECODES
    each one and emits {PHASH_BITS} spatial block-mean pixel statistics,
    and bit b is set when block b is at-least-average brightness — the
    classical mean-threshold pHash quantization, decided by exact integer
    cross-multiply (block_sum * total_n >= total_sum * block_n) so no
    float comparison can diverge between engines. Pairs are found by
    XOR-BIT-FLIP ENUMERATION (r12 optimization): hamming <= 1 on a
    {PHASH_BITS}-bit hash means ph_b is ph_a or ph_a ^ (1<<k), so one
    side explodes its hash into the {PHASH_BITS} + 1 variant keys and
    the join matches full {PHASH_BITS}-bit values — the candidate
    intermediate is OUTPUT-sized. The banded join this replaces
    (2 bands of {PHASH_BAND_BITS} bits) keyed on only 256 distinct
    values per band, so every bucket met ~n/256 of the corpus and the
    join materialized ~23x the output (39M bucket-product rows for
    1.67M pairs at sf1) before the hamming filter. Each qualifying
    pair matches EXACTLY one variant (the XOR of two hashes has a
    unique bit decomposition; the identity variant covers hamming 0),
    so the old candidate distinct is provably a no-op and is dropped —
    one exchange fewer on top of the smaller intermediate. Output is
    identical pair-for-pair to the banded form (both enumerate exactly
    the hamming <= {PHASH_MAX_HAMMING} pairs; oracle SQL unchanged).
    Pipeline shape: bytes never leave the executors (Arrow batches),
    the hash aggregation is one groupBy(doc_id), and the self-join
    meets only exact-key rows."""
    from ..operators import multimodal as M

    d = table(spark, sf_dir, "documents")
    feats = M.extract_features(
        M.encode_png_gray(M.attach_binary(d, "doc_id", "text"))
    )
    ph = feats.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("block_sum") * F.col("total_n")
                >= F.col("total_sum") * F.col("block_n"),
                F.expr("shiftleft(CAST(1 AS BIGINT), feature_idx)"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("phash")
    )
    var = ph.select(
        F.col("doc_id").alias("doc_b"),
        F.col("phash").alias("ph_b"),
        F.explode(
            F.array(
                F.col("phash"),
                *[
                    F.col("phash").bitwiseXOR(F.lit(1 << k))
                    for k in range(PHASH_BITS)
                ],
            )
        ).alias("vkey"),
    )
    x = ph.alias("x")
    cand = x.join(
        var,
        (F.col("x.phash") == F.col("vkey"))
        & (F.col("x.doc_id") < F.col("doc_b")),
    ).select(
        F.col("x.doc_id").alias("doc_a"),
        F.col("x.phash").alias("ph_a"),
        "doc_b",
        "ph_b",
    )
    hamming = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("long")
    return cand.select(
        "doc_a", "doc_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= PHASH_MAX_HAMMING)


# ---------------------------------------------------------------------------
# Label propagation over the kNN graph (semi-supervised labeling)
# ---------------------------------------------------------------------------
LP_SEED_MOD = 5  # vec_id % 5 == 0 keep their true label (20% seeds)
LP_ROUNDS = 2  # unrolled in BOTH engines — bit-for-bit trajectory replay


def _lp_oracle() -> str:
    rounds_sql = ""
    prev = "l0"
    for r in (1, 2):
        rounds_sql += f""",
    c{r} AS (
      SELECT s.a AS vec_id, l.lab, COUNT(*) AS cnt
      FROM sym s JOIN {prev} l ON s.b = l.vec_id
      WHERE l.lab IS NOT NULL
      GROUP BY s.a, l.lab
    ),
    b{r} AS (
      SELECT vec_id, lab FROM (
        SELECT vec_id, lab,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cnt DESC, lab) AS rr
        FROM c{r}
      ) WHERE rr = 1
    ),
    l{r} AS (
      SELECT p.vec_id,
             COALESCE(p.lab, b.lab) AS lab,
             COALESCE(p.rl, CASE WHEN p.lab IS NULL AND b.lab IS NOT NULL
                                 THEN {r} END) AS rl
      FROM {prev} p LEFT JOIN b{r} b ON p.vec_id = b.vec_id
    )"""
        prev = f"l{r}"
    return f"""
    WITH {_knn_edges_cte()},
    sym AS (
      SELECT src AS a, dst AS b FROM edges
      UNION
      SELECT dst AS a, src AS b FROM edges
    ),
    l0 AS (
      SELECT vec_id,
             CASE WHEN vec_id % {LP_SEED_MOD} = 0 THEN label END AS lab,
             CAST(NULL AS INTEGER) AS rl
      FROM embeddings
    ){rounds_sql}
    SELECT vec_id, lab AS label_pred,
           (vec_id % {LP_SEED_MOD} = 0) AS is_seed,
           rl AS round_labeled
    FROM l{LP_ROUNDS}
    """


@register(
    "graph_label_propagation",
    oracle=_lp_oracle(),
    tags=("graph", "llm", "similarity", "iterative"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the kNN graph: 20% of
    vectors keep their true label as SEEDS; each round, every unlabeled
    node adopts the most common label among its labeled neighbors
    (deterministic tiebreak: highest count, then lowest label), seeds
    never change, and nodes with no labeled neighbor stay NULL. The weak
    supervision move — spend labels on a sample, propagate over the
    similarity structure. {LP_ROUNDS} rounds are UNROLLED identically in
    both engines so the oracle replays the exact trajectory (which round
    labeled each node is part of the output). Plan: the undirected edge
    list keys every round's join+aggregate on node id — one shuffle per
    round, the Pregel-as-join shape of operators/pagerank.py; at 100 TB
    rounds run over a bucketed edge table so the per-round join is
    co-located."""
    edges = _knn_edges(spark, sf_dir).select("src", "dst")
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(
            edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
        .distinct()
    )
    emb = table(spark, sf_dir, "embeddings")
    labels = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % LP_SEED_MOD == 0, F.col("label")).alias("lab"),
        F.lit(None).cast("int").alias("rl"),
    )
    for r in (1, 2):
        lab_src = labels.filter(F.col("lab").isNotNull()).select(
            F.col("vec_id").alias("b"), F.col("lab").alias("nlab")
        )
        counts = (
            sym.join(lab_src, "b")
            .groupBy(F.col("a").alias("vec_id"), F.col("nlab"))
            .agg(F.count("*").alias("cnt"))
        )
        best = counts.groupBy("vec_id").agg(
            F.max_by(
                F.col("nlab"),
                F.struct(F.col("cnt"), (-F.col("nlab")).alias("t")),
            ).alias("blab")
        )
        labels = (
            labels.join(best, "vec_id", "left")
            .select(
                "vec_id",
                F.coalesce(F.col("lab"), F.col("blab")).alias("lab"),
                F.coalesce(
                    F.col("rl"),
                    F.when(
                        F.col("lab").isNull() & F.col("blab").isNotNull(),
                        F.lit(r),
                    ).cast("int"),
                ).alias("rl"),
            )
        )
    return labels.select(
        "vec_id",
        F.col("lab").alias("label_pred"),
        (F.col("vec_id") % LP_SEED_MOD == 0).alias("is_seed"),
        F.col("rl").alias("round_labeled"),
    )


# ---------------------------------------------------------------------------
# TF-IDF cosine pairs via postings (sparse all-pairs text similarity)
# ---------------------------------------------------------------------------
TFIDF_DF_MAX = 20  # terms in more docs than this are pruned (skew + signal)
TFIDF_TAU = 0.5


def _tfidf_oracle() -> str:
    term = "CAST(cnt AS DOUBLE) * ((1.0 / df) * (1.0 / df))"
    return f"""
    WITH {_SHINGLE_IDX_CTE},
    dfr AS (
      SELECT sh, COUNT(*) AS df FROM idx GROUP BY sh
      HAVING COUNT(*) <= {TFIDF_DF_MAX}
    ),
    w AS (
      SELECT i.did AS doc_id, i.sh, d.df
      FROM idx i JOIN dfr d USING (sh)
    ),
    nbuckets AS (
      SELECT doc_id, df, COUNT(*) AS cnt FROM w GROUP BY doc_id, df
    ),
    nrm AS (
      SELECT doc_id,
             sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                           list({term} ORDER BY df)),
                              (a, x) -> a + x)) AS nrm
      FROM nbuckets GROUP BY doc_id
    ),
    dbuckets AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.df, COUNT(*) AS cnt
      FROM w a JOIN w b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.df
    ),
    dots AS (
      SELECT doc_a, doc_b,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                      list({term} ORDER BY df)),
                         (a2, x) -> a2 + x) AS dot
      FROM dbuckets GROUP BY doc_a, doc_b
    )
    SELECT d.doc_a, d.doc_b,
           d.dot / (na.nrm * nb.nrm) AS cos
    FROM dots d
    JOIN nrm na ON na.doc_id = d.doc_a
    JOIN nrm nb ON nb.doc_id = d.doc_b
    WHERE d.dot / (na.nrm * nb.nrm) >= {TFIDF_TAU}
    """


@register(
    "text_tfidf_cosine_pairs",
    oracle=_tfidf_oracle(),
    tags=("llm", "text", "similarity", "join"),
)
def text_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse idf-weighted cosine similarity pairs via the shingle
    inverted index — the classic text-similarity-at-scale shape,
    complementing set Jaccard with WEIGHTED overlap: each 3-gram shingle
    carries weight 1/df (the log-free rational idf — same monotone
    down-weighting of common shingles, bit-portable where log is not;
    the shingle set is deduped per doc, so tf is binary — the standard
    near-dup configuration). Shingles in more than {TFIDF_DF_MAX} docs
    are PRUNED before the postings self-join — simultaneously the
    quality move (boilerplate carries no signal) and the scale move
    (the join's worst partition is bounded by {TFIDF_DF_MAX}², so a
    viral shingle can never form the quadratic hot partition; this is
    the same skew-kill as AllPairs prefix filtering, applied to the
    weighted metric). Because every shingle's weight depends only on its
    df, norms and dots collapse to DF-BUCKETED sums: count shingles per
    (doc, df) — at most {TFIDF_DF_MAX} buckets — then fold
    cnt·(1/df)² in df-ascending order (pinned double order both
    engines). The aggregation state is ≤{TFIDF_DF_MAX} rows per doc/pair
    instead of the full shingle array (~25% faster at sf0.1 where the
    postings join dominates; at 100 TB the decisive part is that the
    aggregation never materializes a document's term vector).
    Norm joins are SHUFFLE_HASH-pinned like every corpus-sized verify
    side."""
    d = table(spark, sf_dir, "documents")
    idx = D.shingle_index(d, "doc_id", "text")
    dfr = (
        idx.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= TFIDF_DF_MAX)
    )
    # Persist the WEIGHTED index (post df-cap): it feeds three consumers
    # (norm buckets + both self-join sides) and each lazy recompute costs
    # a full corpus explode + df join — AQE defeats ReusedExchange here,
    # so without the persist the executed plan re-scans/re-explodes 8x
    # (measured ~10% slower at sf0.1). Unlike the RAW shingle index of
    # the Jaccard paths (strictly larger, kept unpersisted by policy),
    # this frame is df-capped three-column rows — the boilerplate mass is
    # already gone.
    w = _persist_tracked(
        idx.join(dfr, "sh").select(F.col("did").alias("doc_id"), "sh", "df")
    )

    def bucket_fold(grouped):
        # sum of cnt * (1/df)^2 folded in df-ascending order — identical
        # literal expression both engines
        return F.aggregate(
            F.array_sort(F.collect_list(F.struct("df", "cnt"))),
            F.lit(0.0),
            lambda a, s: a
            + s["cnt"].cast("double")
            * ((F.lit(1.0) / s["df"]) * (F.lit(1.0) / s["df"])),
        )

    nbuckets = w.groupBy("doc_id", "df").agg(F.count("*").alias("cnt"))
    nrm = nbuckets.groupBy("doc_id").agg(
        F.sqrt(bucket_fold(None)).alias("nrm")
    )
    # r12: the df cap bounds every posting list at {TFIDF_DF_MAX} docs,
    # so pair generation is a posting-list expansion instead of the
    # wa ⋈ wb self-join — collect each (sh, df)'s sorted doc list once,
    # emit its <= C(df_max, 2) ordered pairs with a nested `transform`
    # map-side, and count — one exchange instead of the join's two
    # (identical (doc_a, doc_b, df, cnt): the sorted expansion
    # enumerates exactly the a < b pairs the join produced)
    posts = (
        w.groupBy("sh", "df")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    dpairs = posts.select(
        "df",
        F.explode(
            F.flatten(
                F.transform(
                    "ds",
                    lambda x, i: F.transform(
                        F.slice("ds", i + F.lit(2), F.size("ds")),
                        lambda y: F.struct(
                            x.alias("doc_a"), y.alias("doc_b")
                        ),
                    ),
                )
            )
        ).alias("pr"),
    )
    dbuckets = (
        dpairs.groupBy(
            F.col("pr.doc_a").alias("doc_a"),
            F.col("pr.doc_b").alias("doc_b"),
            "df",
        )
        .agg(F.count("*").alias("cnt"))
    )
    dots = dbuckets.groupBy("doc_a", "doc_b").agg(
        bucket_fold(None).alias("dot")
    )
    na = nrm.select(
        F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na")
    ).hint("shuffle_hash")
    nb = nrm.select(
        F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb")
    ).hint("shuffle_hash")
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cos.alias("cos"))
        .filter(F.col("cos") >= TFIDF_TAU)
    )


# ---------------------------------------------------------------------------
# Triangle counting + clustering coefficient over the mutual-kNN graph
# ---------------------------------------------------------------------------
def _triangle_oracle() -> str:
    return f"""
    WITH {_knn_edges_cte()},
    und AS (
      SELECT e.src AS a, e.dst AS b FROM edges e
      JOIN edges m ON m.src = e.dst AND m.dst = e.src
      WHERE e.src < e.dst
    ),
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
      ) GROUP BY node
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    wed AS (
      SELECT CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges FROM deg
    ),
    cnt AS (SELECT COUNT(*) AS n_edges FROM und)
    SELECT c.n_edges, w.n_wedges, t.n_triangles,
           CASE WHEN w.n_wedges > 0
                THEN 3.0 * t.n_triangles / w.n_wedges
                ELSE 0.0 END AS clustering_coeff
    FROM cnt c, wed w, tri t
    """


@register(
    "graph_triangle_count",
    oracle=_triangle_oracle(),
    tags=("graph", "llm", "join"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient over the
    MUTUAL-kNN graph — the structural-density diagnostic run before
    community detection (a high coefficient means the kNN graph has
    real cluster structure; a low one means the embedding space is
    noise). Each undirected edge is ORIENTED low-id -> high-id, so every
    triangle is counted exactly once as a < b < c: wedge join (e1.b =
    e2.a) then the closing-edge equi-join — never a cartesian. At 100 TB
    the orientation is by DEGREE then id (the standard hub-killer: a
    star node's wedges collapse because high-degree nodes point only to
    higher-degree nodes); id-orientation here keeps the oracle replay
    trivial while the join shape is identical. Clustering coefficient =
    3·triangles / wedges with wedges = Σ C(deg, 2)."""
    und = _mutual_edges(spark, sf_dir)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    e1 = und.select(F.col("a").alias("a"), F.col("b").alias("mid"))
    e2 = und.select(F.col("a").alias("mid"), F.col("b").alias("c"))
    wedges_paths = e1.join(e2, "mid").select("a", "c", "mid")
    e3 = und.select(F.col("a").alias("a"), F.col("b").alias("c"))
    tri = wedges_paths.join(e3, ["a", "c"], "left_semi").agg(
        F.count("*").alias("n_triangles")
    )
    wed = deg.agg(
        F.sum((F.col("deg") * (F.col("deg") - 1) / 2).cast("long")).alias(
            "n_wedges"
        )
    )
    cnt = und.agg(F.count("*").alias("n_edges"))
    return (
        cnt.crossJoin(F.broadcast(wed))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


# ---------------------------------------------------------------------------
# k-truss decomposition over the mutual-kNN graph (edge-support peel)
# ---------------------------------------------------------------------------
KTRUSS_K = 4  # every surviving edge sits in >= K-2 = 2 triangles
KTRUSS_ROUNDS = 3  # probed: peel converges in 2 rounds at sf0.001
# (834 -> 50 -> 12 -> 12 edges) and sf0.01 (859 -> 72 -> 18 -> 18);
# round 3 is the margin AND the fixed-point witness. K=5 empties both
# scales — don't raise it.


def _ktruss_tri_sql(src: str) -> str:
    """Triangle rows (a, mid, c) of the oriented edge set `src` — each
    triangle exactly once since a < mid < c under low-id -> high-id
    orientation (same shape as graph_triangle_count)."""
    return f"""
      SELECT w.a, w.mid, w.c
      FROM (SELECT e1.a, e1.b AS mid, e2.b AS c
            FROM {src} e1 JOIN {src} e2 ON e2.a = e1.b) w
      JOIN {src} e3 ON e3.a = w.a AND e3.b = w.c"""


def _ktruss_oracle() -> str:
    rounds = []
    for r in range(1, KTRUSS_ROUNDS + 1):
        rounds.append(f""",
    tri{r} AS MATERIALIZED ({_ktruss_tri_sql(f"a{r - 1}")}
    ),
    a{r} AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT a, b, COUNT(*) AS sup FROM (
          SELECT a, mid AS b FROM tri{r}
          UNION ALL SELECT mid, c FROM tri{r}
          UNION ALL SELECT a, c FROM tri{r}
        ) GROUP BY a, b
      ) WHERE sup >= {KTRUSS_K - 2}
    )""")
    return f"""
    WITH {_knn_edges_cte()},
    a0 AS MATERIALIZED (
      SELECT e.src AS a, e.dst AS b FROM edges e
      JOIN edges m ON m.src = e.dst AND m.dst = e.src
      WHERE e.src < e.dst
    ){''.join(rounds)},
    trif AS MATERIALIZED ({_ktruss_tri_sql(f"a{KTRUSS_ROUNDS}")}
    ),
    supf AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS sup FROM (
        SELECT a, mid AS b FROM trif
        UNION ALL SELECT mid, c FROM trif
        UNION ALL SELECT a, c FROM trif
      ) GROUP BY a, b
    )
    SELECT e.a, e.b, CAST(COALESCE(s.sup, 0) AS BIGINT) AS support
    FROM a{KTRUSS_ROUNDS} e
    LEFT JOIN supf s ON s.a = e.a AND s.b = e.b
    """


def _triangles(und: DataFrame) -> DataFrame:
    """Triangle rows (a, mid, c), a < mid < c, of an oriented (a < b)
    edge frame: one wedge join on mid + one closing equi-join on (a, c)
    — each triangle exactly once under the orientation."""
    e1 = und.select("a", F.col("b").alias("mid"))
    e2 = und.select(F.col("a").alias("mid"), F.col("b").alias("c"))
    w = e1.join(e2, "mid").select("a", "mid", "c")
    return w.join(
        und.select("a", F.col("b").alias("c")), ["a", "c"]
    ).select("a", "mid", "c")


def _edge_support(und: DataFrame) -> DataFrame:
    """Per-edge triangle support of an oriented (a < b) edge frame: the
    three edge sides of each triangle counted per edge. Edges in no
    triangle are ABSENT from the result (support 0)."""
    tri = _triangles(und)
    sides = (
        tri.select("a", F.col("mid").alias("b"))
        .unionByName(
            tri.select(F.col("mid").alias("a"), F.col("c").alias("b"))
        )
        .unionByName(tri.select("a", F.col("c").alias("b")))
    )
    return sides.groupBy("a", "b").agg(F.count("*").alias("sup"))


@register(
    "graph_k_truss", oracle=_ktruss_oracle(), tags=("graph", "iterative")
)
def graph_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{K}-TRUSS of the mutual-kNN graph: keep only edges that sit in
    at least {K}-2 triangles WITHIN the surviving subgraph — the
    edge-analogue of k-core and a strictly stronger cohesion filter
    (every k-truss is inside the (k-1)-core, but not vice versa); on
    document/embedding graphs it isolates tightly-knit near-duplicate
    or topic cliques that degree alone (k-core) cannot separate from
    hubs. {R} peel rounds are UNROLLED (probe: both driver scales reach
    the fixed point in 2; the third round is margin and the fixed-point
    witness), and the final pass re-measures each surviving edge's
    support so the output is the truss WITH its cohesion evidence.

    Scale shape per round: one wedge join shuffled on the mid node, one
    closing equi-join on (a, c), one map-side-combinable support count,
    one semi-join — all on integer keys, and the edge list only ever
    SHRINKS (the first peel here drops ~94% of edges). Triangles are
    enumerated once each via low-id -> high-id orientation (the
    graph_triangle_count shape; at 100 TB orient by degree-then-id to
    kill hub wedges — same plan, different sort key). The edge frame is
    localCheckpoint-ed per round: each round references its predecessor
    three times, so unbroken lineage would grow the plan ~3^rounds (the
    k-core / HITS lesson). Reference basis: SURVEY.md §2.12 graph
    family (absent in reference)."""
    und = _mutual_edges(spark, sf_dir).localCheckpoint(eager=True)
    for _ in range(KTRUSS_ROUNDS):
        sup = _edge_support(und)
        und = und.join(
            sup.filter(F.col("sup") >= KTRUSS_K - 2), ["a", "b"], "left_semi"
        ).localCheckpoint(eager=True)
    fin = _edge_support(und)
    return und.join(fin, ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce(F.col("sup"), F.lit(0)).cast("long").alias("support"),
    )


graph_k_truss.__doc__ = graph_k_truss.__doc__.format(
    K=KTRUSS_K, R=KTRUSS_ROUNDS
)


# ---------------------------------------------------------------------------
# Multi-source BFS hop distance over the kNN graph (bounded rounds)
# ---------------------------------------------------------------------------
BFS_SEED_MOD = 25  # vec_id % MOD == 0 are the seed set
BFS_HOPS = 3  # fixed unrolled rounds — output is "distance within <= 3"


def _bfs_oracle() -> str:
    steps = []
    for t in range(1, BFS_HOPS + 1):
        steps.append(f""",
    d{t} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{t - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM d{t - 1} d JOIN und e ON e.src = d.node
      ) GROUP BY node
    )""")
    return f"""
    WITH {_knn_edges_cte()},
    und AS (
      SELECT e.src, e.dst FROM edges e
      JOIN edges m ON m.src = e.dst AND m.dst = e.src
    ),
    d0 AS (
      SELECT vec_id AS node, CAST(0 AS BIGINT) AS dist
      FROM embeddings WHERE vec_id % {BFS_SEED_MOD} = 0
    ){"".join(steps)}
    SELECT node, dist FROM d{BFS_HOPS}
    """


@register(
    "graph_bfs_distance",
    oracle=_bfs_oracle(),
    tags=("similarity", "llm", "graph", "iterative"),
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: hop distance from a seed set (every
    {BFS_SEED_MOD}-th vector) through the MUTUAL kNN graph, bounded at
    {BFS_HOPS} hops — the "semantic radius" primitive behind
    influence-of-a-contaminated-shard audits, seed-expansion labeling,
    and diversity sampling. Exactly {BFS_HOPS} relax rounds run (one
    join + min-aggregate each, the Pregel shape), so the result is a
    PURE FUNCTION of the graph — no convergence dependence, which is
    what lets an iterative traversal hash-match an unrolled-CTE oracle.
    Nodes unreached within the bound are absent (no sentinel rows). The
    mutual-edge build reuses the cluster-blocked kNN join; each round
    shuffles only the frontier-sized label frame on node id."""
    edges = _knn_edges(spark, sf_dir).select("src", "dst")
    rev = edges.select(F.col("src").alias("m_src"), F.col("dst").alias("m_dst"))
    und = edges.join(
        rev,
        (F.col("src") == F.col("m_dst")) & (F.col("dst") == F.col("m_src")),
    ).select("src", "dst").persist()
    emb = table(spark, sf_dir, "embeddings")
    dist = emb.filter(F.col("vec_id") % BFS_SEED_MOD == 0).select(
        F.col("vec_id").alias("node"), F.lit(0).cast("long").alias("dist")
    )
    for _ in range(BFS_HOPS):
        relaxed = (
            und.join(dist, und.src == dist.node)
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    und.unpersist()
    return dist


# ---------------------------------------------------------------------------
# Calibration bins (reliability diagram) for the quality classifier
# ---------------------------------------------------------------------------
CALIB_BINS = 10


def _calibration_oracle() -> str:
    from .registry import REGISTRY

    lr = REGISTRY["docs_quality_lr_score"].oracle
    return f"""
    WITH scored AS ({lr}),
    labeled AS (
      SELECT s.score,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS is_pos,
             LEAST(CAST(FLOOR((s.score + 1.0) / 2.0 * {CALIB_BINS}) AS INT),
                   {CALIB_BINS - 1}) AS bin
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    )
    SELECT bin,
           COUNT(*) AS n_docs,
           CAST(SUM(is_pos) AS BIGINT) AS n_pos,
           CAST(SUM(is_pos) AS DOUBLE) / COUNT(*) AS pos_rate,
           CAST(SUM(CAST(score AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*)
             AS mean_score
    FROM labeled GROUP BY bin
    """


@register(
    "docs_quality_calibration",
    oracle=_calibration_oracle(),
    tags=("llm", "text", "evaluation"),
)
def docs_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the quality classifier: score deciles vs
    the observed positive rate (lang='en' standing in for the label the
    weights were trained on) — the calibration evidence that decides
    whether a score threshold can be read as a probability, pairing with
    `lang_id_auc`'s ranking metric. Counts are exact integers; the mean
    score per bin accumulates through DECIMAL(28,18) so the only
    order-sensitive float sum is made order-free (the scores are
    rational x/(1+|x|) values, exact at that scale — the engine's
    standard exact-sum dance); pos_rate and mean are one division each.
    Plan: the scoring projection is shuffle-free (weights are literals),
    then one {CALIB_BINS}-group aggregate."""
    from .feature_ops import docs_quality_lr_score

    scored = docs_quality_lr_score(spark, sf_dir).select("doc_id", "score")
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias(
            "is_pos"
        ),
    )
    labeled = scored.join(d, "doc_id").select(
        "score",
        "is_pos",
        F.least(
            F.floor((F.col("score") + 1.0) / 2.0 * CALIB_BINS).cast("int"),
            F.lit(CALIB_BINS - 1),
        ).alias("bin"),
    )
    return labeled.groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("is_pos").cast("long").alias("n_pos"),
        (F.sum("is_pos").cast("double") / F.count("*")).alias("pos_rate"),
        (
            F.sum(F.col("score").cast("decimal(28,18)")).cast("double")
            / F.count("*")
        ).alias("mean_score"),
    )


# ---------------------------------------------------------------------------
# Join-size estimation via Count-Min inner product (AGMS-style)
# ---------------------------------------------------------------------------
JS_W = 512  # counters per depth row
JS_D = 4  # independent hash rows; estimate = min over rows


def _join_size_oracle() -> str:
    def bucket(d: int, key: str) -> str:
        salted = f"('{d}|' || CAST({key} AS VARCHAR))"
        return f"{T.portable_hash32_sql(salted)} % {JS_W}"

    a_rows = "\n      UNION ALL ".join(
        f"SELECT {d} AS depth, {bucket(d, 'o_custkey')} AS bucket FROM orders"
        for d in range(JS_D)
    )
    b_rows = "\n      UNION ALL ".join(
        f"SELECT {d} AS depth, {bucket(d, 'c_custkey')} AS bucket FROM customer"
        for d in range(JS_D)
    )
    return f"""
    WITH ah AS ({a_rows}),
    bh AS ({b_rows}),
    asx AS (SELECT depth, bucket, CAST(COUNT(*) AS BIGINT) AS ca
            FROM ah GROUP BY depth, bucket),
    bsx AS (SELECT depth, bucket, CAST(COUNT(*) AS BIGINT) AS cb
            FROM bh GROUP BY depth, bucket),
    ip AS (
      SELECT a.depth, CAST(SUM(a.ca * b.cb) AS BIGINT) AS inner_product
      FROM asx a JOIN bsx b ON a.depth = b.depth AND a.bucket = b.bucket
      GROUP BY a.depth
    ),
    exact AS (
      SELECT CAST(SUM(oa.n * cb.n) AS BIGINT) AS exact_rows
      FROM (SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY 1) oa
      JOIN (SELECT c_custkey AS k, COUNT(*) AS n FROM customer GROUP BY 1) cb
        ON oa.k = cb.k
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_orders,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_customers,
           e.exact_rows,
           (SELECT MIN(inner_product) FROM ip) AS est_rows,
           (SELECT MIN(inner_product) FROM ip) - e.exact_rows AS overcount
    FROM exact e
    """


@register(
    "q_join_size_cm_sketch",
    oracle=_join_size_oracle(),
    tags=("stats", "sketch", "planner"),
)
def q_join_size_cm_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE ESTIMATION from Count-Min sketches (the AGMS family —
    the one-pass MERGEABLE alternative to q_join_size_estimate's
    key-synchronized sampling probe):
    |orders JOIN customer ON custkey| is estimated as the INNER PRODUCT
    of the two sides' bucket-count vectors, min over {JS_D} independent
    hash rows — the cardinality primitive a distributed planner uses to
    choose broadcast vs shuffle BEFORE paying for the join. Each side is
    summarized to {JS_D} x {JS_W} integer counters in one
    map-side-combinable pass (communication O({JS_D} x {JS_W}) per side
    at any scale); the product join touches only counter rows. The
    estimate is one-sided (>= exact, collisions only add), which the
    `overcount` column exhibits against the exact join size (computed
    from per-key counts, not by materializing the join). All integers —
    bit-exact on both engines with the shared salted md5 hash."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")

    def sketch(df: DataFrame, key: str, out: str) -> DataFrame:
        rows = df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("depth"),
                            F.pmod(
                                T.portable_hash32(
                                    F.concat(
                                        F.lit(f"{d}|"),
                                        F.col(key).cast("string"),
                                    )
                                ),
                                F.lit(JS_W),
                            ).alias("bucket"),
                        )
                        for d in range(JS_D)
                    ]
                )
            ).alias("h")
        )
        return rows.groupBy(
            F.col("h.depth").alias("depth"), F.col("h.bucket").alias("bucket")
        ).agg(F.count("*").alias(out))

    ip = (
        sketch(o, "o_custkey", "ca")
        .join(sketch(c, "c_custkey", "cb"), ["depth", "bucket"])
        .groupBy("depth")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("inner_product"))
        .agg(F.min("inner_product").alias("est_rows"))
    )
    exact = (
        o.groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("na"))
        .join(
            c.groupBy(F.col("c_custkey").alias("k")).agg(
                F.count("*").alias("nb")
            ),
            "k",
        )
        .agg(F.sum(F.col("na") * F.col("nb")).cast("long").alias("exact_rows"))
    )
    counts = o.agg(F.count("*").alias("n_orders")).crossJoin(
        c.agg(F.count("*").alias("n_customers"))
    )
    return (
        counts.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(ip))
        .select(
            "n_orders",
            "n_customers",
            "exact_rows",
            F.col("est_rows").cast("long").alias("est_rows"),
            (F.col("est_rows") - F.col("exact_rows"))
            .cast("long")
            .alias("overcount"),
        )
    )


# ---------------------------------------------------------------------------
# Link prediction (common-neighbors / Jaccard) over the mutual-kNN graph
# ---------------------------------------------------------------------------
LP_MIN_CN = 2  # candidate pairs need >= 2 common neighbors


def _linkpred_oracle() -> str:
    return f"""
    WITH {_knn_edges_cte()},
    und AS MATERIALIZED (
      SELECT e.src AS a, e.dst AS b FROM edges e
      JOIN edges m ON m.src = e.dst AND m.dst = e.src
      WHERE e.src < e.dst
    ),
    nb AS (SELECT a AS x, b AS n FROM und
           UNION ALL SELECT b AS x, a AS n FROM und),
    deg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM nb GROUP BY x),
    cand AS (
      SELECT e1.x AS a, e2.x AS b, CAST(COUNT(*) AS BIGINT) AS cn
      FROM nb e1 JOIN nb e2 ON e2.n = e1.n AND e1.x < e2.x
      WHERE NOT EXISTS (SELECT 1 FROM und u
                        WHERE u.a = e1.x AND u.b = e2.x)
      GROUP BY 1, 2 HAVING COUNT(*) >= {LP_MIN_CN}
    )
    SELECT c.a, c.b, c.cn, da.d AS deg_a, db.d AS deg_b,
           CAST(c.cn AS DOUBLE) / (da.d + db.d - c.cn) AS jaccard
    FROM cand c
    JOIN deg da ON da.x = c.a
    JOIN deg db ON db.x = c.b
    """


@register(
    "graph_link_prediction",
    oracle=_linkpred_oracle(),
    tags=("graph", "similarity"),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION over the mutual-kNN graph: for every NON-adjacent
    node pair sharing at least {m} neighbors, the common-neighbor count
    and neighbor-set Jaccard |CN| / |N(a) u N(b)| — the classic
    structural "these two should probably be connected" scores (missing
    near-duplicates a too-small k hid, merge candidates in entity
    graphs). Adamic-Adar is deliberately NOT offered: its 1/ln(deg)
    weights violate the repo's cross-engine log doctrine, while
    common-neighbors and Jaccard are exact integers plus ONE pinned
    division. The non-adjacency check is an anti-join against the edge
    set (candidates come out of the same oriented wedge join the
    triangle family uses — x < y counts each pair once).

    Scale shape: the wedge join shuffles on the shared-neighbor id —
    per-key width is bounded by the kNN degree cap (mutual edges have
    degree <= k), so the candidate fan-out is O(k^2) per node, never
    quadratic in the graph; degrees broadcast back onto the bounded
    candidate set; the >= {m}-common-neighbor floor prunes map-side
    combined counts before the joins. Reference basis: SURVEY.md §2.12
    graph family (absent in reference)."""
    und = _mutual_edges(spark, sf_dir).localCheckpoint(eager=True)
    nb = und.select(F.col("a").alias("x"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("x"), F.col("a").alias("n"))
    )
    deg = nb.groupBy("x").agg(F.count("*").alias("d"))
    e1 = nb.select(F.col("x").alias("ca"), F.col("n").alias("n1"))
    e2 = nb.select(F.col("x").alias("cb"), F.col("n").alias("n2"))
    cand = (
        e1.join(
            e2,
            (F.col("n2") == F.col("n1")) & (F.col("ca") < F.col("cb")),
        )
        .groupBy("ca", "cb")
        .agg(F.count("*").alias("cn"))
        .filter(F.col("cn") >= LP_MIN_CN)
        .join(
            und,
            (F.col("ca") == F.col("a")) & (F.col("cb") == F.col("b")),
            "left_anti",
        )
    )
    da = deg.select(F.col("x").alias("ca"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("x").alias("cb"), F.col("d").alias("deg_b"))
    return (
        cand.join(da, "ca")
        .join(db, "cb")
        .select(
            F.col("ca").alias("a"),
            F.col("cb").alias("b"),
            "cn",
            "deg_a",
            "deg_b",
            (
                F.col("cn").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("cn"))
            ).alias("jaccard"),
        )
    )


graph_link_prediction.__doc__ = graph_link_prediction.__doc__.format(
    m=LP_MIN_CN
)


# ---------------------------------------------------------------------------
# Per-node local clustering coefficient over the mutual-kNN graph
# ---------------------------------------------------------------------------
def _local_clustering_oracle() -> str:
    return f"""
    WITH {_knn_edges_cte()},
    und AS MATERIALIZED (
      SELECT e.src AS a, e.dst AS b FROM edges e
      JOIN edges m ON m.src = e.dst AND m.dst = e.src
      WHERE e.src < e.dst
    ),
    tri AS MATERIALIZED ({_ktruss_tri_sql("und")}
    ),
    tn AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT mid FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
      ) GROUP BY node
    )
    SELECT d.node, d.d AS degree,
           COALESCE(t.tri, 0) AS n_triangles,
           CASE WHEN d.d < 2 THEN 0.0
                ELSE CAST(2 * COALESCE(t.tri, 0) AS DOUBLE)
                     / (d.d * (d.d - 1)) END AS clustering_coeff
    FROM deg d LEFT JOIN tn t ON t.node = d.node
    """


@register(
    "graph_local_clustering",
    oracle=_local_clustering_oracle(),
    tags=("graph",),
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-NODE local clustering coefficient of the mutual-kNN graph:
    for each node, triangles through it over C(degree, 2) possible —
    the node-level density profile that `graph_triangle_count`'s single
    global coefficient averages away (a corpus can have a healthy
    global coefficient while entire regions are hub-and-spoke noise;
    the per-node histogram is what community-detection and near-dup
    triage actually read). Triangle and degree counts are exact
    integers; the coefficient is the query's one pinned double
    division, 0.0 for degree < 2 nodes by convention.

    Scale shape: the same oriented wedge + closing equi-join as the
    triangle/truss family (each triangle enumerated once, per-key width
    bounded by the kNN degree cap), then the three corners explode into
    a map-side-combinable per-node count joined LEFT onto the degree
    table so triangle-free nodes keep coefficient 0. Reference basis:
    SURVEY.md §2.12 graph family (absent in reference)."""
    und = _mutual_edges(spark, sf_dir).localCheckpoint(eager=True)
    tri = _triangles(und)
    tn = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("mid").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("tri"))
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    return deg.join(tn, "node", "left").select(
        "node",
        "degree",
        F.coalesce("tri", F.lit(0)).cast("long").alias("n_triangles"),
        F.when(F.col("degree") < 2, F.lit(0.0))
        .otherwise(
            (F.coalesce("tri", F.lit(0)) * 2).cast("double")
            / (F.col("degree") * (F.col("degree") - 1))
        )
        .alias("clustering_coeff"),
    )


# ---------------------------------------------------------------------------
# Modularity of the ground-truth labels over the mutual-kNN graph
# ---------------------------------------------------------------------------
def _modularity_oracle() -> str:
    return f"""
    WITH {_knn_edges_cte()},
    und AS MATERIALIZED (
      SELECT e.src AS a, e.dst AS b FROM edges e
      JOIN edges m ON m.src = e.dst AND m.dst = e.src
      WHERE e.src < e.dst
    ),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
    lab AS (SELECT vec_id, CAST(COALESCE(label, -1) AS BIGINT) AS lab
            FROM embeddings),
    nodes AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT a AS x FROM und UNION ALL SELECT b AS x FROM und
      ) GROUP BY x
    ),
    bylab AS (
      SELECT l.lab, CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(n.deg) AS BIGINT) AS deg_sum
      FROM nodes n JOIN lab l ON l.vec_id = n.x GROUP BY l.lab
    ),
    inn AS (
      SELECT la.lab, CAST(COUNT(*) AS BIGINT) AS in_edges
      FROM und u
      JOIN lab la ON la.vec_id = u.a
      JOIN lab lb ON lb.vec_id = u.b
      WHERE la.lab = lb.lab GROUP BY la.lab
    )
    SELECT b.lab AS label, b.n_nodes, b.deg_sum,
           COALESCE(i.in_edges, 0) AS in_edges,
           4 * mm.m * COALESCE(i.in_edges, 0) - b.deg_sum * b.deg_sum
             AS q_num,
           CAST(4 * mm.m * COALESCE(i.in_edges, 0)
                - b.deg_sum * b.deg_sum AS DOUBLE)
             / (4.0 * mm.m * mm.m) AS q_contrib
    FROM bylab b LEFT JOIN inn i ON i.lab = b.lab CROSS JOIN mm
    """


@register(
    "graph_modularity",
    oracle=_modularity_oracle(),
    tags=("graph", "similarity"),
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWMAN MODULARITY of the ground-truth label partition over the
    mutual-kNN graph — the standard "do the communities explain the
    edges" score, here answering the index-quality question "does the
    kNN graph's wiring agree with the labels" (low modularity = the
    embedding mixes classes; the complement of sim_cluster_quality's
    centroid view). Q = sum_c [in_c/m - (deg_c/2m)^2] is computed as
    the EXACT INTEGER numerator q_num_c = 4*m*in_c - deg_c^2 per
    community over the common denominator 4m^2 — modularity is a
    rational with known denominator, so no floating accumulation ever
    happens; the per-community contribution is ONE pinned double
    division, and consumers that want total Q sum the exact integer
    column (bounds: |q_num| <= 4m^2 stays in BIGINT through m ~ 1.5e9
    mutual edges — beyond that, widen to DECIMAL(38,0)). Null labels
    group under -1.

    Scale shape: the mutual-edge build reuses the cluster-blocked kNN
    join; after it, ONE edge-sized count (map-side combinable), one
    node-sized degree aggregate, two label joins keyed on node id, and
    a communities-sized rollup — the scalar m crosses in as a 1-row
    broadcast. Reference basis: SURVEY.md §2.12 graph family (absent
    in reference)."""
    und = _mutual_edges(spark, sf_dir).localCheckpoint(eager=True)
    lab = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.coalesce(F.col("label").cast("long"), F.lit(-1)).alias("lab"),
    )
    mm = und.agg(F.count("*").alias("m"))
    nodes = (
        und.select(F.col("a").alias("x"))
        .unionAll(und.select(F.col("b").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("deg"))
    )
    bylab = nodes.join(lab, nodes.x == lab.vec_id).groupBy("lab").agg(
        F.count("*").alias("n_nodes"), F.sum("deg").alias("deg_sum")
    )
    la = lab.select(F.col("vec_id").alias("a"), F.col("lab").alias("la"))
    lb = lab.select(F.col("vec_id").alias("b"), F.col("lab").alias("lb"))
    inn = (
        und.join(la, "a")
        .join(lb, "b")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lab"))
        .agg(F.count("*").alias("in_edges"))
    )
    q_num = 4 * F.col("m") * F.col("in_edges") - F.col("deg_sum") * F.col(
        "deg_sum"
    )
    out = (
        bylab.join(inn, "lab", "left")
        .select(
            F.col("lab").alias("label"),
            "n_nodes",
            "deg_sum",
            F.coalesce(F.col("in_edges"), F.lit(0)).alias("in_edges"),
        )
        .crossJoin(F.broadcast(mm))
    )
    return out.select(
        "label",
        "n_nodes",
        "deg_sum",
        "in_edges",
        q_num.alias("q_num"),
        (
            q_num.cast("double")
            / (F.lit(4.0) * F.col("m") * F.col("m"))
        ).alias("q_contrib"),
    )


# ---------------------------------------------------------------------------
# Resource-allocation link-prediction index (the 1/deg complement of the
# common-neighbors/Jaccard scores — exact via integer floor division)
# ---------------------------------------------------------------------------
RA_SCALE = 10**12  # fixed-point scale for 1/deg(w)
RA_MIN_CN = 2  # candidate pairs need >= 2 common neighbors


def _ra_oracle() -> str:
    return f"""
    WITH {_knn_edges_cte()},
    und AS MATERIALIZED (
      SELECT e.src AS a, e.dst AS b FROM edges e
      JOIN edges m ON m.src = e.dst AND m.dst = e.src
      WHERE e.src < e.dst
    ),
    nb AS (SELECT a AS x, b AS n FROM und
           UNION ALL SELECT b AS x, a AS n FROM und),
    deg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM nb GROUP BY x),
    nbd AS (SELECT nb.x, nb.n, deg.d AS dn
            FROM nb JOIN deg ON deg.x = nb.n),
    cand AS (
      SELECT e1.x AS a, e2.x AS b,
             CAST(COUNT(*) AS BIGINT) AS cn,
             CAST(SUM({RA_SCALE} // e1.dn) AS BIGINT) AS ra_scaled
      FROM nbd e1 JOIN nbd e2 ON e2.n = e1.n AND e1.x < e2.x
      WHERE NOT EXISTS (SELECT 1 FROM und u
                        WHERE u.a = e1.x AND u.b = e2.x)
      GROUP BY 1, 2 HAVING COUNT(*) >= {RA_MIN_CN}
    )
    SELECT a, b, cn, ra_scaled,
           CAST(ra_scaled AS DOUBLE) / {RA_SCALE} AS ra_index
    FROM cand
    """


@register(
    "graph_resource_allocation",
    oracle=_ra_oracle(),
    tags=("graph", "similarity"),
)
def graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESOURCE-ALLOCATION link prediction over the mutual-kNN graph:
    for non-adjacent pairs with >= {m} common neighbors, the RA index
    sum over shared neighbors w of 1/deg(w) — consistently the
    strongest LOCAL link-prediction score in the benchmark literature
    (Zhou/Lu/Zhang 2009) because it discounts promiscuous hubs
    HARDER than Adamic-Adar's 1/log(deg). It also fits this repo's
    determinism doctrine where Adamic-Adar cannot (graph_link_
    prediction's docstring records that refusal): 1/deg is computed as
    the integer floor division {s} // deg(w) and SUMMED EXACTLY — no
    log, no float accumulation; the one double division at the end is
    pinned. Quantization error is bounded by cn/{s} per pair —
    invisible next to the 1/deg quanta consumers rank by.

    Scale shape: identical to graph_link_prediction's wedge join —
    per-neighbor degree is attached BEFORE the wedge (one node-keyed
    join on the bounded nb frame), the wedge shuffles on the shared-
    neighbor id with fan-out bounded by the kNN degree cap, and the
    >= {m} floor prunes before the anti-join. Reference basis:
    SURVEY.md §2.12 graph family (absent in reference)."""
    und = _mutual_edges(spark, sf_dir).localCheckpoint(eager=True)
    nb = und.select(F.col("a").alias("x"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("x"), F.col("a").alias("n"))
    )
    deg = nb.groupBy("x").agg(F.count("*").alias("d"))
    nbd = nb.join(
        deg.select(F.col("x").alias("n"), F.col("d").alias("dn")), "n"
    )
    e1 = nbd.select(
        F.col("x").alias("ca"), F.col("n").alias("n1"), F.col("dn").alias("d1")
    )
    e2 = nbd.select(F.col("x").alias("cb"), F.col("n").alias("n2"))
    cand = (
        e1.join(
            e2,
            (F.col("n2") == F.col("n1")) & (F.col("ca") < F.col("cb")),
        )
        .groupBy("ca", "cb")
        .agg(
            F.count("*").alias("cn"),
            F.sum(
                F.call_function(
                    "div", F.lit(RA_SCALE).cast("long"), F.col("d1")
                )
            ).alias("ra_scaled"),
        )
        .filter(F.col("cn") >= RA_MIN_CN)
        .join(
            und,
            (F.col("ca") == F.col("a")) & (F.col("cb") == F.col("b")),
            "left_anti",
        )
    )
    return cand.select(
        F.col("ca").alias("a"),
        F.col("cb").alias("b"),
        "cn",
        "ra_scaled",
        (F.col("ra_scaled").cast("double") / F.lit(float(RA_SCALE))).alias(
            "ra_index"
        ),
    )


graph_resource_allocation.__doc__ = graph_resource_allocation.__doc__.format(
    m=RA_MIN_CN, s=RA_SCALE
)


# ---------------------------------------------------------------------------
# Shortest-path counting (multi-source sigma — the Brandes forward pass)
# ---------------------------------------------------------------------------
SPC_SEED_MOD = 50  # vec_id % MOD == 0 are the seed set
SPC_HOPS = 3  # fixed unrolled BFS rounds


def _spc_oracle() -> str:
    steps = []
    for t in range(1, SPC_HOPS + 1):
        steps.append(f""",
    f{t} AS (
      SELECT e.dst AS node, CAST({t} AS BIGINT) AS dist,
             CAST(SUM(f.sigma) AS BIGINT) AS sigma
      FROM f{t - 1} f JOIN und e ON e.src = f.node
      WHERE NOT EXISTS (SELECT 1 FROM a{t - 1} v WHERE v.node = e.dst)
      GROUP BY e.dst
    ),
    a{t} AS (SELECT node, dist, sigma FROM a{t - 1}
             UNION ALL SELECT node, dist, sigma FROM f{t})""")
    return f"""
    WITH {_knn_edges_cte()},
    und AS MATERIALIZED (
      SELECT e.src, e.dst FROM edges e
      JOIN edges m ON m.src = e.dst AND m.dst = e.src
    ),
    f0 AS (
      SELECT vec_id AS node, CAST(0 AS BIGINT) AS dist,
             CAST(1 AS BIGINT) AS sigma
      FROM embeddings WHERE vec_id % {SPC_SEED_MOD} = 0
    ),
    a0 AS (SELECT node, dist, sigma FROM f0){"".join(steps)}
    SELECT node, dist, sigma FROM a{SPC_HOPS}
    """


@register(
    "graph_path_counts",
    oracle=_spc_oracle(),
    tags=("graph", "iterative"),
)
def graph_path_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHORTEST-PATH COUNTING (the sigma forward pass of Brandes'
    betweenness algorithm) from a seed set through the mutual kNN
    graph: for every node within {h} hops, its BFS distance AND the
    exact NUMBER of distinct shortest paths from the seed set — the
    quantity that upgrades graph_bfs_distance's "how far" to "how
    redundantly connected": a node at distance 2 via 40 paths is
    structurally central, one via a single path is a bottleneck
    (and in contamination audits, sigma is the exposure multiplicity,
    not just reachability). Unlike min-distance BFS, sigma must only
    accumulate along FIRST-discovery edges, so each round joins the
    previous FRONTIER (not the full label frame), sums sigma per
    target, and anti-joins the visited set before admitting a node —
    the textbook forward pass, expressed as {h} unrolled
    join+aggregate+anti-join rounds so the result is a pure function
    of the graph that an unrolled-CTE oracle replays bit-for-bit.
    Path counts are exact BIGINTs (bounded by deg_cap^{h} * |seeds| —
    the kNN degree cap keeps this far inside 2^63).

    Scale shape: per round, ONE frontier-sized hash join on node id,
    one map-side-combinable sigma sum, one anti-join against the
    visited frame; localCheckpoint bounds lineage (the k-core trick).
    Reference basis: SURVEY.md §2.12 graph family (absent in
    reference)."""
    edges = _knn_edges(spark, sf_dir).select("src", "dst")
    rev = edges.select(
        F.col("src").alias("m_src"), F.col("dst").alias("m_dst")
    )
    und = (
        edges.join(
            rev,
            (F.col("src") == F.col("m_dst"))
            & (F.col("dst") == F.col("m_src")),
            "left_semi",
        )
        .select("src", "dst")
        .persist()
    )
    emb = table(spark, sf_dir, "embeddings")
    frontier = emb.filter(F.col("vec_id") % SPC_SEED_MOD == 0).select(
        F.col("vec_id").alias("node"),
        F.lit(0).cast("long").alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    )
    acc = frontier
    for t in range(1, SPC_HOPS + 1):
        relaxed = (
            und.join(frontier, und.src == frontier.node)
            .groupBy(F.col("dst").alias("nnode"))
            .agg(F.sum("sigma").alias("nsigma"))
        )
        frontier = (
            relaxed.join(acc, relaxed.nnode == acc.node, "left_anti")
            .select(
                F.col("nnode").alias("node"),
                F.lit(t).cast("long").alias("dist"),
                F.col("nsigma").alias("sigma"),
            )
            .localCheckpoint(eager=True)
        )
        acc = acc.unionByName(frontier).localCheckpoint(eager=True)
    und.unpersist()
    return acc


# ---------------------------------------------------------------------------
# Degree assortativity of the mutual-kNN graph (Pearson r over edge-endpoint
# degrees — exact integer moments, one final pinned expression)
# ---------------------------------------------------------------------------
def _assort_oracle() -> str:
    return f"""
    WITH {_knn_edges_cte()},
    und AS MATERIALIZED (
      SELECT e.src AS a, e.dst AS b FROM edges e
      JOIN edges m ON m.src = e.dst AND m.dst = e.src
      WHERE e.src < e.dst
    ),
    sym AS (SELECT a AS x, b AS y FROM und
            UNION ALL SELECT b AS x, a AS y FROM und),
    deg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY x),
    ed AS (
      SELECT dx.d AS xd, dy.d AS yd
      FROM sym s JOIN deg dx ON dx.x = s.x JOIN deg dy ON dy.x = s.y
    ),
    mo AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m_edges,
             CAST(SUM(xd) AS BIGINT) AS sum_x,
             CAST(SUM(xd * yd) AS BIGINT) AS sum_xy,
             CAST(SUM(xd * xd) AS BIGINT) AS sum_xx
      FROM ed
    )
    SELECT m_edges, sum_x, sum_xy, sum_xx,
           m_edges * sum_xy - sum_x * sum_x AS r_num,
           m_edges * sum_xx - sum_x * sum_x AS r_den,
           CAST(m_edges * sum_xy - sum_x * sum_x AS DOUBLE)
             / (m_edges * sum_xx - sum_x * sum_x) AS assortativity
    FROM mo
    """


@register(
    "graph_degree_assortativity",
    oracle=_assort_oracle(),
    tags=("graph", "stats"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY (Newman 2002) of the mutual-kNN graph: the
    Pearson correlation of endpoint degrees over the directed edge
    list — positive means hubs prefer hubs (social-network shape),
    negative means hubs fan out to leaves (star/broadcast shape); for
    a kNN graph it is the one-number answer to "is similarity density
    uniform or does the corpus have dense cores feeding sparse
    satellites", which decides whether per-cluster ANN probes can use
    one global nprobe. On the SYMMETRIC edge listing the x- and
    y-marginals coincide (sum_x = sum_y, sum_xx = sum_yy), so Pearson
    reduces to (M*sum_xy - sum_x^2) / (M*sum_xx - sum_x^2) — BOTH
    moments exact BIGINTs and the final value ONE pinned double
    division (no sqrt at all: the two variance factors are equal
    integers, and dividing the exact integers avoids sqrt(d)*sqrt(d)
    != d rounding). BIGINT bounds hold through ~1.9e8 mutual edges at
    the kNN degree cap (M*sum_xy <= 4m^2 k^2) — widen to
    DECIMAL(38,0) beyond.

    Scale shape: degrees from one node-keyed count; two node-keyed
    joins attach endpoint degrees edge-wise; then a single
    map-side-combinable 1-row moment reduce. Reference basis:
    SURVEY.md §2.12 graph family (absent in reference)."""
    und = _mutual_edges(spark, sf_dir).localCheckpoint(eager=True)
    sym = und.select(F.col("a").alias("x"), F.col("b").alias("y")).unionAll(
        und.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    deg = sym.groupBy("x").agg(F.count("*").alias("d"))
    ed = sym.join(
        deg.select(F.col("x").alias("jx"), F.col("d").alias("xd")),
        F.col("x") == F.col("jx"),
    ).join(
        deg.select(F.col("x").alias("jy"), F.col("d").alias("yd")),
        F.col("y") == F.col("jy"),
    )
    mo = ed.agg(
        F.count("*").alias("m_edges"),
        F.sum("xd").alias("sum_x"),
        F.sum(F.col("xd") * F.col("yd")).alias("sum_xy"),
        F.sum(F.col("xd") * F.col("xd")).alias("sum_xx"),
    )
    r_num = F.col("m_edges") * F.col("sum_xy") - F.col("sum_x") * F.col(
        "sum_x"
    )
    r_den = F.col("m_edges") * F.col("sum_xx") - F.col("sum_x") * F.col(
        "sum_x"
    )
    return mo.select(
        "m_edges",
        "sum_x",
        "sum_xy",
        "sum_xx",
        r_num.alias("r_num"),
        r_den.alias("r_den"),
        (r_num.cast("double") / r_den).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Rich-club coefficient of the mutual-kNN graph at fixed degree thresholds
# ---------------------------------------------------------------------------
# mutual degree is capped by KNN_GRAPH_K (an edge is mutual only if it sits
# in BOTH endpoints' top-k), so the informative thresholds live below k
RICH_CLUB_KS = (1, 2, 3, 4)


def _rich_club_oracle() -> str:
    ks = ", ".join(str(k) for k in RICH_CLUB_KS)
    return f"""
    WITH {_knn_edges_cte()},
    und AS MATERIALIZED (
      SELECT e.src AS a, e.dst AS b FROM edges e
      JOIN edges m ON m.src = e.dst AND m.dst = e.src
      WHERE e.src < e.dst
    ),
    deg AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS x FROM und UNION ALL SELECT b AS x FROM und
      ) GROUP BY x
    ),
    ks AS (SELECT CAST(unnest([{ks}]) AS BIGINT) AS k),
    club AS (
      SELECT k.k, CAST(COUNT(*) AS BIGINT) AS n_club
      FROM ks k JOIN deg ON deg.d > k.k GROUP BY k.k
    ),
    ce AS (
      SELECT k.k, CAST(COUNT(*) AS BIGINT) AS e_club
      FROM ks k
      JOIN und u ON TRUE
      JOIN deg da ON da.x = u.a AND da.d > k.k
      JOIN deg db ON db.x = u.b AND db.d > k.k
      GROUP BY k.k
    )
    SELECT c.k, c.n_club, COALESCE(ce.e_club, 0) AS e_club,
           CAST(2 * COALESCE(ce.e_club, 0) AS DOUBLE)
             / (c.n_club * (c.n_club - 1)) AS phi
    FROM club c LEFT JOIN ce ON ce.k = c.k
    WHERE c.n_club >= 2
    """


@register(
    "graph_rich_club",
    oracle=_rich_club_oracle(),
    tags=("graph", "stats"),
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RICH-CLUB COEFFICIENT phi(k) = 2*E_k / (N_k*(N_k-1)) of the
    mutual-kNN graph at fixed degree thresholds {K} — the density of
    the subgraph induced by nodes of degree > k, i.e. "do the most-
    connected documents preferentially connect to EACH OTHER" (a rich
    club in a near-dup graph is a template/boilerplate core; in a
    citation-style graph, an elite cluster). Complements
    graph_degree_assortativity: assortativity is the global
    correlation, phi(k) localizes WHERE on the degree axis the mixing
    happens. Exact rational — edge and node counts are integers, phi
    is ONE pinned double division per threshold; thresholds are fixed
    literals so both engines induce identical clubs.

    Scale shape: degrees from one node-keyed count; the |K|=4
    thresholds are EXPLODED map-side onto the degree and edge frames
    (a literal-array explode — no threshold join exists in the plan,
    so nothing non-equi ever reaches the optimizer; the first draft's
    tiny-frame theta join planned as a CartesianProduct and the gate
    rejected it); induced-edge membership tests ride the already-
    joined endpoint degrees; final frame is |K| rows. Reference
    basis: SURVEY.md §2.12 graph family (absent in reference)."""
    und = _mutual_edges(spark, sf_dir).localCheckpoint(eager=True)
    deg = (
        und.select(F.col("a").alias("x"))
        .unionAll(und.select(F.col("b").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
    )
    klits = F.array(*[F.lit(int(k)).cast("long") for k in RICH_CLUB_KS])
    club = (
        deg.select("d", F.explode(klits).alias("k"))
        .filter(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_club"))
    )
    da = deg.select(F.col("x").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("x").alias("b"), F.col("d").alias("db"))
    ed = und.join(da, "a").join(db, "b")
    ce = (
        ed.select("da", "db", F.explode(klits).alias("k"))
        .filter((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
        .groupBy("k")
        .agg(F.count("*").alias("e_club"))
    )
    return (
        club.join(ce, "k", "left")
        .filter(F.col("n_club") >= 2)
        .select(
            "k",
            "n_club",
            F.coalesce(F.col("e_club"), F.lit(0)).alias("e_club"),
            (
                (2 * F.coalesce(F.col("e_club"), F.lit(0))).cast("double")
                / (F.col("n_club") * (F.col("n_club") - 1))
            ).alias("phi"),
        )
    )


graph_rich_club.__doc__ = graph_rich_club.__doc__.format(K=RICH_CLUB_KS)


# ---------------------------------------------------------------------------
# Katz centrality (finite attenuated path counts) over the mutual-kNN graph
# ---------------------------------------------------------------------------
KATZ_DEPTH = 3  # path lengths 1..3
KATZ_BETA_DEN = 8  # attenuation beta = 1/8; scaled score uses 8^(3-k)


def _katz_oracle() -> str:
    return f"""
    WITH {_knn_edges_cte()},
    und AS MATERIALIZED (
      SELECT e.src AS a, e.dst AS b FROM edges e
      JOIN edges m ON m.src = e.dst AND m.dst = e.src
      WHERE e.src < e.dst
    ),
    sym AS (SELECT a AS x, b AS y FROM und
            UNION ALL SELECT b AS x, a AS y FROM und),
    p1 AS (SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS paths1
           FROM sym GROUP BY x),
    p2 AS (
      SELECT s.x AS node, CAST(SUM(p.paths1) AS BIGINT) AS paths2
      FROM sym s JOIN p1 p ON p.node = s.y GROUP BY s.x
    ),
    p3 AS (
      SELECT s.x AS node, CAST(SUM(p.paths2) AS BIGINT) AS paths3
      FROM sym s JOIN p2 p ON p.node = s.y GROUP BY s.x
    )
    SELECT p1.node, p1.paths1 AS deg, p2.paths2, p3.paths3,
           {KATZ_BETA_DEN ** 2} * p1.paths1
             + {KATZ_BETA_DEN} * p2.paths2 + p3.paths3 AS katz_scaled,
           CAST({KATZ_BETA_DEN ** 2} * p1.paths1
                + {KATZ_BETA_DEN} * p2.paths2 + p3.paths3 AS DOUBLE)
             / {KATZ_BETA_DEN ** 3} AS katz
    FROM p1 JOIN p2 ON p2.node = p1.node JOIN p3 ON p3.node = p1.node
    """


@register(
    "graph_katz_centrality",
    oracle=_katz_oracle(),
    tags=("graph", "centrality"),
)
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KATZ CENTRALITY over the mutual-kNN graph, truncated at path
    length {D}: katz(i) = sum_k beta^k * (# walks of length k ending
    at i) with beta = 1/{B} — the attenuated-influence score that
    (unlike degree) credits a node for having WELL-CONNECTED
    neighbors, and (unlike PageRank) without a stochastic
    normalization, so every quantity stays an exact INTEGER walk
    count: the emitted katz_scaled = {B}^2*p1 + {B}*p2 + p3 is exact
    (p_k bounded by the mutual-degree cap deg <= k_nn, so p3 <=
    {K}^3 = {K3} — far inside BIGINT at any corpus size), and the
    single double division by {B}^3 is the only float. Truncation at
    depth {D} makes the score a PURE FUNCTION of the graph (the
    graph_bfs_distance argument) — no convergence tolerance to drift
    across engines.

    Scale shape: the mutual-edge build reuses the cluster-blocked kNN
    join; each of the {D} hops is one node-keyed join + count-combine
    on a frame bounded by the edge list (never wider), the Pregel
    matvec shape with integer messages. Reference basis: SURVEY.md §2
    graph family (absent in reference)."""
    und = _mutual_edges(spark, sf_dir)
    sym = und.select(F.col("a").alias("x"), F.col("b").alias("y")).unionByName(
        und.select(F.col("b").alias("x"), F.col("a").alias("y"))
    ).persist()
    p1 = sym.groupBy(F.col("x").alias("node")).agg(
        F.count("*").alias("paths1")
    )
    p2 = (
        sym.join(p1.select(F.col("node").alias("y"), "paths1"), "y")
        .groupBy(F.col("x").alias("node"))
        .agg(F.sum("paths1").alias("paths2"))
    )
    p3 = (
        sym.join(p2.select(F.col("node").alias("y"), "paths2"), "y")
        .groupBy(F.col("x").alias("node"))
        .agg(F.sum("paths2").alias("paths3"))
    )
    scaled = (
        F.lit(KATZ_BETA_DEN**2) * F.col("paths1")
        + F.lit(KATZ_BETA_DEN) * F.col("paths2")
        + F.col("paths3")
    )
    out = (
        p1.join(p2, "node")
        .join(p3, "node")
        .select(
            "node",
            F.col("paths1").alias("deg"),
            "paths2",
            "paths3",
            scaled.cast("long").alias("katz_scaled"),
            (scaled.cast("double") / F.lit(float(KATZ_BETA_DEN**3))).alias(
                "katz"
            ),
        )
    )
    sym.unpersist()
    return out


graph_katz_centrality.__doc__ = graph_katz_centrality.__doc__.format(
    D=KATZ_DEPTH, B=KATZ_BETA_DEN, K=KNN_GRAPH_K, K3=KNN_GRAPH_K**3
)


# ---------------------------------------------------------------------------
# Double-sweep bounded eccentricity (diameter lower bound) over the
# mutual-kNN graph
# ---------------------------------------------------------------------------
DSWEEP_HOPS = 5  # per-sweep BFS bound: "eccentricity within <= 5 hops"


def _dsweep_bfs_cte(tag: str, seed_cte: str) -> str:
    steps = []
    for t in range(1, DSWEEP_HOPS + 1):
        steps.append(f""",
    {tag}{t} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM {tag}{t - 1}
        UNION ALL
        SELECT s.y AS node, d.dist + 1 AS dist
        FROM {tag}{t - 1} d JOIN sym s ON s.x = d.node
      ) GROUP BY node
    )""")
    return f"""
    {tag}0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM {seed_cte})
    {"".join(steps)}"""


def _dsweep_oracle() -> str:
    return f"""
    WITH {_knn_edges_cte()},
    und AS MATERIALIZED (
      SELECT e.src AS a, e.dst AS b FROM edges e
      JOIN edges m ON m.src = e.dst AND m.dst = e.src
      WHERE e.src < e.dst
    ),
    sym AS (SELECT a AS x, b AS y FROM und
            UNION ALL SELECT b AS x, a AS y FROM und),
    deg AS (SELECT x AS node, COUNT(*) AS d FROM sym GROUP BY x),
    root AS MATERIALIZED (SELECT node FROM deg ORDER BY d DESC, node ASC LIMIT 1),
    {_dsweep_bfs_cte("ra", "root")},
    far AS MATERIALIZED (SELECT node FROM ra{DSWEEP_HOPS}
            ORDER BY dist DESC, node ASC LIMIT 1),
    {_dsweep_bfs_cte("fb", "far")}
    SELECT (SELECT node FROM root) AS root_node,
           (SELECT CAST(MAX(dist) AS BIGINT) FROM ra{DSWEEP_HOPS})
             AS ecc_root,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ra{DSWEEP_HOPS})
             AS n_reached_root,
           (SELECT node FROM far) AS far_node,
           (SELECT CAST(MAX(dist) AS BIGINT) FROM fb{DSWEEP_HOPS})
             AS ecc_far,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM fb{DSWEEP_HOPS})
             AS n_reached_far
    """


@register(
    "graph_double_sweep",
    oracle=_dsweep_oracle(),
    tags=("graph", "iterative"),
)
def graph_double_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOUBLE-SWEEP diameter probe of the mutual-kNN graph: BFS from
    the max-degree node (tie: min id), hop to the farthest node it
    reached (tie: min id), BFS again — ecc_far is the classic
    near-tight DIAMETER LOWER BOUND at two traversals' cost (vs the
    all-pairs O(n) sweeps an exact diameter needs — the standard
    trade on big graphs). Both sweeps are bounded at {H} relax
    rounds (the graph_bfs_distance contract: "eccentricity within <=
    {H} hops" is a pure function of the graph — no convergence
    drift), so the statistic is exact and engine-identical; both
    seed selections are deterministic lexicographic argmaxes. On the
    fragmented mutual graph the sweep stays inside the root's
    component (n_reached_* reports its size — itself the diagnostic
    for "is the semantic graph one blob or islands").

    Scale shape: per round one node-keyed join + min-combine over a
    frontier-bounded frame (the Pregel shape); seed frames are 1-row
    broadcasts; the two tiny argmax reduces are TakeOrdered, never a
    global sort. Reference basis: SURVEY.md §2 graph family (absent
    in reference)."""
    und = _mutual_edges(spark, sf_dir)
    sym = und.select(F.col("a").alias("x"), F.col("b").alias("y")).unionByName(
        und.select(F.col("b").alias("x"), F.col("a").alias("y"))
    ).persist()

    def bfs(seed: DataFrame) -> DataFrame:
        dist = seed.select("node", F.lit(0).cast("long").alias("dist"))
        for _ in range(DSWEEP_HOPS):
            relaxed = sym.join(
                dist, sym.x == dist.node
            ).select(F.col("y").alias("node"), (F.col("dist") + 1).alias("dist"))
            dist = (
                dist.unionByName(relaxed)
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=True)
            )
        return dist

    deg = sym.groupBy(F.col("x").alias("node")).agg(F.count("*").alias("d"))
    root = deg.orderBy(F.desc("d"), F.asc("node")).limit(1).select("node")
    ra = bfs(root)
    far = ra.orderBy(F.desc("dist"), F.asc("node")).limit(1).select("node")
    fb = bfs(far)
    sym.unpersist()
    root_1 = root.select(F.col("node").alias("root_node"))
    far_1 = far.select(F.col("node").alias("far_node"))
    ecc_a = ra.agg(
        F.max("dist").alias("ecc_root"), F.count("*").alias("n_reached_root")
    )
    ecc_b = fb.agg(
        F.max("dist").alias("ecc_far"), F.count("*").alias("n_reached_far")
    )
    return (
        root_1.crossJoin(F.broadcast(ecc_a))
        .crossJoin(F.broadcast(far_1))
        .crossJoin(F.broadcast(ecc_b))
        .select(
            "root_node",
            "ecc_root",
            "n_reached_root",
            "far_node",
            "ecc_far",
            "n_reached_far",
        )
    )


graph_double_sweep.__doc__ = graph_double_sweep.__doc__.format(H=DSWEEP_HOPS)


# ---------------------------------------------------------------------------
# Greedy k-center (Gonzalez) seed selection over the embedding corpus
# ---------------------------------------------------------------------------
KCENTER_K = 5  # centers picked (seed + 4 farthest-point steps)


def _kcenter_oracle() -> str:
    cos_seed = V.cosine_sql("e.v", "s.cv")
    ctes = [
        """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
    seed AS (SELECT vec_id AS c_id, v AS cv FROM e
             ORDER BY vec_id ASC LIMIT 1),
    m0 AS (
      SELECT e.vec_id, e.v, 1.0 - {cs} AS dist
      FROM e CROSS JOIN seed s
    )""".format(cs=cos_seed)
    ]
    picks = ["SELECT CAST(0 AS BIGINT) AS step, c_id AS center_id, "
             "CAST(NULL AS DOUBLE) AS radius FROM seed"]
    for k in range(1, KCENTER_K):
        cos_k = V.cosine_sql("m.v", "p.cv")
        ctes.append(f"""
    p{k} AS (SELECT vec_id AS c_id, v AS cv, dist AS radius
             FROM m{k - 1} ORDER BY dist DESC, vec_id ASC LIMIT 1),
    m{k} AS (
      SELECT m.vec_id, m.v, LEAST(m.dist, 1.0 - {cos_k}) AS dist
      FROM m{k - 1} m CROSS JOIN p{k} p
    )""")
        picks.append(
            f"SELECT CAST({k} AS BIGINT) AS step, c_id AS center_id, "
            f"radius FROM p{k}"
        )
    union = " UNION ALL ".join(picks)
    return f"""
    WITH {",".join(ctes)},
    fin AS (SELECT MAX(dist) AS final_radius FROM m{KCENTER_K - 1}),
    pk AS ({union})
    SELECT pk.step, pk.center_id, pk.radius, f.final_radius
    FROM pk CROSS JOIN fin f
    """


@register(
    "sim_kcenter_seeds",
    oracle=_kcenter_oracle(),
    tags=("similarity", "llm", "coreset"),
)
def sim_kcenter_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY K-CENTER (Gonzalez 1985) seed selection over the embedding
    corpus: start from the min-id vector, then {K}-1 times pick the
    point FARTHEST (cosine distance) from every chosen center — the
    2-approximation to the k-center cover and the standard coreset /
    diverse-probe seeder (each pick's `radius` is the exact coverage
    radius the corpus had before that center landed; `final_radius` is
    the cover radius of the finished set). Fully DECLARATIVE: each
    step is one map pass (running min of {K} cosine distances) plus a
    TakeOrdered argmax with a deterministic (dist DESC, id ASC)
    tie-break — no driver-side collect; the sequential K-step chain is
    the algorithm's own data dependency (the greedy-coverage
    precedent), each step a 1-row broadcast into the next map. Doubles
    are the sequential-fold cosines shaped identically on both engines.

    Scale shape: {K} corpus-wide map passes + {K} TakeOrdered reduces
    — linear in the corpus, never a pair join; the distance state
    rides in the row (no shuffle between steps). Reference basis:
    SURVEY.md §2.12 similarity family (absent in reference)."""
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seed = (
        e.orderBy(F.asc("vec_id"))
        .limit(1)
        .select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    )
    md = e.crossJoin(F.broadcast(seed)).select(
        "vec_id",
        "v",
        (F.lit(1.0) - V.cosine(F.col("v"), F.col("cv"))).alias("dist"),
    )
    picks = [
        seed.select(
            F.lit(0).cast("long").alias("step"),
            F.col("c_id").alias("center_id"),
            F.lit(None).cast("double").alias("radius"),
        )
    ]
    for k in range(1, KCENTER_K):
        pick = (
            md.orderBy(F.desc("dist"), F.asc("vec_id"))
            .limit(1)
            .select(
                F.col("vec_id").alias("c_id"),
                F.col("v").alias("cv"),
                F.col("dist").alias("radius"),
            )
        )
        picks.append(
            pick.select(
                F.lit(k).cast("long").alias("step"),
                F.col("c_id").alias("center_id"),
                "radius",
            )
        )
        md = md.crossJoin(
            F.broadcast(pick.select(F.col("cv").alias("cv_new")))
        ).select(
            "vec_id",
            "v",
            F.least(
                F.col("dist"),
                F.lit(1.0) - V.cosine(F.col("v"), F.col("cv_new")),
            ).alias("dist"),
        )
    fin = md.agg(F.max("dist").alias("final_radius"))
    out = picks[0]
    for pf in picks[1:]:
        out = out.unionByName(pf)
    return out.crossJoin(F.broadcast(fin)).select(
        "step", "center_id", "radius", "final_radius"
    )


sim_kcenter_seeds.__doc__ = sim_kcenter_seeds.__doc__.format(K=KCENTER_K)


# ---------------------------------------------------------------------------
# Per-edge neighborhood Jaccard over the mutual-kNN graph
# ---------------------------------------------------------------------------
def _edge_jaccard_oracle() -> str:
    return f"""
    WITH {_knn_edges_cte()},
    und AS MATERIALIZED (
      SELECT e.src AS a, e.dst AS b FROM edges e
      JOIN edges m ON m.src = e.dst AND m.dst = e.src
      WHERE e.src < e.dst
    ),
    sym AS (SELECT a AS x, b AS y FROM und
            UNION ALL SELECT b AS x, a AS y FROM und),
    deg AS (SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM sym GROUP BY x),
    wedge AS (
      SELECT s1.y AS a, s2.y AS b, COUNT(*) AS common
      FROM sym s1 JOIN sym s2 ON s2.x = s1.x AND s1.y < s2.y
      GROUP BY s1.y, s2.y
    ),
    ej AS (
      SELECT u.a, u.b, COALESCE(w.common, 0) AS common,
             da.d AS deg_a, db.d AS deg_b
      FROM und u
      LEFT JOIN wedge w ON w.a = u.a AND w.b = u.b
      JOIN deg da ON da.node = u.a
      JOIN deg db ON db.node = u.b
    )
    SELECT a, b, CAST(common AS BIGINT) AS n_common,
           deg_a, deg_b,
           CAST(common AS DOUBLE)
             / (deg_a + deg_b - common) AS edge_jaccard
    FROM ej
    """


@register(
    "graph_edge_jaccard",
    oracle=_edge_jaccard_oracle(),
    tags=("graph", "similarity"),
)
def graph_edge_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-EDGE NEIGHBORHOOD JACCARD of the mutual-kNN graph: for every
    edge (a, b), |N(a) int N(b)| / |N(a) un N(b)| over OPEN
    neighborhoods (b sits in N(a) but never in the intersection —
    no self-loops — so the union is exactly deg_a + deg_b - common)
    — the standard EDGE-STRENGTH embedding: low-Jaccard edges are the
    between-community bridges the Jarvis-Patrick / SNN clustering
    family cuts first, complementing graph_link_prediction (which
    scores NON-adjacent pairs with the same wedge machinery).
    Common-neighbor counts come from the oriented wedge join (s1.y <
    s2.y kills double-counting); all counts exact integers, one
    pinned double division.

    Scale shape: wedge fan-out is bounded by the mutual-degree cap
    (deg <= k per node, so <= k^2 wedges per center node); the edge
    join is keyed (a, b) both sides. Reference basis: SURVEY.md §2
    graph family (absent in reference)."""
    und = _mutual_edges(spark, sf_dir)
    sym = und.select(F.col("a").alias("x"), F.col("b").alias("y")).unionByName(
        und.select(F.col("b").alias("x"), F.col("a").alias("y"))
    ).persist()
    deg = sym.groupBy(F.col("x").alias("node")).agg(F.count("*").alias("d"))
    s1 = sym.select(F.col("x").alias("mid"), F.col("y").alias("a"))
    s2 = sym.select(F.col("x").alias("mid"), F.col("y").alias("b"))
    wedge = (
        s1.join(s2, "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    ej = (
        und.join(wedge, ["a", "b"], "left")
        .join(
            deg.select(F.col("node").alias("a"), F.col("d").alias("deg_a")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("d").alias("deg_b")),
            "b",
        )
        .select(
            "a",
            "b",
            F.coalesce(F.col("common"), F.lit(0)).alias("common"),
            "deg_a",
            "deg_b",
        )
    )
    out = ej.select(
        "a",
        "b",
        F.col("common").cast("long").alias("n_common"),
        "deg_a",
        "deg_b",
        (
            F.col("common").cast("double")
            / (F.col("deg_a") + F.col("deg_b") - F.col("common"))
        ).alias("edge_jaccard"),
    )
    sym.unpersist()
    return out
